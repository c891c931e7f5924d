"""Closed-loop benchmark of the sketch engine over the synthetic code table.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; ``perfbench/README.md`` lists the
workloads, the metrics and which layer metric should move which end-to-end
metric.
"""
