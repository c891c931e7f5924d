"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload code_lowcard --seed 1 --seconds 8 \
        --trace 0

Prints a detail record (``{"perfbench": ...}``) and, as the last line, the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Run it from the root of a checkout; it measures the
``tsv_utils_spark`` package of that checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tsv_utils_spark",
                                       "__init__.py")):
        print("perfbench: no tsv_utils_spark package in this checkout",
              file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    line, detail = harness.run(args.workload, args.seed, args.seconds,
                               bool(args.trace))
    print(json.dumps({"perfbench": detail}))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
