"""Per-layer split of a query, measured from outside the library.

Three sources, none of which needs a hook inside ``tsv_utils_spark``:

- Spark's own per-operator SQL metrics of every query a phase ran, eager
  library jobs included. A ``QueryExecutionListener`` registered through
  Py4J keeps each finished ``QueryExecution``; its executed plan is walked
  through AQE query stages after the phase.
- Spark's job, stage and task counts per labelled job group.
- Floor runs over the workload's projected input, and driver-side timing
  of the public sketch classes on the workload's real partial blobs.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

# SQL metric types whose raw values are durations, and their unit in s
_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}

_SCANS = {"FileSourceScanExec", "BatchScanExec"}
_LEVEL1 = {"MapInArrowExec", "MapInPandasExec"}
_LEVEL2 = {"FlatMapGroupsInPandasExec", "FlatMapGroupsInArrowExec"}
# the SQL metrics read from each operator class (one Py4J call per value)
_WANTED = {
    **{c: ("scanTime", "filesSize") for c in _SCANS},
    # not pythonInitTime: a reused worker starts that clock before it waits
    # for its next task, so it adds up idle time between queries
    **{c: ("pythonDataSent", "pythonDataReceived", "pythonTotalTime",
           "pythonNumRowsReceived")
       for c in _LEVEL1},
    **{c: ("pythonTotalTime", "pythonDataSent") for c in _LEVEL2},
    "ShuffleExchangeExec": ("shuffleBytesWritten", "shuffleRecordsWritten",
                            "shuffleWriteTime", "fetchWaitTime"),
    "SortExec": ("peakMemory", "spillSize"),
}


class _Capture:
    """Py4J implementation of Spark's QueryExecutionListener."""

    def __init__(self):
        self.executions = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self.executions.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.executions.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class PlanMetrics:
    """Collects the SQL metrics of every query finished in this session."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._capture = _Capture()
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self._capture)
        self._bus = sc._jsc.sc().listenerBus()

    def close(self) -> None:
        self._manager.unregister(self._capture)

    def take(self) -> list[tuple[str, dict]]:
        """(operator class, {metric: value}) for every plan node of a
        measured class in every query finished since the last call;
        durations are in seconds."""
        self._bus.waitUntilEmpty()
        executions, self._capture.executions = self._capture.executions, []
        nodes: list[tuple[str, dict]] = []
        for qe in executions:
            self._walk(qe.executedPlan(), nodes)
        return nodes

    def _walk(self, node, out) -> None:
        cls = node.getClass().getSimpleName()
        wanted = _WANTED.get(cls)
        if wanted:
            metrics, values = node.metrics(), {}
            for name in wanted:
                if metrics.contains(name):
                    m = metrics.apply(name)
                    values[name] = m.value() * _SECONDS.get(m.metricType(), 1)
            out.append((cls, values))
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif cls.startswith("Reused"):
            kids = []  # counted where the reused exchange or subquery ran
        else:
            kids = [seq.apply(i) for seq in (node.children(),
                                             node.subqueries())
                    for i in range(seq.length())]
        for kid in kids:
            self._walk(kid, out)


def layer_split(nodes: list[tuple[str, dict]], input_rows: int,
                groups: int) -> dict[str, float]:
    """Sum plan-node metrics into the layers named in the README."""
    m: dict[str, float] = defaultdict(float)
    for cls, v in nodes:
        if cls in _SCANS:
            m["sources.scan_s"] += v.get("scanTime", 0)
            m["sources.files_bytes"] += v.get("filesSize", 0)
        elif cls in _LEVEL1:
            k = "plans.arrow_kernel."
            m[k + "python_data_sent_bytes"] += v.get("pythonDataSent", 0)
            m[k + "python_data_received_bytes"] += v.get(
                "pythonDataReceived", 0)
            m[k + "python_total_s"] += v.get("pythonTotalTime", 0)
            m[k + "partial_rows"] += v.get("pythonNumRowsReceived", 0)
        elif cls in _LEVEL2:
            m["plans.agg.merge_python_total_s"] += v.get("pythonTotalTime", 0)
            m["plans.agg.merge_python_data_sent_bytes"] += v.get(
                "pythonDataSent", 0)
        elif cls == "ShuffleExchangeExec":
            m["plans.agg.shuffle_bytes_written"] += v.get(
                "shuffleBytesWritten", 0)
            m["plans.agg.shuffle_records_written"] += v.get(
                "shuffleRecordsWritten", 0)
            m["plans.agg.shuffle_write_s"] += v.get("shuffleWriteTime", 0)
            m["plans.agg.fetch_wait_s"] += v.get("fetchWaitTime", 0)
        elif cls == "SortExec":
            m["plans.agg.sort_peak_bytes"] = max(
                m["plans.agg.sort_peak_bytes"], v.get("peakMemory", 0))
            m["plans.agg.spill_bytes"] += v.get("spillSize", 0)
    partial_rows = m["plans.arrow_kernel.partial_rows"]
    m["plans.arrow_kernel.partial_rows_per_input_row"] = \
        partial_rows / input_rows
    m["plans.agg.groups"] = groups
    m["plans.agg.partials_per_group"] = partial_rows / groups
    return dict(m)


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran, tasks completed) under one job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else ()):
            stage = tracker.getStageInfo(stage_id)
            if stage is not None and stage.numCompletedTasks:
                stages += 1
                tasks += stage.numCompletedTasks
    return jobs, stages, tasks


def _consumer():
    # built in a closure so cloudpickle ships it by value: the Python
    # workers cannot import this package
    def consume(batches):
        for _ in batches:
            pass
        return iter(())

    return consume


def floor_times(frame, reps: int) -> tuple[float, float]:
    """Median wall time of (scan + projection into a noop sink, the same
    projection handed to a mapInArrow that only consumes its batches)."""
    consume = _consumer()
    scan, boundary = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        scan.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        frame.mapInArrow(consume, "x long") \
            .write.format("noop").mode("overwrite").save()
        boundary.append(time.perf_counter() - t0)
    return statistics.median(scan), statistics.median(boundary)


def _per_item_us(fn, items, reps: int = 3) -> float:
    if not items:
        return 0.0
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        runs.append((time.perf_counter() - t0) / len(items) * 1e6)
    return statistics.median(runs)


def sketch_costs(blobs: list, reps: int = 3) -> dict[str, float]:
    """Driver-side cost of each sketch type on real partial blobs.

    ``blobs`` pairs each SketchSpec with the blobs it produced. Per type:
    microseconds per deserialize, per pairwise merge (folding each spec's
    blobs into one), per serialize and per finalize, and mean blob bytes.
    """
    out = {}
    for op in ("hll", "kll", "cm"):
        k = f"sketches.{op}."
        per_spec = [(s, bl) for s, bl in blobs if s.op == op and bl]
        pairs = [(s, b) for s, bl in per_spec for b in bl]
        out[k + "blob_bytes"] = (statistics.fmean(len(b) for _, b in pairs)
                                 if pairs else 0.0)
        out[k + "deserialize_us"] = _per_item_us(
            lambda sb: sb[0].deserialize(sb[1]), pairs, reps)
        sketches = [(s, s.deserialize(b)) for s, b in pairs]
        out[k + "serialize_us"] = _per_item_us(
            lambda ss: ss[1].serialize(), sketches, reps)
        out[k + "finalize_us"] = _per_item_us(
            lambda ss: ss[0].finalize(ss[1]), sketches, reps)
        merges = []
        for _ in range(reps):
            folds = [[s.deserialize(b) for b in bl] for s, bl in per_spec]
            n = sum(len(f) - 1 for f in folds)
            if not n:
                break
            t0 = time.perf_counter()
            for fold in folds:
                acc = fold[0]
                for other in fold[1:]:
                    acc.merge(other)
            merges.append((time.perf_counter() - t0) / n * 1e6)
        out[k + "merge_us"] = statistics.median(merges) if merges else 0.0
    return out
