"""One benchmark run: set-up, the closed loop, checks and the result.

A run is one driver process with one SparkSession on ``local[cores]`` and
one client that sends the next query only when the previous one has been
answered and checked. Everything the run writes lives under ``.perfbench/``
in the checkout root.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
RESULTS_DIR = os.path.join(OUT_DIR, "results")

FILES_PER_CORE = 2    # parquet files (and input splits) per core
SETUP_PASSES = 2      # set-up passes per run; setup_s uses their median
MIN_QUERIES = 2       # a run measures at least this many queries
FLOOR_REPS = 2

END_TO_END = {"query_s": "s", "rows_per_s": "1/s", "setup_s": "s",
              "peak_rss_mb": "MB"}

_S, _B, _N, _R, _US = "s", "bytes", "count", "ratio", "us"
PER_LAYER = {
    "sources.scan_s": _S,
    "sources.files_bytes": _B,
    "sources.scan_floor_s": _S,
    "plans.arrow_kernel.python_data_sent_bytes": _B,
    "plans.arrow_kernel.python_data_received_bytes": _B,
    "plans.arrow_kernel.python_total_s": _S,
    "plans.arrow_kernel.partial_rows": _N,
    "plans.arrow_kernel.partial_rows_per_input_row": _R,
    "plans.arrow_kernel.boundary_floor_s": _S,
    "plans.arrow_kernel.self_s": _S,
    "plans.arrow_kernel.floor_share": _R,
    "plans.agg.construct_s": _S,
    "plans.agg.shuffle_bytes_written": _B,
    "plans.agg.shuffle_records_written": _N,
    "plans.agg.shuffle_write_s": _S,
    "plans.agg.fetch_wait_s": _S,
    "plans.agg.merge_python_total_s": _S,
    "plans.agg.merge_python_data_sent_bytes": _B,
    "plans.agg.groups": _N,
    "plans.agg.partials_per_group": _R,
    "plans.agg.sort_peak_bytes": _B,
    "plans.agg.spill_bytes": _B,
    **{f"sketches.{op}.{m}": (_B if m == "blob_bytes" else _US)
       for op in ("hll", "kll", "cm")
       for m in ("deserialize_us", "merge_us", "serialize_us",
                 "finalize_us", "blob_bytes")},
    "plans.checkpoint.epochs_s": _S,
    "plans.checkpoint.epoch_s": _S,
    "plans.checkpoint.partial_rows": _N,
    "plans.checkpoint.partial_bytes": _B,
    "plans.checkpoint.files_written": _N,
    "plans.checkpoint.merge_s": _S,
    "plans.checkpoint.stored_bytes_per_input_byte": _R,
    "plans.quantiles.construct_s": _S,
    "plans.quantiles.eager_jobs": _N,
    "plans.quantiles.execute_s": _S,
    "operators.join.bloom_build_s": _S,
    "operators.join.eager_jobs": _N,
    "operators.join.probe_s": _S,
    "spark.jobs": _N,
    "spark.stages": _N,
    "spark.tasks": _N,
    "trace.query_s": _S,
    "trace.overhead_s": _S,
    "check.failed_frac": _R,
    "check.hll_rel_err_max": _R,
    "check.kll_rank_err_max": _R,
    "check.cm_mode_miss_frac": _R,
}

# phase name -> per-layer metric holding its wall time
PHASE_SECONDS = {
    "plans.agg.construct": "plans.agg.construct_s",
    "plans.checkpoint.epochs": "plans.checkpoint.epochs_s",
    "plans.checkpoint.merge": "plans.checkpoint.merge_s",
    "plans.quantiles.construct": "plans.quantiles.construct_s",
    "plans.quantiles.execute": "plans.quantiles.execute_s",
    "operators.join.bloom_build": "operators.join.bloom_build_s",
    "operators.join.probe": "operators.join.probe_s",
}
# construct phase -> per-layer metric counting the jobs it ran eagerly
EAGER_JOBS = {
    "plans.quantiles.construct": "plans.quantiles.eager_jobs",
    "operators.join.bloom_build": "operators.join.eager_jobs",
}


# ------------------------------------------------------------ machine
def machine() -> tuple[int, int]:
    """(cores this process may use, driver heap in MB: RAM/16, clamped to
    512 MB - 1 GB; the tables are tens of MB)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f
                            if ln.startswith("MemTotal")).split()[1])
    return cores, max(512, min(1024, total_kb // 1024 // 16))


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes that map it."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for ln in f:
            if ln.startswith("Pss:"):
                return int(ln.split()[1]) << 10
    return 0


def tree_pss_bytes(root_pid: int) -> int:
    """Summed proportional set size of a process and all its descendants.

    Summing plain RSS would count copy-on-write pages once per process: a
    Python worker forked from the PySpark daemon, or a child the JVM forks
    to run a shell command, would add the whole parent again."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakMemory:
    """Samples the process tree's memory in a background thread. A sample
    costs ~30 ms of kernel time for a 1.6 GB JVM, hence the long interval;
    the JVM heap is resident from the start, so peaks are plateaus."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.stop()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak

    def _loop(self):
        while True:
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return


# ------------------------------------------------------------ session
def start_session(work: str, cores: int, driver_mb: int):
    from tsv_utils_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                     extra_conf={
                         "spark.driver.memory": f"{driver_mb}m",
                         "spark.local.dir": os.path.join(work, "local"),
                         "spark.sql.warehouse.dir":
                             os.path.join(work, "warehouse"),
                         # the whole heap is resident from the start, so
                         # peak RSS does not depend on when GC grows it
                         "spark.driver.extraJavaOptions":
                             "-Djava.net.preferIPv4Stack=true "
                             f"-Xms{driver_mb}m -XX:+AlwaysPreTouch "
                             f"-Djava.io.tmpdir={tmp}",
                         "spark.ui.showConsoleProgress": "false",
                         # small files must not be packed into few splits
                         "spark.sql.files.openCostInBytes": str(64 << 10),
                         # nor a few MB of partials coalesced into one
                         # serial merge partition
                         "spark.sql.adaptive.coalescePartitions"
                         ".minPartitionSize": str(64 << 10),
                     })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def write_table(spark, path: str, rows: int, n_repos: int, seed: int,
                files: int) -> list:
    """Generate the code table for ``seed`` into ``path``; returns the
    sizes of its parquet files."""
    from tsv_utils_spark.sources.codegen import synthesize_source_code_table

    synthesize_source_code_table(spark, rows, n_repos=n_repos, seed=seed,
                                 partitions=files) \
        .write.mode("overwrite").parquet(path)
    return [os.path.getsize(os.path.join(path, n))
            for n in sorted(os.listdir(path)) if n.endswith(".parquet")]


# ------------------------------------------------------------ the loop
@dataclass
class Sample:
    label: str
    start: float
    seconds: float
    phases: list
    ok: bool
    check: object = None
    layers: dict = field(default_factory=dict)


def run_query(spark, wl, label: str) -> Sample:
    """One closed-loop query: the workload's phases, then its check. An
    exception or a wrong answer is a failed query, never a crash."""
    sc = spark.sparkContext
    phases = []

    def phase(name, fn):
        group = f"perfbench:{wl.name}:{label}:{name}"
        sc.setJobGroup(group, f"{wl.name} {label} {name}")
        t0 = time.perf_counter()
        out = fn()
        phases.append({"name": name, "group": group, "start": t0,
                       "seconds": time.perf_counter() - t0})
        return out

    t0 = time.perf_counter()
    try:
        answer = wl.run(phase)
    except Exception:  # a failed query counts; the loop goes on
        traceback.print_exc(file=sys.stderr)
        return Sample(label, t0, time.perf_counter() - t0, phases, False)
    seconds = time.perf_counter() - t0
    check = wl.check(answer)
    for problem in check.problems[:5]:
        print(f"perfbench: {wl.name} {label}: {problem}", file=sys.stderr)
    return Sample(label, t0, seconds, phases, check.ok, check)


def trace_query(spark, plans, sample: Sample, input_rows: int,
                groups: int) -> None:
    """Attach the per-layer split of a finished query to ``sample``."""
    from perfbench.tracing import job_counts, layer_split

    layers = layer_split(plans.take(), input_rows, groups)
    totals = [0, 0, 0]
    for ph in sample.phases:
        counts = job_counts(spark.sparkContext, ph["group"])
        totals = [a + b for a, b in zip(totals, counts)]
        if ph["name"] in PHASE_SECONDS:
            layers[PHASE_SECONDS[ph["name"]]] = ph["seconds"]
        if ph["name"] in EAGER_JOBS:
            layers[EAGER_JOBS[ph["name"]]] = counts[0]
    layers["spark.jobs"], layers["spark.stages"], layers["spark.tasks"] = \
        totals
    sample.layers = layers


def _median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def check_metrics(samples: list[Sample]) -> dict[str, float]:
    checks = [s.check for s in samples if s.check is not None]
    return {
        "check.failed_frac":
            sum(not s.ok for s in samples) / len(samples),
        "check.hll_rel_err_max":
            max((c.hll_rel_err_max for c in checks), default=0.0),
        "check.kll_rank_err_max":
            max((c.kll_rank_err_max for c in checks), default=0.0),
        "check.cm_mode_miss_frac":
            max((c.cm_mode_miss_frac for c in checks), default=0.0),
    }


# ------------------------------------------------------------ a run
def run(workload: str, seed: int, seconds: float, trace: bool,
        rows: int | None = None) -> tuple[dict, dict]:
    """Run one workload on its table (``rows`` overrides the workload's
    row count); returns (result line, detail record)."""
    import pyarrow
    import pyspark

    from perfbench import tracing as tr
    from perfbench import workloads

    wl = workloads.make(workload)
    rows = rows or wl.rows
    work = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS_DIR, exist_ok=True)
    # Python temp files and the shipped package zip stay in the checkout
    old_tmpdir = os.environ.get("TMPDIR")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores, driver_mb = machine()
    files = FILES_PER_CORE * cores
    mem = PeakMemory()
    try:
        with mem:
            t0 = time.perf_counter()
            spark = start_session(work, cores, driver_mb)
            try:
                session_s = time.perf_counter() - t0
                passes, table = [], None
                for p in range(SETUP_PASSES):
                    t0 = time.perf_counter()
                    old, table = table, os.path.join(work, f"table-{p}")
                    sizes = write_table(spark, table, rows, wl.n_repos,
                                        seed, files)
                    # one split per parquet file
                    spark.conf.set("spark.sql.files.maxPartitionBytes",
                                   str(max(sizes)))
                    src = spark.read.parquet(table)
                    wl.prepare(spark, src, work)
                    wl.oracle()
                    passes.append(time.perf_counter() - t0)
                    if old:
                        shutil.rmtree(old)
                splits = src.rdd.getNumPartitions()
                if splits < 2 * cores:
                    raise RuntimeError(f"{splits} input splits, need at "
                                       f"least 2 x {cores} cores")
                warm = run_query(spark, wl, "warmup")
                setup_s = session_s + statistics.median(passes) \
                    + warm.seconds

                plans = tr.PlanMetrics(spark) if trace else None
                samples, overhead = [], []
                t_end = time.perf_counter() + seconds
                while len(samples) < MIN_QUERIES \
                        or time.perf_counter() < t_end:
                    s = run_query(spark, wl, f"q{len(samples)}")
                    if plans is not None:
                        t0 = time.perf_counter()
                        trace_query(spark, plans, s, rows, wl.groups)
                        overhead.append(time.perf_counter() - t0)
                    samples.append(s)
                layers = {}
                if plans is not None:
                    plans.close()
                    layers = traced_layers(wl, samples, overhead,
                                           sum(sizes))
                peak_rss = mem.stop()
            finally:
                stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if old_tmpdir is None:
            os.environ.pop("TMPDIR", None)
        else:
            os.environ["TMPDIR"] = old_tmpdir

    attempted = [warm] + samples
    failed = sum(not s.ok for s in attempted)
    query_s = _median(s.seconds for s in samples if s.ok) \
        or _median(s.seconds for s in samples)
    stored = wl.stored()
    e2e = {
        "query_s": (query_s, len(samples)),
        "rows_per_s": (rows / query_s, len(samples)),
        "setup_s": (setup_s, len(passes)),
        "peak_rss_mb": (peak_rss / 2**20, 1),
    }
    checks = check_metrics(attempted)
    merge = [p["seconds"] for s in samples for p in s.phases
             if p["name"] == "plans.checkpoint.merge"]
    stored_ratio = [b / sum(sizes) for b in stored.get("partial_bytes", [])]
    extra = {
        "merge_s": (_median(merge), len(merge), "s"),
        "stored_bytes_per_input_byte":
            (_median(stored_ratio), len(stored_ratio), "ratio"),
        "failed_frac": (failed / len(attempted), len(attempted), "ratio"),
        **{k.split(".", 1)[1]: (v, len(attempted), "ratio")
           for k, v in checks.items() if k != "check.failed_frac"},
        "kll_over_library_bound_max": (
            max((s.check.kll_over_library_bound_max for s in attempted
                 if s.check is not None), default=0.0),
            len(attempted), "ratio"),
    }
    if trace:
        metrics = {k: {"value": float(layers[k]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                   for k, (v, _n) in e2e.items()}
    line = {"correct": failed == 0, "attempted": len(attempted),
            "failed": failed, "metrics": metrics}
    detail = {
        "workload": workload, "why": wl.why, "seed": seed,
        "seconds": seconds, "trace": int(trace),
        "load": f"closed loop, 1 client, local[{cores}]",
        "facts": {
            "rows": rows, "n_repos": wl.n_repos,
            "parquet_bytes": sum(sizes), "parquet_files": len(sizes),
            "input_splits": splits, "groups": wl.groups, "nproc": cores,
            "driver_memory_mb": driver_mb,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": __import__("numpy").__version__,
            "python": platform.python_version(),
        },
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k], "samples": n}
                       for k, (v, n) in e2e.items()},
        "end_to_end_extra": {k: {"value": v, "unit": u, "samples": n}
                             for k, (v, n, u) in extra.items()},
        "setup": {"session_s": session_s, "passes_s": passes,
                  "warmup_s": warm.seconds},
        "queries_s": [s.seconds for s in samples],
    }
    name = f"{workload}-seed{seed}-trace{int(trace)}.json"
    if trace:
        detail["trace_file"] = os.path.relpath(
            os.path.join(RESULTS_DIR, "trace-" + name), ROOT)
        with open(os.path.join(ROOT, detail["trace_file"]), "w") as f:
            json.dump({"per_layer": layers, "spans": spans(samples)}, f,
                      indent=1)
    with open(os.path.join(RESULTS_DIR, name), "w") as f:
        json.dump({"result": line, "detail": detail}, f, indent=1)
    return line, detail


def spans(samples: list[Sample]) -> list[dict]:
    """Query spans with their phase spans as children, times relative to
    the first query."""
    if not samples:
        return []
    base = samples[0].start
    out = []
    for s in samples:
        out.append({"id": s.label, "parent": None, "name": "query",
                    "start": s.start - base,
                    "end": s.start - base + s.seconds, "ok": s.ok,
                    "layers": s.layers})
        out.extend({"id": f"{s.label}/{p['name']}", "parent": s.label,
                    "name": p["name"], "start": p["start"] - base,
                    "end": p["start"] - base + p["seconds"]}
                   for p in s.phases)
    return out


def traced_layers(wl, samples: list[Sample], overhead: list[float],
                  input_bytes: int) -> dict[str, float]:
    """Per-layer metrics of a traced run: medians over its queries, plus
    floor runs, the sketch probe and the stored checkpoint state."""
    from perfbench.tracing import floor_times, sketch_costs

    out = {k: 0.0 for k in PER_LAYER}
    keys = {k for s in samples for k in s.layers}
    for k in keys:
        out[k] = statistics.median(s.layers.get(k, 0.0) for s in samples)
    query_s = statistics.median(s.seconds for s in samples)
    out["trace.query_s"] = query_s
    out["trace.overhead_s"] = statistics.median(overhead)
    scan_floor, boundary_floor = floor_times(wl.floor_frame(), FLOOR_REPS)
    out["sources.scan_floor_s"] = scan_floor
    out["plans.arrow_kernel.boundary_floor_s"] = boundary_floor
    out["plans.arrow_kernel.self_s"] = query_s - boundary_floor
    out["plans.arrow_kernel.floor_share"] = boundary_floor / query_s
    out.update(sketch_costs(wl.probe_blobs()))
    for k, values in wl.stored().items():
        out[f"plans.checkpoint.{k}"] = statistics.median(values)
    if "partial_bytes" in wl.stored():
        out["plans.checkpoint.stored_bytes_per_input_byte"] = \
            out["plans.checkpoint.partial_bytes"] / input_bytes
    out.update(check_metrics(samples))
    return out
