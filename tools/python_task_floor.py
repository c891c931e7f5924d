"""Measure the fixed cost of a Python task, and where it goes.

Run from the root of a checkout; it measures that checkout's
``tsv_utils_spark`` on a ``get_spark`` session (``local[cores]``, the
package zip shipped with ``addPyFile``, like every library query):

    python tools/python_task_floor.py --tasks 1 --runs 7
    python tools/python_task_floor.py --tasks 8 --runs 7 --phases

It reports three things:

1. **Job floor.** An N-task identity ``mapInArrow`` over ``range(1000)``
   whose function imports ``tsv_utils_spark`` (as every library closure
   does on unpickling), interleaved with the same JVM-only job (a noop
   write of the range); min and median wall seconds of ``--runs`` runs
   after one warm-up of each.
2. **Zip directories re-read per ``importlib.invalidate_caches()``.**
   pyspark calls it once per task (``worker_util.setup_spark_files``);
   on CPython 3.11 it makes every ``zipimporter`` re-parse its archive's
   central directory unless the library's stat-checked wrapper is
   installed. A one-task job counts ``zipimport._read_directory`` calls
   over two invalidations after importing the library.
3. With ``--phases``: a cProfile of one worker ``main`` (one task, on a
   worker that has already run tasks), from the first byte of its task,
   through a throwaway ``spark.python.daemon.module`` written to a temp
   dir and set only on this tool's session.

Prints a readable report and, as the last line, one JSON record.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DAEMON = '''\
import cProfile
import os

import pyspark.daemon as daemon

_stock_main = daemon.worker_main
_calls = [0]


def main(infile, outfile):
    infile.peek(1)  # a reused worker idles here until its next task
    _calls[0] += 1
    prof = cProfile.Profile()
    prof.enable()
    try:
        return _stock_main(infile, outfile)
    finally:
        prof.disable()
        prof.dump_stats(os.path.join(
            {out!r}, "main-%d-%d.prof" % (os.getpid(), _calls[0])))


daemon.worker_main = main

if __name__ == "__main__":
    daemon.manager()
'''


def _identity(batches):
    import tsv_utils_spark  # noqa: F401  (what a library closure does)

    yield from batches


def _arrow_noop(df) -> None:
    df.mapInArrow(_identity, df.schema).write.format("noop") \
        .mode("overwrite").save()


def _zip_reads(batches):
    import importlib
    import sys
    import zipimport

    import pyarrow as pa

    import tsv_utils_spark  # noqa: F401

    for _ in batches:
        pass
    reads = []
    stock_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return stock_read(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
        first = list(reads)
        importlib.invalidate_caches()
        second = reads[len(first):]
    finally:
        zipimport._read_directory = stock_read
    zips = [v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)]
    yield pa.RecordBatch.from_pydict({
        "zipimporters": [len(zips)],
        "archives": [len({z.archive for z in zips})],
        "first": [len(first)], "second": [len(second)],
        "wrapped": [hasattr(zipimport.zipimporter.invalidate_caches,
                            "__wrapped__")]})


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _summary(xs: list[float]) -> dict:
    return {"min_s": round(min(xs), 4),
            "median_s": round(statistics.median(xs), 4),
            "runs": [round(x, 4) for x in xs]}


def _profile_report(prof_path: str, top: int) -> tuple[dict, str]:
    import pstats

    buf = io.StringIO()
    st = pstats.Stats(prof_path, stream=buf)
    total = st.total_tt

    def cum(where: tuple[str, ...], name: str) -> tuple[int, float]:
        calls, secs = 0, 0.0
        for (f, _l, fn), (_cc, nc, _tt, ct, _callers) in st.stats.items():
            if fn == name and any(w in f for w in where):
                calls += nc
                secs += ct
        return calls, round(secs, 4)

    st.sort_stats("cumulative").print_stats(top)
    out = {"main_total_s": round(total, 4)}
    for key, where, name in (
            ("setup_spark_files", ("worker_util",), "setup_spark_files"),
            ("zipimporter.invalidate_caches", ("zipimport", "_zipcache"),
             "invalidate_caches"),
            ("_read_directory", ("zipimport",), "_read_directory"),
            ("read_udfs", ("worker",), "read_udfs")):
        calls, secs = cum(where, name)
        out[key] = {"calls": calls, "cum_s": secs}
    return out, buf.getvalue()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tasks", type=int, default=1,
                    help="tasks per timed job (default 1)")
    ap.add_argument("--runs", type=int, default=7,
                    help="timed runs of each job, at least 5 (default 7)")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[cores] (default: get_spark's default)")
    ap.add_argument("--phases", action="store_true",
                    help="also cProfile one worker main")
    args = ap.parse_args(argv)
    if args.runs < 5:
        ap.error("--runs must be at least 5")

    sys.path.insert(0, ROOT)
    from tsv_utils_spark.session import get_spark

    tmp = tempfile.mkdtemp(prefix="python_task_floor-")
    conf = {}
    prof_dir = os.path.join(tmp, "prof")
    if args.phases:
        os.makedirs(prof_dir)
        with open(os.path.join(tmp, "floor_profile_daemon.py"), "w") as f:
            f.write(_DAEMON.format(out=prof_dir))
        conf = {"spark.python.daemon.module": "floor_profile_daemon",
                "spark.executorEnv.PYTHONPATH": tmp}
    spark = get_spark("python_task_floor", cores=args.cores,
                      extra_conf=conf)
    try:
        rng = spark.range(0, 1000, 1, args.tasks)

        def arrow_job():
            _arrow_noop(rng)

        def jvm_job():
            rng.write.format("noop").mode("overwrite").save()

        # warm-up: start every worker, import the library on each
        _arrow_noop(spark.range(0, 1000, 1,
                                spark.sparkContext.defaultParallelism))
        arrow_job()
        jvm_job()
        arrow_s, jvm_s = [], []
        for i in range(args.runs):  # interleaved, order alternated
            if i % 2:
                jvm_s.append(_timed(jvm_job))
                arrow_s.append(_timed(arrow_job))
            else:
                arrow_s.append(_timed(arrow_job))
                jvm_s.append(_timed(jvm_job))
        zr = spark.range(0, 1, 1, 1).mapInArrow(
            _zip_reads, "zipimporters long, archives long, first long, "
            "second long, wrapped boolean").collect()[0].asDict()

        record = {
            "python": sys.version.split()[0],
            "cores": spark.sparkContext.defaultParallelism,
            "tasks": args.tasks,
            "mapinarrow_identity": _summary(arrow_s),
            "jvm_only": _summary(jvm_s),
            "zip_reads_per_invalidate": zr,
        }
        print(f"python {record['python']}, local[{record['cores']}], "
              f"{args.tasks}-task jobs over range(1000), {args.runs} runs")
        for name in ("mapinarrow_identity", "jvm_only"):
            s = record[name]
            print(f"  {name:<20} min {s['min_s']:.3f} s  "
                  f"median {s['median_s']:.3f} s")
        print(f"  zip directories re-read per invalidate_caches(): "
              f"{zr['first']} then {zr['second']} "
              f"({zr['zipimporters']} zipimporters over {zr['archives']} "
              f"archives; stat-checked wrapper installed: {zr['wrapped']})")

        if args.phases:
            for fn in os.listdir(prof_dir):
                os.remove(os.path.join(prof_dir, fn))
            _arrow_noop(spark.range(0, 1000, 1, 1))
            profs = sorted(os.listdir(prof_dir))
            if len(profs) != 1:
                print(f"  --phases: expected one worker profile, got "
                      f"{len(profs)}", file=sys.stderr)
                return 1
            phases, text = _profile_report(
                os.path.join(prof_dir, profs[0]), top=15)
            record["phases"] = phases
            print("  one worker main, cProfile by cumulative time:")
            print(text)
        print(json.dumps(record), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
