"""Time the level-1 kernel in-process, and check every partial row it
emits against a per-group reference build.

Run from the root of a checkout; it measures that checkout's
``tsv_utils_spark.plans.arrow_kernel``:

    python tools/bench_level1.py            # code_highcard's shape
    python tools/bench_level1.py --runs 7 --rows 20000

The input is the synthetic code table (``sources/codegen.py``), by
default in the shape of the benchmark's ``code_highcard`` workload: 90k
rows over 100 Zipf repos, grouped by (repo, module), with hll over
``path``, kll over ``size_chars`` and cm mode over ``lang``. The
kernel's input columns are computed by Spark once, collected to the
driver and cut into ``--slices`` contiguous slices, like the
benchmark's one input split per generated file. Each slice then runs
through the kernel as one task would (Arrow batches of
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows), with no Spark
job in the timed part; a run's time is the sum over the slices.

Reports min and median of ``--runs`` runs, then one JSON record as the
last line. Exits 1 if
any partial row (keys, ``__rows``, every blob byte, row order) differs
from ``reference_partials``: one sketch object per group, built with
``make()``, one update with the group's input and ``serialize()``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402

_NAN = float("nan")


def reference_partials(batches, group_cols, in_names, specs, partial_schema,
                       max_groups: int, lineage_epoch: int | None = None,
                       max_buffered_rows: int = 4_000_000) -> list[tuple]:
    """The level-1 partial rows of one task, built group by group: the
    same rows, in the same order, as ``make_arrow_partial_fn(...)`` over
    ``batches``, as tuples in ``partial_schema``'s field order.

    A group's numeric input is its rows in order (batch by batch, then
    row by row). Its cm/bloom input is one dict of value -> count: per
    batch, the group's distinct non-null values are added in the order
    the batch's ``dictionary_encode`` first saw them, merged by Python
    equality (the first-seen value object is kept; every NaN is one
    value). Groups and values
    are flushed as the kernel does: after a batch that takes the groups
    past ``max_groups`` or the buffered rows past ``max_buffered_rows``,
    and at the end."""
    names = [f.name for f in partial_schema.fields]
    out: list[tuple] = []
    buf: dict = {}  # key tuple -> [rows, per-spec input]
    buffered = 0

    def flush():
        for key, (rows, inputs) in buf.items():
            row = {"__rows": rows, "epoch": lineage_epoch,
                   "partition_id": -1, **dict(zip(group_cols, key))}
            for i, spec in enumerate(specs):
                sk = spec.make()
                x = inputs[i]
                if spec.op in ("cm", "bloom"):
                    if x:
                        vals = np.empty(len(x), dtype=object)
                        vals[:] = list(x)
                        if spec.op == "cm":
                            sk.update(vals, counts=np.array(
                                list(x.values()), dtype=np.int64))
                        else:
                            sk.update(vals)
                elif spec.op in ("hll", "theta"):
                    h = np.concatenate(x).view(np.uint64)
                    sk.update_hashes(h[h != 0])
                else:
                    sk.update(np.concatenate(x))
                row[f"__blob_{i}"] = sk.serialize()
            out.append(tuple(row[n] for n in names))
        buf.clear()

    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        cols = {name: batch.column(batch.schema.get_field_index(name))
                for name in batch.schema.names}
        codes = {g: pc.fill_null(pc.dictionary_encode(cols[g]).indices, -1)
                 .to_numpy(zero_copy_only=False) for g in group_cols}
        keys = [tuple(codes[g][r] for g in group_cols) for r in range(n)]
        first: dict = {}  # key codes -> first row
        for r, k in enumerate(keys):
            first.setdefault(k, r)
        value_codes = {}  # cm/bloom spec -> (code per row, dictionary)
        for i, spec in enumerate(specs):
            if spec.op in ("cm", "bloom"):
                enc = pc.dictionary_encode(cols[in_names[i]])
                value_codes[i] = (enc.indices.to_pylist(),
                                  enc.dictionary.to_pylist())
        # the kernel's run order: key codes ascending
        runs = {k: [] for k in sorted(first)}
        for r, k in enumerate(keys):
            runs[k].append(r)
        for k, rows in runs.items():
            key = tuple(_canon_key(cols[g][first[k]].as_py())
                        for g in group_cols)
            slot = buf.setdefault(key, [0, [({} if s.op in ("cm", "bloom")
                                             else []) for s in specs]])
            slot[0] += len(rows)
            take = pa.array(rows, pa.int64())
            for i, spec in enumerate(specs):
                col = cols[in_names[i]]
                if spec.op in ("cm", "bloom"):
                    vcodes, dict_vals = value_codes[i]
                    counts: dict = {}
                    for r in rows:
                        if vcodes[r] is not None:
                            counts[vcodes[r]] = counts.get(vcodes[r], 0) + 1
                    vc = slot[1][i]
                    for code in sorted(counts):
                        v = _canon_key(dict_vals[code])
                        vc[v] = vc.get(v, 0) + counts[code]
                elif spec.op in ("hll", "theta"):
                    slot[1][i].append(col.take(take).to_numpy(
                        zero_copy_only=False).astype(np.int64))
                else:
                    slot[1][i].append(pc.cast(col.take(take), pa.float64())
                                      .to_numpy(zero_copy_only=False))
        buffered += n
        if len(buf) > max_groups or buffered > max_buffered_rows:
            flush()
            buffered = 0
    flush()
    return out


def _canon_key(v):
    """A key value as a dict key: every NaN is one object, as in the
    kernel (NaN != NaN, so only the identical object matches)."""
    return _NAN if isinstance(v, float) and v != v else v


def rows_of(batches) -> list[tuple]:
    """The rows of the kernel's output batches, as tuples."""
    out = []
    for rb in batches:
        out.extend(zip(*(c.to_pylist() for c in rb.columns)))
    return out


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Row lists equal, NaN key values equal to each other."""
    def norm(row):
        return tuple("NaN" if isinstance(x, float) and x != x else x
                     for x in row)
    return len(a) == len(b) and all(norm(x) == norm(y) for x, y in zip(a, b))


def code_table(spark, rows: int, repos: int, seed: int, slices: int,
               group_by, specs):
    """The kernel's input columns over the generated code table, as
    ``slices`` contiguous Arrow tables, and the partial schema."""
    from tsv_utils_spark.plans.agg import _partial_schema
    from tsv_utils_spark.sources.codegen import synthesize_source_code_table
    from pyspark.sql import functions as F

    df = synthesize_source_code_table(spark, rows, n_repos=repos, seed=seed,
                                      partitions=slices)
    df = (df.withColumn("size_chars", F.length("content"))
            .withColumn("module", F.split("path", "/")[1]))
    table = df.select(*group_by, *[s.input_expr(i)
                                   for i, s in enumerate(specs)]).toArrow()
    step = -(-table.num_rows // slices)
    return ([table.slice(lo, step) for lo in range(0, table.num_rows, step)],
            _partial_schema(df, group_by, len(specs)))


def run(spark, rows: int = 90_000, repos: int = 100, slices: int = 8,
        runs: int = 5, seed: int = 1) -> dict:
    """Time the kernel over the code table; see the module docstring."""
    from tsv_utils_spark.plans.agg import SketchSpec
    from tsv_utils_spark.plans.arrow_kernel import make_arrow_partial_fn

    group_by = ["repo", "module"]
    specs = [SketchSpec("hll", "path", "distinct_paths"),
             SketchSpec("kll", "size_chars", "size_median"),
             SketchSpec("cm", "lang", "top_lang", {"finalize": "mode"})]
    in_names = [f"__in_{i}" for i in range(len(specs))]
    parts, schema = code_table(spark, rows, repos, seed, slices, group_by,
                               specs)
    batch_rows = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    batches = [p.to_batches(max_chunksize=batch_rows) for p in parts]
    max_groups = 100_000  # sketch_agg's max_groups_per_partition

    def kernel(bs):
        fn = make_arrow_partial_fn(group_by, in_names, specs, schema,
                                   max_groups)
        return list(fn(iter(bs)))

    partial_rows = 0
    mismatched = []
    for s, bs in enumerate(batches):
        got = rows_of(kernel(bs))
        partial_rows += len(got)
        want = reference_partials(bs, group_by, in_names, specs, schema,
                                  max_groups)
        if not same_rows(got, want):
            mismatched.append(s)
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        for bs in batches:
            kernel(bs)
        times.append(time.perf_counter() - t0)
    return {"rows": rows, "repos": repos, "slices": len(batches),
            "partial_rows": partial_rows, "runs": runs,
            "kernel": {"min_s": round(min(times), 4),
                       "median_s": round(statistics.median(times), 4)},
            "identical": not mismatched, "mismatched_slices": mismatched}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=90_000)
    ap.add_argument("--repos", type=int, default=100)
    ap.add_argument("--slices", type=int, default=8)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    from tsv_utils_spark.session import get_spark

    spark = get_spark("bench_level1")
    try:
        res = run(spark, args.rows, args.repos, args.slices, args.runs,
                  args.seed)
    finally:
        spark.stop()
    k = res["kernel"]
    print(f"kernel: min {k['min_s']:.3f} s, median {k['median_s']:.3f} s "
          f"over {res['runs']} runs ({res['slices']} slices, "
          f"{res['partial_rows']} partial rows)")
    print("partial rows identical to the reference" if res["identical"]
          else f"MISMATCH in slices {res['mismatched_slices']}")
    print(json.dumps(res))
    return 0 if res["identical"] else 1


if __name__ == "__main__":
    sys.exit(main())
