"""Time the level-2 merge in-process, and check every row it emits
against a per-group object-merge reference.

Run from the root of a checkout; it measures that checkout's
``tsv_utils_spark.plans.agg._run_merger``:

    python tools/bench_level2.py            # code_highcard's shape
    python tools/bench_level2.py --runs 7 --rows 20000

The input is the level-1 partial rows of the synthetic code table
(``sources/codegen.py``), by default in the shape of the benchmark's
``code_highcard`` workload: 90k rows over 100 Zipf repos, grouped by
(repo, module), with hll over ``path``, kll over ``size_chars`` and cm
mode over ``lang``. The table is cut into ``--slices`` input slices and
each goes through the level-1 kernel, as in ``tools/bench_level1.py``.
The partial rows are then hash-partitioned on the keys into
``spark.sql.shuffle.partitions`` slices, each sorted by the keys — the
Exchange + Sort that ``_merge_partials`` plans — and each slice runs
through the merger as one task would (Arrow batches of
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows), with no Spark job
in the timed part; a run's time is the sum over the slices.

Reports min and median of ``--runs`` runs of the finalizing merge (the
``sketch_agg`` path), then one JSON record as the last line. Exits 1 if
any output row differs from ``reference_merge`` — every estimate with
``finalize=True``, every blob byte with ``finalize=False``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import types
import zlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (ROOT, os.path.join(ROOT, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402

from bench_level1 import (  # noqa: E402
    _canon_key,
    code_table,
    rows_of,
    same_rows,
)


def reference_merge(batches, n_keys: int, blob_specs, specs, cmap,
                    out_schema, with_rows: bool,
                    finalize: bool) -> list[tuple]:
    """The rows ``_run_merger(n_keys, blob_specs, specs, cmap, out_schema,
    with_rows, finalize)`` emits over ``batches``, built group by group:
    each run of equal keys (NaN equal to NaN, null to null) deserializes
    its first blob per canonical spec with ``SketchSpec.deserialize``,
    merges the others into it in run order, then finalizes it by every
    spec sharing it (``finalize``) or serializes it. Rows are tuples in
    ``out_schema``'s field order, read back through Arrow."""
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(out_schema)
    rows: list[tuple] = []
    for b in batches:
        rows.extend(zip(*(c.to_pylist() for c in b.columns)))
    runs: list[list[tuple]] = []
    for r in rows:
        key = tuple(_canon_key(v) for v in r[:n_keys])
        if runs and tuple(_canon_key(v) for v in runs[-1][0][:n_keys]) \
                == key:
            runs[-1].append(r)
        else:
            runs.append([r])
    out = []
    for run in runs:
        sks = []
        for j, spec in enumerate(blob_specs):
            sk = spec.deserialize(run[0][n_keys + 1 + j])
            for r in run[1:]:
                sk.merge(spec.deserialize(r[n_keys + 1 + j]))
            sks.append(sk)
        vals = list(run[0][:n_keys])
        if with_rows:
            vals.append(sum(r[n_keys] for r in run))
        if finalize:
            for spec, j in zip(specs, cmap):
                vals.extend(spec.finalize(sks[j]))
        else:
            vals.extend(sk.serialize() for sk in sks)
        out.append(vals)
    if not out:
        return []
    table = pa.Table.from_arrays(
        [pa.array(list(col), type=f.type, from_pandas=True)
         for col, f in zip(zip(*out), pa_schema)], schema=pa_schema)
    return rows_of(table.to_batches())


def key_slices(partials: pa.Table, keys: list[str],
               slices: int) -> list[pa.Table]:
    """``partials`` hash-partitioned on ``keys`` into ``slices`` tables,
    each sorted by the keys."""
    cols = [partials.column(k).to_pylist() for k in keys]
    part = np.array([zlib.crc32(repr(k).encode()) % slices
                     for k in zip(*cols)], dtype=np.int64)
    out = []
    for s in range(slices):
        t = partials.filter(pa.array(part == s))
        order = pc.sort_indices(t, sort_keys=[(k, "ascending")
                                              for k in keys],
                                null_placement="at_start")
        out.append(t.take(order))
    return out


def run(spark, rows: int = 90_000, repos: int = 100, slices: int = 8,
        runs: int = 5, seed: int = 1) -> dict:
    """Time the merger over the code table's partials; see the module
    docstring."""
    from tsv_utils_spark.plans.agg import (
        SketchSpec,
        _canon_specs,
        _final_schema,
        _partial_schema,
        _run_merger,
    )
    from tsv_utils_spark.plans.arrow_kernel import make_arrow_partial_fn

    group_by = ["repo", "module"]
    specs = [SketchSpec("hll", "path", "distinct_paths"),
             SketchSpec("kll", "size_chars", "size_median"),
             SketchSpec("cm", "lang", "top_lang", {"finalize": "mode"})]
    canon, cmap = _canon_specs(specs)
    in_names = [f"__in_{i}" for i in range(len(canon))]
    parts, schema = code_table(spark, rows, repos, seed, slices, group_by,
                               canon)
    batch_rows = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    partials = []
    for p in parts:
        fn = make_arrow_partial_fn(group_by, in_names, canon, schema,
                                   100_000)
        partials.extend(fn(iter(p.to_batches(max_chunksize=batch_rows))))
    partials = pa.Table.from_batches(partials)
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tasks = [t.to_batches(max_chunksize=batch_rows)
             for t in key_slices(partials, group_by, shuffle)]

    keys = types.SimpleNamespace(schema=schema)  # the key fields
    n_keys = len(group_by)
    out_schemas = {True: _final_schema(keys, group_by, specs, False),
                   False: _partial_schema(keys, group_by, len(canon))}

    def merger(bs, fin):
        fn = _run_merger(n_keys, canon, specs, cmap, out_schemas[fin],
                         not fin, fin)
        return list(fn(iter(bs)))

    groups = 0
    mismatched = []
    for fin in (True, False):
        for s, bs in enumerate(tasks):
            got = rows_of(merger(bs, fin))
            groups += len(got) if fin else 0
            want = reference_merge(bs, n_keys, canon, specs, cmap,
                                   out_schemas[fin], not fin, fin)
            if not same_rows(got, want):
                mismatched.append({"slice": s, "finalize": fin})
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        for bs in tasks:
            merger(bs, True)
        times.append(time.perf_counter() - t0)
    return {"rows": rows, "repos": repos, "slices": len(tasks),
            "partial_rows": partials.num_rows, "groups": groups,
            "runs": runs,
            "merge": {"min_s": round(min(times), 4),
                      "median_s": round(statistics.median(times), 4)},
            "identical": not mismatched, "mismatched": mismatched}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=90_000)
    ap.add_argument("--repos", type=int, default=100)
    ap.add_argument("--slices", type=int, default=8)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    from tsv_utils_spark.session import get_spark

    spark = get_spark("bench_level2")
    try:
        res = run(spark, args.rows, args.repos, args.slices, args.runs,
                  args.seed)
    finally:
        spark.stop()
    m = res["merge"]
    print(f"merge: min {m['min_s']:.3f} s, median {m['median_s']:.3f} s "
          f"over {res['runs']} runs ({res['slices']} slices, "
          f"{res['partial_rows']} partial rows, {res['groups']} groups)")
    print("output rows identical to the reference" if res["identical"]
          else f"MISMATCH in {res['mismatched']}")
    print(json.dumps(res))
    return 0 if res["identical"] else 1


if __name__ == "__main__":
    sys.exit(main())
