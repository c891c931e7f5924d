"""Exact grouped quantiles by distributed selection (histogram narrowing).

``F.percentile`` is exact but buffers a value->count OpenHashMap per group
per task, serializes those maps through the shuffle and merges them
nearly single-threaded per group — at 6M rows / ~1M distinct doubles that
is the slowest aggregate in the engine (measured 9-19 s at sf1.0, guide
§1 "measure first"). The classic distributed-selection alternative finds
the exact order statistics with three narrow aggregation passes whose
outputs are tiny (guide §2.3 "aggregate before you shuffle"):

  1. stats    — per group: non-null count, min, max, NaN flag;
  2. histogram— per (group, equi-width bin): count, bin-min, bin-max.
                Bins whose min==max resolve their ranks immediately
                (discrete data never needs pass 3);
  3. resolve  — rows of the few bins containing a target rank, value-
                counted; a driver walk picks the exact rank values.

The three passes read their source once: the narrow projection
``(keys, __v_i)`` is persisted (``MEMORY_AND_DISK``) before pass 1, which
fills the cache; passes 2 and 3 read it, and it is unpersisted before the
call returns. The answer is a local table, so nothing lazy outlives the
cache.

Every driver-side table — the result, the per-group bounds of pass 2,
the group ids of the fused pass B — is a ``LocalRelation`` built from a
``pyarrow.Table`` typed by the Spark schema (``local_table``), so a call
never starts a Python worker. Per-group bounds and group ids attach to
the rows by a null-safe broadcast hash join against that table, at every
group count.

The final interpolation replicates ``Percentile.getPercentile`` IEEE-op
for IEEE-op: position = (n-1)*p; lower/higher = floor/ceil;
``(higher - position) * lowerKey + (position - lower) * higherKey`` —
results are bit-identical to ``F.percentile`` (pytest-gated across data
shapes, and A/B-verified on sf1.0 lineitem).

Fallbacks (returns None, caller uses ``F.percentile``): NaN or ±inf
values present, more than ``max_groups`` groups, pathological value
piling that keeps a candidate bin over ``collect_cap`` distinct rows.
Binning uses only monotone IEEE ops (subtract, divide by positive,
floor), so bin order always agrees with value order.

r6 fused variant: when CONTAINING bounds are free — parquet footer
statistics of the source columns (``parquet_footer_bounds``) or
caller-supplied ``bounds_per_col`` — pass 1 disappears: the histogram
pass itself discovers the groups, derives counts from bin-count sums,
and detects NaN/±inf/-0.0 via reserved bin ids (out-of-range values
clamp monotonically into edge bins, so bound quality affects only bin
resolution, never the result). 2 scans, 1 for fully discrete columns;
the fused shape is not cached, since a call that resolves in one scan
would pay for a cache it never reads.
"""

from __future__ import annotations

import math
import os

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsv_utils_spark.functions.joins import join_null_safe

_MAX_GROUPS = 1024
_HIST_CELL_BUDGET = 1 << 19  # groups x bins collected from pass 2
_COLLECT_CAP = 1 << 20       # rows collected by pass 3


def min_input_bytes() -> int:
    """Input size from which ``quantile_algo="auto"`` takes selection.

    Selection pays 2-3 eager jobs; below this size the single lazy
    ``F.percentile`` pass is cheaper. Read at every call from
    ``SPARK_TSV_QUANTILE_SELECTION_MIN_BYTES`` (default 64 MB)."""
    return int(os.environ.get("SPARK_TSV_QUANTILE_SELECTION_MIN_BYTES",
                              str(64 << 20)))


def input_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimate of the plan's input size (no job)."""
    try:
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return sz if isinstance(sz, int) else int(str(sz))
    except (Py4JError, AttributeError):  # no JVM plan / not a DataFrame
        return None


def known_size_bytes(df: DataFrame) -> int | None:
    """``input_size_bytes``, or None where Catalyst cannot size the
    input. A leaf it cannot size (the ``LogicalRDD`` of a
    ``createDataFrame(list)``) reports ``spark.sql.defaultSizeInBytes``
    (2^63 - 1 unless set), and each node above scales that number, so
    the leaves are read, not the root. They are read before cache
    substitution, which hides them behind an ``InMemoryRelation`` sized
    by the same scaled number."""
    sz = input_size_bytes(df)
    if sz is None:
        return None
    unknown = df.sparkSession._jsparkSession.sessionState().conf() \
        .defaultSizeInBytes()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        if int(str(leaves.apply(i).stats().sizeInBytes())) == unknown:
            return None
    return sz


def local_table(spark, rows: list, schema: T.StructType) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as a ``LocalRelation``,
    built from a ``pyarrow.Table`` typed by ``schema``: no job and no
    Python worker (``createDataFrame(list)`` plans a Python stage)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema)
    arrays = []
    for field, af, values in zip(schema.fields, arrow_schema, columns):
        if isinstance(field.dataType, T.TimestampType):
            # a collected TIMESTAMP is a naive datetime in the driver's
            # local zone; Spark's own conversion gives its instant
            values = [field.dataType.toInternal(v) for v in values]
            arrays.append(pa.array(values, pa.int64()).cast(af.type))
        else:
            arrays.append(pa.array(list(values), af.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema)


def parquet_footer_bounds(df: DataFrame,
                          cols: list[str]) -> dict | None:
    """Containing [lo, hi] per column from parquet FOOTER statistics —
    a free, driver-side replacement for the selection stats pass (one
    whole scan). Returns {col: (lo, hi)} of finite floats, or None when
    any file/column lacks usable numeric min/max, or a footer cannot be
    opened or parsed.

    Bounds are a PERFORMANCE heuristic only: the fused histogram clamps
    out-of-range values into edge bins and resolves every candidate bin
    by exact value-counts, so loose bounds (files wider than a filtered
    df, a missing-policy replacement value outside the file range) can
    never change a result — only bin resolution efficiency."""
    try:
        files = df.inputFiles()
    except (Py4JError, AttributeError):  # no JVM plan / not a DataFrame
        return None
    if not files or len(files) > 256:
        return None
    paths = []
    for f in files:
        if f.startswith("file:"):
            from urllib.parse import unquote, urlparse

            paths.append(unquote(urlparse(f).path))
        elif f.startswith("/"):
            paths.append(f)
        else:
            return None  # non-local URI: footers not cheaply readable
    import pyarrow as pa
    import pyarrow.parquet as pq

    lo = {c: math.inf for c in cols}
    hi = {c: -math.inf for c in cols}
    try:
        for p in paths:
            md = pq.ParquetFile(p).metadata
            names = {md.schema.column(i).path: i
                     for i in range(md.num_columns)}
            for c in cols:
                i = names.get(c)
                if i is None:
                    return None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    if st is None or not st.has_min_max:
                        return None
                    mn, mx = st.min, st.max
                    if (isinstance(mn, bool)
                            or not isinstance(mn, (int, float))
                            or not isinstance(mx, (int, float))):
                        return None
                    lo[c] = min(lo[c], float(mn))
                    hi[c] = max(hi[c], float(mx))
    # a file gone since the listing (OSError), or one that is not parquet
    # or whose statistics pyarrow cannot decode (ArrowException)
    except (pa.ArrowException, OSError):
        return None
    out = {}
    for c in cols:
        if not (math.isfinite(lo[c]) and math.isfinite(hi[c])):
            return None  # empty files, or ±inf in the data
        out[c] = (lo[c], hi[c])
    return out


def _is_result_size_abort(e: Py4JJavaError) -> bool:
    """True for the job abort Spark raises when a collect's serialized
    results pass ``spark.driver.maxResultSize``. That abort is a plain
    ``SparkException`` with no error class (Spark 4.1's
    ``error-conditions.json`` has none for it), so its message is the
    only thing that tells it from other job failures."""
    from py4j.java_gateway import is_instance_of
    from pyspark import SparkContext

    je = e.java_exception
    return (is_instance_of(SparkContext._gateway, je,
                           "org.apache.spark.SparkException")
            and "spark.driver.maxResultSize" in str(je.getMessage()))


def _collect_within_result_size(df: DataFrame) -> list | None:
    """``df.collect()``, or None when Spark aborts it at
    ``spark.driver.maxResultSize``."""
    try:
        return df.collect()
    except Py4JJavaError as e:
        if _is_result_size_abort(e):
            return None
        raise


def selection_quantiles(df: DataFrame,
                        group_by: list[str],
                        value_cols: list,
                        probs_per_col: list[list[float]],
                        out_names_per_col: list[list[str]],
                        bins: int | None = None,
                        source_cols: list[str] | None = None,
                        bounds_per_col: list | None = None) -> DataFrame | None:
    """Exact quantiles of ``value_cols`` (Column expressions, already
    double-cast) per group. Returns a local DataFrame
    (group_by..., out_names...) or None when a fallback condition is hit.

    Runs eagerly — callers gate on ``input_size_bytes``. With containing
    bounds available (``bounds_per_col`` explicitly, or parquet footer
    statistics of ``source_cols`` — see ``parquet_footer_bounds``), the
    stats pass is FUSED into the histogram pass (2 scans, 1 for fully
    discrete data) — group counts come from bin-count sums, group
    discovery from the histogram keys, and NaN/±inf/-0.0 detection from
    reserved bin ids; otherwise the classic 3-pass shape runs over a
    cached projection of the input (one scan).
    """
    keys = list(group_by)
    k = len(value_cols)
    vnames = [f"__v_{i}" for i in range(k)]
    schema = T.StructType(
        [df.schema[kk] for kk in keys]
        + [T.StructField(nm, T.DoubleType())
           for col_names in out_names_per_col for nm in col_names])

    bounds = None
    if bounds_per_col is not None:
        bounds = [(float(lo), float(hi)) for lo, hi in bounds_per_col]
        if len(bounds) != k or not all(
                math.isfinite(lo) and math.isfinite(hi) and lo <= hi
                for lo, hi in bounds):
            bounds = None
    elif source_cols is not None and len(source_cols) == k:
        fb = parquet_footer_bounds(df, list(dict.fromkeys(source_cols)))
        if fb is not None:
            bounds = [fb[c] for c in source_cols]

    base = df.select(*keys, *[c.alias(n) for c, n in zip(value_cols, vnames)])
    if bounds is not None:
        res, verdict = _selection_fused(
            base, keys, vnames, probs_per_col, schema, bounds, bins or 8192)
        if verdict == "done":
            return res
        # verdict == 'retry': budgets blown under the shared global
        # bounds — per-group bounds of the 3-pass shape may still fit

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _selection_three_pass(base, keys, vnames, probs_per_col,
                                     schema, bins)
    finally:
        base.unpersist()


def _selection_three_pass(base: DataFrame, keys: list[str],
                          vnames: list[str],
                          probs_per_col: list[list[float]],
                          schema: T.StructType,
                          bins: int | None) -> DataFrame | None:
    """stats, histogram and resolve passes over the (cached) projection
    ``base`` = (keys..., vnames...)."""
    spark = base.sparkSession
    k = len(vnames)

    # ---- pass 1: stats (fills the cache) -------------------------------
    aggs = []
    for n in vnames:
        v = F.col(n)
        aggs += [F.count(v).alias(f"n_{n}"),
                 F.min(v).alias(f"lo_{n}"),
                 F.max(v).alias(f"hi_{n}"),
                 # -0.0 (cast to string = '-0.0'): Percentile's value map
                 # keeps -0.0 and 0.0 as distinct keys while groupBy
                 # normalizes them — bail out to stay bit-identical.
                 # (string-cast, not 1/v: ANSI mode raises on /0.0)
                 F.max((F.isnan(v) |
                        ((v == 0.0) & (v.cast("string") == "-0.0")))
                       .cast("int")).alias(f"nan_{n}")]
    stats = (base.groupBy(*keys).agg(*aggs) if keys
             else base.agg(*aggs)).collect()
    if len(stats) > _MAX_GROUPS:
        return None
    if not stats:
        # grouped: no groups -> empty result. Global: one all-null row
        # (what a global aggregate over an empty input returns).
        rows = [] if keys else [tuple([None] * len(schema))]
        return local_table(spark, rows, schema)

    # per (group, col): target ranks and bounds
    work: dict = {}
    for r in stats:
        g = tuple(r[kk] for kk in keys)
        cells = []
        for i, n in enumerate(vnames):
            cnt = r[f"n_{n}"]
            if cnt and r[f"nan_{n}"]:
                return None
            lo, hi = r[f"lo_{n}"], r[f"hi_{n}"]
            if cnt and (math.isinf(lo) or math.isinf(hi)):
                return None
            ranks: dict[int, float | None] = {}
            if cnt:
                for p in probs_per_col[i]:
                    pos = float(cnt - 1) * p
                    ranks[int(math.floor(pos))] = None
                    ranks[int(math.ceil(pos))] = None
            cells.append({"n": cnt, "lo": lo, "hi": hi, "ranks": ranks})
        work[g] = cells
    if bins is None:
        bins = max(64, min(8192, _HIST_CELL_BUDGET // max(1, len(work))))

    # ---- pass 2: histogram -------------------------------------------
    # (group, col, bin) is PACKED into one int64 — codegen hash
    # aggregation over a long key instead of (string key, int, int)
    # tuples (measured 2.4x on the histogram pass). Group ids and bounds
    # attach from a local table by a broadcast hash join over the cached
    # rows: cheaper than inlining per-group literals into the plan,
    # whose driver-side build grows with the group count. Bin ids come
    # from monotone arithmetic only (subtract, divide-by-positive,
    # floor), so bin order always agrees with value order.
    groups = list(work)
    gidx = {g: i for i, g in enumerate(groups)}
    bschema = T.StructType(
        list(schema.fields[:len(keys)])
        + [T.StructField("__gid", T.IntegerType())]
        + [T.StructField(f"__lo_{i}", T.DoubleType()) for i in range(k)]
        + [T.StructField(f"__hi_{i}", T.DoubleType()) for i in range(k)])
    bdf = local_table(spark, [g + (gidx[g],)
                              + tuple(work[g][ci]["lo"] for ci in range(k))
                              + tuple(work[g][ci]["hi"] for ci in range(k))
                              for g in groups], bschema)
    attach = join_null_safe(base, bdf, keys, broadcast_right=True)

    def packed_key(i):
        v = F.col(vnames[i])
        lo, hi = F.col(f"__lo_{i}"), F.col(f"__hi_{i}")
        w = (hi - lo) / F.lit(float(bins))
        b = F.when(v.isNull(), F.lit(None)).otherwise(
            F.when(hi == lo, F.lit(0)).otherwise(
                F.least(F.lit(bins - 1), F.floor((v - lo) / w))))
        return ((F.col("__gid").cast("long") * k + i) * bins + b).cast("long")

    def _unpack(kv):
        b = kv % bins
        t = kv // bins
        return groups[t // k], t % k, b  # (group, ci, bin)

    if k == 1:
        melted = attach.select(packed_key(0).alias("__k"),
                               F.col(vnames[0]).alias("__v")) \
            .where(F.col("__k").isNotNull())
    else:
        cells_col = F.array(*[
            F.struct(packed_key(i).alias("pk"),
                     F.col(vnames[i]).alias("v")) for i in range(k)])
        melted = attach.select(F.explode(cells_col).alias("c")) \
            .select(F.col("c.pk").alias("__k"), F.col("c.v").alias("__v")) \
            .where(F.col("__k").isNotNull())
    hist = (melted.groupBy("__k")
            .agg(F.count(F.lit(1)).alias("__c"),
                 F.min("__v").alias("__bmin"),
                 F.max("__v").alias("__bmax"))
            .collect())
    per_cell: dict = {}
    for r in hist:
        g, ci, b = _unpack(r["__k"])
        per_cell.setdefault((g, ci), []).append(
            (b, r["__c"], r["__bmin"], r["__bmax"]))

    # walk histograms: resolve single-value bins now, mark the rest
    needed = []  # (g, ci, bin, base_rank)
    need_rows = 0
    for (g, ci), rows in per_cell.items():
        rows.sort()
        cell = work[g][ci]
        ranks = cell["ranks"]
        cum = 0
        for b, c, bmin, bmax in rows:
            hit = [rk for rk in ranks if cum <= rk < cum + c]
            if hit:
                if bmin == bmax:
                    for rk in hit:
                        ranks[rk] = bmin
                else:
                    needed.append((g, ci, b, cum))
                    need_rows += c
            cum += c
    if need_rows > _COLLECT_CAP:
        return None

    # ---- pass 3: resolve multi-value candidate bins -------------------
    # candidate bins are a literal isin() over the packed keys (a tiny
    # set — at most 2 ranks per prob per (group, col)); value-count only
    # those rows and walk them in order.
    if needed:
        needed_keys = [int((gidx[g] * k + ci) * bins + b)
                       for g, ci, b, _ in needed]
        vals = (melted.where(F.col("__k").isin(needed_keys))
                .groupBy("__k", "__v")
                .agg(F.count(F.lit(1)).alias("__c")).collect())
        by_bin: dict = {}
        for r in vals:
            g, ci, b = _unpack(r["__k"])
            by_bin.setdefault((g, ci, b), []).append((r["__v"], r["__c"]))
        for g, ci, b, base_rank in needed:
            pairs = by_bin.get((g, ci, b), [])
            pairs.sort()
            ranks = work[g][ci]["ranks"]
            cum = base_rank
            for vv, c in pairs:
                for rk in ranks:
                    if ranks[rk] is None and cum <= rk < cum + c:
                        ranks[rk] = vv
                cum += c

    return local_table(spark, _interp_rows(work, probs_per_col), schema)


def _interp_rows(work: dict, probs_per_col: list[list[float]]) -> list:
    """Exact interpolation (replicates Percentile.getPercentile IEEE-op
    for IEEE-op) over resolved rank values."""
    out_rows = []
    for g, cells in work.items():
        row = list(g)
        for i, cell in enumerate(cells):
            n, ranks = cell["n"], cell["ranks"]
            for p in probs_per_col[i]:
                if n == 0:
                    row.append(None)
                    continue
                position = float(n - 1) * p
                lower = int(math.floor(position))
                higher = int(math.ceil(position))
                lk = ranks[lower]
                if higher == lower:
                    row.append(lk)
                    continue
                hk = ranks[higher]
                if hk == lk:
                    row.append(lk)
                else:
                    row.append((float(higher) - position) * lk
                               + (position - float(lower)) * hk)
        out_rows.append(tuple(row))
    return out_rows


def _selection_fused(base: DataFrame, keys: list[str], vnames: list[str],
                     probs_per_col: list[list[float]],
                     schema: T.StructType, bounds: list,
                     bins: int) -> tuple:
    """2-pass selection with externally supplied CONTAINING bounds
    (parquet footers or caller-derived): one histogram pass (group
    discovery + counts + NaN/±inf/-0.0 detection via reserved bin ids),
    one value-count resolve pass over candidate bins — fully discrete
    data skips the second pass. Out-of-range values clamp into edge
    bins (monotone), so bound quality affects only efficiency, never
    results. Returns (DataFrame_or_None, 'done'), or (None, 'retry')
    when a budget blew up and the 3-pass per-group-bounds shape should
    be tried instead."""
    spark = base.sparkSession
    k = len(vnames)
    span = bins + 2
    bad_b, null_b = bins, bins + 1
    inf = float("inf")

    def cell_expr(i):
        v = F.col(vnames[i])
        lo_v, hi_v = bounds[i]
        if hi_v > lo_v:
            w = (hi_v - lo_v) / float(bins)
            b = F.greatest(F.lit(0).cast("long"),
                           F.least(F.lit(bins - 1).cast("long"),
                                   F.floor((v - F.lit(lo_v)) / F.lit(w))))
        else:
            b = F.lit(0).cast("long")
        bad = (F.isnan(v) | (v == F.lit(inf)) | (v == F.lit(-inf))
               # when() guards the per-row string cast behind the ==0
               # branch (codegen evaluates branches conditionally)
               | F.when(v == 0.0, v.cast("string") == F.lit("-0.0"))
                  .otherwise(F.lit(False)))
        return (F.when(v.isNull(), F.lit(i * span + null_b))
                 .when(bad, F.lit(i * span + bad_b))
                 .otherwise(F.lit(i * span) + b)).cast("int")

    if k == 1:
        melted = base.select(*keys, cell_expr(0).alias("__cb"),
                             F.col(vnames[0]).alias("__v"))
    else:
        arr = F.array(*[F.struct(cell_expr(i).alias("cb"),
                                 F.col(vnames[i]).alias("v"))
                        for i in range(k)])
        melted = base.select(*keys, F.explode(arr).alias("c")) \
            .select(*keys, F.col("c.cb").alias("__cb"),
                    F.col("c.v").alias("__v"))

    # ---- pass A: histogram + presence + fallback flags ---------------
    # Plain collect(): a LIMIT guard here measured +0.5 s flat (the
    # CollectLimit machinery), eating the fused win. Pathological group
    # cardinality is instead caught by Spark's own
    # spark.driver.maxResultSize accounting, which aborts the collect
    # JVM-side (catchable) long before the driver process is at risk —
    # we translate exactly that abort into the 3-pass retry (which
    # bails at _MAX_GROUPS after its cheap one-row-per-group stats
    # pass).
    hist = _collect_within_result_size(
        melted.groupBy(*keys, "__cb")
        .agg(F.count(F.lit(1)).alias("__c"),
             F.min("__v").alias("__bmin"),
             F.max("__v").alias("__bmax")))
    if hist is None:
        return None, "retry"
    per_group: dict = {}
    for r in hist:
        g = tuple(r[kk] for kk in keys)
        cells = per_group.setdefault(g, [[] for _ in range(k)])
        ci, b = divmod(r["__cb"], span)
        cells[ci].append((b, r["__c"], r["__bmin"], r["__bmax"]))
    if len(per_group) > _MAX_GROUPS:
        return None, "done"  # same bail as the 3-pass shape
    if not per_group:
        rows = [] if keys else [tuple([None] * len(schema))]
        return local_table(spark, rows, schema), "done"

    work: dict = {}
    needed = []  # (g, ci, bin, base_rank)
    need_rows = 0
    for g, col_cells in per_group.items():
        cells_out = []
        for ci in range(k):
            rows_ = sorted(col_cells[ci])
            if any(b == bad_b for b, _c, _mn, _mx in rows_):
                return None, "done"  # NaN/±inf/-0.0 -> F.percentile
            normal = [t for t in rows_ if t[0] < bins]
            cnt = int(sum(c for _b, c, _mn, _mx in normal))
            ranks: dict[int, float | None] = {}
            if cnt:
                for p in probs_per_col[ci]:
                    pos = float(cnt - 1) * p
                    ranks[int(math.floor(pos))] = None
                    ranks[int(math.ceil(pos))] = None
            cum = 0
            for b, c, bmin, bmax in normal:
                hit = [rk for rk in ranks if cum <= rk < cum + c]
                if hit:
                    if bmin == bmax:
                        for rk in hit:
                            ranks[rk] = bmin
                    else:
                        needed.append((g, ci, b, cum))
                        need_rows += c
                cum += c
            cells_out.append({"n": cnt, "ranks": ranks})
        work[g] = cells_out
    if need_rows > _COLLECT_CAP:
        return None, "retry"

    # ---- pass B: resolve multi-value candidate bins -------------------
    if needed:
        groups = list(work)
        gidx = {g: i for i, g in enumerate(groups)}
        cand = [int(gidx[g]) * (k * span) + ci * span + b
                for g, ci, b, _ in needed]
        gschema = T.StructType(
            list(schema.fields[:len(keys)])
            + [T.StructField("__gid", T.IntegerType())])
        gdf = local_table(spark, [g + (i,) for i, g in enumerate(groups)],
                          gschema)
        packed = (F.col("__gid").cast("long") * (k * span)
                  + F.col("__cb")).alias("__pk")
        vals = (join_null_safe(melted, gdf, keys, broadcast_right=True)
                .select(packed, "__v")
                .where(F.col("__pk").isin(cand))
                .groupBy("__pk", "__v")
                .agg(F.count(F.lit(1)).alias("__c")).collect())
        by_bin: dict = {}
        for r in vals:
            g_i, rem = divmod(r["__pk"], k * span)
            ci, b = divmod(rem, span)
            by_bin.setdefault((groups[g_i], ci, b), []).append(
                (r["__v"], r["__c"]))
        for g, ci, b, base_rank in needed:
            pairs = by_bin.get((g, ci, b), [])
            pairs.sort()
            ranks = work[g][ci]["ranks"]
            cum = base_rank
            for vv, c in pairs:
                for rk in ranks:
                    if ranks[rk] is None and cum <= rk < cum + c:
                        ranks[rk] = vv
                cum += c

    return local_table(spark, _interp_rows(work, probs_per_col),
                       schema), "done"
