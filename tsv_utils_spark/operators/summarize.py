"""summarize — the exact aggregation kernel with tsv-summarize semantics.

Reference: tsv-summarize/src/tsv_utils/tsv-summarize.d (operator registry
:240-261, Operator/Calculator interfaces :1973-1990, operators :2837-4300).

Spark-first design: every operator is a Catalyst aggregate expression; one
``groupBy(keys).agg(...)`` covers all single-pass operators so Catalyst
plans ONE shuffle with map-side partial aggregation (the distributed
generalization of the reference's single streaming pass). Operators that
the reference computes from a shared sorted value list (``--mad``) or a
value-count map (``--mode``/``--mode-count``) become a second aggregation
joined back on the group keys — still shuffle-on-key, no driver loops.

Semantic fidelity notes (each mirrors a cited reference behavior):
- count/sum/mean/var(sample)/stdev(sample)  — direct Catalyst aggregates
  (Welford/central-moment formulation matches :3660-3702).
- median/quantile — exact ``F.percentile`` (R-7 linear interpolation, the
  reference default, numerics.d:632).
- min/max — numeric ordering but can return the ORIGINAL STRING of the
  extreme value (:3074-3078) via ``min_by/max_by(col, cast(col))``.
- unique_count — exact ``countDistinct`` (:3800).
- missing_count/not_missing_count — empty-string/null tests that IGNORE
  the global missing policy (:3863-3870).
- mode/mode_count — most frequent value (:4016); the reference breaks ties
  by first-seen input order. Distributed data has no input order, so the
  deterministic tie-break is (max count, min order_col) when an
  ``order_col`` is given, else (max count, min value).
- first/last/retain — require an explicit ``order_col`` (the distributed
  stand-in for input order): ``min_by/max_by(col, order_col)``.
- values/unique_values — delimiter-joined value lists (:4187, :4250);
  ordered by ``order_col`` when given, else by value (canonical order).
- range — max-min over numeric cast (:3233).
- mad — raw median absolute deviation, no 1.4826 scaling (:3593).

Missing policy: ``MissingPolicy`` (functions/missing.py) is applied to
every operator input except the *_missing_count family, matching
tsv-summarize.d:1994-2036.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsv_utils_spark.functions.joins import join_null_safe
from tsv_utils_spark.functions.missing import MissingPolicy


@dataclass(frozen=True)
class Op:
    """One summarize operator: op name + source column + params."""

    kind: str
    col: str | None = None
    params: dict = field(default_factory=dict)
    header: str | None = None  # custom output name (--op field:header)

    # -- constructors (mirror the CLI operator list) ---------------------
    @classmethod
    def count(cls, header: str = "count"):
        return cls("count", None, {}, header)

    @classmethod
    def sum(cls, col, header=None):
        return cls("sum", col, {}, header)

    @classmethod
    def mean(cls, col, header=None):
        return cls("mean", col, {}, header)

    @classmethod
    def median(cls, col, header=None):
        return cls("median", col, {}, header)

    @classmethod
    def quantile(cls, col, probs, header=None):
        return cls("quantile", col, {"probs": tuple(probs)}, header)

    @classmethod
    def min(cls, col, original_string=False, header=None):
        return cls("min", col, {"original_string": original_string}, header)

    @classmethod
    def max(cls, col, original_string=False, header=None):
        return cls("max", col, {"original_string": original_string}, header)

    @classmethod
    def range(cls, col, header=None):
        return cls("range", col, {}, header)

    @classmethod
    def var(cls, col, header=None):
        return cls("var", col, {}, header)

    @classmethod
    def stdev(cls, col, header=None):
        return cls("stdev", col, {}, header)

    @classmethod
    def unique_count(cls, col, header=None):
        return cls("unique_count", col, {}, header)

    @classmethod
    def missing_count(cls, col, header=None):
        return cls("missing_count", col, {}, header)

    @classmethod
    def not_missing_count(cls, col, header=None):
        return cls("not_missing_count", col, {}, header)

    @classmethod
    def first(cls, col, header=None):
        return cls("first", col, {}, header)

    @classmethod
    def last(cls, col, header=None):
        return cls("last", col, {}, header)

    @classmethod
    def retain(cls, col, header=None):
        # retain = first value, output header keeps the field name
        return cls("first", col, {}, header or col)

    @classmethod
    def values(cls, col, delimiter="|", header=None):
        return cls("values", col, {"delimiter": delimiter}, header)

    @classmethod
    def unique_values(cls, col, delimiter="|", header=None):
        return cls("unique_values", col, {"delimiter": delimiter}, header)

    @classmethod
    def mode(cls, col, header=None):
        return cls("mode", col, {}, header)

    @classmethod
    def mode_count(cls, col, header=None):
        return cls("mode_count", col, {}, header)

    @classmethod
    def mad(cls, col, header=None):
        return cls("mad", col, {}, header)

    # -- output naming: <field>_<op> like tsv-summarize.d:697-700 --------
    def out_name(self) -> str:
        if self.header:
            return self.header
        if self.col is None:
            return self.kind
        return f"{self.col}_{self.kind}"


_SIMPLE = {"count", "sum", "mean", "median", "quantile", "min", "max", "range",
           "var", "stdev", "unique_count", "missing_count", "not_missing_count",
           "first", "last", "values", "unique_values"}
_MODE = {"mode", "mode_count"}
_MAD = {"mad"}


_NUMERIC_KINDS = {"sum", "mean", "median", "quantile", "range", "var",
                  "stdev", "mad"}


def summarize(df: DataFrame,
              group_by: list[str] | None,
              ops: list[Op],
              missing: MissingPolicy = MissingPolicy(),
              order_col: str | None = None,
              strict_numeric: bool = False,
              quantile_algo: str = "auto") -> DataFrame:
    """Grouped (or whole-table) aggregation with tsv-summarize semantics.

    ``group_by=None/[]`` = whole-table summary (NoKeySummarizer,
    tsv-summarize.d:842). ``order_col`` supplies the total order standing
    in for the reference's input order (first/last/mode-tiebreak/values).
    When omitted and the input is a fresh file scan, a (file, offset)
    ``row_id`` is derived automatically (functions.rowid) so
    first/last/values reproduce the reference's input order
    (tsv-summarize.d:4187) with no shuffle; for non-file inputs,
    first/last raise and values fall back to canonical value order.
    ``strict_numeric=True`` restores the reference's abort-on-non-numeric
    behavior (tsv-summarize.d:649-659) — default is Spark's lazy
    cast-to-null.

    ``quantile_algo``: 'auto' (default) routes median/quantile ops of
    LARGE inputs through the distributed-selection engine
    (plans/quantiles.py — 3 narrow aggregation passes, bit-identical to
    ``F.percentile``, no per-group value maps); small inputs stay on the
    lazy single-pass ``F.percentile``. 'percentile' / 'selection' force a
    path (selection still falls back on NaN/±inf/group explosion).
    """
    group_by = list(group_by or [])
    if order_col is None and any(op.kind in ("first", "last", "values")
                                 for op in ops):
        from tsv_utils_spark.functions.rowid import (
            AUTO_ROW_ID_COL,
            try_input_row_id,
        )

        derived = try_input_row_id(df, AUTO_ROW_ID_COL)
        if derived is not None:
            df, order_col = derived, AUTO_ROW_ID_COL
    if strict_numeric:
        from tsv_utils_spark.operators.filter import assert_numeric

        num_cols = sorted({op.col for op in ops
                           if op.kind in _NUMERIC_KINDS and op.col})
        if num_cols:
            assert_numeric(df, num_cols)
    simple = [op for op in ops if op.kind in _SIMPLE]
    mode_ops = [op for op in ops if op.kind in _MODE]
    mad_ops = [op for op in ops if op.kind in _MAD]
    unknown = [op for op in ops if op.kind not in _SIMPLE | _MODE | _MAD]
    if unknown:
        raise ValueError(f"unknown ops: {[op.kind for op in unknown]}")

    results: list[DataFrame] = []
    if simple:
        # Fuse all median/quantile ops on the same column into ONE
        # percentile(col, array(probs)) aggregate — Spark's exact
        # percentile buffers the column once per call, so k quantile ops
        # unfused cost k buffers/sorts (the shared-value-list optimization
        # of tsv-summarize.d:2038-2105, Spark edition).
        pct_ops = [op for op in simple if op.kind in ("median", "quantile")]
        rest = [op for op in simple if op.kind not in ("median", "quantile")]
        by_col: dict[str, list[Op]] = {}
        for op in pct_ops:
            by_col.setdefault(op.col, []).append(op)
        col_probs: dict[str, list[float]] = {}
        for col_name, col_ops in by_col.items():
            probs: list[float] = []
            for op in col_ops:
                probs.extend([0.5] if op.kind == "median"
                             else list(op.params["probs"]))
            col_probs[col_name] = sorted(set(probs))
        sel_df = _try_selection_quantiles(df, group_by, by_col, col_probs,
                                          missing, quantile_algo) \
            if pct_ops else None
        aggs: list[Column] = []
        post_select: list[tuple[str, Column]] = []  # (alias, expr over agg out)
        if sel_df is None:
            for col_name, col_ops in by_col.items():
                uniq_probs = col_probs[col_name]
                num = missing.apply(F.col(col_name)).try_cast("double")
                tmp = f"__pct_{col_name}"
                aggs.append(F.percentile(
                    num, F.array(*[F.lit(p) for p in uniq_probs])).alias(tmp))
                pos = {p: i for i, p in enumerate(uniq_probs)}
                for op in col_ops:
                    op_probs = [0.5] if op.kind == "median" \
                        else list(op.params["probs"])
                    for p, name in zip(op_probs, _out_names(op)):
                        post_select.append((name, F.col(tmp).getItem(pos[p])))
        for op in rest:
            aggs.extend(_simple_agg(op, missing, order_col))
        if aggs:
            agged = _agg(df, group_by, aggs)
            if post_select:
                keep = [c for c in agged.columns
                        if not c.startswith("__pct_")]
                agged = agged.select(
                    *keep, *[e.alias(n) for n, e in post_select])
            results.append(agged)
        if sel_df is not None:
            results.append(sel_df)
    for op in mode_ops:
        results.append(_mode_agg(df, group_by, op, missing, order_col))
    if mad_ops:
        results.append(_mad_agg(df, group_by, mad_ops, missing,
                                quantile_algo))

    out = results[0]
    for r in results[1:]:
        # null-safe: NULL group keys are real groups (groupBy keeps them)
        out = join_null_safe(out, r, group_by)
    # restore requested op order
    names = group_by + [n for op in ops for n in _out_names(op)]
    return out.select(*names)


def _out_names(op: Op) -> list[str]:
    if op.kind == "quantile" and len(op.params["probs"]) > 1:
        base = op.header or f"{op.col}_pct"
        return [f"{base}{_pct_suffix(p)}" for p in op.params["probs"]]
    return [op.out_name()]


def _pct_suffix(p: float) -> str:
    s = f"{p:g}".replace(".", "_")
    return f"_{s}"


def _agg(df: DataFrame, group_by: list[str], aggs: list[Column]) -> DataFrame:
    return df.groupBy(*group_by).agg(*aggs) if group_by else df.agg(*aggs)


def _num(col: str) -> Column:
    return F.col(col).try_cast("double")


def _simple_agg(op: Op, missing: MissingPolicy, order_col: str | None) -> list[Column]:
    c = op.col
    name = op.out_name()
    src = missing.apply(F.col(c)) if c is not None else None
    num = missing.apply(F.col(c)).try_cast("double") if c is not None else None

    if op.kind == "count":
        return [F.count(F.lit(1)).alias(name)]
    if op.kind == "sum":
        return [F.sum(num).alias(name)]
    if op.kind == "mean":
        return [F.avg(num).alias(name)]
    if op.kind == "median":
        return [F.percentile(num, F.lit(0.5)).alias(name)]
    if op.kind == "quantile":
        probs = op.params["probs"]
        if len(probs) == 1:
            return [F.percentile(num, F.lit(probs[0])).alias(name)]
        base = op.header or f"{c}_pct"
        return [F.percentile(num, F.lit(p)).alias(f"{base}{_pct_suffix(p)}")
                for p in probs]
    if op.kind in ("min", "max"):
        fn = F.min_by if op.kind == "min" else F.max_by
        plain = F.min if op.kind == "min" else F.max
        if op.params.get("original_string"):
            # numeric ordering, original string out (tsv-summarize.d:3126)
            return [fn(src.cast("string"), num).alias(name)]
        return [plain(num).alias(name)]
    if op.kind == "range":
        return [(F.max(num) - F.min(num)).alias(name)]
    if op.kind == "var":
        return [F.var_samp(num).alias(name)]
    if op.kind == "stdev":
        return [F.stddev_samp(num).alias(name)]
    if op.kind == "unique_count":
        return [F.countDistinct(src).alias(name)]
    if op.kind == "missing_count":
        # ignores the missing policy by design (tsv-summarize.d:3863-3870)
        return [F.sum(MissingPolicy.is_missing(F.col(c)).cast("long")).alias(name)]
    if op.kind == "not_missing_count":
        return [F.sum((~MissingPolicy.is_missing(F.col(c))).cast("long")).alias(name)]
    if op.kind in ("first", "last"):
        if order_col is None:
            raise ValueError(f"op {op.kind!r} needs order_col (the distributed "
                             "stand-in for input order)")
        fn = F.min_by if op.kind == "first" else F.max_by
        return [fn(src, F.col(order_col)).alias(name)]
    if op.kind == "values":
        delim = op.params["delimiter"]
        if order_col:
            arr = F.array_agg(F.struct(F.col(order_col).alias("o"), src.alias("v")))
            ordered = F.transform(F.array_sort(arr), lambda s: s["v"])
        else:
            ordered = F.array_sort(F.array_agg(src))
        return [F.array_join(ordered, delim).alias(name)]
    if op.kind == "unique_values":
        delim = op.params["delimiter"]
        if order_col:
            # reference first-seen order (tsv-summarize.d:4250): sort the
            # (order, value) pairs by order, project values, then
            # array_distinct keeps each value's FIRST occurrence
            arr = F.array_agg(F.struct(F.col(order_col).alias("o"),
                                       src.alias("v")))
            firsts = F.array_distinct(
                F.transform(F.array_sort(arr), lambda s: s["v"]))
            return [F.array_join(firsts, delim).alias(name)]
        return [F.array_join(F.array_sort(F.collect_set(src)), delim).alias(name)]
    raise AssertionError(op.kind)


def _mad_selection(df: DataFrame, group_by: list[str], ops: list[Op],
                   missing: MissingPolicy,
                   algo: str) -> DataFrame | None:
    """Selection-engine MAD: exact medians, then exact medians of the
    absolute deviations, with the per-group medians attached from the
    local medians table by a broadcast join. Returns None to keep the
    percentile path (small input, NaN/inf data, too many groups)."""
    from tsv_utils_spark.plans.quantiles import (
        input_size_bytes,
        min_input_bytes,
        parquet_footer_bounds,
        selection_quantiles,
    )

    if algo == "auto":
        sz = input_size_bytes(df)
        if sz is None or sz < min_input_bytes():
            return None
    vals = [missing.apply(F.col(op.col)).try_cast("double") for op in ops]
    src = [op.col for op in ops]
    meds = selection_quantiles(df, group_by, vals,
                               [[0.5]] * len(ops),
                               [[f"__m_{i}"] for i in range(len(ops))],
                               source_cols=src)
    if meds is None:
        return None
    joined = join_null_safe(df, meds, group_by, broadcast_right=True)
    dev_cols = [F.abs(vals[i] - F.col(f"__m_{i}")) for i in range(len(ops))]
    # containing bounds for |v - med|: [0, file_hi - file_lo] from the
    # raw columns' footer stats (bounds need not be tight — the fused
    # pass clamps; see parquet_footer_bounds) — keeps the dev round on
    # the 2-pass shape too. Unavailable footers -> 3-pass as before.
    fb = parquet_footer_bounds(df, list(dict.fromkeys(src)))
    dev_bounds = None
    if fb is not None:
        dev_bounds = [(0.0, max(0.0, fb[op.col][1] - fb[op.col][0]))
                      for op in ops]
    return selection_quantiles(joined, group_by, dev_cols,
                               [[0.5]] * len(ops),
                               [[op.out_name()] for op in ops],
                               bounds_per_col=dev_bounds)


def _try_selection_quantiles(df: DataFrame, group_by: list[str],
                             by_col: dict, col_probs: dict,
                             missing: MissingPolicy,
                             algo: str) -> DataFrame | None:
    """Route median/quantile ops through plans/quantiles.py when the
    input is large enough to amortize its three narrow passes; returns
    None to keep the lazy F.percentile path (small input, NaN/±inf data,
    group explosion — the two paths are bit-identical either way)."""
    if algo == "percentile":
        return None
    if algo not in ("auto", "selection"):
        raise ValueError(f"bad quantile_algo {algo!r}")
    from tsv_utils_spark.plans.quantiles import (
        input_size_bytes,
        min_input_bytes,
        selection_quantiles,
    )

    if algo == "auto":
        sz = input_size_bytes(df)
        if sz is None or sz < min_input_bytes():
            return None
    cols = list(by_col)
    value_cols = [missing.apply(F.col(c)).try_cast("double") for c in cols]
    probs_per_col = [col_probs[c] for c in cols]
    tmp_names = [[f"__q_{i}_{j}" for j in range(len(col_probs[c]))]
                 for i, c in enumerate(cols)]
    sel = selection_quantiles(df, group_by, value_cols, probs_per_col,
                              tmp_names, source_cols=cols)
    if sel is None:
        return None
    exprs = []
    for i, c in enumerate(cols):
        pos = {p: j for j, p in enumerate(col_probs[c])}
        for op in by_col[c]:
            op_probs = [0.5] if op.kind == "median" \
                else list(op.params["probs"])
            for p, name in zip(op_probs, _out_names(op)):
                exprs.append(F.col(f"__q_{i}_{pos[p]}").alias(name))
    return sel.select(*group_by, *exprs)


def _mode_agg(df: DataFrame, group_by: list[str], op: Op,
              missing: MissingPolicy, order_col: str | None) -> DataFrame:
    """mode / mode_count via a value-count sub-aggregation.

    Two shuffles on (keys, value) then (keys) — both with map-side partial
    aggregation; the value-count relation is tiny relative to the input.
    Tie-break: max count, then min(order_col of first occurrence) when
    order_col given (reference first-seen rule, tsv-summarize.d:4059-4077),
    else min value (deterministic canonical rule).
    """
    c, name = op.col, op.out_name()
    val = missing.apply(F.col(c)).alias("__val")
    counts_agg = [F.count(F.lit(1)).alias("__cnt")]
    if order_col:
        counts_agg.append(F.min(order_col).alias("__first_seen"))
    counts = df.select(*group_by, val, *( [order_col] if order_col else [] )) \
               .groupBy(*group_by, "__val").agg(*counts_agg)
    if order_col:
        pick = F.struct(F.col("__cnt"), (-F.col("__first_seen")).alias("__neg"),
                        F.col("__val"))
    else:
        # max over (cnt, reversed-value): to get min value on count ties we
        # use max_by with a struct ordering of (cnt asc) then pick via two-step
        pick = None
    if op.kind == "mode_count":
        out = counts.groupBy(*group_by).agg(F.max("__cnt").alias(name)) \
            if group_by else counts.agg(F.max("__cnt").alias(name))
        return out
    if order_col:
        expr = F.max_by(F.col("__val"), pick).alias(name)
        return counts.groupBy(*group_by).agg(expr) if group_by else counts.agg(expr)
    # no order column: mode = value with max count, ties -> min value.
    # max_by can't express "min on tie" directly over arbitrary types, so
    # aggregate with min_by over a rank: rank = (-cnt, value) minimized.
    expr = F.min_by(F.col("__val"), F.struct((-F.col("__cnt")).alias("nc"),
                                             F.col("__val"))).alias(name)
    return counts.groupBy(*group_by).agg(expr) if group_by else counts.agg(expr)


def _mad_agg(df: DataFrame, group_by: list[str], ops: list[Op],
             missing: MissingPolicy,
             quantile_algo: str = "auto") -> DataFrame:
    """Raw MAD (tsv-summarize.d:3593): median(|x - median(x)|), two passes.

    Pass 1 computes per-group medians (one shuffle), broadcast-joined back
    (the medians relation has one row per group), pass 2 aggregates the
    absolute deviations — the distributed form of the reference's shared
    sorted-value-list computation.

    Large inputs route BOTH medians through the distributed-selection
    engine (bit-identical to F.percentile — same gate and fallbacks as
    the quantile ops): the per-group medians come back as a local table
    and attach by a broadcast join, so neither pass buffers a value map.
    """
    if quantile_algo != "percentile":
        sel = _mad_selection(df, group_by, ops, missing, quantile_algo)
        if sel is not None:
            return sel
    meds_aggs = [F.percentile(missing.apply(F.col(op.col)).try_cast("double"),
                              F.lit(0.5)).alias(f"__med_{op.col}")
                 for op in ops]
    meds = _agg(df, group_by, meds_aggs)
    joined = join_null_safe(df, meds, group_by, broadcast_right=True)
    mad_aggs = [
        F.percentile(
            F.abs(missing.apply(F.col(op.col)).try_cast("double") - F.col(f"__med_{op.col}")),
            F.lit(0.5)).alias(op.out_name())
        for op in ops
    ]
    return _agg(joined, group_by, mad_aggs)
