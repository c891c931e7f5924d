"""Small-tool parity: number-lines, keep-header, tsv-pretty.

- ``number_lines`` — number-lines.d:37-46: prepend a line number starting
  at ``start``. Needs a total order (order_col). The default is
  distributed: per-partition counts give each partition an offset, and a
  JVM row index within the partition adds to it (no Python stage). A
  global ``row_number`` window is the opt-in variant.
- keep-header (keep-header.d:11-33) needs no operator: schema survives
  every DataFrame op by construction.
- ``pretty`` — tsv-pretty's aligned console render (tsv-pretty.d:50-120);
  here a driver-side convenience over a LIMITED sample (never the full
  distributed result).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsv_utils_spark.plans.quantiles import local_table


def number_lines(df: DataFrame, order_col: str, start: int = 1,
                 out_col: str = "line") -> DataFrame:
    """Global line numbers by order_col — DISTRIBUTED by default: range-
    partition on order_col, sort within partitions, then per-partition
    offsets. Identical numbering to a global row_number window, with no
    single-task bottleneck. Use ``number_lines_window`` only when you
    specifically want the window plan (small ordered exports)."""
    spark = df.sparkSession
    parts = max(1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    ranged = (df.repartitionByRange(parts, F.col(order_col))
                .sortWithinPartitions(order_col))
    return number_lines_distributed(ranged, start, out_col)


def number_lines_window(df: DataFrame, order_col: str, start: int = 1,
                        out_col: str = "line") -> DataFrame:
    """Window-based numbering: exact, but the global sort serializes
    through one task for the final numbering — the opt-in variant."""
    w = Window.orderBy(F.col(order_col))
    return df.withColumn(out_col,
                         F.row_number().over(w).cast("long") + (start - 1)) \
        .select(out_col, *df.columns)


def _partitioning_is_rerun_stable(df: DataFrame) -> bool:
    """True when re-executing ``df`` is guaranteed to reproduce the same
    partition membership: a file-backed plan with no exchange (scan
    splits are deterministic). Shuffled/sampled/in-memory plans can place
    rows differently across executions (RangePartitioner seeds, RDD-id-
    derived randomness), so two jobs over them must read a materialized
    copy instead."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except (Py4JError, AttributeError):  # no JVM plan / not a DataFrame
        return False
    return bool(df.inputFiles()) and "Exchange" not in plan


def number_lines_distributed(df: DataFrame, start: int = 1,
                             out_col: str = "line") -> DataFrame:
    """Scale path: per-partition counts -> offsets (tiny driver step) ->
    per-partition running index. No global sort; numbering follows the
    current partition order. ``out_col`` is a ``long`` placed first.

    The index is JVM-only: ``monotonically_increasing_id()`` carries the
    partition id in its upper bits, so subtracting ``spark_partition_id()
    << 33`` in the same projection leaves the row's position within its
    partition. The offsets are a ``(__pid, __off)`` local table, broadcast-
    joined on ``__pid``; the broadcast join keeps the partitioning and
    row order of ``df``.

    The count job and the numbering job must observe the SAME partition
    placement. A deterministic file scan already guarantees that (and at
    100 TB we must not materialize the input just to count it); anything
    with an exchange in the plan gets pinned via localCheckpoint."""
    if not _partitioning_is_rerun_stable(df):
        df = df.localCheckpoint(eager=True)
    counts = (df.withColumn("__pid", F.spark_partition_id())
                .groupBy("__pid").count().orderBy("__pid").collect())
    rows, acc = [], start
    for r in counts:
        rows.append((r["__pid"], acc))
        acc += r["count"]
    offsets = local_table(df.sparkSession, rows, T.StructType([
        T.StructField("__pid", T.IntegerType(), False),
        T.StructField("__off", T.LongType(), False)]))
    pid = F.spark_partition_id()
    indexed = df.select(
        pid.alias("__pid"),
        (F.monotonically_increasing_id()
         - F.shiftleft(pid.cast("long"), 33)).alias("__rix"),
        "*")
    return (indexed.join(F.broadcast(offsets), "__pid")
            .select((F.col("__rix") + F.col("__off")).alias(out_col), "*")
            .drop("__pid", "__rix", "__off"))


def _significant_digits(s: str) -> int:
    """Significant digits of a numeric string (tsv-pretty.d:1205-1236):
    from the first nonzero digit to the last significant one — trailing
    zeros count UNLESS there is a decimal point in that span; always at
    least 1 for a finite number ("0" has one significant digit)."""
    import math
    import re as _re

    try:
        d = float(s)
    except ValueError:
        return 0
    if not math.isfinite(d):
        return 0
    m = _re.search(r"[1-9]", s)
    if not m:
        return 1  # zeros only
    part = _re.split(r"[eE]", s[m.start():])[0]
    if "." in part:
        part = part.rstrip("0")
        sig = len(part) - 1
    else:
        sig = len(part)
    return max(sig, 1)


def _format_exponent(s: str, precision: int) -> str:
    """tsv-pretty's formatExponentValue (tsv-pretty.d:1125-1165):
    values with at least ``precision`` significant fraction digits are
    rounded with ``%.{precision}e``; shorter values keep their OWN
    digits and are zero-padded before the exponent (never inventing
    rounded digits). NaN/Infinity/unparseable pass through raw."""
    import math

    try:
        d = float(s)
    except ValueError:
        return s
    if not math.isfinite(d):
        return s
    nsig = _significant_digits(s)
    nprec = nsig - 1 if nsig else 0
    if nprec >= precision:
        return f"{d:.{precision}e}"
    mant, _, exp = f"{d:.{nprec}e}".partition("e")
    if nprec == 0:
        return f"{mant}.{'0' * precision}e{exp}"
    return f"{mant}{'0' * (precision - nprec)}e{exp}"


def pretty(df: DataFrame, n: int = 20, lookahead: int = 1000,
           header: bool = True, underline_header: bool = False,
           format_floats: bool = False, float_precision: int = 9,
           max_width: int = 40, space_between: int = 2,
           empty_replacement: str = "") -> str:
    """tsv-pretty's aligned console render (tsv-pretty.d:106-127 options).

    Driver-side over a LIMITED sample by design (never the full
    distributed result). Faithful behaviors:
    - type/width inference over a ``lookahead`` window (default 1000 rows,
      tsv-pretty.d:113): a column is numeric iff every non-empty sampled
      value parses as a number;
    - numeric columns right-aligned; with ``format_floats`` they align on
      the decimal point using the max observed precision capped at
      ``float_precision`` (--f/--p, tsv-pretty.d:118-119);
    - text columns left-aligned, capped at ``max_width`` (--m, :124);
    - ``space_between`` spaces between fields (--s, :123), optional
      header underline (--u, :117), optional empty replacement (--e/--E).
    (Header auto-detection is N/A: DataFrames always carry a schema.)
    """
    look = df.limit(max(n, lookahead)).toPandas().astype(object)
    pdf = look.head(n)

    def parse_num(v) -> float | None:
        if v is None:
            return None
        try:
            return float(str(v))
        except ValueError:
            return None

    def decimals(v) -> int:
        s = str(v)
        return len(s.split(".", 1)[1]) if "." in s else 0

    def is_exp(v) -> bool:
        s = str(v)
        return ("e" in s or "E" in s) and parse_num(v) is not None

    cols = list(pdf.columns)
    rendered: dict[str, list[str]] = {}
    widths: dict[str, int] = {}
    for c in cols:
        sample = [v for v in look[c].tolist() if v is not None and str(v) != ""]
        nums = [parse_num(v) for v in sample]
        is_numeric = bool(sample) and all(x is not None for x in nums)
        # exponential notation supersedes floats and integers
        # (tsv-pretty.d:948): the whole column renders in exponential
        # form at a shared precision under --format-floats
        exp_col = is_numeric and any(is_exp(v) for v in sample)
        vals = pdf[c].tolist()
        if exp_col:
            max_sig = max((_significant_digits(str(v)) for v in sample),
                          default=0)
            prec = min(float_precision, max_sig - 1 if max_sig else 0)
            out = []
            for v in vals:
                if v is None or str(v) == "":
                    out.append(empty_replacement)
                elif format_floats:
                    out.append(_format_exponent(str(v), prec))
                else:
                    out.append(str(v))
            rendered[c] = out
        elif is_numeric:
            prec = min(float_precision,
                       max((decimals(v) for v in sample), default=0))
            out = []
            for v in vals:
                if v is None or str(v) == "":
                    out.append(empty_replacement)
                elif format_floats and prec > 0:
                    out.append(f"{float(str(v)):.{prec}f}")
                else:
                    out.append(str(v))
            rendered[c] = out
        else:
            rendered[c] = [
                (empty_replacement if v is None or str(v) == ""
                 else str(v)[:max_width]) for v in vals]
        widths[c] = max([len(s) for s in rendered[c]] +
                        [len(c) if header else 0])
        rendered[c] = [s.rjust(widths[c]) if is_numeric else s.ljust(widths[c])
                       for s in rendered[c]]

    gap = " " * space_between
    lines = []
    if header:
        lines.append(gap.join(c.ljust(widths[c]) for c in cols).rstrip())
        if underline_header:
            lines.append(gap.join("-" * widths[c] for c in cols).rstrip())
    for i in range(len(pdf)):
        lines.append(gap.join(rendered[c][i] for c in cols).rstrip())
    return "\n".join(lines)
