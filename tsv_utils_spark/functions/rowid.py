"""Stable input-order row ids for file-backed scans.

tsv-utils semantics are stream-order semantics: ``--values`` keeps values
in input order (tsv-summarize.d:4187), ``--unique-values`` keeps first-seen
order (:4250), ``tsv-uniq`` numbers occurrences in input order. A
distributed engine needs an explicit total order standing in for "input
order"; for a fresh file scan that order IS (file, offset) — which Spark
exposes for free through the hidden ``_metadata`` column (``file_path``,
``row_index``) with NO shuffle and no window.

``input_row_id`` packs (file ordinal in sorted-path order, row index
within the file) into one orderable int64: files sort by path (the same
canonical order a multi-file read concatenates them in), rows by their
physical position. Downstream, pass the column as ``order_col`` to
summarize/uniq/number_lines to reproduce the reference's input order
exactly.
"""

from __future__ import annotations

import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsv_utils_spark.plans.quantiles import local_table


def _norm_path(p: str) -> str:
    # inputFiles() yields file:///x; _metadata.file_path yields file:/x —
    # normalize both to a bare absolute path before joining
    return re.sub(r"^[a-z0-9]+:/+", "/", p)

ROW_ID_COL = "row_id"
# operators that AUTO-derive an order column use this collision-proof
# internal name (and drop it from their output): user data legitimately
# containing a 'row_id' column must not collide with the derived one
AUTO_ROW_ID_COL = "__tsv_row_id"

# row_index gets the low 40 bits (10^12 rows/file), file ordinal the rest
_ROW_BITS = 40


def input_row_id(df: DataFrame, out_col: str = ROW_ID_COL) -> DataFrame:
    """Append a stable input-order id to a fresh file scan.

    Must be applied to the scan itself (before projections drop the
    hidden ``_metadata`` column). Raises ValueError for non-file inputs.
    """
    if out_col in df.columns:
        raise ValueError(
            f"input_row_id: column {out_col!r} already exists — pass a "
            f"different out_col")
    files = sorted(_norm_path(f) for f in df.inputFiles())
    if not files:
        raise ValueError(
            "input_row_id needs a file-backed scan (df.inputFiles() is "
            "empty) — supply your own order_col for in-memory data")
    spark = df.sparkSession
    mapping = local_table(
        spark, [(f, i) for i, f in enumerate(files)],
        T.StructType([T.StructField("__file", T.StringType()),
                      T.StructField("__ord", T.LongType())]))
    with_meta = df.select(
        "*",
        F.regexp_replace(F.col("_metadata.file_path"),
                         "^[a-z0-9]+:/+", "/").alias("__file"),
        F.col("_metadata.row_index").alias("__rix"))
    joined = with_meta.join(F.broadcast(mapping), "__file")
    rid = (F.shiftleft(F.col("__ord"), _ROW_BITS) + F.col("__rix")) \
        .alias(out_col)
    return joined.select(*df.columns, rid)


def try_input_row_id(df: DataFrame, out_col: str = ROW_ID_COL):
    """``input_row_id`` if the scan supports it, else None — used by
    operators that need an order column to auto-derive input order from a
    fresh scan (first/last/values/equiv)."""
    try:
        out = input_row_id(df, out_col)
        out.schema  # force analysis: _metadata must resolve
        return out
    except (AnalysisException, ValueError):  # no _metadata / not file-backed
        return None
