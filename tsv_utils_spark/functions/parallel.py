"""Scan-parallelism guard for compute-heavy projections.

Single-row-group parquet files (and gzip text, and any small file under
``spark.sql.files.openCostInBytes``) produce scans with far fewer
populated partitions than the session has cores — Spark's parquet reader
assigns whole row groups to splits, so a 15 MB one-row-group file is ONE
task no matter what ``maxPartitionBytes`` says. For scan→shuffle queries
that is harmless (the shuffle re-parallelizes), but for scan→project
queries every expression runs on one core (guide §2.5 "input skew: one
huge unsplittable file ... repartition immediately after the read").

``ensure_min_parallelism`` round-robin-repartitions ONLY when the input
is clearly starved (fewer than ``target/4`` partitions): the exchange
moves the data once so expensive projections use every core. At real
scale inputs arrive in many row groups and this is a no-op — the check is
scale-adaptive, not a local[32] constant.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except (Py4JError, AttributeError):  # exotic plans / no RDD; stay lazy
        return df
    if n * 4 <= target:
        return df.repartition(target)
    return df
