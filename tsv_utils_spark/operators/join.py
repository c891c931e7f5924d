"""tsv-join parity: semi / anti / append joins with broadcast + Bloom paths.

Reference: tsv-join/src/tsv_utils/tsv-join.d — an in-memory hash semi-join
against a filter file (build :482-571, probe :573-632), with modes
--exclude (anti), --append-fields, --write-all (left outer default). The
author explicitly frames it as a stream-static join (tsv-join.d:74-76) and
documents a ~10M-entry practical limit (README.md:327).

Spark-first: the filter side is broadcast when small (Catalyst
BroadcastHashJoin = the reference's build/probe, distributed); past
broadcast size the same API plans a shuffle join. ``bloom_semi_join`` /
``bloom_anti_join`` choose between the two from Catalyst's size estimate
of the deduplicated filter keys, read without a job:

- estimate <= ``spark.sql.autoBroadcastJoinThreshold``: the plain exact
  semi / anti join, which the planner broadcasts by that same estimate
  (no hint); no Bloom is built;
- threshold -1, an unknown size (an RDD-backed input) or an estimate
  above the threshold: a Bloom pre-filter cuts the probe-side shuffle
  volume, then an EXACT join on survivors reconciles — no false
  negatives means the final answer equals the exact join. The Bloom is
  Spark's native ``bloom_filter_agg`` / ``might_contain`` where available,
  else the library ``BloomFilter``. This is the rule of Spark's own
  runtime Bloom filter (SPARK-32268), which is never injected when the
  creation side can be broadcast.

Each call logs one DEBUG record on the ``tsv_utils_spark`` logger naming
the path taken (broadcast, JVM Bloom or library Bloom) and why."""

from __future__ import annotations

import logging
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql import functions as F

from tsv_utils_spark.sketches.bloom import BloomFilter

_log = logging.getLogger("tsv_utils_spark")


def join_filter(data: DataFrame,
                filter_df: DataFrame,
                on: list[str] | None = None,
                data_keys: list[str] | None = None,
                filter_keys: list[str] | None = None,
                mode: str = "semi",
                append: list[str] | None = None,
                write_all: str | None = None,
                allow_duplicate_keys: bool = False,
                broadcast_filter: bool = True) -> DataFrame:
    """tsv-join as a DataFrame op.

    mode: 'semi' (default keep-matches, tsv-join.d:621), 'anti'
    (--exclude), 'append' (--append-fields -> inner join projecting filter
    columns), 'left' (--write-all STR -> left outer with default fill).
    Keys may differ per side via data_keys/filter_keys (--d|data-fields,
    tsv-join.d:163-165).
    """
    if on is not None and data_keys is None and filter_keys is None:
        data_keys = filter_keys = list(on)
    if not data_keys or not filter_keys or len(data_keys) != len(filter_keys):
        raise ValueError("need matching key lists (on=, or data_keys+filter_keys)")

    if mode in ("append", "left"):
        append = append or [c for c in filter_df.columns if c not in filter_keys]
        proj = filter_df.select(*filter_keys, *append)
        # ONE row per key either way — the reference loads the filter
        # file into an associative array (tsv-join.d:557-565), so a
        # duplicated key never multiplies data rows. Kept row = max over
        # the append-tuple struct: an arbitrary-but-deterministic ACTUAL
        # row (per-column F.max could stitch a tuple existing in no row).
        # Conflicting-duplicate detection = min(struct) != max(struct):
        # declarative min/max stay in codegen hash aggregation, where the
        # former size(collect_set(struct)) forced an ObjectHashAggregate
        # that falls back to SORT-based aggregation past 128 keys (r6;
        # struct min/max/equality order null fields totally, so a
        # NULL-vs-value conflict still trips the guard — pytest-pinned)
        tup = F.struct(*[F.col(a) for a in append])
        grouped = (proj.groupBy(*filter_keys)
                       .agg(F.max(tup).alias("__row"),
                            (F.min(tup) != F.max(tup)).alias("__dup")))
        if allow_duplicate_keys:  # last wins (tsv-join.d:563)
            proj = grouped.select(
                *filter_keys,
                *[F.col("__row")[a].alias(a) for a in append])
        else:
            # duplicate-key enforcement: IN-PLAN, raised when the join
            # executes — no separate eager validation job (pre-round-5
            # this ran a full extra aggregate scan per call, ~doubling
            # append-join latency). The guard wraps the FIRST JOIN KEY,
            # not the appended values: the join condition always
            # consumes the key, so Catalyst column pruning can never
            # delete the check even when no appended column survives
            # the caller's projection.
            k0 = filter_keys[0]
            guarded_key = F.when(
                F.col("__dup"),
                F.raise_error(F.lit(
                    "duplicate filter keys with different append values "
                    "(pass allow_duplicate_keys=True for last-wins)"))
            ).otherwise(F.col(k0)).alias(k0)
            proj = grouped.select(
                guarded_key, *[F.col(k) for k in filter_keys[1:]],
                *[F.col("__row")[a].alias(a) for a in append])
    else:
        proj = filter_df.select(*filter_keys).dropDuplicates(filter_keys)

    right = F.broadcast(proj) if broadcast_filter else proj
    cond = [data[dk] == right[fk] for dk, fk in zip(data_keys, filter_keys)]

    if mode == "semi":
        return data.join(right, cond, "left_semi")
    if mode == "anti":
        return data.join(right, cond, "left_anti")
    if mode == "append":
        return data.join(right, cond, "inner").drop(*[right[fk] for fk in filter_keys])
    if mode == "left":
        out = data.join(right, cond, "left").drop(*[right[fk] for fk in filter_keys])
        fill = write_all if write_all is not None else ""
        for a in append:
            out = out.withColumn(a, F.coalesce(F.col(a), F.lit(fill)))
        return out
    raise ValueError(f"bad mode {mode!r}")


def salted_join(big: DataFrame, medium: DataFrame, keys: list[str],
                salt: int = 8, how: str = "inner") -> DataFrame:
    """Explicit skew-salted equi-join: the scale path when one join key is
    hot enough to overwhelm a single reducer and the other side is too
    big to broadcast.

    The big side gets a deterministic per-row salt in [0, salt) derived
    from its WHOLE row (xxhash64 over all columns — rows of a hot key
    spread across ``salt`` partitions as long as anything else varies);
    the medium side is replicated ``salt`` times via a JVM-side explode.
    Joining on (keys..., salt) then yields exactly the plain equi-join,
    with the hot key's work fanned out ``salt``-ways. Complements AQE's
    runtime skew-join (spark.sql.adaptive.skewJoin) when the skew is
    known up front; the aggregation analogue is ``sketch_agg(mode='salt')``.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (medium side is "
                         "replicated — right/outer would duplicate nulls)")
    bsalt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]),
                   F.lit(salt)).cast("int").alias("__salt")
    b = big.select("*", bsalt)
    m = medium.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__s")) \
        .withColumn("__salt", F.col("__s").cast("int")).drop("__s")
    return b.join(m, [*keys, "__salt"], how).drop("__salt")


def _bloom_m_k(n: int, fpr: float) -> tuple[int, int]:
    m = int(math.ceil(-max(n, 1) * math.log(fpr) / (math.log(2) ** 2)))
    k = max(1, round(m / max(n, 1) * math.log(2)))
    return m, k


# Above this filter size the JVM-native path (which embeds the built
# filter as a plan literal, exactly like Spark's own runtime-bloom
# scalar subquery does) falls back to the broadcast+numpy path: a
# multi-hundred-MB literal belongs in a broadcast, not the task binary.
# Spark's own runtime filter caps itself at 8MB (numBits default) for
# the same reason; we allow more because the build side is counted, not
# estimated. The JVM path also never exceeds Spark's
# runtime.bloomFilter.maxNumBits / maxNumItems: bloom_filter_agg clamps
# to them silently, which would miss the requested FPR.
_JVM_BLOOM_MAX_BYTES = 32 << 20
_RUNTIME_BLOOM = "spark.sql.optimizer.runtime.bloomFilter"


def _jvm_bloom_exprs(spark):
    """Spark's internal bloom expressions, for a classic session:
    ``(ExpressionUtils, BloomFilterAggregate, BloomFilterMightContain,
    classic Column)``. Raises ImportError, AttributeError or Py4JError
    where they are unavailable."""
    from pyspark.sql.classic.column import Column

    jvm = spark._sc._jvm
    eu = getattr(getattr(jvm.org.apache.spark.sql.classic,
                         "ExpressionUtils$"), "MODULE$")
    exprs = jvm.org.apache.spark.sql.catalyst.expressions
    return (eu, exprs.aggregate.BloomFilterAggregate,
            exprs.BloomFilterMightContain, Column)


def _jvm_bloom_hit_col(filter_df: DataFrame, keys: list[str],
                       fpr: float):
    """``(Column, None)``: a boolean membership Column via Spark's NATIVE
    bloom expressions. ``bloom_filter_agg`` builds the filter in one JVM
    aggregate job (map-side partials, no Python boundary, blob collected
    once) and ``might_contain`` probes it inside WholeStageCodegen — the
    machinery behind SPARK-32268's runtime filter (guide §3.2), driven
    explicitly so it fires regardless of size estimates.

    ``(None, reason)`` when the internal expressions are unavailable
    (non-classic session, changed internals: ImportError,
    AttributeError, Py4JError), the size gate is malformed or off, or the
    filter would exceed _JVM_BLOOM_MAX_BYTES or Spark's
    bloomFilter.maxNumBits/maxNumItems — callers fall back to the
    library BloomFilter path. Both paths feed the same exact
    reconciliation join, so the result set is identical either way (no
    false negatives in any Bloom). Any other error propagates."""
    import os

    from py4j.protocol import Py4JError

    env = "SPARK_TSV_BLOOM_JVM_MAX_BYTES"
    try:
        max_bytes = int(os.environ.get(env, _JVM_BLOOM_MAX_BYTES))
    except ValueError:
        return None, f"{env}={os.environ[env]!r} is not an integer"
    if max_bytes <= 0:
        return None, f"{env}={max_bytes} turns it off"
    try:
        spark = filter_df.sparkSession
        eu, bfa_cls, mc_cls, ccol = _jvm_bloom_exprs(spark)

        def _expr(col):
            return eu.expression(col._jc)

        keyed = filter_df.select(F.xxhash64(_composite(keys)).alias("__h"))
        n = keyed.count()
        m, _k = _bloom_m_k(n, fpr)
        max_bits = int(spark.conf.get(f"{_RUNTIME_BLOOM}.maxNumBits"))
        max_items = int(spark.conf.get(f"{_RUNTIME_BLOOM}.maxNumItems"))
        if m // 8 > max_bytes or m > max_bits or n > max_items:
            return None, (f"{n} keys need {m} bits; caps are {env}="
                          f"{max_bytes} B, maxNumBits={max_bits}, "
                          f"maxNumItems={max_items}")
        agg = bfa_cls(_expr(F.col("__h")),
                      _expr(F.lit(max(n, 1)).cast("long")),
                      _expr(F.lit(m).cast("long"))).toAggregateExpression()
        blob = keyed.agg(ccol(eu.column(agg)).alias("bf")).collect()[0][0]
        if blob is None:  # empty filter side: nothing can match
            return F.lit(False), None
        probe = mc_cls(_expr(F.lit(bytearray(blob))),
                       _expr(F.xxhash64(_composite(keys))))
        return ccol(eu.column(probe)), None
    except (ImportError, AttributeError, Py4JError) as e:
        return None, f"{type(e).__name__}: {e}"


def build_bloom(filter_df: DataFrame, keys: list[str], fpr: float = 0.001,
                capacity: int | None = None) -> BloomFilter:
    """Build one Bloom filter over the (composite) filter keys.

    Distributed build: per-partition partial Blooms via mapInPandas,
    OR-merged with a TREE reduce — executors combine pairs of bitmaps so
    the driver receives ONE final blob (m/8 bytes; ~180MB at 100M keys /
    fpr=1e-3), never partitions x blob. A driver-side loop over P
    partials would pull P x 180MB — the quiet scale-killer this avoids.
    """
    # keys are hashed JVM-side (xxhash64 of the canonical string
    # composite, identical expression on build and probe side — no false
    # negatives) so only one int64 per row crosses the Arrow boundary
    # (guide §4.1: control what crosses; r6 change — the object-dtype
    # string path hashed every key in Python)
    keyed = filter_df.select(F.xxhash64(_composite(keys)).alias("__h"))
    n = capacity or keyed.count()
    m, k = _bloom_m_k(n, fpr)

    def partial(iterator):
        bf = BloomFilter(m=m, k=k)
        for pdf in iterator:
            bf.update_hashes(pdf["__h"].to_numpy())
        yield pd.DataFrame({"blob": [bf.serialize()]})

    blobs = keyed.mapInPandas(partial, schema="blob binary")

    def or_merge(a: bytes, b: bytes) -> bytes:
        return BloomFilter.deserialize(a) \
            .merge(BloomFilter.deserialize(b)).serialize()

    rdd = blobs.rdd.map(lambda r: bytes(r.blob))
    # a ZERO-partition filter side (spark.createDataFrame([], schema))
    # yields an empty RDD and treeReduce raises on the empty collection;
    # an empty Bloom (matches nothing) is the correct identity. Empty-but-
    # partitioned inputs are fine: each partition emits one blob.
    if rdd.getNumPartitions() == 0:
        return BloomFilter(m=m, k=k)
    return BloomFilter.deserialize(rdd.treeReduce(or_merge, depth=2))


def _composite(keys: list[str]):
    if len(keys) == 1:
        return F.col(keys[0]).cast("string")
    return F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])


def _bloom_prefilter(data: DataFrame, keys: list[str], bf: BloomFilter,
                     keep_hits: bool) -> DataFrame:
    """Tag each data row with Bloom membership via an Arrow-vectorized
    pandas UDF over the composite key; keep hits (semi path) or everything
    (anti path keeps all, handled by caller)."""
    blob = data.sparkSession.sparkContext.broadcast(bf.serialize())

    @pandas_udf("boolean")
    def bloom_contains(s: pd.Series) -> pd.Series:
        b = BloomFilter.deserialize(blob.value)
        return pd.Series(b.contains_hashes(s.to_numpy()))

    # same xxhash64-of-composite as build_bloom: int64 across the
    # boundary, numpy bit tests — zero Python objects per row
    tagged = data.withColumn(
        "__bloom_hit", bloom_contains(F.xxhash64(_composite(keys))))
    return tagged.filter(F.col("__bloom_hit")) if keep_hits else tagged


def _broadcast_gate(right: DataFrame) -> tuple[bool, str]:
    """Whether the planner broadcasts ``right`` as a join's build side
    by size, and why, in words. The planner's own rule: Catalyst's
    estimate, read without a job, within 0..autoBroadcastJoinThreshold.
    An unknown size reads as ``spark.sql.defaultSizeInBytes`` (2^63 - 1)
    and a threshold of -1 admits nothing, so neither broadcasts."""
    from tsv_utils_spark.plans.quantiles import input_size_bytes

    sz = input_size_bytes(right)
    limit = right.sparkSession._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    fits = sz is not None and 0 <= sz <= limit
    return fits, (f"filter keys estimated at {sz} B "
                  f"{'<=' if fits else '>'} autoBroadcastJoinThreshold "
                  f"{limit} B")


def _bloom_path(name: str, filter_df: DataFrame, right: DataFrame,
                keys: list[str], fpr: float):
    """The path of one Bloom join, logged as one DEBUG record:
    ``("broadcast", None)``, ``("jvm", membership Column)`` or
    ``("library", BloomFilter)``."""
    fits, why = _broadcast_gate(right)
    if fits:
        _log.debug("%s: broadcast join (%s)", name, why)
        return "broadcast", None
    hit, fallback = _jvm_bloom_hit_col(filter_df, keys, fpr)
    if hit is not None:
        _log.debug("%s: JVM Bloom (%s)", name, why)
        return "jvm", hit
    _log.debug("%s: library Bloom (%s; JVM Bloom fell back: %s)",
               name, why, fallback)
    return "library", build_bloom(filter_df, keys, fpr)


def bloom_semi_join(data: DataFrame, filter_df: DataFrame, keys: list[str],
                    fpr: float = 0.001) -> DataFrame:
    """Exact semi-join. A filter side whose deduplicated keys fit
    ``autoBroadcastJoinThreshold`` by Catalyst's estimate is a plain
    broadcast semi-join. Otherwise a Bloom pre-filter drops ~all
    non-matching rows before the shuffle, and an exact semi-join on the
    survivors removes the false positives, so the result is EXACTLY the
    semi-join (a Bloom has no false negatives): the scale path when the
    filter side exceeds broadcast size but its Bloom (bits) still
    fits."""
    right = filter_df.select(*keys).dropDuplicates(keys)
    path, bloom = _bloom_path("bloom_semi_join", filter_df, right, keys, fpr)
    if path == "broadcast":
        return data.join(right, keys, "left_semi")
    if path == "jvm":
        pre = data.filter(bloom)
    else:
        pre = _bloom_prefilter(data, keys, bloom, True).drop("__bloom_hit")
    return pre.join(right, keys, "left_semi")


def bloom_anti_join(data: DataFrame, filter_df: DataFrame, keys: list[str],
                    fpr: float = 0.001) -> DataFrame:
    """Exact anti-join. A filter side whose deduplicated keys fit
    ``autoBroadcastJoinThreshold`` by Catalyst's estimate is a plain
    broadcast anti-join. Otherwise Bloom misses are DEFINITELY
    non-members and pass through with no shuffle at all; only Bloom hits
    (true members + fpr false positives) go through the exact anti-join.
    Shuffle volume drops from |data| to ~|matches| + fpr*|data|."""
    right = filter_df.select(*keys).dropDuplicates(keys)
    path, bloom = _bloom_path("bloom_anti_join", filter_df, right, keys, fpr)
    if path == "broadcast":
        # a USING anti join puts the keys first; the Bloom path below
        # keeps data's own column order (unionByName follows misses)
        return data.join(right, keys, "left_anti").select(*data.columns)
    if path == "jvm":
        tagged = data.withColumn("__bloom_hit", bloom)
    else:
        tagged = _bloom_prefilter(data, keys, bloom, False)
    misses = tagged.filter(~F.col("__bloom_hit")).drop("__bloom_hit")
    hits = tagged.filter(F.col("__bloom_hit")).drop("__bloom_hit")
    checked = hits.join(right, keys, "left_anti")
    return misses.unionByName(checked)
