"""tsv-join parity: semi / anti / append joins.

Reference: tsv-join/src/tsv_utils/tsv-join.d — an in-memory hash semi-join
against a filter file (build :482-571, probe :573-632), with modes
--exclude (anti), --append-fields, --write-all (left outer default). The
author explicitly frames it as a stream-static join (tsv-join.d:74-76) and
documents a ~10M-entry practical limit (README.md:327).

Spark-first: the filter side is broadcast when small (Catalyst
BroadcastHashJoin = the reference's build/probe, distributed); past
broadcast size the same API plans a shuffle join. ``join_filter`` hints
the broadcast by default; ``bloom_semi_join`` / ``bloom_anti_join`` are
the same exact semi / anti join without the hint, so Spark's planner
picks broadcast or shuffle from its size estimate and
``spark.sql.autoBroadcastJoinThreshold``. Every semi / anti join returns
data's own columns in data's order, as tsv-join prints each data line
unchanged."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def bloom_semi_join(data: DataFrame, filter_df: DataFrame,
                    keys: list[str]) -> DataFrame:
    """Exact semi-join of ``data`` against ``filter_df`` on ``keys``;
    Spark's planner broadcasts or shuffles the deduplicated filter keys.
    The name is historical: no Bloom filter is built."""
    return join_filter(data, filter_df, on=keys, mode="semi",
                       broadcast_filter=False)


def bloom_anti_join(data: DataFrame, filter_df: DataFrame,
                    keys: list[str]) -> DataFrame:
    """Exact anti-join; see ``bloom_semi_join``."""
    return join_filter(data, filter_df, on=keys, mode="anti",
                       broadcast_filter=False)
