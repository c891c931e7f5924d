"""Two-level partial+final mergeable sketch aggregation.

This is the engine the whole library revolves around: PySpark has no
native partial/final protocol for pandas UDAFs, so we build the classic
two-level plan explicitly (SURVEY.md §4 "what needs custom work"):

    level 1 (partial)  — one mapInArrow over the scan: per input
                         partition, one partial blob per group per spec
                         (the Arrow-native kernel of plans/arrow_kernel.py,
                         at any key count; values pre-hashed JVM-side with
                         xxhash64 where possible). The kernel buffers a
                         group id per row and, at a flush, builds all
                         groups' blobs of a spec together with a few NumPy
                         calls (``SketchSpec.partial_blobs``); only groups
                         past a sketch's cheap phase build a sketch object.
                         Emits (group keys, blob per spec) rows — the
                         map-side combine. Memory-bounded: when the
                         per-partition group map exceeds
                         ``max_groups_per_partition``, partials are
                         flushed early (extra partial rows per group are
                         fine — merge absorbs them).
    level 2 (final)    — one batched merge (``_merge_partials``): the
                         partial rows are hash-partitioned on the keys and
                         sorted within partitions (the Exchange + Sort a
                         groupBy plans), so each group is one run of
                         consecutive rows; a single mapInArrow merges all
                         runs of an Arrow batch together with a few NumPy
                         calls per spec (``SketchSpec.merge_blobs``) and
                         emits finalized estimate columns — or, for
                         sketch tables, one merged blob per spec. Only
                         groups past a sketch's cheap phase deserialize
                         and merge sketch objects. No per-group Arrow
                         stream or pandas frame. Shuffles only the tiny
                         partial rows, never the raw data.

Every ``sketch_agg`` call takes this one plan, whatever the input's size:
no size estimate picks a path, so no answer depends on one.

Skew: the partial level eliminates hot-key shuffle skew for aggregation by
construction (each input partition contributes at most a handful of rows
per key, however hot). For the explicit-salting variant (and to evidence
the north rule), ``mode='salt'`` first hash-partitions the raw rows on
(keys, ``pmod(xxhash64(all cols), S)``), so a hot key spreads over S
tasks, then runs the same level-1 kernel — two shuffles, both on bounded
fan-out keys.

Both modes produce identical estimates (tests permute modes and merge
orders).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsv_utils_spark.sketches import countmin, hll, kll, theta
from tsv_utils_spark.sketches.bloom import BloomFilter
from tsv_utils_spark.sketches.countmin import CountMin
from tsv_utils_spark.sketches.hll import HyperLogLog
from tsv_utils_spark.sketches.kll import KLL
from tsv_utils_spark.sketches.tdigest import TDigest
from tsv_utils_spark.sketches.theta import ThetaKMV

_SKETCHES = {"hll": HyperLogLog, "kll": KLL, "tdigest": TDigest,
             "cm": CountMin, "bloom": BloomFilter, "theta": ThetaKMV}


@dataclass(frozen=True)
class SketchSpec:
    """One sketch aggregation over one input column.

    op: 'hll' | 'kll' | 'tdigest' | 'cm' | 'bloom' | 'theta'
    finalize (op-dependent):
      hll     -> '{out}' double estimate (+ '{out}_exactish' long rounded)
      kll     -> one double col per q in params['quantiles']
      tdigest -> same
      cm      -> params['finalize'] in {'mode','mode_count','topk_json'}
      bloom   -> '{out}_blob' binary (a queryable filter, not a scalar)
    """

    op: str
    col: str
    out: str
    params: dict = field(default_factory=dict)

    # ---- sketch construction ------------------------------------------
    def _args(self) -> dict:
        """Constructor arguments of this spec's sketch."""
        p = self.params
        if self.op == "hll":
            # p=12 default for PER-GROUP sketches: 4KB dense registers,
            # 1.6% std error — the blob volume of (groups x partitions)
            # partials is the binding constraint, not single-sketch error.
            # Standalone HyperLogLog keeps p=14.
            return {"p": p.get("p", 12), "sparse_limit": p.get("sparse_limit")}
        if self.op == "kll":
            return {"k": p.get("k", 200)}
        if self.op == "tdigest":
            return {"delta": p.get("delta", 200)}
        if self.op == "cm":
            # width 2^13 for PER-GROUP sketches: eps = e/8192 of the
            # group's N is ample for group-local heavy hitters, and a
            # group with many distinct values densifies into a 320 KB
            # table (5 x 2^13 x 8B) rather than 2.6 MB at 2^16. Changing
            # the width would change every estimate and blob.
            return {"depth": p.get("depth", 5),
                    "width": p.get("width", 1 << 13),
                    "max_candidates": p.get("max_candidates", 256)}
        if self.op == "bloom":
            return {"m": p.get("m", 1 << 20), "k": p.get("k", 7)}
        if self.op == "theta":
            # KMV theta: distinct count + set operations; exact below
            # capacity k (the oracle-exactness regime, like HLL sparse)
            return {"k": p.get("k", 4096)}
        raise ValueError(f"bad sketch op {self.op!r}")

    def make(self):
        args = self._args()  # ValueError for an unknown op
        return _SKETCHES[self.op](**args)

    def deserialize(self, blob: bytes):
        out = _SKETCHES[self.op].deserialize(blob)
        if self.op == "hll" and self.params.get("sparse_limit") is not None:
            # the blob doesn't carry the limit; restore the spec's so
            # sparse-exact unions during merge keep the requested range
            out.sparse_limit = self.params["sparse_limit"]
        return out

    def partial_blobs(self, data: np.ndarray, bounds: np.ndarray,
                      counts: np.ndarray | None = None,
                      values: np.ndarray | None = None) -> list[bytes]:
        """One level-1 blob per group g, byte-equal to ``make()`` updated
        once with the group's input and serialized. Group g's input is
        ``data[bounds[g]:bounds[g + 1]]``: for hll/theta (int64 hashes,
        0 = NULL) and kll/tdigest (float64, NaN = NULL) its rows in row
        order; for cm/bloom the ids of its distinct values, in first-seen
        order, into the object array ``values``, with their ``counts``.

        The cheap phase every small group is in — hll sparse, theta, kll
        before its first compaction, cm sparse with every candidate kept
        — is built for all groups at once by the builder beside each
        sketch's ``serialize``; only groups past those gates, and every
        tdigest and bloom group, are built through the sketch object."""
        args = self._args()
        if self.op == "hll":
            blobs = hll.sparse_blobs(data, bounds, **args)
        elif self.op == "theta":
            blobs = theta.kmv_blobs(data, bounds, **args)
        elif self.op == "kll":
            blobs = kll.exact_blobs(data, bounds, **args)
        elif self.op == "cm":
            blobs = countmin.sparse_blobs(values, data, counts, bounds, **args)
        else:
            blobs = [None] * (bounds.size - 1)
        for g, blob in enumerate(blobs):
            if blob is not None:
                continue
            sk = self.make()
            part = data[bounds[g]:bounds[g + 1]]
            if self.op in ("hll", "theta"):
                h = part.view(np.uint64)
                sk.update_hashes(h[h != 0])
            elif self.op in ("kll", "tdigest"):
                sk.update(part)
            else:
                # Python-equality merge, as one dict of the group's values
                vc: dict = {}
                for v, c in zip(values[part].tolist(),
                                counts[bounds[g]:bounds[g + 1]].tolist()):
                    vc[v] = vc.get(v, 0) + c
                if vc:
                    vals = np.empty(len(vc), dtype=object)
                    vals[:] = list(vc)
                    if self.op == "cm":
                        sk.update(vals, counts=np.fromiter(
                            vc.values(), dtype=np.int64, count=len(vc)))
                    else:  # bloom: distinct membership
                        sk.update(vals)
            blobs[g] = sk.serialize()
        return blobs

    def merge_blobs(self, blobs: list[bytes], bounds: np.ndarray,
                    finals: list[SketchSpec] | None = None) -> list[list]:
        """Level 2: merge each group's partial blobs, group g's being
        ``blobs[bounds[g]:bounds[g + 1]]`` in run order (none empty).
        Returns one column, each group's merged blob byte-equal to
        ``serialize()`` of ``deserialize`` + ``merge`` of its blobs; or,
        with ``finals`` (the specs finalizing from this spec's sketch),
        every ``output_fields`` column of each final spec in turn, equal
        to its ``finalize`` of that merged sketch.

        The groups still in a sketch's cheap phase — hll sparse, theta,
        kll before its first compaction, cm sparse with every candidate
        kept — are merged and finalized for all groups at once by the
        merge class beside each blob format; only the other groups, and
        every tdigest and bloom group, deserialize and merge their blobs
        one sketch object at a time."""
        ng = bounds.size - 1
        if self.op == "hll":
            m = hll.SparseMerge(blobs, bounds,
                                self.params.get("sparse_limit"))
        elif self.op == "theta":
            m = theta.KMVMerge(blobs, bounds)
        elif self.op == "kll":
            m = kll.ExactMerge(blobs, bounds)
        elif self.op == "cm":
            m = countmin.SparseMerge(blobs, bounds)
        else:
            m = None
        if finals is None:
            cols = [m.blobs() if m else [None] * ng]
        else:
            cols = [c for f in finals for c in f._finalize_merged(m, ng)]
        rest = np.flatnonzero(~m.ok) if m else range(ng)
        for g in rest:
            lo, hi = int(bounds[g]), int(bounds[g + 1])
            sk = self.deserialize(blobs[lo])
            for b in blobs[lo + 1:hi]:
                sk.merge(self.deserialize(b))
            vals = [sk.serialize()] if finals is None \
                else [v for f in finals for v in f.finalize(sk)]
            for col, v in zip(cols, vals):
                col[g] = v
        return cols

    def _finalize_merged(self, m, ng: int) -> list:
        """This spec's output columns from a columnar merge ``m`` (see
        ``merge_blobs``); entries of groups ``m`` did not merge are
        placeholders."""
        if m is None:
            return [[None] * ng for _ in self.output_fields()]
        if self.op in ("hll", "theta"):
            return [m.estimates()]
        if self.op == "kll":
            return list(m.quantiles(self.params.get("quantiles", [0.5])))
        fin = self.params.get("finalize", "mode")
        values, est, rb = m.ranked()
        spans = list(zip(rb[:-1], rb[1:]))
        if fin == "mode":
            typed = self.params.get("typed")
            return [[(values[a] if typed else str(values[a])) if b > a
                     else None for a, b in spans]]
        if fin == "mode_count":
            return [[est[a] if b > a else None for a, b in spans]]
        import json

        k = self.params.get("k_top", 10)
        return [[json.dumps([[str(v), int(c)] for v, c in
                             zip(values[a:b][:k] if k else values[a:b],
                                 est[a:b])])
                 for a, b in spans]]

    # ---- input column expression (JVM-side prep) ----------------------
    def input_expr(self, idx: int):
        name = f"__in_{idx}"
        c = F.col(self.col)
        if self.op in ("hll", "theta"):
            # hash JVM-side; NULL -> sentinel 0 (dropped in update) so
            # distinct-count semantics match countDistinct. The sentinel —
            # not SQL NULL — keeps the Arrow column non-null int64: a
            # nullable long becomes float64 in numpy, which cannot hold
            # all 64-bit hash values (2^53 mantissa) and would silently
            # corrupt them. P(real hash == 0) = 2^-64: negligible.
            return F.when(c.isNotNull(), F.xxhash64(c)) \
                    .otherwise(F.lit(0)).alias(name)
        if self.op in ("kll", "tdigest"):
            return c.try_cast("double").alias(name)
        if self.op in ("cm", "bloom"):
            # typed=True keeps the NATIVE column type (date/timestamp/int)
            # through the kernel — CountMin's candidate serde carries
            # typed tags and hash64 canonicalizes datetimes to epoch-ns,
            # so e.g. mode-over-a-day-column finalizes as a real DATE
            # without a string pre-cast. Default stays the string cast.
            if self.params.get("typed"):
                return c.alias(name)
            return c.cast("string").alias(name)
        raise AssertionError(self.op)

    # ---- output schema / finalize --------------------------------------
    def output_fields(self) -> list[tuple[str, str]]:
        if self.op in ("hll", "theta"):
            return [(self.out, "double")]
        if self.op in ("kll", "tdigest"):
            qs = self.params.get("quantiles", [0.5])
            if len(qs) == 1:
                return [(self.out, "double")]
            return [(f"{self.out}_q{_qname(q)}", "double") for q in qs]
        if self.op == "cm":
            fin = self.params.get("finalize", "mode")
            if fin == "mode":
                # typed mode: caller declares the finalized key type
                # (must match the input column, e.g. 'date' for a
                # to_date-derived day column)
                if self.params.get("typed"):
                    out_type = self.params.get("out_type")
                    if out_type not in _TYPE_MAP:
                        raise ValueError(
                            f"SketchSpec(cm, typed=True, finalize='mode') "
                            f"needs params['out_type'] in "
                            f"{sorted(_TYPE_MAP)}; got {out_type!r}")
                    return [(self.out, out_type)]
                return [(self.out, "string")]
            if fin == "mode_count":
                return [(self.out, "long")]
            return [(self.out, "string")]  # topk_json
        if self.op == "bloom":
            return [(f"{self.out}_blob", "binary")]
        raise AssertionError(self.op)

    def finalize(self, sketch) -> list:
        if self.op in ("hll", "theta"):
            return [float(sketch.estimate())]
        if self.op in ("kll", "tdigest"):
            qs = self.params.get("quantiles", [0.5])
            return [float(sketch.quantile(q)) for q in qs]
        if self.op == "cm":
            fin = self.params.get("finalize", "mode")
            m = sketch.mode()
            if fin == "mode":
                if self.params.get("typed"):
                    return [None if m is None else m[0]]
                return [None if m is None else str(m[0])]
            if fin == "mode_count":
                return [None if m is None else int(m[1])]
            import json
            return [json.dumps([[str(v), int(c)] for v, c in
                                sketch.heavy_hitters(self.params.get("k_top", 10))])]
        if self.op == "bloom":
            return [sketch.serialize()]
        raise AssertionError(self.op)


def _qname(q: float) -> str:
    return f"{q:g}".replace(".", "_")


# params that only affect finalize(), not the accumulated sketch STATE —
# two specs differing only in these share one sketch (updates, blob,
# shuffle bytes, merges all paid once; finalize runs per spec).
_FINALIZE_ONLY_PARAMS = frozenset({"finalize", "out_type", "k_top",
                                   "quantiles"})


def _canon_specs(specs: list[SketchSpec]) -> tuple[list[SketchSpec], list[int]]:
    """(canonical specs, map original-index -> canonical-index): specs
    with identical (op, col, state params) collapse to one accumulator —
    e.g. cm mode + mode_count over the same column (the common twin
    pattern) updates and ships ONE CountMin instead of two."""
    keymap: dict = {}
    canon: list[SketchSpec] = []
    cmap: list[int] = []
    for s in specs:
        key = (s.op, s.col, tuple(sorted(
            (k, repr(v)) for k, v in s.params.items()
            if k not in _FINALIZE_ONLY_PARAMS)))
        j = keymap.get(key)
        if j is None:
            j = len(canon)
            keymap[key] = j
            canon.append(s)
        cmap.append(j)
    return canon, cmap


# ---------------------------------------------------------------- helpers
def _partial_schema(df: DataFrame, group_by: list[str], n_specs: int) -> T.StructType:
    fields = [df.schema[k] for k in group_by]
    fields.append(T.StructField("__rows", T.LongType()))
    for i in range(n_specs):
        fields.append(T.StructField(f"__blob_{i}", T.BinaryType()))
    return T.StructType(fields)


def _final_schema(df: DataFrame, group_by: list[str],
                  specs: list[SketchSpec], with_rows: bool) -> T.StructType:
    fields = [df.schema[k] for k in group_by]
    if with_rows:
        fields.append(T.StructField("rows", T.LongType()))
    for spec in specs:
        for name, typ in spec.output_fields():
            fields.append(T.StructField(name, _TYPE_MAP[typ]()))
    return T.StructType(fields)


# groups per emitted Arrow batch at both levels: even 1024 dense
# count-min blobs (~320 KB each) keep a binary column far below 2 GB
FLUSH_CHUNK = 1024

_TYPE_MAP = {"double": T.DoubleType, "long": T.LongType,
             "string": T.StringType, "binary": T.BinaryType,
             "date": T.DateType, "timestamp": T.TimestampType,
             "int": T.IntegerType}


# ------------------------------------------------------------- the engine
def sketch_agg(df: DataFrame,
               group_by: list[str],
               specs: list[SketchSpec],
               mode: str = "map",
               salt_partitions: int | str = 32,
               max_groups_per_partition: int = 100_000,
               include_rows: bool = False) -> DataFrame:
    """All sketches for all specs computed in ONE pass over the data
    (shared scan — the distributed form of tsv-summarize's shared value
    lists, tsv-summarize.d:2038-2105), then one merge shuffle on the keys.
    """
    group_by = list(group_by)
    canon, cmap = _canon_specs(specs)
    in_cols = [spec.input_expr(i) for i, spec in enumerate(canon)]
    in_names = [f"__in_{i}" for i in range(len(canon))]

    # Mixed calls are never split into per-spec legs joined back on the
    # keys: each leg's boundary, merge and join scale with |groups|,
    # which is unknowable at plan time (a per-cm split measured 2.2x
    # slower at 4 executors on a high-cardinality key).
    proj = df.select(*group_by, *in_cols)
    if mode == "salt":
        if salt_partitions == "auto":
            salt_partitions = choose_salt(df, group_by)
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in proj.columns]),
                      F.lit(salt_partitions))
        proj = proj.repartition(*[F.col(k) for k in group_by], salt)
    elif mode != "map":
        raise ValueError("mode must be 'map' or 'salt'")
    partials = _level1(proj, group_by, in_names, canon,
                       _partial_schema(df, group_by, len(canon)),
                       max_groups_per_partition)
    return _merge_partials(partials, group_by, specs,
                           include_rows=include_rows, canon_map=cmap)


def _level1(proj: DataFrame, group_by: list[str], in_names: list[str],
            specs: list[SketchSpec], partial_schema: T.StructType,
            max_groups: int, lineage_epoch: int | None = None) -> DataFrame:
    """Level-1 partials of ``proj`` (keys + input columns) through the
    Arrow-native kernel (plans/arrow_kernel.py), at any key count."""
    from tsv_utils_spark.plans.arrow_kernel import make_arrow_partial_fn

    return proj.mapInArrow(
        make_arrow_partial_fn(group_by, in_names, specs, partial_schema,
                              max_groups, lineage_epoch=lineage_epoch),
        schema=partial_schema)


def sketch_partials(df: DataFrame,
                    group_by: list[str],
                    specs: list[SketchSpec],
                    max_groups_per_partition: int = 100_000) -> DataFrame:
    """Like ``sketch_agg`` but STOPS at merged-per-group BLOBS:
    (keys..., __rows, __blob_0..N) with one row per group — a sketch
    TABLE. Level 2 is the same batched run merge as ``sketch_agg``'s, with
    ``finalize=False``: each group's partial blobs are merged into one
    blob per spec and re-serialized, at most ``FLUSH_CHUNK`` groups per
    output Arrow batch. Because every sketch merge is associative, these
    blobs can be re-aggregated to any coarser key subset later with
    ``sketch_rollup`` — no rescan of the base data. This is the
    materialized-rollup pattern: compute per-(day, repo) once, answer
    per-day / per-repo / global forever after from blobs.
    """
    group_by = list(group_by)
    if not group_by:
        raise ValueError("sketch_partials needs at least one group key "
                         "(use sketch_agg for global aggregation)")
    in_cols = [spec.input_expr(i) for i, spec in enumerate(specs)]
    in_names = [f"__in_{i}" for i in range(len(specs))]
    partials = _level1(df.select(*group_by, *in_cols), group_by, in_names,
                       specs, _partial_schema(df, group_by, len(specs)),
                       max_groups_per_partition)
    return _merge_partials(partials, group_by, specs, finalize=False)


def sketch_rollup(blobs: DataFrame,
                  group_by: list[str],
                  specs: list[SketchSpec],
                  include_rows: bool = False,
                  finalize: bool = True) -> DataFrame:
    """Re-aggregate a ``sketch_partials`` blob table to a COARSER key
    subset (``[]`` for one global row) through the same batched run merge
    as ``sketch_agg``'s level 2. Only the key, ``__rows`` and blob columns
    shuffle — the base data is never touched. ``finalize=True`` emits
    estimate columns (plus ``rows`` with ``include_rows``);
    ``finalize=False`` keeps one merged blob per spec, a blob table for a
    further rollup level. Associativity (pytest-permuted) makes the
    answer identical to a direct ``sketch_agg`` at the coarser keys, up
    to the sketch's own error bound (exact in the HLL-sparse /
    CM-low-collision regimes the oracled queries run in).
    """
    group_by = list(group_by)
    missing = [k for k in group_by if k not in blobs.columns]
    if missing:
        raise ValueError(f"rollup keys {missing} not in blob table "
                         f"columns {blobs.columns}")
    return _merge_partials(blobs, group_by, specs, finalize=finalize,
                           include_rows=include_rows)


def choose_salt(df: DataFrame, group_by: list[str],
                sample_fraction: float = 0.002, seed: int = 7,
                headroom: float = 2.0) -> int:
    """Pick the salt fan-out S from a frequency pre-pass (SURVEY §7: "S
    chosen from a count sketch of key frequencies").

    A row-level Bernoulli sample of the KEY COLUMNS only (pure-JVM scan,
    map-side-combined count — itself skew-immune) estimates the hottest
    key's share p of all rows. That key occupies ~p of the shuffle, so it
    needs ~p * shuffle_partitions reducers to be no worse than fair;
    ``headroom`` doubles that. Uniform data yields S=1 (salting off — no
    point paying the extra shuffle)."""
    spark = df.sparkSession
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    samp = (df.select(*group_by)
              .where(F.rand(seed) < sample_fraction)
              .groupBy(*group_by).count()
              .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
              .first())
    if not samp or not samp["tot"]:
        return 1
    share = samp["mx"] / samp["tot"]
    import math

    return max(1, min(sp, math.ceil(share * sp * headroom)))


# ------------------------------------------------------------ level 2
def _merge_partials(partials: DataFrame, group_by: list[str],
                    specs: list[SketchSpec], finalize: bool = True,
                    include_rows: bool = False,
                    canon_map: list[int] | None = None) -> DataFrame:
    """Level 2: one row per group of the partial rows (keys..., __rows,
    __blob_0..N) — estimate columns (plus ``rows`` with ``include_rows``),
    or with ``finalize=False`` the merged blob table of the same shape.

    The rows are hash-partitioned on the keys and sorted within
    partitions, so each group is one run of consecutive rows; one
    mapInArrow (``_run_merger``) merges the runs of each Arrow batch
    together, one ``SketchSpec.merge_blobs`` call per canonical spec,
    carrying the batch's last run, as one merged partial row, into the
    next batch, and emits FLUSH_CHUNK groups per RecordBatch. Every
    caller — ``sketch_agg``, ``sketch_partials``, ``sketch_rollup``, the
    checkpoint merge and the streaming state merge — takes this one path.
    Float keys are first normalised (-0.0 -> 0.0, as Spark's
    NormalizeFloatingNumbers does for a groupBy) so the two zeros hash,
    sort and compare as one key. No keys: one run.

    With ``canon_map`` (from _canon_specs) partial rows carry one blob per
    CANONICAL spec; each is merged once and state-sharing specs finalize
    from the shared merged sketch (finalizers are read-only).
    """
    group_by = list(group_by)
    cmap = canon_map if canon_map is not None else list(range(len(specs)))
    blob_specs = [specs[cmap.index(j)] for j in sorted(set(cmap))]
    out_schema = (_final_schema(partials, group_by, specs, include_rows)
                  if finalize
                  else _partial_schema(partials, group_by, len(blob_specs)))
    key_cols = []
    for k in group_by:
        t = partials.schema[k].dataType
        c = F.col(k)
        if isinstance(t, (T.FloatType, T.DoubleType)):
            c = F.when(c == 0, F.lit(0).cast(t)).otherwise(c).alias(k)
        key_cols.append(c)
    runs = partials.select(*key_cols, "__rows",
                           *[f"__blob_{j}" for j in range(len(blob_specs))])
    if group_by:
        runs = runs.repartition(*group_by).sortWithinPartitions(*group_by)
    else:
        runs = runs.repartition(1)
    return runs.mapInArrow(
        _run_merger(len(group_by), blob_specs, specs, cmap, out_schema,
                    include_rows or not finalize, finalize),
        schema=out_schema)


def _run_merger(n_keys: int, blob_specs: list[SketchSpec],
                specs: list[SketchSpec], cmap: list[int],
                out_schema: T.StructType, with_rows: bool, finalize: bool):
    """The mapInArrow body of ``_merge_partials``: input batches are
    (keys..., __rows, __blob_0..N) sorted by the keys, each at most
    spark.sql.execution.arrow.maxBytesPerBatch (64 MB by default).

    Each batch is merged whole: its runs' blobs go to one
    ``SketchSpec.merge_blobs`` call per canonical spec, which finalizes
    (or re-serializes) every run of the batch together. The batch's last
    run may go on in the next batch, so it is merged into one partial
    row (its merged blobs, its summed ``__rows``) and put in front of
    the next batch; merges are associative and a blob round trip keeps
    a sketch's state, so every group ends as the merge of its blobs in
    run order."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(out_schema)
    # per canonical spec: the specs finalizing from its sketch; per spec:
    # (its canonical spec, its first column in that merge's output)
    finals: list[list[SketchSpec]] = [[] for _ in blob_specs]
    where = []
    for s, j in zip(specs, cmap):
        where.append((j, sum(len(f.output_fields()) for f in finals[j])))
        finals[j].append(s)

    def merge(batch, starts, fin):
        """Keys, summed ``__rows`` and value columns of the runs of
        ``batch`` starting at ``starts``."""
        bounds = np.append(starts, batch.num_rows)
        take = pa.array(starts)
        keys = [batch.column(j).take(take) for j in range(n_keys)]
        rows = np.add.reduceat(batch.column(n_keys).to_numpy(
            zero_copy_only=False), starts)
        merged = [spec.merge_blobs(batch.column(n_keys + 1 + j).to_pylist(),
                                   bounds, finals[j] if fin else None)
                  for j, spec in enumerate(blob_specs)]
        if not fin:
            return keys, rows, [m[0] for m in merged]
        return keys, rows, [c for (j, c0), s in zip(where, specs)
                            for c in merged[j][c0:c0 + len(s.output_fields())]]

    def output(keys, rows, vals):
        # from_pandas: a NaN estimate (e.g. a quantile of an all-null
        # group) is emitted as null
        arrays = keys + ([rows] if with_rows else []) + vals
        # keys keep their input type, which can differ from the schema's
        # (a timestamp arrives in the session time zone)
        return pa.RecordBatch.from_arrays(
            [(a if a.type == f.type else a.cast(f.type))
             if isinstance(a, pa.Array)
             else pa.array(a, type=f.type, from_pandas=True)
             for a, f in zip(arrays, pa_schema)], schema=pa_schema)

    def merge_fn(batches):
        carry = None  # the last run so far, as one partial row
        done: list = []  # output batches not yet emitted
        pending = 0  # their rows

        def drain(final):
            nonlocal pending
            if pending < FLUSH_CHUNK and not (final and pending):
                return
            t = pa.Table.from_batches(done, schema=pa_schema) \
                .combine_chunks()
            full = pending if final else pending - pending % FLUSH_CHUNK
            yield from t.slice(0, full).to_batches(max_chunksize=FLUSH_CHUNK)
            done[:] = [b for b in t.slice(full).to_batches() if b.num_rows]
            pending -= full

        for batch in batches:
            if batch.num_rows == 0:
                continue
            if carry is not None:
                batch = pa.Table.from_batches([carry, batch]) \
                    .combine_chunks().to_batches()[0]
            starts = _run_starts([batch.column(j) for j in range(n_keys)]) \
                if n_keys else np.zeros(1, np.int64)
            if starts.size > 1:  # every run but the last is whole
                done.append(output(*merge(batch.slice(0, int(starts[-1])),
                                          starts[:-1], finalize)))
                pending += starts.size - 1
            keys, rows, blobs = merge(batch.slice(int(starts[-1])),
                                      np.zeros(1, np.int64), False)
            carry = pa.RecordBatch.from_arrays(
                keys + [pa.array(rows, batch.schema.field(n_keys).type)]
                + [pa.array(b, batch.schema.field(n_keys + 1 + j).type)
                   for j, b in enumerate(blobs)], schema=batch.schema)
            yield from drain(False)
        if carry is not None:
            done.append(output(*merge(carry, np.zeros(1, np.int64),
                                      finalize)))
            pending += 1
        yield from drain(True)

    return merge_fn


def _run_starts(keys: list) -> np.ndarray:
    """Row indices where a new key tuple starts in key-sorted Arrow
    columns (row 0 always does). Keys compare by dictionary code, so NaN
    matches NaN and null matches null, as in a groupBy."""
    import pyarrow.compute as pc

    new = np.zeros(len(keys[0]), dtype=bool)
    new[0] = True
    for col in keys:
        codes = pc.fill_null(pc.dictionary_encode(col).indices, -1) \
            .to_numpy(zero_copy_only=False)
        new[1:] |= codes[1:] != codes[:-1]
    return np.flatnonzero(new)
