"""Level-2 batched run merge: groups match a groupBy on awkward keys,
runs that straddle Arrow batches merge whole, global and empty inputs
keep their row counts, and output batches stay bounded. The columnar
merge equals the per-group object merge (``tools/bench_level2.py``'s
``reference_merge``) for every op, on both sides of each gate, and keeps
the object merge's safety checks."""

from __future__ import annotations

import json
import math
import os
import sys
import types

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsv_utils_spark.plans import (
    SketchSpec,
    sketch_agg,
    sketch_partials,
    sketch_rollup,
)
from tsv_utils_spark.plans.agg import (
    FLUSH_CHUNK,
    _canon_specs,
    _final_schema,
    _partial_schema,
    _run_merger,
)
from tsv_utils_spark.sketches.countmin import CountMin, _sparse_blob
from tsv_utils_spark.sketches.hashing import splitmix64
from tsv_utils_spark.sketches.hll import HyperLogLog
from tsv_utils_spark.sketches.kll import KLL
from tsv_utils_spark.sketches.theta import ThetaKMV

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools")

SPECS = [SketchSpec("hll", "v", "uc"),
         SketchSpec("cm", "v", "m", {"finalize": "mode"}),
         SketchSpec("cm", "v", "mc", {"finalize": "mode_count"})]


def _k(v):
    """Hashable key that tells NaN, -0.0 and 0.0 apart."""
    return repr(v) if isinstance(v, float) else v


def _exact(df, keys):
    """{key tuple: (rows, distinct v, top count of v)} from Spark."""
    tops = df.groupBy(*keys, "v").count().groupBy(*keys) \
        .agg(F.max("count").alias("mc"))
    agg = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("rows"),
                                F.countDistinct("v").alias("uc"))
    rows = agg.join(tops, [agg[k].eqNullSafe(tops[k]) for k in keys]) \
        .select(*[agg[k] for k in keys], "rows", "uc", "mc").collect()
    return {tuple(_k(r[k]) for k in keys): (r["rows"], r["uc"], r["mc"])
            for r in rows}


def _answers(out, keys):
    return {tuple(_k(r[k]) for k in keys): (r["rows"], int(r["uc"]), r["mc"])
            for r in out.collect()}


@pytest.fixture
def tiny_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, old)


class TestKeySemantics:
    @pytest.mark.parametrize("ktype", ["double", "float"])
    def test_float_keys_group_like_groupby(self, spark, ktype):
        keys = [float("nan"), -0.0, 0.0, None, 1.0]
        rows = [(keys[i % 5], f"v{i % 7}") for i in range(300)]
        df = spark.createDataFrame(rows, f"k {ktype}, v string") \
            .repartition(6)
        want = _exact(df, ["k"])
        # NaN, one zero (the two zeros merged), null, 1.0
        assert sorted(map(str, want)) == sorted(
            map(str, [("nan",), ("0.0",), (None,), ("1.0",)]))
        assert want[("0.0",)][0] == 120
        got = _answers(sketch_agg(df, ["k"], SPECS, include_rows=True), ["k"])
        assert got == want
        rolled = sketch_rollup(sketch_partials(df, ["k"], SPECS), ["k"],
                               SPECS, include_rows=True)
        assert _answers(rolled, ["k"]) == want

    def test_two_keys_with_nulls(self, spark):
        gs = ["a", None, "b"]
        ks = [1.0, None, -0.0, 0.0, float("nan")]
        rows = [(gs[i % 3], ks[i % 5], f"v{i % 4}") for i in range(450)]
        df = spark.createDataFrame(rows, "g string, k double, v string") \
            .repartition(5)
        want = _exact(df, ["g", "k"])
        assert len(want) == 12  # 3 g values x 4 k values (zeros merged)
        got = _answers(sketch_agg(df, ["g", "k"], SPECS, include_rows=True),
                       ["g", "k"])
        assert got == want


class TestRunsAndBatches:
    def _df(self, spark):
        rows = [(f"g{i % 5}", f"v{i % 13}", float(i)) for i in range(400)]
        return spark.createDataFrame(rows, "g string, v string, x double") \
            .repartition(8)

    def test_runs_straddle_arrow_batches(self, spark, tiny_batches):
        df = self._df(spark)
        specs = SPECS + [SketchSpec("kll", "x", "med")]
        tiny = sorted(map(tuple, sketch_agg(df, ["g"], specs,
                                            include_rows=True).collect()))
        assert _answers(sketch_agg(df, ["g"], SPECS, include_rows=True),
                        ["g"]) == _exact(df, ["g"])
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "65536")
        wide = sorted(map(tuple, sketch_agg(df, ["g"], specs,
                                            include_rows=True).collect()))
        assert tiny == wide

    def test_global_and_empty_inputs(self, spark, tiny_batches):
        df = self._df(spark)
        (row,) = sketch_agg(df, [], SPECS, include_rows=True).collect()
        assert (row["rows"], int(row["uc"]), row["mc"]) == (400, 13, 31)
        (rolled,) = sketch_rollup(sketch_partials(df, ["g"], SPECS), [],
                                  SPECS, include_rows=True).collect()
        assert (rolled["rows"], int(rolled["uc"])) == (400, 13)
        empty = df.limit(0)
        assert sketch_agg(empty, [], SPECS).count() == 0
        assert sketch_agg(empty, ["g"], SPECS).count() == 0
        assert sketch_partials(empty, ["g"], SPECS).count() == 0

    def test_many_groups_in_one_partition(self, spark):
        n = 2 * FLUSH_CHUNK + 5
        df = spark.range(0, 2 * n).select(
            (F.col("id") % n).alias("g"),
            (F.col("id") % 7).cast("string").alias("v")).repartition(3)
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        try:
            blobs = sketch_partials(df, ["g"], SPECS[:1])
            rows = blobs.collect()
            out = sketch_rollup(blobs, ["g"], SPECS[:1],
                                include_rows=True).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert sorted(r["g"] for r in rows) == list(range(n))
        assert {r["__rows"] for r in rows} == {2}
        assert len(out) == n and {r["rows"] for r in out} == {2}


def _hll_blob(values) -> bytes:
    h = HyperLogLog(p=12)
    h.update_hashes(np.asarray(values, dtype=np.uint64))
    return h.serialize()


class TestRunMerger:
    """The mapInArrow body on hand-built batches, without Spark."""

    def _merge(self, key_type, batches, finalize):
        spec = SketchSpec("hll", "v", "uc")
        keys = [T.StructField("k", key_type)]
        if finalize:
            schema = T.StructType(keys + [T.StructField("uc", T.DoubleType())])
        else:
            schema = T.StructType(keys + [
                T.StructField("__rows", T.LongType()),
                T.StructField("__blob_0", T.BinaryType())])
        fn = _run_merger(1, [spec], [spec], [0], schema, not finalize,
                         finalize)
        return list(fn(iter(batches)))

    def test_batches_bounded_and_runs_carried(self):
        n = 2 * FLUSH_CHUNK + 7
        ks, rows, blobs = [], [], []
        for g in range(n):  # two partials per group, sorted by key
            for part in range(2):
                ks.append(f"k{g:05d}")
                rows.append(1)
                blobs.append(_hll_blob([g * 4 + part + 1]))
        arrays = [pa.array(ks), pa.array(rows, pa.int64()),
                  pa.array(blobs, pa.binary())]
        # 3-row batches: every other group straddles a batch boundary
        whole = pa.RecordBatch.from_arrays(arrays, ["k", "__rows", "__blob_0"])
        batches = [whole.slice(i, 3) for i in range(0, whole.num_rows, 3)]
        out = self._merge(T.StringType(), batches, finalize=False)
        assert max(b.num_rows for b in out) == FLUSH_CHUNK
        merged = pa.Table.from_batches(out)
        assert merged.column("k").to_pylist() == sorted(set(ks))
        assert set(merged.column("__rows").to_pylist()) == {2}
        for blob in merged.column("__blob_0").to_pylist()[:50]:
            assert HyperLogLog.deserialize(blob).estimate() == 2

    def test_nan_and_null_runs_across_batches(self):
        ks = [float("nan")] * 3 + [None] * 2 + [1.0]
        blobs = [_hll_blob([i + 1]) for i in range(len(ks))]
        whole = pa.RecordBatch.from_arrays(
            [pa.array(ks, pa.float64()), pa.array([1] * 6, pa.int64()),
             pa.array(blobs, pa.binary())], ["k", "__rows", "__blob_0"])
        batches = [whole.slice(0, 2), whole.slice(2, 2), whole.slice(4, 2)]
        out = pa.Table.from_batches(
            self._merge(T.DoubleType(), batches, finalize=True))
        assert [_k(v) for v in out.column("k").to_pylist()] == \
            ["nan", None, "1.0"]
        assert out.column("uc").to_pylist() == [3.0, 2.0, 1.0]

    def test_dense_cm_chunk_far_below_arrow_binary_limit(self):
        cm = SketchSpec("cm", "v", "m").make()
        cm.update(np.arange(40_000).astype(str).astype(object))
        blob = cm.serialize()
        assert blob[0] == 0  # dense table encoding
        assert isinstance(CountMin.deserialize(blob), CountMin)
        assert FLUSH_CHUNK * len(blob) < (2**31 - 1) // 4


# ------------------------------------------- columnar merge vs reference
def _bench():
    if _TOOLS not in sys.path:
        sys.path.insert(0, _TOOLS)
    import bench_level2

    return bench_level2


def _batches(groups, n_blobs, per_batch=None):
    """Key-sorted partial batches: ``groups`` is a list of runs, each a
    list of (``__rows``, blob per canonical spec) rows; group g's key is
    ``g{g:03d}``. ``per_batch`` rows per batch (default: one batch)."""
    ks, rows, blobs = [], [], [[] for _ in range(n_blobs)]
    for g, run in enumerate(groups):
        for r, bs in run:
            ks.append(f"g{g:03d}")
            rows.append(r)
            for j, b in enumerate(bs):
                blobs[j].append(b)
    whole = pa.RecordBatch.from_arrays(
        [pa.array(ks), pa.array(rows, pa.int64())]
        + [pa.array(b, pa.binary()) for b in blobs],
        ["k", "__rows"] + [f"__blob_{j}" for j in range(n_blobs)])
    step = per_batch or max(whole.num_rows, 1)
    return [whole.slice(i, step) for i in range(0, whole.num_rows, step)]


def _same_as_reference(groups, specs, finalize=True, include_rows=False,
                       per_batch=None, calls=None):
    """The merger's rows over ``groups`` (see ``_batches``; blobs per
    CANONICAL spec) equal ``reference_merge``'s; returns them. ``calls``
    (the ``deser_calls`` fixture) keeps the merger's calls only."""
    canon, cmap = _canon_specs(specs)
    keys = types.SimpleNamespace(
        schema=T.StructType([T.StructField("k", T.StringType())]))
    with_rows = include_rows or not finalize
    schema = _final_schema(keys, ["k"], specs, include_rows) if finalize \
        else _partial_schema(keys, ["k"], len(canon))
    batches = _batches(groups, len(canon), per_batch)
    ref = _bench()
    got = ref.rows_of(_run_merger(1, canon, specs, cmap, schema, with_rows,
                                  finalize)(iter(batches)))
    kept = len(calls) if calls is not None else 0
    want = ref.reference_merge(batches, 1, canon, specs, cmap, schema,
                               with_rows, finalize)
    if calls is not None:
        del calls[kept:]
    assert ref.same_rows(got, want)
    return got


@pytest.fixture
def deser_calls(monkeypatch):
    """Counts ``SketchSpec.deserialize`` calls: the blobs merged through
    the sketch object instead of the columnar merge."""
    calls = []
    real = SketchSpec.deserialize

    def counted(self, blob):
        calls.append(self.op)
        return real(self, blob)

    monkeypatch.setattr(SketchSpec, "deserialize", counted)
    return calls


def _hashes(lo, hi):
    """Distinct nonzero 64-bit hashes of the integers lo..hi-1."""
    return splitmix64(np.arange(lo, hi, dtype=np.uint64) + np.uint64(1))


def _blob(spec, xs):
    """One level-1 partial of ``spec`` over the integers ``xs``."""
    sk = spec.make()
    xs = np.asarray(xs, dtype=np.int64)
    if spec.op in ("hll", "theta"):
        sk.update_hashes(splitmix64(xs.astype(np.uint64) + np.uint64(1)))
    elif spec.op in ("kll", "tdigest"):
        sk.update(xs * 0.5)
    else:
        sk.update(np.array([f"v{x}" for x in xs.tolist()], dtype=object))
    return sk.serialize()


def _run(spec, parts):
    """One group's run: one partial row per value list of ``parts``."""
    return [(1, [_blob(spec, xs)]) for xs in parts]


CM = {"width": 16, "depth": 2, "max_candidates": 6}
PROP_SPECS = [
    SketchSpec("hll", "v", "h", {"sparse_limit": 5}),
    SketchSpec("hll", "v", "h2"),
    SketchSpec("theta", "v", "t", {"k": 4}),
    SketchSpec("kll", "x", "q", {"k": 8, "quantiles": [0.0, 0.3, 0.5, 1]}),
    SketchSpec("tdigest", "x", "td", {"delta": 10}),
    SketchSpec("cm", "s", "m", CM),
    SketchSpec("cm", "s", "mc", {**CM, "finalize": "mode_count"}),
    SketchSpec("cm", "s", "tk", {**CM, "finalize": "topk_json",
                                 "k_top": 3}),
    SketchSpec("bloom", "s", "b", {"m": 64, "k": 2}),
]


def test_property_every_op_matches_object_merge():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    canon, _ = _canon_specs(PROP_SPECS)
    assert len(canon) == 7  # the three cm specs share one sketch
    part = st.lists(st.integers(0, 24), max_size=14)

    @settings(max_examples=60, deadline=None, derandomize=True)
    @given(groups=st.lists(st.lists(st.tuples(st.integers(1, 3), part),
                                    min_size=1, max_size=4),
                           min_size=1, max_size=6),
           per_batch=st.integers(1, 5), finalize=st.booleans(),
           include_rows=st.booleans())
    def check(groups, per_batch, finalize, include_rows):
        runs = [[(r, [_blob(s, xs) for s in canon]) for r, xs in run]
                for run in groups]
        _same_as_reference(runs, PROP_SPECS, finalize, include_rows,
                           per_batch)

    check()


class TestColumnarMergeGates:
    """Each gate between the columnar merge and the object merge, on both
    sides: the rows equal the reference's (estimates and blob bytes), and
    only groups past the gate deserialize their blobs."""

    @pytest.mark.parametrize("params,limit", [({}, 2048),
                                              ({"sparse_limit": 5}, 5)])
    @pytest.mark.parametrize("d", [0, 1])
    @pytest.mark.parametrize("finalize", [True, False])
    def test_hll_union_at_sparse_limit(self, deser_calls, params, limit, d,
                                       finalize):
        spec = SketchSpec("hll", "v", "uc", params)

        def blob(lo, hi):
            h = HyperLogLog(p=12, sparse_limit=params.get("sparse_limit"))
            h.update_hashes(_hashes(lo, hi))
            return h.serialize()

        half = limit // 2 + 1  # two overlapping sparse halves
        run = [(1, [blob(0, half)]), (1, [blob(half - 1, limit + d)])]
        # a small group last: it is the run carried to the end
        rows = _same_as_reference([run, [(1, [blob(0, 1)])]], [spec],
                                  finalize, calls=deser_calls)
        if finalize and not d:
            assert rows[0][1] == limit
        assert deser_calls == ([] if d == 0 else ["hll", "hll"])

    def test_hll_dense_blob_mid_run(self, deser_calls):
        spec = SketchSpec("hll", "v", "uc", {"sparse_limit": 5})
        run = _run(spec, [[1, 2], list(range(40)), [3]])
        assert HyperLogLog.deserialize(run[1][1][0])._regs is not None
        small = _run(spec, [[1], [2]])
        for finalize in (True, False):
            _same_as_reference([run, small], [spec], finalize,
                               calls=deser_calls)
        assert deser_calls == ["hll"] * 6

    @pytest.mark.parametrize("d", [0, 1])
    @pytest.mark.parametrize("finalize", [True, False])
    def test_kll_total_at_k(self, deser_calls, d, finalize):
        spec = SketchSpec("kll", "x", "q", {"k": 8, "quantiles": [0.25, 0.5]})
        run = _run(spec, [range(5), range(10, 13 + d)])
        _same_as_reference([run, _run(spec, [[1]])], [spec], finalize,
                           calls=deser_calls)
        assert deser_calls == ([] if d == 0 else ["kll", "kll"])

    def test_kll_multi_level_blob(self, deser_calls):
        spec = SketchSpec("kll", "x", "q", {"k": 8})
        run = _run(spec, [[1], range(30)])
        assert len(KLL.deserialize(run[1][1][0]).levels) > 1
        _same_as_reference([run, _run(spec, [[1], [2]])], [spec],
                           calls=deser_calls)
        assert deser_calls == ["kll", "kll"]

    @pytest.mark.parametrize("d", [0, 1])
    @pytest.mark.parametrize("finalize", [True, False])
    def test_cm_candidates_at_max(self, deser_calls, d, finalize):
        specs = [SketchSpec("cm", "s", "m", CM),
                 SketchSpec("cm", "s", "tk", {**CM, "finalize": "topk_json",
                                              "k_top": 0})]
        # 6 + d values in two overlapping partials, each blob sparse
        run = _run(specs[0], [[0, 1, 1, 2, 3], list(range(3, 6 + d)) + [3]])
        assert all(blob[0][0] == 1 for _, blob in run)
        _same_as_reference([run, _run(specs[0], [[1]])], specs, finalize,
                           calls=deser_calls)
        assert deser_calls == ([] if d == 0 else ["cm", "cm"])

    def test_cm_dense_blob(self, deser_calls):
        spec = SketchSpec("cm", "s", "m", CM)
        run = _run(spec, [[1, 1], range(40), [2]])
        assert run[1][1][0][0] == 0  # dense table encoding
        for finalize in (True, False):
            _same_as_reference([run, _run(spec, [[1], [2]])], [spec],
                               finalize, calls=deser_calls)
        assert deser_calls == ["cm"] * 6

    def test_thousand_groups_deserialize_nothing(self, deser_calls):
        specs = [SketchSpec("hll", "v", "h"), SketchSpec("theta", "v", "t"),
                 SketchSpec("kll", "x", "q"),
                 SketchSpec("cm", "s", "m"),
                 SketchSpec("cm", "s", "tk", {"finalize": "topk_json"})]
        canon, _ = _canon_specs(specs)
        groups = [[(1, [_blob(s, [g % 7, g % 5 + p]) for s in canon])
                   for p in range(2)] for g in range(1000)]
        for finalize in (True, False):
            rows = _same_as_reference(groups, specs, finalize,
                                      per_batch=700, calls=deser_calls)
            assert len(rows) == 1000
        assert deser_calls == []


class TestCandidateKeys:
    """Count-min candidates merge by Python equality, keep their
    first-seen key object, and tie on (estimate, ``str``) by first sight,
    as the object merge does."""

    def _blob(self, *values):
        cm = SketchSpec("cm", "s", "m").make()
        vals = np.empty(len(values), dtype=object)
        vals[:] = values
        cm.update(vals, counts=np.ones(len(values), dtype=np.int64))
        return cm.serialize()

    @pytest.mark.parametrize("first", [0, 1])
    def test_equal_str_ties_break_on_first_sight(self, first):
        spec = SketchSpec("cm", "s", "m", {"typed": True,
                                           "out_type": "long"})
        blobs = [self._blob(1), self._blob("1")][::1 - 2 * first]
        (got,) = spec.merge_blobs(blobs, np.array([0, 2]), [spec])
        sk = spec.deserialize(blobs[0]).merge(spec.deserialize(blobs[1]))
        assert got == spec.finalize(sk)
        assert type(got[0]) is (str if first else int)

    @pytest.mark.parametrize("values", [(-0.0, 0.0), (0.0, -0.0),
                                        (True, 1), (1, 1.0)])
    def test_python_equality_keeps_first_key(self, values):
        specs = [SketchSpec("cm", "s", "tk", {"finalize": "topk_json"})]
        run = [(1, [self._blob(v)]) for v in values]
        for finalize in (True, False):
            rows = _same_as_reference([run], specs, finalize)
        (blob,) = [r[2] for r in rows]
        assert list(CountMin.deserialize(blob).candidates) == [values[0]]
        assert repr(list(CountMin.deserialize(blob).candidates)[0]) == \
            repr(values[0])


    def test_bytes_next_to_numbers_merge_columnar(self, deser_calls):
        """Candidates mixing non-ASCII bytes with numbers hash as each
        does alone, so the group merges columnar, as the object merge
        does."""
        specs = [SketchSpec("cm", "s", "tk", {"finalize": "topk_json"})]
        run = [(1, [self._blob(b"\xc3\xa9")]), (1, [self._blob(7)]),
               (1, [self._blob(b"\xc3\xa9", 2.5)])]
        for finalize in (True, False):
            _same_as_reference([run], specs, finalize, calls=deser_calls)
        assert deser_calls == []


class TestMergeSafetyChecks:
    """The columnar merge refuses what the object merge refuses."""

    def _merge(self, spec, blobs):
        return _same_as_reference([[(1, [b]) for b in blobs]], [spec])

    def test_hll_mixed_precision(self):
        a, b = HyperLogLog(p=12), HyperLogLog(p=14)
        a.update_hashes(_hashes(0, 3))
        b.update_hashes(_hashes(0, 3))
        with pytest.raises(ValueError, match="precision"):
            self._merge(SketchSpec("hll", "v", "h"),
                        [a.serialize(), b.serialize()])

    def test_cm_mixed_shapes(self):
        spec = SketchSpec("cm", "s", "m", CM)
        other = SketchSpec("cm", "s", "m", {**CM, "width": 32})
        with pytest.raises(ValueError, match="shape"):
            self._merge(spec, [_blob(spec, [1]), _blob(other, [1])])

    def test_theta_mixed_k(self):
        a, b = ThetaKMV(k=4), ThetaKMV(k=8)
        a.update_hashes(_hashes(0, 3))
        b.update_hashes(_hashes(0, 3))
        with pytest.raises(ValueError, match="k mismatch"):
            self._merge(SketchSpec("theta", "v", "t"),
                        [a.serialize(), b.serialize()])

    @pytest.mark.parametrize("cells", [[7, 3], [3, 3], [3, 1 << 20]])
    def test_cm_cells_not_ascending(self, cells):
        spec = SketchSpec("cm", "s", "m", CM)
        bad = _sparse_blob(2, 16, 2, 6, b'[["s", "v1", 2]]', 2,
                           np.array(cells, np.uint32).tobytes(),
                           np.array([2, 2], np.int64).tobytes())
        for blobs in ([bad], [_blob(spec, [1]), bad]):
            with pytest.raises(ValueError, match="corrupt count-min blob"):
                self._merge(spec, blobs)


class TestNaNCandidate:
    """A floating NaN is one count-min candidate at both levels."""

    def _nan_blob(self):
        cm = CountMin(depth=5, width=1 << 13)
        vals = np.empty(2, dtype=object)
        vals[:] = [math.nan, 1.0]
        cm.update(vals, counts=np.array([1, 1]))
        return cm.serialize()

    def test_deserialized_copies_merge_into_one_nan(self):
        blob = self._nan_blob()
        a = CountMin.deserialize(blob).merge(CountMin.deserialize(blob))
        assert len(a.candidates) == 2
        hh = [(str(v), c) for v, c in a.heavy_hitters()]
        assert sorted(hh) == [("1.0", 2), ("nan", 2)]

    def test_columnar_merge_one_nan(self, deser_calls):
        spec = SketchSpec("cm", "v", "tk", {"finalize": "topk_json",
                                            "typed": True})
        blob = self._nan_blob()
        (row,) = _same_as_reference([[(1, [blob])] * 3], [spec],
                                    calls=deser_calls)
        assert json.loads(row[1]) == [["1.0", 3], ["nan", 3]]
        assert deser_calls == []

    def test_three_batches_through_sketch_agg(self, spark, tiny_batches):
        df = spark.createDataFrame(
            [("a", math.nan), ("a", 1.0)] * 3, "g string, v double") \
            .repartition(1)
        spec = SketchSpec("cm", "v", "tk", {"finalize": "topk_json",
                                            "typed": True})
        (row,) = sketch_agg(df, ["g"], [spec]).collect()
        assert json.loads(row["tk"]) == [["1.0", 3], ["nan", 3]]
