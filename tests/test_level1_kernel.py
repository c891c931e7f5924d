"""The one level-1 kernel (plans/arrow_kernel.py) at every key count and
key type, on every path that feeds it: ``sketch_agg`` and the streaming
processor. Answers are checked against Spark's own ``groupBy``."""

from __future__ import annotations

import datetime
import decimal
import math
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsv_utils_spark.plans import SketchSpec, sketch_agg

SPECS = [SketchSpec("hll", "v", "uc"),
         SketchSpec("cm", "s", "m", {"finalize": "mode"})]
GATE_ENV = "SPARK_TSV_QUANTILE_SELECTION_MIN_BYTES"


def _key(x):
    """A comparable group key: NaN and null are two groups, and -0.0 is
    0.0 (as in a groupBy)."""
    if x is None:
        return "null"
    if isinstance(x, float):
        return "nan" if math.isnan(x) else x + 0.0
    return x


def _exact(df, key):
    """{key: (rows, distinct v, mode of s)} from groupBy; mode ties
    break on the smaller value, as CountMin.mode does."""
    stats = {_key(r[key]): (r["rows"], r["uc"]) for r in
             df.groupBy(key).agg(F.count(F.lit(1)).alias("rows"),
                                 F.countDistinct("v").alias("uc"))
               .collect()}
    modes: dict = {}
    for r in df.groupBy(key, "s").count().collect():
        k = _key(r[key])
        best = modes.get(k)
        if best is None or (-r["count"], r["s"]) < (-best[1], best[0]):
            modes[k] = (r["s"], r["count"])
    return {k: (rows, uc, modes[k][0]) for k, (rows, uc) in stats.items()}


@pytest.fixture(scope="module")
def float_keyed(spark):
    """A double key holding null, NaN, -0.0, 0.0 and 1.0 (-0.0 and 0.0
    are one group), spread over three partitions."""
    from tsv_utils_spark.plans.quantiles import local_table

    nan = float("nan")
    rows = [(None, 1, "p"), (None, 2, "p"), (None, 3, "q"),
            (nan, 4, "r"), (nan, 4, "r"), (nan, 5, "a"),
            (-0.0, 5, "t"), (-0.0, 6, "u"), (0.0, 7, "u"),
            (1.0, 8, "w")]
    schema = T.StructType([T.StructField("x", T.DoubleType()),
                           T.StructField("v", T.LongType()),
                           T.StructField("s", T.StringType())])
    return local_table(spark, rows, schema).repartition(3)


def _check(rows, want, with_rows=True):
    got = {}
    for r in rows:
        k = _key(r["x"])
        assert k not in got, f"group {k!r} returned twice"
        got[k] = ((r["rows"],) if with_rows else ()) + (round(r["uc"]),
                                                         r["m"])
    assert got == {k: (v if with_rows else v[1:]) for k, v in want.items()}


class TestNullAndNanKeys:
    def test_four_key_sketch_agg(self, float_keyed):
        df = float_keyed.select("*", F.lit(1).alias("a"),
                                F.lit("z").alias("b"),
                                F.lit(2.5).alias("c"))
        out = sketch_agg(df, ["x", "a", "b", "c"], SPECS,
                         include_rows=True).collect()
        _check(out, _exact(float_keyed, "x"))

    @pytest.mark.parametrize("gate", ["on", "off"])
    def test_weighted_count_min_path(self, monkeypatch, float_keyed, gate):
        """Count-min without ``rows``, with and without an hll spec
        beside it, with the large-input size gate forced on and off.
        ``sketch_agg`` once took a weighted count-min path when the gate
        was on; it now has one path, so both settings give the exact
        answer."""
        monkeypatch.setenv(GATE_ENV, "0" if gate == "on" else str(1 << 63))
        out = sketch_agg(float_keyed, ["x"], SPECS).collect()
        cm_only = sketch_agg(float_keyed, ["x"], SPECS[1:]).collect()
        want = _exact(float_keyed, "x")
        _check(out, want, with_rows=False)
        assert {_key(r["x"]): r["m"] for r in cm_only} == \
            {k: m for k, (_, _, m) in want.items()}

    def test_streaming_processor(self, spark, float_keyed, tmp_path):
        from tsv_utils_spark.streaming.sketch_stream import make_processor

        out_dir = str(tmp_path / "est")
        process = make_processor(float_keyed, ["x"], SPECS,
                                 str(tmp_path / "state"), out_dir)
        process(float_keyed, 0)
        _check(spark.read.parquet(out_dir).collect(),
               _exact(float_keyed, "x"))


class TestKeyTypes:
    @pytest.fixture(scope="class")
    def typed(self, spark):
        schema = T.StructType([
            T.StructField("k_str", T.StringType()),
            T.StructField("k_int", T.IntegerType()),
            T.StructField("k_big", T.LongType()),
            T.StructField("k_bool", T.BooleanType()),
            T.StructField("k_date", T.DateType()),
            T.StructField("k_ts", T.TimestampType()),
            T.StructField("k_dec", T.DecimalType(12, 2)),
            T.StructField("v", T.LongType()),
            T.StructField("s", T.StringType())])
        rows = []
        for i in range(240):
            rows.append((
                None if i % 7 == 0 else f"s{i % 5}",
                None if i % 11 == 0 else i % 4,
                (i % 3) * (1 << 40),
                None if i % 13 == 0 else i % 2 == 0,
                datetime.date(2024, 1, 1 + i % 6),
                datetime.datetime(2024, 3, 1, i % 3, 30),
                None if i % 9 == 0 else decimal.Decimal(i % 4) / 4,
                i % 17,
                f"w{i % 3}"))
        return spark.createDataFrame(rows, schema).repartition(2)

    @pytest.mark.parametrize("key", ["k_str", "k_int", "k_big", "k_bool",
                                     "k_date", "k_ts", "k_dec"])
    def test_one_key_of_each_type(self, typed, key):
        out = sketch_agg(typed, [key], SPECS, include_rows=True).collect()
        got = {_key(r[key]): (r["rows"], round(r["uc"]), r["m"])
               for r in out}
        assert len(got) == len(out)
        assert got == _exact(typed, key)

    def test_all_seven_keys_at_once(self, typed):
        keys = ["k_str", "k_int", "k_big", "k_bool", "k_date", "k_ts",
                "k_dec"]
        out = sketch_agg(typed, keys, SPECS, include_rows=True).collect()
        got = {tuple(r[k] for k in keys): r["rows"] for r in out}
        want = {tuple(r[k] for k in keys): r["count"]
                for r in typed.groupBy(*keys).count().collect()}
        assert len(got) == len(out)
        assert got == want


class TestKernelDirect:
    def test_five_wide_int64_keys_decode_exactly(self):
        """20k distinct tuples of five full-range int64 keys in one
        batch: every output row carries its true key tuple (a packed
        per-row code would need far more than 64 bits here)."""
        from tsv_utils_spark.plans.arrow_kernel import make_arrow_partial_fn

        rng = np.random.default_rng(3)
        n, keys = 20_000, [f"k{j}" for j in range(5)]
        cols = {k: rng.integers(-(1 << 62), 1 << 62, n) for k in keys}
        cols["__in_0"] = rng.integers(1, 1 << 62, n)
        batch = pa.RecordBatch.from_pydict(
            {k: pa.array(v, pa.int64()) for k, v in cols.items()})
        schema = T.StructType(
            [T.StructField(k, T.LongType()) for k in keys]
            + [T.StructField("__rows", T.LongType()),
               T.StructField("__blob_0", T.BinaryType())])
        fn = make_arrow_partial_fn(keys, ["__in_0"],
                                   [SketchSpec("hll", "x", "uc")], schema,
                                   max_groups=1 << 20)
        got = {}
        for rb in fn(iter([batch])):
            d = rb.to_pydict()
            for i in range(rb.num_rows):
                got[tuple(d[k][i] for k in keys)] = d["__rows"][i]
        want = set(zip(*(cols[k].tolist() for k in keys)))
        assert len(want) == n
        assert set(got) == want
        assert set(got.values()) == {1}

    def test_nan_key_is_one_group_across_batches(self):
        """Three batches of NaN keys in one task give one partial row:
        each batch's NaN is a new float object, and NaN != NaN."""
        from tsv_utils_spark.plans.arrow_kernel import make_arrow_partial_fn

        batches = [pa.RecordBatch.from_pydict(
            {"x": pa.array([math.nan, math.nan, 1.0], pa.float64()),
             "__in_0": pa.array([b, b + 10, b], pa.int64())})
            for b in range(1, 4)]
        schema = T.StructType([T.StructField("x", T.DoubleType()),
                               T.StructField("__rows", T.LongType()),
                               T.StructField("__blob_0", T.BinaryType())])
        fn = make_arrow_partial_fn(["x"], ["__in_0"],
                                   [SketchSpec("hll", "v", "uc")], schema,
                                   max_groups=1 << 20)
        got = [(x, r) for rb in fn(iter(batches))
               for x, r in zip(rb.column(0).to_pylist(),
                               rb.column(1).to_pylist())]
        assert len(got) == 2
        assert {_key(x): r for x, r in got} == {1.0: 3, "nan": 6}


# ---- the columnar flush against a per-group reference build ---------------
_TOOLS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools")


def _reference():
    import sys

    if _TOOLS not in sys.path:
        sys.path.insert(0, _TOOLS)
    import bench_level1

    return bench_level1


def _schema(key_fields, n_specs, lineage=False):
    return T.StructType(
        ([T.StructField("epoch", T.IntegerType()),
          T.StructField("partition_id", T.IntegerType())] if lineage else [])
        + list(key_fields) + [T.StructField("__rows", T.LongType())]
        + [T.StructField(f"__blob_{i}", T.BinaryType())
           for i in range(n_specs)])


def _same_as_reference(batches, key_fields, specs, max_groups=1 << 20,
                       calls=None, **kw):
    """The kernel's partial rows over ``batches`` (columns: the keys,
    then ``__in_<i>`` per spec); asserts they equal the
    per-group reference build's, row for row and byte for byte.
    ``calls`` (the ``make_calls`` fixture) keeps the kernel's calls only."""
    from tsv_utils_spark.plans.arrow_kernel import make_arrow_partial_fn

    ref = _reference()
    keys = [f.name for f in key_fields]
    in_names = [f"__in_{i}" for i in range(len(specs))]
    schema = _schema(key_fields, len(specs),
                     kw.get("lineage_epoch") is not None)
    got = ref.rows_of(make_arrow_partial_fn(keys, in_names, specs, schema,
                                            max_groups, **kw)(iter(batches)))
    kernel_calls = list(calls or ())
    want = ref.reference_partials(batches, keys, in_names, specs, schema,
                                  max_groups, **kw)
    if calls is not None:
        calls[:] = kernel_calls
    assert ref.same_rows(got, want)
    return got


@pytest.fixture
def make_calls(monkeypatch):
    """Counts ``SketchSpec.make`` calls: the groups built through the
    sketch object instead of the columnar builders."""
    calls = []
    real = SketchSpec.make

    def counted(self):
        calls.append(self.op)
        return real(self)

    monkeypatch.setattr(SketchSpec, "make", counted)
    return calls


_KEY = [T.StructField("k", T.StringType())]


def _one_group(col, typ=None):
    """One batch, one group ``a``, one spec input column."""
    return pa.RecordBatch.from_pydict(
        {"k": pa.array(["a"] * len(col)), "__in_0": pa.array(col, typ)})


def _hashes(n, seed=0):
    """n distinct nonzero int64 hashes, each twice (repeats are not
    distinct values)."""
    h = np.random.default_rng(seed).choice(1 << 40, n, replace=False) + 1
    return np.concatenate([h, h[::-1]]).tolist()


class TestColumnarFlushGates:
    """Each gate between a sketch's columnar build and its object build,
    on both sides: the blobs equal the reference's, and only the groups
    past the gate call ``make``."""

    @pytest.mark.parametrize("params,limit", [({}, 2048),
                                              ({"sparse_limit": 5}, 5)])
    @pytest.mark.parametrize("d", [-1, 0, 1])
    def test_hll_sparse_limit(self, make_calls, params, limit, d):
        spec = SketchSpec("hll", "v", "uc", params)
        _same_as_reference([_one_group(_hashes(limit + d), pa.int64())],
                           _KEY, [spec], calls=make_calls)
        assert make_calls == (["hll"] if d > 0 else [])

    @pytest.mark.parametrize("d", [-1, 0, 1])
    def test_theta_k(self, make_calls, d):
        """A single update keeps the k smallest distinct hashes, so a
        group past k is still one slice: no object build either side."""
        spec = SketchSpec("theta", "v", "uc", {"k": 16})
        _same_as_reference([_one_group(_hashes(16 + d), pa.int64())],
                           _KEY, [spec], calls=make_calls)
        assert make_calls == []

    @pytest.mark.parametrize("d", [-1, 0, 1])
    def test_kll_k(self, make_calls, d):
        """k values left after NaN is dropped: still one level."""
        vals = [float(x) for x in range(20 + d)][::-1] + [math.nan] * 3
        _same_as_reference([_one_group(vals, pa.float64())], _KEY,
                           [SketchSpec("kll", "v", "q", {"k": 20})],
                           calls=make_calls)
        assert make_calls == (["kll"] if d > 0 else [])

    @pytest.mark.parametrize("n", [128, 129])
    def test_cm_sparse_bound(self, make_calls, n):
        """depth 5 x 129 values passes 1/64 of 5 x 2^13 cells."""
        vals = [f"v{i % n}" for i in range(3 * n)]
        _same_as_reference([_one_group(vals)], _KEY,
                           [SketchSpec("cm", "v", "m")], calls=make_calls)
        assert make_calls == (["cm"] if n > 128 else [])

    @pytest.mark.parametrize("n", [4, 5])
    def test_cm_max_candidates(self, make_calls, n):
        vals = [f"v{i % n}" for i in range(4 * n)] + ["v0"]
        _same_as_reference([_one_group(vals)], _KEY,
                           [SketchSpec("cm", "v", "m",
                                       {"max_candidates": 4})],
                           calls=make_calls)
        assert make_calls == (["cm"] if n > 4 else [])

    def test_thousand_small_groups_build_no_sketch_object(self, make_calls):
        """Every group of a 1,000-group flush is in its cheap phase: no
        group falls back to one sketch object per group."""
        rng = np.random.default_rng(5)
        n = 6000
        batch = pa.RecordBatch.from_pydict({
            "k": pa.array(np.concatenate([np.arange(1000), rng.integers(
                0, 1000, n - 1000)]), pa.int64()),
            "__in_0": pa.array(rng.integers(1, 1 << 62, n), pa.int64()),
            "__in_1": pa.array(rng.integers(1, 1 << 62, n), pa.int64()),
            "__in_2": pa.array(rng.normal(size=n)),
            "__in_3": pa.array([f"v{x}" for x in rng.integers(0, 9, n)])})
        specs = [SketchSpec("hll", "a", "a"), SketchSpec("theta", "b", "b"),
                 SketchSpec("kll", "c", "c"), SketchSpec("cm", "d", "d")]
        rows = _same_as_reference(
            [batch], [T.StructField("k", T.LongType())], specs,
            calls=make_calls)
        assert len(rows) == 1000
        assert make_calls == []


class TestColumnarFlushInputs:
    def test_nan_and_null_values(self, make_calls):
        """NULL hashes (the 0 sentinel), NaN/None numbers, None values,
        and a typed double cm column with NaN, -0.0 and 0.0 (NaN never
        equals NaN, so each batch's NaN is a value of its own; -0.0 and
        0.0 are one value that keeps the first-seen sign)."""
        def batch(k, x):
            return pa.RecordBatch.from_pydict({
                "k": pa.array(k),
                "__in_0": pa.array([0, 7, 0, 9, 7, 0][:len(k)], pa.int64()),
                "__in_1": pa.array([math.nan, None, 1.5, 2.5, math.nan,
                                    0.5][:len(k)], pa.float64()),
                "__in_2": pa.array([None, "x", None, "y", "x",
                                    None][:len(k)]),
                "__in_3": pa.array(x, pa.float64())})
        k = ["a", "b", "a", "c", "b", "c"]
        batches = [batch(k, [math.nan, -0.0, 0.0, None, 1.0, -0.0]),
                   batch(k, [0.0, 0.0, math.nan, -0.0, math.nan, 0.0]),
                   batch(k[:3], [None, None, None])]
        specs = [SketchSpec("hll", "a", "a"), SketchSpec("kll", "b", "b"),
                 SketchSpec("cm", "c", "c"),
                 SketchSpec("cm", "d", "d", {"typed": True})]
        rows = _same_as_reference(batches, _KEY, specs, calls=make_calls)
        assert {r[0]: r[1] for r in rows} == {"a": 6, "b": 5, "c": 4}
        # the -0.0/0.0 groups: folded by the kernel, not by an object
        assert make_calls == []

    @pytest.mark.parametrize("typ", [pa.date32(), pa.timestamp("us", "UTC")])
    def test_typed_datetime_values(self, typ):
        day = datetime.date(2024, 3, 1)
        vals = [day, day + datetime.timedelta(1), None, day] \
            if typ == pa.date32() else \
            [datetime.datetime(2024, 3, 1, h, tzinfo=datetime.timezone.utc)
             for h in (1, 2, 1, 3)]
        batch = pa.RecordBatch.from_pydict({
            "k": pa.array(["a", "a", "b", "b"]),
            "__in_0": pa.array(vals, typ), "__in_1": pa.array(vals, typ)})
        _same_as_reference([batch, batch], _KEY,
                           [SketchSpec("cm", "v", "m", {"typed": True}),
                            SketchSpec("bloom", "v", "b", {"m": 256,
                                                           "typed": True})])

    def test_value_first_seen_in_a_later_batch(self):
        """Group a sees z only in the second batch, whose dictionary saw z
        before x: a's candidates stay in first-seen order (x, then z)."""
        b1 = pa.RecordBatch.from_pydict({"k": pa.array(["a", "b"]),
                                         "__in_0": pa.array(["x", "y"])})
        b2 = pa.RecordBatch.from_pydict({"k": pa.array(["b", "a", "a"]),
                                         "__in_0": pa.array(["z", "z", "x"])})
        rows = _same_as_reference([b1, b2], _KEY,
                                  [SketchSpec("cm", "v", "m")])
        cm = SketchSpec("cm", "v", "m").deserialize(
            {r[0]: r[2] for r in rows}["a"])
        assert list(cm.candidates) == ["x", "z"]

    def test_max_groups_early_flush(self):
        rng = np.random.default_rng(9)
        batches = [pa.RecordBatch.from_pydict({
            "k": pa.array(rng.integers(0, 6, 40), pa.int64()),
            "__in_0": pa.array(rng.integers(1, 50, 40), pa.int64()),
            "__in_1": pa.array([f"v{x}" for x in rng.integers(0, 3, 40)])})
            for _ in range(4)]
        rows = _same_as_reference(
            batches, [T.StructField("k", T.LongType())],
            [SketchSpec("hll", "a", "a"), SketchSpec("cm", "b", "b")],
            max_groups=3)
        assert len(rows) > 6  # flushed more than once

    def test_lineage_epoch(self):
        batch = pa.RecordBatch.from_pydict({
            "k": pa.array(["a", "b", "a"]),
            "__in_0": pa.array([1.0, 2.0, 3.0])})
        rows = _same_as_reference([batch], _KEY,
                                  [SketchSpec("tdigest", "v", "q")],
                                  lineage_epoch=3)
        assert [r[:3] for r in rows] == [(3, -1, "a"), (3, -1, "b")]


# ---- property test: random multi-batch inputs, every op --------------------
_PROP_SPECS = [SketchSpec("hll", "a", "a", {"sparse_limit": 6}),
               SketchSpec("theta", "b", "b", {"k": 5}),
               SketchSpec("kll", "c", "c", {"k": 8}),
               SketchSpec("cm", "d", "d", {"max_candidates": 4,
                                           "width": 64}),
               SketchSpec("tdigest", "e", "e"),
               SketchSpec("bloom", "f", "f", {"m": 512}),
               SketchSpec("cm", "g", "g", {"typed": True})]


def _prop_batch(rows):
    """rows: (key, hash, number, value) tuples."""
    k, h, x, v = (list(c) for c in zip(*rows))
    return pa.RecordBatch.from_pydict({
        "k": pa.array(k, pa.int64()),
        "__in_0": pa.array(h, pa.int64()),
        "__in_1": pa.array(h, pa.int64()),
        "__in_2": pa.array(x, pa.float64()),
        "__in_3": pa.array(v),
        "__in_4": pa.array(x, pa.float64()),
        "__in_5": pa.array(v),
        "__in_6": pa.array(x, pa.float64())})


def test_property_every_op_matches_per_group_build():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    row = st.tuples(
        st.one_of(st.none(), st.integers(0, 5)),
        st.integers(0, 12),
        st.one_of(st.none(), st.sampled_from(
            [math.nan, -0.0, 0.0, 1.0, -2.5, 1e300])),
        st.one_of(st.none(), st.sampled_from(list("pqrstu"))))

    @settings(max_examples=60, deadline=None, derandomize=True)
    @given(batches=st.lists(st.lists(row, min_size=1, max_size=30),
                            min_size=1, max_size=4),
           max_groups=st.sampled_from([2, 1 << 20]),
           epoch=st.sampled_from([None, 0]))
    def check(batches, max_groups, epoch):
        _same_as_reference(
            [_prop_batch(b) for b in batches],
            [T.StructField("k", T.LongType())], _PROP_SPECS,
            max_groups=max_groups, lineage_epoch=epoch)

    check()
