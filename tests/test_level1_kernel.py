"""The one level-1 kernel (plans/arrow_kernel.py) at every key count and
key type, on every path that feeds it: ``sketch_agg`` (plain and the
weighted count-min path) and the streaming processor. Answers are
checked against Spark's own ``groupBy``."""

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
    are one group), spread over three partitions. A local table, so
    Catalyst knows its size and ``sketch_agg``'s large-input gate can
    be forced either way."""
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
    def test_weighted_count_min_path(self, float_keyed, gate):
        """Gate on: hll and cm each take their large-input path (the cm
        one pre-aggregates (key, value) -> count and feeds the weights to
        the kernel). ``rows`` is not asked for: it switches the gate
        off."""
        old = os.environ.get(GATE_ENV)
        os.environ[GATE_ENV] = "0" if gate == "on" else str(1 << 63)
        try:
            out = sketch_agg(float_keyed, ["x"], SPECS).collect()
            cm_only = sketch_agg(float_keyed, ["x"], SPECS[1:]).collect()
        finally:
            if old is None:
                os.environ.pop(GATE_ENV, None)
            else:
                os.environ[GATE_ENV] = old
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
