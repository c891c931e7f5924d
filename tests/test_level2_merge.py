"""Level-2 batched run merge: groups match a groupBy on awkward keys,
runs that straddle Arrow batches merge whole, global and empty inputs
keep their row counts, and output batches stay bounded."""

from __future__ import annotations

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
from tsv_utils_spark.plans.agg import FLUSH_CHUNK, _run_merger
from tsv_utils_spark.sketches.countmin import CountMin
from tsv_utils_spark.sketches.hll import HyperLogLog

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
