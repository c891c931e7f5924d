"""Distributed-selection exact quantiles (plans/quantiles.py) must be
bit-identical to F.percentile across data shapes — the r6 optimization
replaced the percentile value-map aggregate for large inputs, so equality
here is the correctness contract."""

from __future__ import annotations

import datetime
import decimal
import math
import random

import pytest
from pyspark.sql import functions as F

from tsv_utils_spark.operators import Op, summarize
from tsv_utils_spark.plans.quantiles import selection_quantiles

PROBS = [0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0]


def _percentile_ref(df, keys, col, probs):
    v = F.col(col).try_cast("double")
    agg = df.groupBy(*keys).agg(
        F.percentile(v, F.array(*[F.lit(p) for p in probs])).alias("q")) \
        if keys else df.agg(
        F.percentile(v, F.array(*[F.lit(p) for p in probs])).alias("q"))
    out = {}
    for r in agg.collect():
        g = tuple(r[k] for k in keys)
        out[g] = list(r["q"]) if r["q"] is not None else [None] * len(probs)
    return out


def _selection(df, keys, col, probs):
    sel = selection_quantiles(
        df, keys, [F.col(col).try_cast("double")], [probs],
        [[f"q{j}" for j in range(len(probs))]])
    if sel is None:
        return None
    out = {}
    for r in sel.collect():
        g = tuple(r[k] for k in keys)
        out[g] = [r[f"q{j}"] for j in range(len(probs))]
    return out


def _assert_bit_equal(a, b):
    assert set(a) == set(b)
    for g in a:
        for x, y in zip(a[g], b[g]):
            assert (x is None and y is None) or x == y, (g, a[g], b[g])


class TestSelectionQuantiles:
    def _check(self, df, keys, col="v", probs=PROBS):
        ref = _percentile_ref(df, keys, col, probs)
        got = _selection(df, keys, col, probs)
        assert got is not None
        _assert_bit_equal(ref, got)

    def test_continuous_grouped(self, spark):
        rng = random.Random(7)
        rows = [(rng.choice("abc"), rng.gauss(0, 1000)) for _ in range(20000)]
        self._check(spark.createDataFrame(rows, "k string, v double"), ["k"])

    def test_discrete_heavy_ties(self, spark):
        rng = random.Random(11)
        rows = [(rng.choice("ab"), float(rng.randint(0, 12)))
                for _ in range(30000)]
        self._check(spark.createDataFrame(rows, "k string, v double"), ["k"])

    def test_nulls_and_all_null_group(self, spark):
        rng = random.Random(3)
        rows = [("a", rng.random() if rng.random() < 0.7 else None)
                for _ in range(5000)] + [("b", None)] * 50 + [(None, 1.5),
                                                              (None, 2.5)]
        self._check(spark.createDataFrame(rows, "k string, v double"), ["k"])

    def test_global_no_keys(self, spark):
        rng = random.Random(5)
        rows = [(rng.uniform(-5, 5),) for _ in range(10000)]
        self._check(spark.createDataFrame(rows, "v double"), [])

    def test_single_row_and_tiny_groups(self, spark):
        rows = [("a", 42.0)] + [("b", float(i)) for i in range(2)] \
            + [("c", float(i)) for i in range(3)]
        self._check(spark.createDataFrame(rows, "k string, v double"), ["k"])

    def test_constant_column(self, spark):
        rows = [("a", 7.25)] * 1000 + [("b", -1.0)] * 3
        self._check(spark.createDataFrame(rows, "k string, v double"), ["k"])

    def test_extreme_skew_one_value_dominates(self, spark):
        rng = random.Random(13)
        rows = [("a", 1.0)] * 20000 + \
            [("a", rng.uniform(0, 1e12)) for _ in range(100)]
        self._check(spark.createDataFrame(rows, "k string, v double"), ["k"])

    def test_nan_falls_back(self, spark):
        rows = [("a", 1.0), ("a", float("nan"))]
        df = spark.createDataFrame(rows, "k string, v double")
        assert _selection(df, ["k"], "v", [0.5]) is None

    def test_inf_falls_back(self, spark):
        rows = [("a", 1.0), ("a", float("inf"))]
        df = spark.createDataFrame(rows, "k string, v double")
        assert _selection(df, ["k"], "v", [0.5]) is None

    def test_negative_zero_falls_back(self, spark):
        rows = [("a", -0.0), ("a", 0.0), ("a", 1.0)]
        df = spark.createDataFrame(rows, "k string, v double")
        assert _selection(df, ["k"], "v", [0.5]) is None

    def test_empty_grouped(self, spark):
        df = spark.createDataFrame([], "k string, v double")
        got = _selection(df, ["k"], "v", [0.5])
        assert got == {}

    def test_empty_global(self, spark):
        df = spark.createDataFrame([], "v double")
        got = _selection(df, [], "v", [0.5])
        assert got == {(): [None]}

    def test_string_input_casts(self, spark):
        rows = [("a", "1.5"), ("a", "2.5"), ("a", "oops"), ("a", None)]
        df = spark.createDataFrame(rows, "k string, v string")
        self._check(df, ["k"])

    def test_summarize_selection_matches_percentile(self, spark):
        rng = random.Random(21)
        rows = [(rng.choice("xy"), rng.gauss(100, 15)) for _ in range(20000)]
        df = spark.createDataFrame(rows, "k string, v double")
        ops = [Op.quantile("v", [0.25], header="p25"),
               Op.median("v", header="med"),
               Op.quantile("v", [0.75, 0.99], header="hi"),
               Op.count(header="n")]
        a = summarize(df, ["k"], ops, quantile_algo="percentile") \
            .orderBy("k").collect()
        b = summarize(df, ["k"], ops, quantile_algo="selection") \
            .orderBy("k").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_mad_selection_matches_percentile(self, spark):
        # 100 groups plus an all-null one: the medians attach from the
        # local medians table at any group count
        rng = random.Random(31)
        rows = [(f"g{rng.randrange(100):02d}",
                 rng.gauss(50, 9) if rng.random() < 0.9 else None)
                for _ in range(20000)] + [("s", None)] * 10
        df = spark.createDataFrame(rows, "k string, v double")
        ops = [Op.mad("v", header="mad_v")]
        a = summarize(df, ["k"], ops, quantile_algo="percentile") \
            .orderBy("k").collect()
        b = summarize(df, ["k"], ops, quantile_algo="selection") \
            .orderBy("k").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_mad_selection_global(self, spark):
        rng = random.Random(37)
        rows = [(float(rng.randint(0, 30)),) for _ in range(10000)]
        df = spark.createDataFrame(rows, "v double")
        ops = [Op.mad("v", header="mad_v"), Op.median("v", header="med_v")]
        a = summarize(df, None, ops, quantile_algo="percentile").collect()
        b = summarize(df, None, ops, quantile_algo="selection").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_summarize_auto_stays_lazy_on_small_input(self, tables):
        li = tables["lineitem"]
        out = summarize(li, ["l_returnflag"],
                        [Op.median("l_quantity", header="m")])
        # small input -> percentile plan (no LocalRelation/selection)
        assert "percentile" in out._jdf.queryExecution().optimizedPlan() \
            .toString().lower()

    def test_midsize_group_count_uses_join_path(self, spark):
        # 100 groups: bounds attach by the same broadcast join as for 3
        rng = random.Random(17)
        rows = [(f"g{i % 100:03d}", rng.gauss(0, 50)) for i in range(40000)]
        self._check(spark.createDataFrame(rows, "k string, v double"),
                    ["k"], probs=[0.1, 0.5, 0.9])

    def test_many_groups_falls_back(self, spark):
        rows = [(str(i), float(i)) for i in range(2000)]
        df = spark.createDataFrame(rows, "k string, v double")
        assert _selection(df, ["k"], "v", [0.5]) is None


def test_interpolation_formula_matches_spark(spark):
    # direct check of the rank/interpolation arithmetic on a known multiset
    rows = [("a", v) for v in [1.0, 1.0, 2.0, 10.0, 100.5]]
    df = spark.createDataFrame(rows, "k string, v double")
    ref = _percentile_ref(df, ["k"], "v", PROBS)
    got = _selection(df, ["k"], "v", PROBS)
    _assert_bit_equal(ref, got)
    # hand-check one: p=0.75 over n=5 -> pos=3.0 -> exact value 10.0
    assert got[("a",)][PROBS.index(0.75)] == 10.0
    # p=0.5 -> pos=2.0 -> 2.0
    assert got[("a",)][PROBS.index(0.5)] == 2.0
    # p=0.99 -> pos=3.96 -> 0.04*10 + 0.96*100.5
    expect = (4.0 - 3.96) * 10.0 + (3.96 - 3.0) * 100.5
    assert math.isclose(got[("a",)][PROBS.index(0.99)], expect,
                        rel_tol=0, abs_tol=0)


class TestFusedSelection:
    """The r6 fused 2-pass path (containing bounds from parquet footers
    or the caller) must stay bit-identical to F.percentile — including
    under deliberately WRONG bounds, because clamped bin ids plus exact
    value-count resolution make bound quality a pure efficiency knob."""

    def _parquet(self, spark, tmp_path, rows, schema):
        p = str(tmp_path / "t.parquet")
        spark.createDataFrame(rows, schema).write.mode("overwrite") \
            .parquet(p)
        return spark.read.parquet(p)

    def _sel(self, df, keys, probs=PROBS, **kw):
        out = selection_quantiles(
            df, keys, [F.col("v").try_cast("double")], [probs],
            [[f"q{j}" for j in range(len(probs))]], **kw)
        if out is None:
            return None
        return {tuple(r[k] for k in keys): [r[f"q{j}"]
                                            for j in range(len(probs))]
                for r in out.collect()}

    def test_footer_bounds_grouped_continuous(self, spark, tmp_path):
        rng = random.Random(7)
        rows = [(rng.choice("abc"), rng.gauss(0, 1000))
                for _ in range(20000)]
        rows += [("d", None)] * 30 + [(None, 5.0), (None, 7.5)]
        df = self._parquet(spark, tmp_path, rows, "k string, v double")
        from tsv_utils_spark.plans.quantiles import parquet_footer_bounds

        assert parquet_footer_bounds(df, ["v"]) is not None
        ref = _percentile_ref(df, ["k"], "v", PROBS)
        got = self._sel(df, ["k"], source_cols=["v"])
        assert got is not None
        _assert_bit_equal(ref, got)

    def test_wrong_bounds_still_exact(self, spark, tmp_path):
        rng = random.Random(13)
        rows = [(rng.choice("ab"), rng.uniform(-500, 500))
                for _ in range(15000)]
        df = self._parquet(spark, tmp_path, rows, "k string, v double")
        ref = _percentile_ref(df, ["k"], "v", PROBS)
        for bounds in [(-1.0, 1.0),       # far too narrow
                       (9000.0, 9999.0),  # disjoint from the data
                       (0.0, 0.0)]:       # degenerate single point
            got = self._sel(df, ["k"], bounds_per_col=[bounds])
            assert got is not None, bounds
            _assert_bit_equal(ref, got)

    def test_bounds_length_mismatch_takes_three_pass(self, spark, tmp_path):
        """bounds_per_col needs one (lo, hi) per value column; any other
        length takes the 3-pass shape instead of raising IndexError."""
        rng = random.Random(17)
        rows = [(rng.choice("ab"), rng.uniform(-50, 50), rng.uniform(0, 9))
                for _ in range(4000)]
        df = self._parquet(spark, tmp_path, rows,
                           "k string, v double, w double")
        refs = [_percentile_ref(df, ["k"], c, PROBS) for c in ("v", "w")]
        names = [[f"{c}{j}" for j in range(len(PROBS))] for c in "vw"]
        for bounds in ([(-50.0, 50.0)],
                       [(-50.0, 50.0), (0.0, 9.0), (0.0, 1.0)]):
            out = selection_quantiles(
                df, ["k"], [F.col(c).try_cast("double") for c in "vw"],
                [PROBS, PROBS], names, bounds_per_col=bounds)
            assert out is not None, bounds
            rows_out = out.collect()
            for ref, nm in zip(refs, names):
                _assert_bit_equal(ref, {(r["k"],): [r[n] for n in nm]
                                        for r in rows_out})

    def test_discrete_resolves_in_one_pass(self, spark, tmp_path):
        rows = [(float(i % 13),) for i in range(30000)]
        df = self._parquet(spark, tmp_path, rows, "v double")
        ref = _percentile_ref(df, [], "v", PROBS)
        got = self._sel(df, [], source_cols=["v"])
        assert got is not None
        _assert_bit_equal(ref, got)

    def test_nan_and_negzero_fall_back(self, spark, tmp_path):
        dfn = self._parquet(spark, tmp_path,
                            [("a", 1.0), ("a", float("nan"))],
                            "k string, v double")
        assert self._sel(dfn, ["k"], source_cols=["v"]) is None
        dfz = self._parquet(spark, tmp_path,
                            [("a", -0.0), ("a", 0.0), ("a", 1.0)],
                            "k string, v double")
        assert self._sel(dfz, ["k"], source_cols=["v"]) is None

    def test_midsize_groups_join_attach(self, spark, tmp_path):
        rng = random.Random(23)
        rows = [(f"g{i % 100:03d}", rng.gauss(0, 50))
                for i in range(40000)]
        df = self._parquet(spark, tmp_path, rows, "k string, v double")
        probs = [0.1, 0.5, 0.9]
        ref = _percentile_ref(df, ["k"], "v", probs)
        got = self._sel(df, ["k"], probs=probs, source_cols=["v"])
        assert got is not None
        _assert_bit_equal(ref, got)

    def test_summarize_quantiles_and_mad_use_fused(self, spark, tmp_path):
        """End-to-end through summarize on a parquet-backed table:
        quantile_algo='selection' (fused via footers) == 'percentile'."""
        rng = random.Random(29)
        rows = [(rng.choice("xyz"), rng.gauss(100, 42))
                for _ in range(25000)]
        df = self._parquet(spark, tmp_path, rows, "k string, v double")
        ops = [Op.quantile("v", [0.25, 0.99], header="q"),
               Op.median("v", header="med"), Op.mad("v", header="mad")]
        a = summarize(df, ["k"], ops, quantile_algo="percentile") \
            .orderBy("k").collect()
        b = summarize(df, ["k"], ops, quantile_algo="selection") \
            .orderBy("k").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


class TestPlanProbes:
    """The driver-side plan probes fall back on the errors they expect
    (no JVM plan, not a DataFrame) and let anything else through."""

    class NoJdf:  # e.g. a pandas frame passed where a DataFrame goes
        pass

    class Broken:
        @property
        def _jdf(self):
            raise RuntimeError("not a plan lookup failure")

        def inputFiles(self):
            raise RuntimeError("not a plan lookup failure")

    def test_input_size_bytes(self, tables):
        from tsv_utils_spark.plans.quantiles import input_size_bytes

        assert input_size_bytes(tables["lineitem"]) > 0
        assert input_size_bytes(self.NoJdf()) is None
        with pytest.raises(RuntimeError):
            input_size_bytes(self.Broken())

    def test_footer_bounds_input_files(self):
        from tsv_utils_spark.plans.quantiles import parquet_footer_bounds

        assert parquet_footer_bounds(self.NoJdf(), ["v"]) is None
        with pytest.raises(RuntimeError):
            parquet_footer_bounds(self.Broken(), ["v"])


def _is_local_relation(df):
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


class TestArrowResultKeyTypes:
    """Selection results are local tables built through Arrow: every
    group key type must come back equal to the key ``F.percentile``
    groups by, and the result must be a LocalRelation (a silent fallback
    to a Python stage would plan an RDD scan instead)."""

    def _rows(self, keyvals):
        rng = random.Random(41)
        return [(keyvals[i % len(keyvals)], rng.gauss(0, 100))
                for i in range(3000)]

    @pytest.mark.parametrize("ddl,keyvals", [
        ("string", ["a", "b", None]),
        ("int", [-3, 0, 7]),
        ("bigint", [-(1 << 40), 1 << 50, None]),
        ("boolean", [True, False, None]),
        ("date", [datetime.date(1969, 12, 31), datetime.date(2024, 2, 29)]),
        ("decimal(12,3)", [decimal.Decimal("-1.250"),
                           decimal.Decimal("123456789.001"), None]),
    ])
    def test_key_type_matches_percentile(self, spark, ddl, keyvals):
        df = spark.createDataFrame(self._rows(keyvals), f"k {ddl}, v double")
        sel = selection_quantiles(
            df, ["k"], [F.col("v")], [PROBS],
            [[f"q{j}" for j in range(len(PROBS))]])
        assert _is_local_relation(sel)
        assert sel.schema["k"].dataType == df.schema["k"].dataType
        got = {(r["k"],): [r[f"q{j}"] for j in range(len(PROBS))]
               for r in sel.collect()}
        _assert_bit_equal(_percentile_ref(df, ["k"], "v", PROBS), got)

    def test_timestamp_key_off_utc_driver_zone(self, spark, monkeypatch):
        # a collected TIMESTAMP is a naive datetime in the driver's zone;
        # the key must come back as the same instant, not shifted
        import time

        keyvals = [datetime.datetime(2021, 3, 14, 1, 30),
                   datetime.datetime(1999, 12, 31, 23, 59, 59, 123456),
                   None]
        df = spark.createDataFrame(self._rows(keyvals), "k timestamp, v double")
        monkeypatch.setenv("TZ", "America/New_York")
        time.tzset()
        try:
            sel = selection_quantiles(df, ["k"], [F.col("v")], [[0.5]],
                                      [["q0"]])
            assert _is_local_relation(sel)
            got = {(r["k"],): [r["q0"]] for r in sel.collect()}
            ref = _percentile_ref(df, ["k"], "v", [0.5])
        finally:
            monkeypatch.undo()
            time.tzset()
        _assert_bit_equal(ref, got)

    def test_fused_and_empty_results_are_local(self, spark, tmp_path):
        p = str(tmp_path / "t.parquet")
        spark.createDataFrame(self._rows([1, 2, None]), "k int, v double") \
            .write.parquet(p)
        df = spark.read.parquet(p)
        fused = selection_quantiles(df, ["k"], [F.col("v")], [[0.5]],
                                    [["q0"]], source_cols=["v"])
        assert _is_local_relation(fused)
        _assert_bit_equal(_percentile_ref(df, ["k"], "v", [0.5]),
                          {(r["k"],): [r["q0"]] for r in fused.collect()})
        empty = selection_quantiles(df.where("v > 1e300"), ["k"],
                                    [F.col("v")], [[0.5]], [["q0"]])
        assert _is_local_relation(empty) and empty.collect() == []


class TestProjectionCache:
    """The 3-pass shape persists its narrow projection; no call may leave
    a persisted RDD behind, whichever way it ends."""

    def _persisted(self, spark):
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def _call(self, df, value=None):
        value = F.col("v") if value is None else value
        return selection_quantiles(df, ["k"], [value], [[0.5]], [["q0"]])

    def test_normal_return(self, spark):
        rng = random.Random(43)
        df = spark.createDataFrame(
            [(rng.choice("ab"), rng.random()) for _ in range(5000)],
            "k string, v double")
        before = self._persisted(spark)
        assert self._call(df) is not None
        assert self._persisted(spark) == before

    def test_nan_fallback(self, spark):
        df = spark.createDataFrame([("a", 1.0), ("a", float("nan"))],
                                   "k string, v double")
        before = self._persisted(spark)
        assert self._call(df) is None
        assert self._persisted(spark) == before

    def test_raised_error(self, spark):
        from pyspark.errors import SparkRuntimeException

        df = spark.createDataFrame([("a", 1.0), ("b", 2.0)],
                                   "k string, v double")
        boom = F.when(F.col("v") > 1.5, F.raise_error(F.lit("boom"))) \
            .otherwise(F.col("v"))
        before = self._persisted(spark)
        with pytest.raises(SparkRuntimeException, match="boom"):
            self._call(df, boom)
        assert self._persisted(spark) == before


def test_auto_gate_on_and_off_agree(spark, monkeypatch, tmp_path):
    """quantile_algo='auto' reads its size gate at call time: the same
    input takes selection with the gate at 0 and F.percentile with it
    out of reach, and both give the same answers."""
    rng = random.Random(47)
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(rng.choice("xyz"), rng.gauss(10, 3)) for _ in range(8000)],
        "k string, v double").write.parquet(p)
    df = spark.read.parquet(p)  # a file scan: a real size estimate
    ops = [Op.quantile("v", [0.1, 0.9], header="q"),
           Op.median("v", header="med"), Op.mad("v", header="mad")]
    env = "SPARK_TSV_QUANTILE_SELECTION_MIN_BYTES"
    monkeypatch.setenv(env, "0")
    on = summarize(df, ["k"], ops)
    monkeypatch.setenv(env, str(1 << 60))
    off = summarize(df, ["k"], ops)
    on_plan = on._jdf.queryExecution().optimizedPlan().toString().lower()
    off_plan = off._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "percentile" not in on_plan and "percentile" in off_plan
    assert [tuple(r) for r in on.orderBy("k").collect()] \
        == [tuple(r) for r in off.orderBy("k").collect()]


class TestNarrowFallbacks:
    """The selection fallbacks fire on the errors they expect and let
    anything else through."""

    def test_unreadable_footer_gives_no_bounds(self, spark, tmp_path):
        from tsv_utils_spark.plans.quantiles import parquet_footer_bounds

        p = tmp_path / "t.parquet"
        spark.createDataFrame([(1.0,), (2.0,)], "v double").write.parquet(
            str(p))
        df = spark.read.parquet(str(p))
        assert parquet_footer_bounds(df, ["v"]) == {"v": (1.0, 2.0)}
        for f in p.glob("*.parquet"):
            f.write_bytes(b"not a parquet file")
        assert parquet_footer_bounds(df, ["v"]) is None

    def test_footer_read_lets_other_errors_through(self, spark, tmp_path,
                                                   monkeypatch):
        import pyarrow.parquet as pq

        from tsv_utils_spark.plans.quantiles import parquet_footer_bounds

        p = str(tmp_path / "t.parquet")
        spark.createDataFrame([(1.0,)], "v double").write.parquet(p)

        def broken(*_a, **_k):
            raise RuntimeError("not a footer error")

        monkeypatch.setattr(pq, "ParquetFile", broken)
        with pytest.raises(RuntimeError):
            parquet_footer_bounds(spark.read.parquet(p), ["v"])

    class _Raises:
        def __init__(self, exc):
            self.exc = exc

        def collect(self):
            raise self.exc

    def _java_error(self, spark, msg):
        from py4j.protocol import Py4JJavaError

        je = spark.sparkContext._jvm.org.apache.spark.SparkException(msg)
        return Py4JJavaError("An error occurred", je)

    def test_result_size_abort_becomes_retry(self, spark):
        from py4j.protocol import Py4JJavaError

        from tsv_utils_spark.plans.quantiles import (
            _collect_within_result_size,
        )

        abort = self._java_error(
            spark, "Job aborted due to stage failure: Total size of "
            "serialized results of 3 tasks (1100.0 KiB) is bigger than "
            "spark.driver.maxResultSize (1024.0 KiB)")
        assert _collect_within_result_size(self._Raises(abort)) is None
        other = self._java_error(spark, "Job aborted: disk full")
        with pytest.raises(Py4JJavaError):
            _collect_within_result_size(self._Raises(other))
        with pytest.raises(RuntimeError):
            _collect_within_result_size(
                self._Raises(RuntimeError("maxResultSize")))
