"""Exact-operator tests vs independently computed answers (pandas),
mirroring the reference's golden-vector strategy (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsv_utils_spark.functions.missing import MissingPolicy
from tsv_utils_spark.operators import (
    Op,
    Predicates as P,
    append_tables,
    join_filter,
    sample,
    select_fields,
    split_by_key,
    summarize,
    tsv_filter,
    uniq,
)


@pytest.fixture(scope="module")
def li_pdf(tables):
    return tables["lineitem"].toPandas()


@pytest.fixture
def threshold(spark):
    """Sets spark.sql.autoBroadcastJoinThreshold for one test."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    try:
        yield lambda v: spark.conf.set(key, v)
    finally:
        spark.conf.unset(key)


# ------------------------------------------------------------- summarize
class TestSummarize:
    def test_grouped_basics(self, tables, li_pdf):
        out = summarize(
            tables["lineitem"], ["l_returnflag"],
            [Op.count(), Op.sum("l_quantity"), Op.mean("l_extendedprice"),
             Op.min("l_discount"), Op.max("l_discount"),
             Op.var("l_quantity"), Op.stdev("l_quantity")],
        ).toPandas().set_index("l_returnflag").sort_index()
        g = li_pdf.groupby("l_returnflag")
        assert (out["count"] == g.size()).all()
        assert np.allclose(out["l_quantity_sum"], g["l_quantity"].sum())
        assert np.allclose(out["l_extendedprice_mean"], g["l_extendedprice"].mean())
        assert np.allclose(out["l_quantity_var"], g["l_quantity"].var(ddof=1))
        assert np.allclose(out["l_quantity_stdev"], g["l_quantity"].std(ddof=1))

    def test_median_quantile_r7(self, tables, li_pdf):
        out = summarize(
            tables["lineitem"], ["l_linestatus"],
            [Op.median("l_extendedprice"),
             Op.quantile("l_extendedprice", [0.25, 0.75])],
        ).toPandas().set_index("l_linestatus").sort_index()
        g = li_pdf.groupby("l_linestatus")["l_extendedprice"]
        # R-7 interpolation = numpy default 'linear'
        assert np.allclose(out["l_extendedprice_median"], g.quantile(0.5))
        assert np.allclose(out["l_extendedprice_pct_0_25"], g.quantile(0.25))
        assert np.allclose(out["l_extendedprice_pct_0_75"], g.quantile(0.75))

    def test_unique_count_range(self, tables, li_pdf):
        out = summarize(
            tables["lineitem"], ["l_returnflag"],
            [Op.unique_count("l_suppkey"), Op.range("l_quantity")],
        ).toPandas().set_index("l_returnflag").sort_index()
        g = li_pdf.groupby("l_returnflag")
        assert (out["l_suppkey_unique_count"] == g["l_suppkey"].nunique()).all()
        assert np.allclose(out["l_quantity_range"],
                           g["l_quantity"].max() - g["l_quantity"].min())

    def test_first_last_by_order(self, tables, li_pdf):
        out = summarize(
            tables["orders"], ["o_orderstatus"],
            [Op.first("o_totalprice"), Op.last("o_totalprice")],
            order_col="o_orderkey",
        ).toPandas().set_index("o_orderstatus").sort_index()
        pdf = tables["orders"].toPandas().sort_values("o_orderkey")
        g = pdf.groupby("o_orderstatus")["o_totalprice"]
        assert np.allclose(out["o_totalprice_first"], g.first())
        assert np.allclose(out["o_totalprice_last"], g.last())

    def test_mode_and_mad(self, tables, li_pdf):
        out = summarize(
            tables["lineitem"], ["l_returnflag"],
            [Op.mode("l_quantity"), Op.mode_count("l_quantity"),
             Op.mad("l_quantity")],
        ).toPandas().set_index("l_returnflag").sort_index()
        for flag, grp in li_pdf.groupby("l_returnflag"):
            vc = grp["l_quantity"].value_counts()
            top = vc.max()
            # our no-order tie-break: min value among max-count
            expect_mode = min(v for v, c in vc.items() if c == top)
            assert float(out.loc[flag, "l_quantity_mode"]) == expect_mode
            assert out.loc[flag, "l_quantity_mode_count"] == top
            med = grp["l_quantity"].median()
            assert out.loc[flag, "l_quantity_mad"] == pytest.approx(
                (grp["l_quantity"] - med).abs().median())

    def test_missing_counts_and_policy(self, spark):
        pdf = pd.DataFrame({"k": ["a"] * 4 + ["b"] * 2,
                            "v": ["1", "", "3", "", "5", ""]})
        df = spark.createDataFrame(pdf)
        out = summarize(
            df, ["k"],
            [Op.missing_count("v"), Op.not_missing_count("v"), Op.sum("v")],
            missing=MissingPolicy("exclude"),
        ).toPandas().set_index("k").sort_index()
        assert out.loc["a", "v_missing_count"] == 2
        assert out.loc["a", "v_not_missing_count"] == 2
        assert out.loc["a", "v_sum"] == 4.0  # '' excluded, not 0
        # replace policy
        out2 = summarize(df, ["k"], [Op.sum("v")],
                         missing=MissingPolicy("replace", "10")).toPandas() \
            .set_index("k").sort_index()
        assert out2.loc["a", "v_sum"] == 24.0

    def test_min_max_original_string(self, spark):
        pdf = pd.DataFrame({"k": ["a"] * 3, "v": ["10.0", "9.50", "11"]})
        df = spark.createDataFrame(pdf)
        out = summarize(df, ["k"], [Op.min("v", original_string=True),
                                    Op.max("v", original_string=True)]).toPandas()
        assert out["v_min"][0] == "9.50"  # original string, not 9.5
        assert out["v_max"][0] == "11"

    def test_values_unique_values(self, spark):
        pdf = pd.DataFrame({"k": ["a", "a", "a"], "v": ["z", "m", "z"],
                            "rid": [1, 2, 3]})
        df = spark.createDataFrame(pdf)
        out = summarize(df, ["k"], [Op.values("v"), Op.unique_values("v")],
                        order_col="rid").toPandas()
        assert out["v_values"][0] == "z|m|z"  # input order via rid
        # first-seen order when order_col given (tsv-summarize.d:4250)
        assert out["v_unique_values"][0] == "z|m"
        # canonical sorted without an order column
        out2 = summarize(df, ["k"], [Op.unique_values("v")]).toPandas()
        assert out2["v_unique_values"][0] == "m|z"

    def test_no_group(self, tables, li_pdf):
        out = summarize(tables["lineitem"], None,
                        [Op.count(), Op.sum("l_quantity")]).toPandas()
        assert out["count"][0] == len(li_pdf)
        assert out["l_quantity_sum"][0] == pytest.approx(li_pdf["l_quantity"].sum())


# ---------------------------------------------------------------- filter
class TestFilter:
    def test_numeric_and(self, tables, li_pdf):
        out = tsv_filter(tables["lineitem"],
                         [P.num("l_quantity", "gt", 30),
                          P.num("l_extendedprice", "gt", 50_000)])
        expect = li_pdf[(li_pdf.l_quantity > 30) & (li_pdf.l_extendedprice > 50_000)]
        assert out.count() == len(expect)

    def test_or_invert_count(self, tables, li_pdf):
        preds = [P.num("l_discount", "ge", 0.09), P.num("l_tax", "le", 0.01)]
        n_or = tsv_filter(tables["lineitem"], preds, disjunct=True).count()
        expect = li_pdf[(li_pdf.l_discount >= 0.09) | (li_pdf.l_tax <= 0.01)]
        assert n_or == len(expect)
        n_inv = tsv_filter(tables["lineitem"], preds, disjunct=True,
                           invert=True).count()
        assert n_inv == len(li_pdf) - len(expect)
        cnt = tsv_filter(tables["lineitem"], preds, disjunct=True,
                         mode="count").toPandas()
        assert cnt["count"][0] == len(expect)

    def test_string_regex_len(self, tables):
        parts = tables["part"]
        ppdf = parts.toPandas()
        assert tsv_filter(parts, [P.regex("p_name", "^small")]).count() == \
            ppdf.p_name.str.match("^small").sum()
        assert tsv_filter(parts, [P.str_in_fld("p_type", "ECO")]).count() == \
            ppdf.p_type.str.contains("ECO").sum()
        assert tsv_filter(parts, [P.char_len("p_name", "le", 11)]).count() == \
            (ppdf.p_name.str.len() <= 11).sum()

    def test_label_mode(self, tables, li_pdf):
        out = tsv_filter(tables["lineitem"], [P.num("l_quantity", "lt", 10)],
                         mode="label", label="small").toPandas()
        assert (out["small"] == "1").sum() == (li_pdf.l_quantity < 10).sum()
        assert len(out) == len(li_pdf)

    def test_ff_and_blank(self, spark):
        pdf = pd.DataFrame({"a": ["1", "2", " ", ""],
                            "b": ["1", "3", "x", "y"]})
        df = spark.createDataFrame(pdf)
        assert tsv_filter(df, [P.ff_num("a", "eq", "b")]).count() == 1
        assert tsv_filter(df, [P.blank("a")]).count() == 2
        assert tsv_filter(df, [P.empty("a")]).count() == 1
        assert tsv_filter(df, [P.ff_absdiff_le("a", "b", 1.0)]).count() == 2

    def test_strict_numeric_aborts(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"a": ["1", "x"]}))
        with pytest.raises(ValueError, match="non-numeric"):
            tsv_filter(df, [P.num("a", "gt", 0)], strict_numeric_cols=["a"])


# ------------------------------------------------------------------ join
class TestJoin:
    def test_semi_anti(self, tables):
        orders, cust = tables["orders"], tables["customer"]
        building = cust.filter(F.col("c_mktsegment") == "BUILDING")
        n_semi = join_filter(orders, building, on=["o_custkey"],
                             data_keys=["o_custkey"], filter_keys=["c_custkey"],
                             mode="semi").count()
        n_anti = join_filter(orders, building, data_keys=["o_custkey"],
                             filter_keys=["c_custkey"], mode="anti").count()
        opdf = orders.toPandas()
        keys = set(building.toPandas()["c_custkey"])
        assert n_semi == opdf.o_custkey.isin(keys).sum()
        assert n_anti == (~opdf.o_custkey.isin(keys)).sum()

    def test_append_and_writeall(self, tables):
        orders, cust = tables["orders"], tables["customer"]
        out = join_filter(orders, cust, data_keys=["o_custkey"],
                          filter_keys=["c_custkey"], mode="append",
                          append=["c_mktsegment"]).toPandas()
        assert "c_mktsegment" in out.columns
        assert len(out) == orders.count()  # every order has a customer
        top = cust.filter(F.col("c_custkey") < 10)
        out2 = join_filter(orders, top, data_keys=["o_custkey"],
                           filter_keys=["c_custkey"], mode="left",
                           append=["c_mktsegment"], write_all="NONE").toPandas()
        assert (out2["c_mktsegment"] == "NONE").sum() == \
            (out2.shape[0] - (out["o_custkey"] < 10).sum())

    def test_duplicate_key_enforcement(self, spark, tables):
        dup = spark.createDataFrame(pd.DataFrame(
            {"k": [1, 1], "v": ["a", "b"]}))
        data = spark.createDataFrame(pd.DataFrame({"k": [1, 2]}))
        # enforcement is IN-PLAN since round 5 (no eager validation job)
        # — the error surfaces when the join executes
        with pytest.raises(Exception, match="duplicate filter keys"):
            join_filter(data, dup, on=["k"], mode="append",
                        append=["v"]).collect()
        out = join_filter(data, dup, on=["k"], mode="append", append=["v"],
                          allow_duplicate_keys=True).toPandas()
        assert len(out) == 1 and out["v"][0] == "b"  # last-wins (max)

    def test_duplicate_key_null_vs_value_conflict_raises(self, spark):
        # the min!=max struct guard (r6, replacing size(collect_set))
        # must still trip when the conflicting tuples differ only by a
        # NULL field — struct ordering is total over null fields
        dup = spark.createDataFrame(pd.DataFrame(
            {"k": [1, 1], "v": ["a", None]}))
        data = spark.createDataFrame(pd.DataFrame({"k": [1]}))
        with pytest.raises(Exception, match="duplicate filter keys"):
            join_filter(data, dup, on=["k"], mode="append",
                        append=["v"]).collect()

    def test_duplicate_keys_same_values_join_once(self, spark):
        # the reference's filter file is an associative array — a key
        # occurring twice with IDENTICAL append values must not
        # multiply data rows
        dup = spark.createDataFrame(pd.DataFrame(
            {"k": [1, 1, 2], "v": ["a", "a", "c"]}))
        data = spark.createDataFrame(pd.DataFrame({"k": [1, 2]}))
        out = join_filter(data, dup, on=["k"], mode="append",
                          append=["v"]).toPandas().sort_values("k")
        assert out["v"].tolist() == ["a", "c"]

    def test_salted_join_equals_plain(self, spark):
        import pandas as pd

        from tsv_utils_spark.operators.join import salted_join

        rng = np.random.default_rng(5)
        # pathological skew: 90% of the big side is ONE key
        big = pd.DataFrame({
            "k": np.where(rng.random(2000) < 0.9, 7,
                          rng.integers(0, 50, 2000)),
            "v": np.arange(2000),
        })
        med = pd.DataFrame({"k": np.arange(50), "label": [f"L{i}"
                                                          for i in range(50)]})
        b, m = spark.createDataFrame(big), spark.createDataFrame(med)
        got = salted_join(b, m, ["k"], salt=8).toPandas() \
            .sort_values(["k", "v"]).reset_index(drop=True)
        want = b.join(m, "k").toPandas() \
            .sort_values(["k", "v"]).reset_index(drop=True)
        assert got.equals(want)
        # left join keeps unmatched big rows exactly once
        bigger = b.withColumn("k", F.col("k") + 40)  # some keys unmatched
        gl = salted_join(bigger, m, ["k"], salt=4, how="left").count()
        assert gl == bigger.join(m, "k", "left").count()

    def test_bloom_joins_equal_exact(self, tables, threshold):
        """At the default threshold (broadcast) and with the filter side
        over it (-1 and 100 B: shuffle), semi and anti return exactly
        the Spark join's rows in data's columns; also when the filter
        side reads data's own table (code_exact's shape), where the join
        condition must still compare data's key with the filter side's."""
        from tsv_utils_spark.operators.join import bloom_anti_join, bloom_semi_join

        orders, cust = tables["orders"], tables["customer"]
        shapes = [
            (orders.withColumnRenamed("o_custkey", "c_custkey"),
             cust.filter(F.col("c_custkey") % 3 == 0), "c_custkey"),
            (orders.where(F.col("o_orderkey") % 2 == 0),
             orders.where(F.col("o_orderpriority") == "1-URGENT"),
             "o_custkey")]
        for data, filt, key in shapes:
            exact = {how: sorted(r.o_orderkey for r in data.join(
                         filt.select(key), key, f"left_{how}").collect())
                     for how in ("semi", "anti")}
            for limit in ("10485760", "-1", "100"):
                threshold(limit)
                for how, fn in (("semi", bloom_semi_join),
                                ("anti", bloom_anti_join)):
                    out = fn(data, filt, [key])
                    assert out.columns == data.columns, (key, limit, how)
                    assert sorted(r.o_orderkey for r in out.collect()) \
                        == exact[how], (key, limit, how)

    def test_bloom_empty_filter_side(self, spark, tables):
        """A zero-partition filter side (createDataFrame([], schema)):
        semi keeps nothing, anti keeps all."""
        from tsv_utils_spark.operators.join import (
            bloom_anti_join,
            bloom_semi_join,
        )

        empty = spark.createDataFrame([], "c_custkey bigint")
        orders = tables["orders"].withColumnRenamed("o_custkey", "c_custkey")
        assert bloom_semi_join(orders, empty, ["c_custkey"]).count() == 0
        assert bloom_anti_join(orders, empty, ["c_custkey"]).count() \
            == orders.count()


class TestBloomJoinPath:
    """The Bloom joins are Spark's exact semi / anti join: the planner
    broadcasts a filter side whose deduplicated keys fit
    autoBroadcastJoinThreshold by Catalyst's estimate and shuffles it
    otherwise. Either way the rows are the exact join's, in data's own
    column order."""

    @pytest.fixture
    def case(self, tables):
        data = tables["orders"].withColumnRenamed("o_custkey", "c_custkey")
        cust = tables["customer"]
        return data, cust.filter(F.col("c_custkey") % 3 == 0)

    @staticmethod
    def _run(how, data, filt):
        """The executed plan of a Bloom join whose rows equal the exact
        join's and whose columns are data's."""
        from tsv_utils_spark.operators import join

        fn = join.bloom_semi_join if how == "semi" else join.bloom_anti_join
        out = fn(data, filt, ["c_custkey"])
        assert out.columns == data.columns
        exact = data.join(filt.select("c_custkey").distinct(), "c_custkey",
                          f"left_{how}")
        assert sorted(r.o_orderkey for r in out.collect()) \
            == sorted(r.o_orderkey for r in exact.collect())
        return out._jdf.queryExecution().executedPlan().toString()

    @pytest.mark.parametrize("how", ["semi", "anti"])
    def test_below_threshold_broadcasts(self, case, how):
        assert "BroadcastHashJoin" in self._run(how, *case)

    @pytest.mark.parametrize("how", ["semi", "anti"])
    def test_unknown_size_builds_bloom(self, spark, case, how):
        """An RDD-backed filter side has no size estimate: Catalyst
        reads it as defaultSizeInBytes, 2^63 - 1, scaled by the key
        projection, far above the threshold, so the planner shuffles it
        (AQE may still broadcast it once its real size is known)."""
        data, _ = case
        rdd_side = spark.createDataFrame(
            [(k, f"c{k}") for k in range(0, 400, 3)],
            "c_custkey bigint, c_name string")
        self._run(how, data, rdd_side)

    @pytest.mark.parametrize("how", ["semi", "anti"])
    @pytest.mark.parametrize("limit", ["10485760", "-1"])
    def test_empty_filter_side(self, case, threshold, how, limit):
        threshold(limit)
        data, filt = case
        self._run(how, data, filt.filter(F.lit(False)))

    @pytest.mark.parametrize("how", ["semi", "anti"])
    def test_column_order_is_the_same_on_every_path(self, case, threshold,
                                                    how):
        """Semi and anti keep data's column order whether the planner
        broadcasts or shuffles; the key is not data's first column here."""
        from tsv_utils_spark.operators import join

        data, filt = case
        assert data.columns[0] != "c_custkey"
        fn = join.bloom_semi_join if how == "semi" else join.bloom_anti_join
        got = {}
        for limit in ("10485760", "-1"):
            threshold(limit)
            out = fn(data, filt, ["c_custkey"])
            plan = out._jdf.queryExecution().executedPlan().toString()
            got[limit] = ("BroadcastHashJoin" in plan, out.columns)
        assert got == {"10485760": (True, data.columns),
                       "-1": (False, data.columns)}


# ------------------------------------------------------------------ uniq
class TestUniq:
    def test_uniq_first_by_order(self, tables):
        docs = tables["documents"]
        out = uniq(docs, ["lang"], order_col="doc_id").toPandas()
        pdf = docs.toPandas().sort_values("doc_id")
        expect = pdf.drop_duplicates("lang")
        assert sorted(out["doc_id"]) == sorted(expect["doc_id"])

    def test_equiv_ids_first_seen(self, spark):
        pdf = pd.DataFrame({"k": ["x", "y", "x", "z", "y"],
                            "rid": [1, 2, 3, 4, 5]})
        out = uniq(spark.createDataFrame(pdf), ["k"], order_col="rid",
                   mode="equiv").toPandas().sort_values("rid")
        assert list(out["equiv_id"]) == [1, 2, 1, 3, 2]

    def test_number_and_repeated(self, spark):
        pdf = pd.DataFrame({"k": ["x", "x", "y", "x"], "rid": [1, 2, 3, 4]})
        df = spark.createDataFrame(pdf)
        out = uniq(df, ["k"], order_col="rid", mode="number").toPandas() \
            .sort_values("rid")
        assert list(out["equiv_count"]) == [1, 2, 1, 3]
        # bigint, like equiv_id and number_lines' line
        assert dict(uniq(df, ["k"], order_col="rid", mode="number")
                    .dtypes)["equiv_count"] == "bigint"
        rep = uniq(df, ["k"], order_col="rid", mode="repeated").toPandas()
        assert sorted(rep["rid"]) == [2, 4]
        rep2 = uniq(df, ["k"], order_col="rid", mode="repeated",
                    at_least=2, at_most=2).toPandas()
        assert list(rep2["rid"]) == [2]

    def test_ignore_case(self, spark):
        pdf = pd.DataFrame({"k": ["A", "a", "B"], "rid": [1, 2, 3]})
        out = uniq(spark.createDataFrame(pdf), ["k"], order_col="rid",
                   ignore_case=True).toPandas()
        assert sorted(out["rid"]) == [1, 3]

    def test_auto_order_with_user_row_id_column(self, spark, tmp_path):
        """Auto-derived input order must not collide with a USER column
        named 'row_id' (the internal name is collision-proof)."""
        src = str(tmp_path / "has_rowid")
        spark.createDataFrame(
            [("x", 10), ("y", 20), ("x", 30)], ["k", "row_id"]) \
            .coalesce(1).write.parquet(src)
        scan = spark.read.parquet(src)
        out = uniq(scan, ["k"]).toPandas()  # no order_col: auto-derive
        assert sorted(out.columns) == ["k", "row_id"]
        assert len(out) == 2
        # equiv mode exercises the auto-derived column end-to-end
        out2 = uniq(scan, ["k"], mode="equiv").toPandas()
        assert sorted(out2.columns) == ["equiv_id", "k", "row_id"]
        assert out2["equiv_id"].nunique() == 2


# ---------------------------------------------------------------- sample
class TestSample:
    def test_bernoulli_rate_and_determinism(self, tables):
        li = tables["lineitem"]
        n = li.count()
        s1 = sample(li, "bernoulli", p=0.2, seed=7, compat=True)
        s2 = sample(li, "bernoulli", p=0.2, seed=7, compat=True)
        c1 = s1.count()
        assert c1 == s2.count()  # deterministic under fixed seed
        assert abs(c1 / n - 0.2) < 0.05

    def test_distinct_keys_all_or_none(self, tables):
        li = tables["lineitem"]
        out = sample(li, "distinct", p=0.1, keys=["l_suppkey"], seed=3).toPandas()
        pdf = tables["lineitem"].toPandas()
        picked = set(out["l_suppkey"])
        # every picked key appears with ALL its rows
        for k in picked:
            assert (out["l_suppkey"] == k).sum() == (pdf["l_suppkey"] == k).sum()

    def test_reservoir_and_weighted(self, tables):
        li = tables["lineitem"]
        out = sample(li, "reservoir", n=100, seed=5)
        assert out.count() == 100
        w = sample(li, "reservoir", n=200, weight="l_quantity", seed=5).toPandas()
        assert len(w) == 200
        # weighted sampling should skew toward high weights
        assert w["l_quantity"].mean() > tables["lineitem"].toPandas()["l_quantity"].mean()

    def test_with_replacement_exact_n(self, tables, spark):
        from tsv_utils_spark.operators.sample import sample_with_replacement

        r = tables["region"]  # 5 rows
        out = sample_with_replacement(r, 40, order_col="r_regionkey",
                                      seed=13).toPandas()
        assert len(out) == 40  # EXACTLY n, not expected-n
        # 40 draws over 5 rows must repeat (pigeonhole)
        assert out["r_regionkey"].duplicated().any()
        # every drawn row is a real input row
        keys = set(r.toPandas()["r_regionkey"])
        assert set(out["r_regionkey"]) <= keys
        # deterministic under fixed seed
        again = sample_with_replacement(r, 40, order_col="r_regionkey",
                                        seed=13).toPandas()
        a = sorted(out["r_regionkey"]); b = sorted(again["r_regionkey"])
        assert a == b
        # roughly uniform at larger n over lineitem order keys
        li = tables["lineitem"].select("l_orderkey", "l_linenumber")
        n = li.count()
        s = sample_with_replacement(li, n, seed=13)
        assert s.count() == n

    def test_sample_dispatch_replacement(self, tables):
        out = sample(tables["nation"], "replacement", n=50, seed=3)
        assert out.count() == 50

    def test_compat_superset_property(self, tables):
        li = tables["lineitem"].withColumn("rid", F.monotonically_increasing_id())
        small = sample(li, "bernoulli", p=0.05, seed=11, compat=True).toPandas()
        big = sample(li, "bernoulli", p=0.2, seed=11, compat=True).toPandas()
        assert set(small["rid"]).issubset(set(big["rid"]))


# ------------------------------------------------- select / split / append
class TestSelectSplitAppend:
    def test_select_variants(self, tables):
        li = tables["lineitem"]
        assert select_fields(li, ["l_orderkey", "l_quantity"]).columns == \
            ["l_orderkey", "l_quantity"]
        assert select_fields(li, [1, 2]).columns == ["l_orderkey", "l_partkey"]
        assert select_fields(li, ["3-1"]).columns == \
            ["l_suppkey", "l_partkey", "l_orderkey"]
        assert select_fields(li, ["l_r*"]).columns == ["l_returnflag"]
        assert select_fields(li, ["l_quantity"], rest="last").columns[0] == \
            "l_quantity"
        assert "l_orderkey" not in select_fields(li, ["l_orderkey"],
                                                 exclude=True).columns
        dup = select_fields(li, ["l_orderkey", "l_orderkey"]).columns
        assert dup == ["l_orderkey", "l_orderkey_1"]

    def test_split_by_key_deterministic_and_complete(self, tables):
        out = split_by_key(tables["orders"], 8, ["o_custkey"], seed=1).toPandas()
        assert set(out["bucket"]) <= set(range(8))
        # same key -> same bucket
        assert (out.groupby("o_custkey")["bucket"].nunique() == 1).all()

    def test_append_tracks_source(self, tables):
        a = tables["region"]
        out = append_tables([("r1", a), ("r2", a)], track_source=True).toPandas()
        assert len(out) == 2 * a.count()
        assert set(out["source"]) == {"r1", "r2"}


# ------------------------------------------------------------------ misc
class TestMisc:
    def test_number_lines(self, tables):
        from tsv_utils_spark.operators.misc import (
            number_lines,
            number_lines_window,
        )

        for fn in (number_lines, number_lines_window):
            df = fn(tables["region"], "r_regionkey", start=10)
            assert df.dtypes[0] == ("line", "bigint")
            out = df.toPandas().sort_values("line")
            assert list(out["line"]) == [10, 11, 12, 13, 14]

    @staticmethod
    def _numbered_rows(df, out, start):
        """Checks that ``line`` (a leading bigint) is each row's position
        in the output's (partition, position) order, counted from
        ``start``; returns the other columns of each row in that order."""
        assert out.dtypes[0] == ("line", "bigint")
        assert out.columns[1:] == df.columns
        rows = out.collect()
        assert [r[0] for r in rows] == list(range(start, start + len(rows)))
        return [tuple(r)[1:] for r in rows]

    def test_number_lines_distributed(self, spark, tables, tmp_path):
        from tsv_utils_spark.operators.misc import number_lines_distributed

        # a multi-partition file scan is rerun-stable: numbered in place,
        # in the scan's own (partition, position) order
        path = str(tmp_path / "li")
        tables["lineitem"].repartition(3).write.parquet(path)
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() > 1
        out = number_lines_distributed(df, start=5)
        assert "ExistingRDD" not in out._jdf.queryExecution().toString()
        assert self._numbered_rows(df, out, 5) == \
            [tuple(r) for r in df.collect()]

    def test_number_lines_distributed_after_exchange(self, tables):
        from tsv_utils_spark.operators.misc import number_lines_distributed

        # an exchange may place rows differently on a rerun, so the input
        # is pinned by localCheckpoint and numbered in the pinned order
        df = tables["lineitem"].repartition(7)
        out = number_lines_distributed(df)
        assert "ExistingRDD" in out._jdf.queryExecution().toString()
        assert sorted(self._numbered_rows(df, out, 1)) == \
            sorted(tuple(r) for r in df.collect())

    def test_number_lines_distributed_empty_and_many_partitions(self, spark,
                                                               tables):
        from tsv_utils_spark.operators.misc import number_lines_distributed

        empty = tables["lineitem"].filter(F.lit(False))
        assert self._numbered_rows(
            empty, number_lines_distributed(empty), 1) == []
        df = spark.range(0, 3000, 1, 300)
        out = number_lines_distributed(df, start=0)
        assert self._numbered_rows(df, out, 0) == [(i,) for i in range(3000)]

    def test_row_index_plans_have_no_python(self, tables, monkeypatch):
        import functools
        import importlib

        from tsv_utils_spark.operators.misc import (
            number_lines,
            number_lines_distributed,
        )

        uniq_mod = importlib.import_module("tsv_utils_spark.operators.uniq")
        monkeypatch.setattr(uniq_mod, "_assign_dense_ids", functools.partial(
            uniq_mod._assign_dense_ids, small_threshold=0))
        li, orders = tables["lineitem"], tables["orders"]
        for out in (number_lines(li, "l_orderkey"),
                    number_lines_distributed(li),
                    uniq(orders, ["o_orderstatus"], order_col="o_orderkey",
                         mode="equiv")):
            out.collect()
            plan = out._jdf.queryExecution().executedPlan().toString()
            for node in ("MapInPandas", "MapInArrow", "PythonUDF",
                         "ArrowEvalPython", "BatchEvalPython"):
                assert node not in plan, (node, plan)

    def test_rerun_stable_probe_catches_only_expected_errors(self):
        from tsv_utils_spark.operators.misc import (
            _partitioning_is_rerun_stable,
        )

        class NoJdf:  # e.g. a pandas frame passed where a DataFrame goes
            pass

        assert _partitioning_is_rerun_stable(NoJdf()) is False

        class Broken:
            @property
            def _jdf(self):
                raise RuntimeError("not a plan lookup failure")

        with pytest.raises(RuntimeError):
            _partitioning_is_rerun_stable(Broken())

    def test_pretty(self, tables):
        from tsv_utils_spark.operators.misc import pretty

        s = pretty(tables["region"], n=3)
        assert "r_name" in s and "AFRICA" in s

    def test_pretty_alignment_and_floats(self, spark):
        import pandas as pd

        from tsv_utils_spark.operators.misc import pretty

        df = spark.createDataFrame(pd.DataFrame({
            "name": ["aa", "b" * 60, None],
            "x": [1.5, 22.25, 3.0],
            "n": [7, 1000, 3],
        }))
        s = pretty(df, n=3, format_floats=True, underline_header=True,
                   max_width=10, empty_replacement="--")
        lines = s.split("\n")
        assert lines[1].startswith("----")            # underline
        assert "bbbbbbbbbb" in s and "b" * 11 not in s  # max_width cap
        assert " 1.50" in s and "22.25" in s          # decimal alignment
        assert "--" in s                              # empty replacement
        # numeric right-alignment: the ints line up on their last digit
        col = [ln.rstrip()[-4:] for ln in lines[2:]]
        assert col == ["   7", "1000", "   3"]

    def test_significant_digits_reference_fixtures(self):
        # the reference's own unit tests, verbatim
        # (tsv-pretty.d:1239-1252)
        from tsv_utils_spark.operators.misc import _significant_digits

        cases = {"0": 1, "10": 2, "0.0": 1, "-10.0": 2, "-.01": 1,
                 "-.5401": 4, "1010.010": 6, "0.0003003": 4,
                 "6e+06": 1, "6.0e+06": 1, "6.5e+06": 2,
                 "6.005e+06": 4}
        for s, want in cases.items():
            assert _significant_digits(s) == want, (s, want)

    def test_pretty_exponent_column_formatting(self, spark):
        # exponential notation supersedes floats/ints for the column;
        # under --format-floats every value renders at the column's
        # shared precision: short values ZERO-PAD (own digits kept),
        # long values round (tsv-pretty.d:1125-1165)
        import pandas as pd

        from tsv_utils_spark.operators.misc import pretty

        df = spark.createDataFrame(pd.DataFrame({
            "e": ["6e+06", "6.005e+06", "1.25", "0.5"],
        }))
        s = pretty(df, n=4, format_floats=True)
        lines = [ln.strip() for ln in s.split("\n")[1:]]
        # max significant = 4 (6.005e+06) -> precision 3
        assert lines[0] == "6.000e+06"   # padded, not re-rounded
        assert lines[1] == "6.005e+06"
        assert lines[2] == "1.250e+00"   # plain floats join the format
        assert lines[3] == "5.000e-01"
        # without format_floats: raw values, right-aligned
        raw = pretty(df, n=4, format_floats=False).split("\n")[1:]
        assert [r.strip() for r in raw] == ["6e+06", "6.005e+06",
                                            "1.25", "0.5"]
        assert all(r == r.rjust(len(raw[1])) for r in raw)


class TestNumFormat:
    def test_python_twin(self):
        from tsv_utils_spark.functions.numformat import format_number_ref

        assert format_number_ref(10.0) == "10"
        assert format_number_ref(float("nan")) == "nan"
        assert format_number_ref(9.5) == "9.5"
        assert format_number_ref(1.0 / 3.0) == "0.333333333333"

    def test_expr(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F

        from tsv_utils_spark.functions.numformat import format_number_expr

        df = spark.sql("""
            SELECT * FROM VALUES (10.0D), (9.5D), (1.0D/3.0D),
                                 (double('NaN')), (CAST(NULL AS DOUBLE))
            AS t(v)""")
        out = [r[0] for r in
               df.select(format_number_expr(F.col("v"))).collect()]
        assert out == ["10", "9.5", "0.333333333333", "nan", None]


class TestStrictSummarize:
    def test_aborts_on_bad_numeric(self, spark):
        import pandas as pd

        from tsv_utils_spark.operators import Op, summarize

        df = spark.createDataFrame(pd.DataFrame({"k": ["a", "a"],
                                                 "v": ["1", "oops"]}))
        with pytest.raises(ValueError, match="non-numeric"):
            summarize(df, ["k"], [Op.sum("v")], strict_numeric=True).collect()
        # without strict mode: lazy null semantics
        out = summarize(df, ["k"], [Op.sum("v")]).toPandas()
        assert out["v_sum"][0] == 1.0


class TestEmbeddingDedup:
    def test_finds_planted_near_dups(self, spark, tables):
        import numpy as np
        from pyspark.sql import functions as F

        from tsv_utils_spark.operators.dedup import embedding_dedup

        emb = tables["embeddings"].limit(100).toPandas()
        rows = []
        for _, r in emb.iterrows():
            v = np.asarray(r["embedding"], dtype=np.float32)
            rows.append((int(r["vec_id"]), v.tolist()))
            if r["vec_id"] < 5:  # plant 5 near-duplicates
                noisy = v + 0.02 * float(np.linalg.norm(v)) / np.sqrt(len(v)) * \
                    np.random.default_rng(int(r["vec_id"])).standard_normal(len(v)).astype(np.float32)
                rows.append((int(r["vec_id"]) + 1000, noisy.tolist()))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = embedding_dedup(df, "embedding", "vec_id",
                              threshold=0.95).toPandas()
        pairs = set(zip(out["id_a"], out["id_b"]))
        found = sum((i, i + 1000) in pairs for i in range(5))
        assert found >= 4  # LSH recall on near-identical vectors


class TestSampleBudgetAndStrata:
    def test_sample_to_budget_prefix_semantics(self, spark):
        from tsv_utils_spark.operators.sample import sample_to_budget

        df = spark.createDataFrame(
            [(i, 10) for i in range(100)], ["id", "w"]) \
            .withColumn("__ord", F.md5(F.col("id").cast("string")))
        out = sample_to_budget(df, "w", 55, "__ord").toPandas()
        # budget 55 over weight-10 rows: cum_excl < 55 keeps rows at
        # cum_excl 0,10,20,30,40,50 -> 6 rows (boundary crosser included)
        assert len(out) == 6
        # the kept set is the md5-order prefix
        pdf = df.toPandas().sort_values("__ord")
        assert set(out["id"]) == set(pdf.head(6)["id"])

    def test_sample_to_budget_matches_window_cumsum(self, tables, spark):
        from tsv_utils_spark.operators.sample import sample_to_budget

        d = tables["documents"].select("doc_id", "n_chars") \
            .withColumn("__ord", F.md5(F.col("doc_id").cast("string")))
        got = sorted(r.doc_id for r in
                     sample_to_budget(d, "n_chars", 20_000, "__ord")
                     .collect())
        from pyspark.sql import Window
        w = Window.orderBy("__ord").rowsBetween(Window.unboundedPreceding, -1)
        want = sorted(r.doc_id for r in
                      d.withColumn("__c", F.coalesce(F.sum("n_chars").over(w),
                                                     F.lit(0)))
                       .where(F.col("__c") < 20_000).collect())
        assert got == want

    def test_stratified_sample_rates(self, tables):
        from tsv_utils_spark.operators.sample import stratified_sample

        d = tables["documents"]
        out = stratified_sample(d, "lang", {"en": 1.0, "fr": 0.0})
        langs = {r.lang for r in out.select("lang").distinct().collect()}
        assert langs == {"en"}  # fr sampled at 0, others dropped entirely
        n_en = d.where("lang = 'en'").count()
        assert out.count() == n_en  # fraction 1.0 keeps every en row

    def test_sample_to_budget_null_weights_count_as_zero(self, spark):
        # ADVICE r3: a NULL weight must behave like F.sum's null-skip
        # (weight 0), not poison the cumsum with NaN and silently drop
        # every later row in the partition
        from tsv_utils_spark.operators.sample import sample_to_budget

        rows = [(i, None if i % 3 == 0 else 10) for i in range(60)]
        df = spark.createDataFrame(rows, "id int, w int") \
            .withColumn("__ord", F.md5(F.col("id").cast("string")))
        for mat in (True, False):
            got = sorted(r.id for r in
                         sample_to_budget(df, "w", 105, "__ord",
                                          materialize=mat).collect())
            from pyspark.sql import Window
            w = Window.orderBy("__ord").rowsBetween(
                Window.unboundedPreceding, -1)
            want = sorted(
                r.id for r in
                df.withColumn("__c", F.coalesce(
                    F.sum("w").over(w), F.lit(0)))
                  .where(F.col("__c") < 105).collect())
            assert got == want, f"materialize={mat}"

    def test_sample_to_budget_nomat_matches_and_skips_checkpoint(
            self, tables, spark):
        from tsv_utils_spark.operators.sample import sample_to_budget

        d = tables["documents"].select("doc_id", "n_chars") \
            .withColumn("__ord", F.md5(F.col("doc_id").cast("string")))
        mat = sample_to_budget(d, "n_chars", 20_000, "__ord",
                               materialize=True)
        nomat = sample_to_budget(d, "n_chars", 20_000, "__ord",
                                 materialize=False)
        assert sorted(r.doc_id for r in mat.collect()) == \
            sorted(r.doc_id for r in nomat.collect())
        # the deterministic path must not materialize: no checkpointed
        # RDD scan in its plan (the materialize path has one)
        assert "ExistingRDD" in mat._jdf.queryExecution().toString()
        assert "ExistingRDD" not in nomat._jdf.queryExecution().toString()

    def test_sample_to_budget_nomat_rejects_null_order(self, spark):
        from tsv_utils_spark.operators.sample import sample_to_budget

        df = spark.createDataFrame(
            [(1, 10, "aa" * 16), (2, 10, None)],
            "id int, w int, __ord string")
        with pytest.raises(Exception, match="NULL __ord"):
            # the per-bucket offsets job inside the call already scans
            # the data, so the in-plan guard fires here
            sample_to_budget(df, "w", 100, "__ord",
                             materialize=False).collect()


class TestRunningTotalAndPacking:
    def test_running_total_matches_window_int_exact(self, tables, spark):
        from pyspark.sql import Window

        from tsv_utils_spark.operators.pack import running_total

        d = tables["documents"].select("doc_id", "n_chars") \
            .withColumn("__ord", F.md5(F.col("doc_id").cast("string")))
        got = {r["doc_id"]: r["cum_excl"] for r in
               running_total(d, "n_chars", "__ord").collect()}
        w = Window.orderBy("__ord").rowsBetween(
            Window.unboundedPreceding, -1)
        want = {r["doc_id"]: r["c"] for r in
                d.withColumn("c", F.coalesce(F.sum("n_chars").over(w),
                                             F.lit(0))).collect()}
        assert got == want  # bit-identical: int64 end-to-end

    def test_running_total_null_weights_zero(self, spark):
        from tsv_utils_spark.operators.pack import running_total

        df = spark.createDataFrame(
            [(1, 10), (2, None), (3, 5)], "id int, w int") \
            .withColumn("__ord", F.md5(F.col("id").cast("string")))
        rows = running_total(df, "w", "__ord").collect()
        ordered = sorted(rows, key=lambda r: r["__ord"])
        cum = 0
        for r in ordered:
            assert r["cum_excl"] == cum
            cum += r["w"] or 0

    def test_running_total_nullable_int64_exact_past_2_53(self, spark):
        # ADVICE r4: a NULLABLE int column reaches pandas as float64
        # (NaN for NULLs) and fillna().astype('int64') round-trips
        # through float — inexact above 2^53. Weights near 2^60 with a
        # NULL in the column must still sum bit-exactly.
        from tsv_utils_spark.operators.pack import running_total

        big = (1 << 60) + 1  # not representable in float64
        df = spark.createDataFrame(
            [(1, big), (2, None), (3, big), (4, 7)],
            "id int, w bigint") \
            .withColumn("__ord", F.md5(F.col("id").cast("string")))
        rows = sorted(running_total(df, "w", "__ord").collect(),
                      key=lambda r: r["__ord"])
        cum = 0
        for r in rows:
            assert r["cum_excl"] == cum, (r, cum)
            cum += r["w"] or 0

    def test_pack_sequences_boundaries_and_straddlers(self, spark):
        from tsv_utils_spark.operators.pack import pack_sequences

        # fixed order: single hex char prefixes give a known sort
        rows = [("a" * 32, 1, 300), ("b" * 32, 2, 300), ("c" * 32, 3, 500)]
        df = spark.createDataFrame(
            [(o, i, w) for o, i, w in rows], "__ord string, id int, w int")
        out = {r["id"]: r for r in
               pack_sequences(df, "w", 512, "__ord").collect()}
        # cum: id1=0, id2=300, id3=600
        assert (out[1]["seq_id"], out[1]["seq_offset"], out[1]["n_seqs"]) \
            == (0, 0, 1)
        assert (out[2]["seq_id"], out[2]["seq_offset"], out[2]["n_seqs"]) \
            == (0, 300, 2)  # 300..599 straddles the 512 cut
        assert (out[3]["seq_id"], out[3]["seq_offset"], out[3]["n_seqs"]) \
            == (1, 88, 2)   # 600..1099 straddles the 1024 cut

    def test_pack_rejects_float_weights(self, spark):
        from tsv_utils_spark.operators.pack import pack_sequences

        df = spark.createDataFrame([(1, 1.5, "a" * 32)],
                                   "id int, w double, __ord string")
        with pytest.raises(ValueError, match="integer token-count"):
            pack_sequences(df, "w", 512, "__ord")

    def test_pack_segments_reassemble(self, tables, spark):
        from tsv_utils_spark.operators.pack import pack_segments

        d = tables["documents"].select("doc_id", "n_chars") \
            .where("n_chars > 0") \
            .withColumn("__ord", F.md5(F.col("doc_id").cast("string")))
        seg = pack_segments(d, "n_chars", 256, "__ord").toPandas()
        # every doc's slices cover exactly [0, n_chars) contiguously
        byid = dict(d.select("doc_id", "n_chars").toPandas()
                    .set_index("doc_id")["n_chars"])
        for doc_id, g in seg.groupby("doc_id"):
            g = g.sort_values("slice_start")
            assert g["slice_start"].iloc[0] == 0
            assert (g["slice_start"] + g["slice_len"]).iloc[-1] == \
                byid[doc_id]
            assert (g["slice_start"].iloc[1:].to_numpy() ==
                    (g["slice_start"] + g["slice_len"]).iloc[:-1]
                    .to_numpy()).all()
        # every sequence except the last is filled to exactly seq_len
        per_seq = seg.groupby("seq_id")["slice_len"].sum()
        assert (per_seq.iloc[:-1] == 256).all()
        assert per_seq.sum() == sum(byid.values())
        # slices within a sequence tile it: seq_pos contiguous from 0
        for sid, g in seg.groupby("seq_id"):
            g = g.sort_values("seq_pos")
            assert g["seq_pos"].iloc[0] == 0
            assert (g["seq_pos"].iloc[1:].to_numpy() ==
                    (g["seq_pos"] + g["slice_len"]).iloc[:-1]
                    .to_numpy()).all()



class TestMixtureSample:
    @staticmethod
    def _u(doc_id):
        import hashlib

        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:13], 16) / 2.0 ** 52

    def test_equalize_matches_exact_replication(self, tables, spark):
        # deterministic u => the kept SET is a fixed function of the
        # data; replicate the whole operator in pure Python and compare
        # row for row
        from tsv_utils_spark.operators.sample import mixture_sample

        d = tables["documents"]
        u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 13), 16, 10).cast("double")
             / F.lit(2.0 ** 52))
        got = {r["doc_id"] for r in
               mixture_sample(d, "lang", "equalize", u_expr=u)
               .select("doc_id").collect()}
        pdf = d.select("doc_id", "lang").toPandas()
        counts = pdf["lang"].value_counts().to_dict()
        floor_n = min(counts.values())
        want = {int(r.doc_id) for r in pdf.itertuples()
                if self._u(r.doc_id) < min(1.0, floor_n / counts[r.lang])}
        assert got == want
        # the floor stratum is kept in full (rate exactly 1.0)
        floor_lang = min(counts, key=counts.get)
        kept_floor = {int(r.doc_id) for r in pdf.itertuples()
                      if r.lang == floor_lang and int(r.doc_id) in got}
        assert len(kept_floor) == counts[floor_lang]

    def test_dict_targets_drop_unlisted_strata(self, tables, spark):
        from tsv_utils_spark.operators.sample import mixture_sample

        d = tables["documents"]
        counts = {r["lang"]: r["count"] for r in
                  d.groupBy("lang").count().collect()}
        lang0 = sorted(counts)[0]
        u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 13), 16, 10).cast("double")
             / F.lit(2.0 ** 52))
        out = mixture_sample(d, "lang", {lang0: counts[lang0]},
                             u_expr=u)
        got = {r["lang"] for r in out.select("lang").distinct().collect()}
        assert got == {lang0}          # documented destructive default
        assert out.count() == counts[lang0]  # rate 1.0 keeps all

    def test_null_stratum_never_sets_the_floor(self, spark):
        from tsv_utils_spark.operators.sample import mixture_sample

        rows = [(i, "en") for i in range(100)] \
            + [(100 + i, "fr") for i in range(80)] \
            + [(200, None), (201, None)]
        df = spark.createDataFrame(rows, "doc_id int, lang string")
        out = mixture_sample(df, "lang", "equalize",
                             u_expr=F.lit(0.0))  # u=0 keeps rate>0 rows
        got = out.groupBy("lang").count().collect()
        by = {r["lang"]: r["count"] for r in got}
        # floor = 80 (fr), NOT 2 (the NULL group); NULL rows dropped
        assert by.get("fr") == 80 and by.get("en") == 100
        assert None not in by

    def test_rejects_bad_targets_before_any_job(self, spark):
        from tsv_utils_spark.operators.sample import mixture_sample

        empty = spark.createDataFrame([], "doc_id int, lang string")
        with pytest.raises(ValueError, match="targets"):
            mixture_sample(empty, "lang", 0.5)  # validated pre-aggregate
