"""Two-level partial+final sketch UDAF engine tests: estimates vs exact
answers, map-mode vs salt-mode equivalence, shared-scan multi-sketch."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsv_utils_spark.plans import SketchSpec, sketch_agg


@pytest.fixture(scope="module")
def li(tables):
    return tables["lineitem"]


@pytest.fixture(scope="module")
def li_pdf(li):
    return li.toPandas()


class TestSketchAgg:
    def test_hll_exact_in_sparse_regime(self, li, li_pdf):
        out = sketch_agg(
            li, ["l_returnflag"],
            [SketchSpec("hll", "l_partkey", "partkey_uc", {"p": 14})],
        ).toPandas().set_index("l_returnflag").sort_index()
        g = li_pdf.groupby("l_returnflag")["l_partkey"].nunique()
        # sf0.001 cardinalities sit in the HLL sparse (exact) phase
        assert (out["partkey_uc"].astype(int) == g).all()

    def test_multi_sketch_one_pass(self, li, li_pdf):
        out = sketch_agg(
            li, ["l_returnflag"],
            [SketchSpec("hll", "l_suppkey", "supp_uc"),
             SketchSpec("kll", "l_extendedprice", "price",
                        {"quantiles": [0.5, 0.9]}),
             SketchSpec("tdigest", "l_quantity", "qty", {"quantiles": [0.5]}),
             SketchSpec("cm", "l_linestatus", "status_mode",
                        {"finalize": "mode"}),
             SketchSpec("cm", "l_linestatus", "status_mode_n",
                        {"finalize": "mode_count"})],
            include_rows=True,
        ).toPandas().set_index("l_returnflag").sort_index()
        g = li_pdf.groupby("l_returnflag")
        assert (out["rows"] == g.size()).all()
        assert (out["supp_uc"].astype(int) == g["l_suppkey"].nunique()).all()
        for flag, grp in li_pdf.groupby("l_returnflag"):
            n = len(grp)
            s_price = np.sort(grp["l_extendedprice"].to_numpy())
            for qcol, q in (("price_q0_5", 0.5), ("price_q0_9", 0.9)):
                est = out.loc[flag, qcol]
                rank = np.searchsorted(s_price, est) / n
                assert abs(rank - q) < 0.03, (flag, qcol)
            s_qty = np.sort(grp["l_quantity"].to_numpy())
            rank = np.searchsorted(s_qty, out.loc[flag, "qty"]) / n
            assert abs(rank - 0.5) < 0.03
            vc = grp["l_linestatus"].value_counts()
            assert out.loc[flag, "status_mode_n"] == vc.max()
            assert out.loc[flag, "status_mode"] in set(
                v for v, c in vc.items() if c == vc.max())

    def test_salt_mode_matches_map_mode(self, li):
        specs = [SketchSpec("hll", "l_partkey", "uc"),
                 SketchSpec("kll", "l_quantity", "q50", {"quantiles": [0.5]})]
        a = sketch_agg(li, ["l_linestatus"], specs, mode="map") \
            .toPandas().set_index("l_linestatus").sort_index()
        b = sketch_agg(li, ["l_linestatus"], specs, mode="salt",
                       salt_partitions=8) \
            .toPandas().set_index("l_linestatus").sort_index()
        # HLL sparse union is exactly merge-order invariant
        assert (a["uc"] == b["uc"]).all()
        # KLL differs only within rank error
        assert np.allclose(a["q50"], b["q50"], rtol=0.1)

    def test_auto_salt_fanout(self, li, spark):
        from tsv_utils_spark.plans.agg import choose_salt

        # uniform keys -> salting off (S == 1)
        uniform = spark.range(0, 50_000).selectExpr(
            "cast(id % 1000 as string) AS k", "id AS v")
        assert choose_salt(uniform, ["k"], sample_fraction=0.2) == 1
        # 80%-hot key -> S grows toward its shuffle share
        hot = spark.range(0, 50_000).selectExpr(
            "CASE WHEN id % 10 < 8 THEN 'mega' ELSE cast(id as string) END"
            " AS k", "id AS v")
        s = choose_salt(hot, ["k"], sample_fraction=0.2)
        assert s >= 4  # 0.8 share x 4 shuffle partitions (test conf) x 2
        # and mode='salt' with auto gives the same estimates as map mode
        specs = [SketchSpec("hll", "v", "uc")]
        a = sketch_agg(hot, ["k"], specs, mode="map").toPandas() \
            .set_index("k").sort_index()
        b = sketch_agg(hot, ["k"], specs, mode="salt",
                       salt_partitions="auto").toPandas() \
            .set_index("k").sort_index()
        assert (a["uc"] == b["uc"]).all()

    def test_no_group_by(self, li, li_pdf):
        out = sketch_agg(li, [], [SketchSpec("hll", "l_orderkey", "uc")]) \
            .toPandas()
        assert int(out["uc"][0]) == li_pdf["l_orderkey"].nunique()

    def test_partial_flush_path(self, li, li_pdf):
        # force early partial flushes (max 2 groups in memory at level 1)
        out = sketch_agg(li, ["l_suppkey"],
                         [SketchSpec("hll", "l_orderkey", "uc")],
                         max_groups_per_partition=2) \
            .toPandas().set_index("l_suppkey").sort_index()
        g = li_pdf.groupby("l_suppkey")["l_orderkey"].nunique()
        assert (out["uc"].astype(int) == g).all()

    def test_bloom_blob_output(self, li, li_pdf, spark):
        from tsv_utils_spark.sketches.bloom import BloomFilter

        out = sketch_agg(li, ["l_returnflag"],
                         [SketchSpec("bloom", "l_partkey", "pk",
                                     {"m": 1 << 16, "k": 5})]).collect()
        for row in out:
            bf = BloomFilter.deserialize(bytes(row["pk_blob"]))
            keys = li_pdf[li_pdf.l_returnflag == row["l_returnflag"]][
                "l_partkey"].astype(str).unique()
            assert bf.contains(keys.astype(object)).all()


class TestArrowKernelEdges:
    def test_null_keys_and_values(self, spark):
        import pandas as pd

        pdf = pd.DataFrame({
            "k": ["a", "a", None, "b", None, "a"],
            "s": ["x", None, "y", "y", "y", "x"],
            "v": [1.0, None, 3.0, 4.0, 5.0, 2.0],
        })
        df = spark.createDataFrame(pdf)
        out = sketch_agg(
            df, ["k"],
            [SketchSpec("hll", "s", "uc"),
             SketchSpec("kll", "v", "q50", {"quantiles": [0.5]}),
             SketchSpec("cm", "s", "top", {"finalize": "mode"})],
            include_rows=True,
        ).toPandas()
        byk = {row["k"]: row for _, row in out.iterrows()}
        assert byk["a"]["rows"] == 3
        assert int(byk["a"]["uc"]) == 1          # 'x' only (None ignored)
        assert byk["a"]["top"] == "x"
        assert byk["a"]["q50"] == 1.5            # median of 1,2 (null dropped)
        assert byk[None]["rows"] == 2
        assert int(byk[None]["uc"]) == 1         # 'y'
        assert byk["b"]["top"] == "y"

    def test_int_group_key(self, spark):
        import pandas as pd

        pdf = pd.DataFrame({"g": [1, 1, 2, 2, 2], "x": [10, 20, 30, 30, 40]})
        df = spark.createDataFrame(pdf)
        out = sketch_agg(df, ["g"], [SketchSpec("hll", "x", "uc")],
                         include_rows=True) \
            .toPandas().set_index("g").sort_index()
        assert list(out["rows"]) == [2, 3]
        assert [int(v) for v in out["uc"]] == [2, 2]  # {10,20}, {30,40}

    def test_estimates_equal_across_key_counts(self, tables):
        """One level-1 kernel serves every key count: grouping by
        l_returnflag alone or with up to four copies of it (1-5 keys)
        gives the same estimates, and a 0-key call over each flag's rows
        gives that flag's row."""
        li = tables["lineitem"]
        specs = [SketchSpec("hll", "l_partkey", "uc"),
                 SketchSpec("cm", "l_linestatus", "m", {"finalize": "mode"})]
        base = sketch_agg(li, ["l_returnflag"], specs) \
            .toPandas().set_index("l_returnflag").sort_index()
        for n_keys in (2, 3, 4, 5):
            wide = li
            copies = [f"rf{j}" for j in range(2, n_keys + 1)]
            for c in copies:
                wide = wide.withColumn(c, F.col("l_returnflag"))
            other = sketch_agg(wide, ["l_returnflag", *copies], specs) \
                .toPandas().set_index("l_returnflag").sort_index()
            assert list(other.index) == list(base.index), n_keys
            assert (base["uc"].values == other["uc"].values).all(), n_keys
            assert (base["m"].values == other["m"].values).all(), n_keys
        for flag in base.index:
            glob = sketch_agg(li.where(F.col("l_returnflag") == flag), [],
                              specs).collect()
            assert len(glob) == 1
            assert glob[0]["uc"] == base.loc[flag, "uc"], flag
            assert glob[0]["m"] == base.loc[flag, "m"], flag

    def test_cm_topk_json_finalize(self, li, li_pdf):
        import json

        out = sketch_agg(li, ["l_returnflag"],
                         [SketchSpec("cm", "l_linestatus", "top",
                                     {"finalize": "topk_json", "k_top": 2})]) \
            .toPandas().set_index("l_returnflag")
        for flag, grp in li_pdf.groupby("l_returnflag"):
            got = json.loads(out.loc[flag, "top"])
            vc = grp["l_linestatus"].value_counts()
            assert got[0][0] == vc.index[0]
            assert got[0][1] == int(vc.iloc[0])

    def test_hll_vs_spark_builtin_cross_check(self, spark):
        # SURVEY §7 decision table: Spark's approx_count_distinct (HLL++)
        # serves as a secondary cross-check of our HLL in the dense regime
        import pandas as pd

        n = 150_000
        df = spark.range(n).selectExpr("id % 120000 as v",
                                       "cast(id % 3 as string) as g")
        ours = sketch_agg(df, ["g"], [SketchSpec("hll", "v", "uc",
                                                 {"p": 12, "sparse_limit": 8})]) \
            .toPandas().set_index("g")
        theirs = df.groupBy("g").agg(
            F.approx_count_distinct("v", 0.02).alias("uc")) \
            .toPandas().set_index("g")
        exact = df.groupBy("g").agg(F.countDistinct("v").alias("uc")) \
            .toPandas().set_index("g")
        for g in exact.index:
            e = exact.loc[g, "uc"]
            assert abs(ours.loc[g, "uc"] - e) / e < 0.05
            assert abs(theirs.loc[g, "uc"] - e) / e < 0.05


class TestTypedCountMin:
    def test_mode_over_date_column_finalizes_as_date(self, spark):
        import datetime

        df = spark.range(100).selectExpr(
            "cast(id % 2 as string) as g",
            "date_add(date'2024-01-01', cast(id % 3 as int)) as day")
        # id%3==0 has 34 of 100 rows -> mode day = 2024-01-01 in g=0
        out = sketch_agg(df, ["g"],
                         [SketchSpec("cm", "day", "mode_day",
                                     {"finalize": "mode", "typed": True,
                                      "out_type": "date"}),
                          SketchSpec("cm", "day", "mode_n",
                                     {"finalize": "mode_count",
                                      "typed": True})])
        assert dict(out.dtypes)["mode_day"] == "date"
        rows = {r["g"]: r for r in out.collect()}
        exact = df.groupBy("g", "day").count().collect()
        for g in ("0", "1"):
            # CM tie-break: (-count, str(value)) — smallest day wins ties
            best = sorted((r for r in exact if r["g"] == g),
                          key=lambda r: (-r["count"], r["day"]))[0]
            assert rows[g]["mode_day"] == best["day"]
            assert rows[g]["mode_n"] == best["count"]
            assert isinstance(rows[g]["mode_day"], datetime.date)

    def test_timestamp_keys_hash_consistently(self):
        # the update path hashes datetime64 batches; candidate re-score
        # hashes Python datetime objects — both must hit the same cells
        import datetime

        import numpy as np

        from tsv_utils_spark.sketches.hashing import hash64

        dts = [datetime.datetime(2024, 3, 1, 12, 0, 0),
               datetime.datetime(2024, 3, 2, 6, 30, 0)]
        a = hash64(np.array(dts, dtype="datetime64[ns]"))
        b = hash64(np.asarray(dts, dtype=object))
        assert (a == b).all()
        # dates hash as their midnight instant, alone or mixed
        d = datetime.date(2024, 3, 1)
        alone = hash64(np.asarray([d], dtype=object))
        mixed = hash64(np.asarray(["x", d, None], dtype=object))
        assert alone[0] == mixed[1]
        midnight = hash64(np.asarray([datetime.datetime(2024, 3, 1)],
                                     dtype=object))
        assert alone[0] == midnight[0]


class TestSketchRollup:
    def test_rollup_equals_direct_agg(self, spark):
        from tsv_utils_spark.plans import (
            SketchSpec,
            sketch_agg,
            sketch_partials,
            sketch_rollup,
        )

        df = spark.range(20_000).selectExpr(
            "cast(id % 4 as string) as a",
            "cast(id % 40 as string) as b",
            "id % 3000 as v")
        specs = [SketchSpec("hll", "v", "uc", {"sparse_limit": 1 << 18}),
                 SketchSpec("cm", "b", "top_b", {"finalize": "mode"})]
        fine = sketch_partials(df, ["a", "b"], specs)
        assert fine.count() == 40  # one blob row per (a, b)
        rolled = sketch_rollup(fine, ["a"], specs, include_rows=True) \
            .toPandas().set_index("a").sort_index()
        direct = sketch_agg(df, ["a"], specs, include_rows=True) \
            .toPandas().set_index("a").sort_index()
        # sparse-exact HLL + low-collision CM: rollup == direct exactly
        assert rolled["uc"].tolist() == direct["uc"].tolist()
        assert rolled["top_b"].tolist() == direct["top_b"].tolist()
        assert rolled["rows"].tolist() == direct["rows"].tolist() == \
            [5000] * 4

    def test_two_level_rollup_and_blob_form(self, spark):
        from tsv_utils_spark.plans import (
            SketchSpec,
            sketch_agg,
            sketch_partials,
            sketch_rollup,
        )

        df = spark.range(6_000).selectExpr(
            "cast(id % 2 as string) as a",
            "cast(id % 6 as string) as b",
            "cast(id % 12 as string) as c",
            "id % 997 as v")
        specs = [SketchSpec("hll", "v", "uc", {"sparse_limit": 1 << 18})]
        fine = sketch_partials(df, ["a", "b", "c"], specs)
        mid = sketch_rollup(fine, ["a", "b"], specs, finalize=False)
        assert set(mid.columns) == {"a", "b", "__rows", "__blob_0"}
        top = sketch_rollup(mid, ["a"], specs, include_rows=True)
        direct = sketch_agg(df, ["a"], specs, include_rows=True)
        got = {r["a"]: (r["rows"], r["uc"]) for r in top.collect()}
        want = {r["a"]: (r["rows"], r["uc"]) for r in direct.collect()}
        assert got == want

    def test_rollup_rejects_unknown_keys(self, spark):
        import pytest

        from tsv_utils_spark.plans import (
            SketchSpec,
            sketch_partials,
            sketch_rollup,
        )

        df = spark.range(100).selectExpr("cast(id % 2 as string) as a",
                                         "id as v")
        specs = [SketchSpec("hll", "v", "uc")]
        fine = sketch_partials(df, ["a"], specs)
        with pytest.raises(ValueError, match="not in blob table"):
            sketch_rollup(fine, ["nope"], specs)

    def test_salt_mode_typed_timestamp_roundtrip(self, spark):
        """mode='salt' once ran a pandas kernel, whose factorized uniq
        arrays are datetime64[ns] — .tolist() on those yields raw
        epoch-ns ints, which (pre-fix) split candidate keys between int
        (pandas path) and datetime (Arrow path) across merged partials
        and could finalize a typed mode as a raw int. Both modes now run
        the one Arrow kernel; the salted result must still agree with
        the map-mode result and stay a real timestamp."""
        import datetime

        df = spark.range(300).selectExpr(
            "cast(id % 2 as string) as g",
            "timestamp'2024-03-01 12:00:00' + "
            "make_interval(0,0,0,0,cast(id % 3 as int),0,0) as ts")
        spec = [SketchSpec("cm", "ts", "mode_ts",
                           {"finalize": "mode", "typed": True,
                            "out_type": "timestamp"}),
                SketchSpec("cm", "ts", "mode_n",
                           {"finalize": "mode_count", "typed": True})]
        for m in ("map", "salt"):
            out = sketch_agg(df, ["g"], spec, mode=m,
                             salt_partitions=4).toPandas().set_index("g")
            assert str(out["mode_ts"].dtype).startswith("datetime64"), m
            for g in ("0", "1"):
                v = out.loc[g, "mode_ts"]
                assert isinstance(v, (datetime.datetime,
                                      __import__("pandas").Timestamp)), \
                    (m, type(v))
                # id%3==0 is the most frequent residue -> 12:00:00 wins
                assert v.to_pydatetime().replace(tzinfo=None) == \
                    datetime.datetime(2024, 3, 1, 12, 0, 0), (m, g, v)
                assert out.loc[g, "mode_n"] == 50, (m, g)

    @pytest.mark.parametrize("tz", ["America/New_York", "Asia/Kolkata"])
    def test_typed_timestamp_in_non_utc_session(self, spark, tz):
        """Typed cm mode / mode_count over a TIMESTAMP column in a
        non-UTC session equal the exact groupBy answer, in map mode, salt
        mode and ``sketch_partials`` -> ``sketch_rollup``. The 97 instants
        are 5 minutes apart and cross New York's DST change (2024-03-10
        07:00 UTC); the kernel sees them as session-zone aware datetimes
        and keeps them as naive-UTC candidates."""
        from tsv_utils_spark.plans import sketch_partials, sketch_rollup

        df = spark.range(3000).selectExpr(
            "cast(id % 3 as string) as g", "id % 2 as h",
            "timestamp_seconds(1710050000 + 300 * "
            "case when id % 10 = 0 then 50 else id % 97 end) as ts")
        spec = [SketchSpec("cm", "ts", "m",
                           {"finalize": "mode", "typed": True,
                            "out_type": "timestamp"}),
                SketchSpec("cm", "ts", "mc",
                           {"finalize": "mode_count", "typed": True})]
        old = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            best: dict = {}
            for r in df.groupBy("g", "ts").count().collect():
                cur = best.get(r["g"])
                if cur is None or (-r["count"], r["ts"]) < (-cur[1], cur[0]):
                    best[r["g"]] = (r["ts"], r["count"])
            want = sorted((g, ts, n) for g, (ts, n) in best.items())
            outs = {m: sketch_agg(df, ["g"], spec, mode=m, salt_partitions=4)
                    for m in ("map", "salt")}
            outs["rollup"] = sketch_rollup(
                sketch_partials(df, ["g", "h"], spec), ["g"], spec)
            for how, out in outs.items():
                got = sorted(tuple(r) for r in
                             out.select("g", "m", "mc").collect())
                assert got == want, (tz, how)
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)

    def test_theta_pairwise_distributed_matches_exact(self, tables, spark):
        """theta_pairwise (keys-only pairing + blob equi-joins +
        executor-side estimates) must reproduce the exact pairwise
        intersection / difference / union counts in the below-capacity
        regime, pair-for-pair — the distributed replacement for the old
        collect-all-blobs driver loop."""
        from tsv_utils_spark.plans import sketch_partials, theta_pairwise

        li = tables["lineitem"]
        spec = [SketchSpec("theta", "l_partkey", "uc", {"k": 1 << 18})]
        blobs = sketch_partials(li, ["l_returnflag"], spec)
        got = theta_pairwise(blobs, ["l_returnflag"]).toPandas() \
            .set_index(["l_returnflag_a", "l_returnflag_b"]).sort_index()
        # pairs are unordered, emitted with a < b only
        assert all(a < b for a, b in got.index)
        sets = {r["l_returnflag"]: set(r["ps"]) for r in
                li.groupBy("l_returnflag")
                  .agg(F.collect_set("l_partkey").alias("ps")).collect()}
        flags = sorted(sets)
        n_pairs = len(flags) * (len(flags) - 1) // 2
        assert len(got) == n_pairs
        for a in flags:
            for b in flags:
                if a >= b:
                    continue
                row = got.loc[(a, b)]
                assert round(row["intersect_est"]) == len(sets[a] & sets[b])
                assert round(row["diff_ab_est"]) == len(sets[a] - sets[b])
                assert round(row["diff_ba_est"]) == len(sets[b] - sets[a])
                assert round(row["union_est"]) == len(sets[a] | sets[b])

    def test_theta_pairwise_includes_null_group(self, spark):
        # a NULL group key is a legitimate group: pairing runs on dense
        # ordinal ids with null-safe key attachment, so NULL pairs like
        # any other value (a struct inequality would drop it silently)
        from tsv_utils_spark.plans import sketch_partials, theta_pairwise

        df = spark.createDataFrame(
            [("a", 1), ("a", 2), (None, 2), (None, 3), ("b", 3)],
            "g string, v int")
        blobs = sketch_partials(df, ["g"], [SketchSpec("theta", "v", "uc",
                                                       {"k": 64})])
        got = theta_pairwise(blobs, ["g"]).toPandas()
        assert len(got) == 3  # (None,a), (None,b), (a,b) — all present
        def key(r):
            return (r["g_a"], r["g_b"])
        rows = {key(r): r for _, r in got.iterrows()}
        null_a = [k for k in rows if k[0] is None or k[1] is None]
        assert len(null_a) == 2
        m = {frozenset([ka, kb]): r["intersect_est"]
             for (ka, kb), r in rows.items()}
        assert m[frozenset([None, "a"])] == 1.0   # {2,3} & {1,2}
        assert m[frozenset([None, "b"])] == 1.0   # {2,3} & {3}
        assert m[frozenset(["a", "b"])] == 0.0

    def test_theta_pairwise_rejects_missing_columns(self, tables, spark):
        import pytest

        from tsv_utils_spark.plans import sketch_partials, theta_pairwise

        li = tables["lineitem"]
        spec = [SketchSpec("theta", "l_partkey", "uc", {"k": 1 << 12})]
        blobs = sketch_partials(li, ["l_returnflag"], spec)
        with pytest.raises(ValueError, match="not in blob table"):
            theta_pairwise(blobs, ["nope"])

    def test_theta_spec_distinct_count_and_rollup(self, tables, spark):
        import numpy as np

        from tsv_utils_spark.plans import sketch_partials, sketch_rollup
        from tsv_utils_spark.sketches.theta import ThetaKMV

        li = tables["lineitem"]
        spec = [SketchSpec("theta", "l_partkey", "uc", {"k": 1 << 18})]
        out = sketch_agg(li, ["l_returnflag"], spec) \
            .toPandas().set_index("l_returnflag").sort_index()
        exact = li.groupBy("l_returnflag").agg(
            F.countDistinct("l_partkey").alias("uc")) \
            .toPandas().set_index("l_returnflag").sort_index()
        # below capacity the theta sketch is exact
        assert out["uc"].astype(int).tolist() == exact["uc"].tolist()
        # blob table -> rollup merges to the global sketch exactly
        fine = sketch_partials(li, ["l_returnflag"], spec)
        blobs = [ThetaKMV.deserialize(bytes(r["__blob_0"]))
                 for r in fine.collect()]
        m = blobs[0]
        for b in blobs[1:]:
            m.merge(b)
        assert int(m.estimate()) == li.select("l_partkey").distinct().count()


class TestCmWeightedFastPath:
    """Count-min and mixed shapes (value types, nulls, twins, the
    candidate-truncation regime, mixed specs) on a sized input.
    ``sketch_agg`` makes no size decision: with the size gate
    ``SPARK_TSV_QUANTILE_SELECTION_MIN_BYTES`` at 0 and at 2^63 the plan
    holds no (keys, value) pre-aggregation and no join, and the answers
    are equal. (The class is named after the large-input count-min path
    these shapes were first written for.)"""

    def _ab(self, df, keys, specs):
        import os

        from tsv_utils_spark.plans.quantiles import local_table

        # a local table has a Catalyst size (an RDD-backed input has none)
        df = local_table(df.sparkSession, [tuple(r) for r in df.collect()],
                         df.schema)
        env = "SPARK_TSV_QUANTILE_SELECTION_MIN_BYTES"
        old = os.environ.get(env)
        try:
            os.environ[env] = str(1 << 63)
            off = sketch_agg(df, keys, specs)
            a = off.collect()
            os.environ[env] = "0"
            on = sketch_agg(df, keys, specs)
            b = on.collect()
        finally:
            if old is None:
                os.environ.pop(env, None)
            else:
                os.environ[env] = old
        for out in (off, on):
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            assert "__w" not in plan and "Join" not in plan, plan
        sa = sorted([tuple(r) for r in a], key=repr)
        sb = sorted([tuple(r) for r in b], key=repr)
        assert sa == sb
        return sa

    def test_twins_nulls_and_null_group(self, spark):
        rows = [("a", "x"), ("a", "x"), ("a", "y"), ("a", None),
                ("b", "z"), ("b", "z"), (None, "w"), (None, "w")]
        df = spark.createDataFrame(rows, "g string, v string")
        out = self._ab(df, ["g"], [
            SketchSpec("cm", "v", "m", {"finalize": "mode"}),
            SketchSpec("cm", "v", "mc", {"finalize": "mode_count"})])
        assert ("a", "x", 2) in out and ("b", "z", 2) in out

    def test_global_no_keys(self, spark):
        df = spark.createDataFrame([(i % 7,) for i in range(1000)], "v int")
        out = self._ab(df, [], [SketchSpec("cm", "v", "m",
                                           {"finalize": "mode"})])
        assert out == [("0",)]

    def test_typed_date(self, spark):
        import datetime

        rows = [("a", datetime.date(2024, 1, 1 + i % 3)) for i in range(30)]
        rows += [("a", None), ("b", datetime.date(2024, 2, 2))]
        df = spark.createDataFrame(rows, "g string, d date")
        out = self._ab(df, ["g"], [
            SketchSpec("cm", "d", "m", {"finalize": "mode", "typed": True,
                                        "out_type": "date"})])
        assert out[0] == ("a", datetime.date(2024, 1, 1))

    def test_beyond_max_candidates(self, spark):
        rows = [("g", f"v{i % 500}") for i in range(5000)]
        rows += [("g", "hot")] * 600
        df = spark.createDataFrame(rows, "g string, v string")
        out = self._ab(df, ["g"], [
            SketchSpec("cm", "v", "m", {"finalize": "mode"}),
            SketchSpec("cm", "v", "mc", {"finalize": "mode_count"})])
        assert out == [("g", "hot", 600)]

    def test_mixed_hll_cm_multi_spec_with_twins(self, spark):
        df = spark.createDataFrame(
            [("a", i % 50, "s%d" % (i % 4)) for i in range(2000)]
            + [("b", 1, "t")], "g string, k int, v string")
        out = self._ab(df, ["g"], [
            SketchSpec("hll", "k", "uc"),
            SketchSpec("cm", "v", "m", {"finalize": "mode"}),
            SketchSpec("cm", "v", "mc", {"finalize": "mode_count"})])
        by_g = {r[0]: r for r in out}
        assert int(by_g["a"][1]) == 50 and by_g["a"][3] == 500
        assert by_g["b"] == ("b", 1.0, "t", 1)

    def test_blocked_mixed_cm_twins_equal_across_gate(self, spark):
        """A mixed call with a kll spec: the shape on which splitting
        the cm specs into legs joined on the keys was measured and
        rejected (it tanked 4-executor scaling at high group
        cardinality; see the note in ``sketch_agg``). Twins and the
        canon-map finalization stay correct on the single boundary."""
        df = spark.createDataFrame(
            [("a", i % 50, "s%d" % (i % 4), float(i % 13))
             for i in range(2000)]
            + [("b", 1, "t", 2.0), (None, 2, "n", None)],
            "g string, k int, v string, x double")
        out = self._ab(df, ["g"], [
            SketchSpec("hll", "k", "uc"),
            SketchSpec("cm", "v", "m", {"finalize": "mode"}),
            SketchSpec("kll", "x", "med", {"quantiles": [0.5]}),
            SketchSpec("cm", "v", "mc", {"finalize": "mode_count"})])
        by_g = {r[0]: r for r in out}
        assert int(by_g["a"][1]) == 50 and by_g["a"][2] == "s0"
        assert by_g["a"][4] == 500
        assert by_g["b"][2] == "t" and by_g["b"][4] == 1
        assert by_g[None][2] == "n"

    def test_topk_json(self, spark):
        df = spark.createDataFrame(
            [("a", "s%d" % (i % 4)) for i in range(2000)],
            "g string, v string")
        out = self._ab(df, ["g"], [
            SketchSpec("cm", "v", "tk", {"finalize": "topk_json",
                                         "k_top": 2})])
        assert out[0][0] == "a" and '"s0", 500' in out[0][1]


class TestLargeInputGateUnsized:
    """``known_size_bytes`` reads an input Catalyst cannot size
    (RDD-backed) as unknown, also after a projection or a new column
    scales its estimate away from defaultSizeInBytes."""

    @pytest.fixture
    def rdd_df(self, spark):
        return spark.createDataFrame(
            [(f"g{i % 3}", f"v{i % 5}", i, i * 0.5) for i in range(60)],
            "g string, v string, n bigint, x double")

    def test_known_size_bytes(self, spark, rdd_df):
        from tsv_utils_spark.plans.quantiles import (
            input_size_bytes,
            known_size_bytes,
        )

        widened = rdd_df.withColumn("y", F.col("n") * 2)
        assert input_size_bytes(rdd_df) == (1 << 63) - 1
        assert input_size_bytes(widened) != (1 << 63) - 1
        assert known_size_bytes(rdd_df) is None
        assert known_size_bytes(widened) is None
        cached = rdd_df.select("g").cache()
        try:
            assert known_size_bytes(cached) is None
        finally:
            cached.unpersist()
        assert known_size_bytes(spark.range(100)) == 800
