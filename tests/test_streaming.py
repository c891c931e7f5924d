"""Structured Streaming sketch aggregation: incremental merge across
micro-batches equals the batch answer; replay is idempotent."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tsv_utils_spark.plans import SketchSpec, sketch_agg
from tsv_utils_spark.streaming import streaming_sketch_agg

SPECS = [SketchSpec("hll", "l_partkey", "uc"),
         SketchSpec("kll", "l_quantity", "q50", {"quantiles": [0.5]})]


class TestStreaming:
    def test_incremental_equals_batch(self, spark, tables, tmp_path):
        li = tables["lineitem"]
        src = str(tmp_path / "src")
        # two files -> with maxFilesPerTrigger=1, two micro-batches
        li.filter(F.col("l_orderkey") % 2 == 0).coalesce(1) \
          .write.parquet(src + "/a")
        li.filter(F.col("l_orderkey") % 2 == 1).coalesce(1) \
          .write.parquet(src + "/b")
        flat = str(tmp_path / "flat")
        import glob
        import os
        os.makedirs(flat)
        for i, f in enumerate(sorted(glob.glob(src + "/*/part-*.parquet"))):
            shutil.copy(f, f"{flat}/file_{i}.parquet")

        stream = (spark.readStream.schema(li.schema)
                  .option("maxFilesPerTrigger", 1).parquet(flat))
        state = str(tmp_path / "state")
        out = str(tmp_path / "out")
        qy = streaming_sketch_agg(stream, ["l_returnflag"], SPECS,
                                  state_dir=state, out_dir=out)
        try:
            qy.processAllAvailable()
        finally:
            qy.stop()

        got = spark.read.parquet(out).toPandas() \
            .set_index("l_returnflag").sort_index()
        batch = sketch_agg(li, ["l_returnflag"], SPECS, include_rows=True) \
            .toPandas().set_index("l_returnflag").sort_index()
        assert (got["rows"] == batch["rows"]).all()
        assert (got["uc"] == batch["uc"]).all()  # HLL sparse: exact
        # KLL within rank tolerance of the batch run
        assert ((got["q50"] - batch["q50"]).abs() /
                batch["q50"].abs()).max() < 0.1

    def test_replay_is_idempotent(self, spark, tables, tmp_path):
        """foreachBatch can replay a batch after a crash; the atomic
        state-epoch=N commit must make the replay a no-merge (counts
        would double otherwise), while still refreshing the estimate
        output if the crash hit between state commit and estimate write."""
        import os

        from tsv_utils_spark.streaming.sketch_stream import make_processor

        li = tables["lineitem"]
        b0 = li.filter(F.col("l_orderkey") % 2 == 0)
        b1 = li.filter(F.col("l_orderkey") % 2 == 1)
        state, out = str(tmp_path / "st"), str(tmp_path / "es")
        process = make_processor(li, ["l_returnflag"], SPECS, state, out)
        process(b0, 0)
        process(b1, 1)
        want = spark.read.parquet(out).toPandas() \
            .set_index("l_returnflag").sort_index()
        # crash window simulation: estimates lost AFTER epoch 1 committed
        import shutil as sh
        sh.rmtree(out)
        process(b1, 1)  # replayed batch
        got = spark.read.parquet(out).toPandas() \
            .set_index("l_returnflag").sort_index()
        assert (got["rows"] == want["rows"]).all()  # no double-merge
        assert (got["uc"] == want["uc"]).all()
        # exactly one committed state dir remains, tagged with epoch 1
        dirs = [d for d in os.listdir(state) if d.startswith("state-epoch=")]
        assert dirs == ["state-epoch=1"]

    def test_windowed_equals_batch_with_late_data(self, spark, tables,
                                                  tmp_path):
        """Event-time windows: a second micro-batch delivering LATE rows
        (earlier timestamps than batch one) merges into the right windows
        — per-window estimates equal the batch job; retention predicate
        prunes old windows from state."""
        import os

        from tsv_utils_spark.streaming.sketch_stream import make_processor

        ev = tables["events"]
        derived = ev.withColumn(
            "window_start", F.window(F.col("ts"), "6 hours")["start"])
        # batch 1: the LATER half of events; batch 2 delivers the earlier
        # half late
        med = ev.approxQuantile("event_id", [0.5], 0.0)[0]
        b_on_time = derived.filter(F.col("event_id") >= med)
        b_late = derived.filter(F.col("event_id") < med)
        state, out = str(tmp_path / "wst"), str(tmp_path / "wes")
        specs = [SketchSpec("hll", "user_id", "users")]
        process = make_processor(derived, ["window_start", "event_type"],
                                 specs, state, out)
        process(b_on_time, 0)
        process(b_late, 1)
        got = spark.read.parquet(out).toPandas() \
            .set_index(["window_start", "event_type"]).sort_index()
        want = sketch_agg(derived, ["window_start", "event_type"], specs,
                          include_rows=True).toPandas() \
            .set_index(["window_start", "event_type"]).sort_index()
        assert (got["rows"] == want["rows"]).all()
        assert (got["users"] == want["users"]).all()  # late rows exact

        # retention: keep only windows >= the median window start
        cutoff = sorted({w for w, _ in got.index})[len(
            {w for w, _ in got.index}) // 2]
        state2, out2 = str(tmp_path / "wst2"), str(tmp_path / "wes2")
        process2 = make_processor(
            derived, ["window_start", "event_type"], specs, state2, out2,
            state_filter=F.col("window_start") >= F.lit(cutoff))
        process2(b_on_time, 0)
        process2(b_late, 1)
        kept = spark.read.parquet(out2).toPandas()
        assert (kept["window_start"] >= cutoff).all()
        assert len(kept) < len(got)

    def test_committed_state_is_a_rollupable_sketch_table(
            self, spark, tables, tmp_path):
        # the state dir a streaming run commits is itself a blob table:
        # read it back and sketch_rollup() answers coarser-grained
        # questions without replaying the stream
        import glob
        import os

        from tsv_utils_spark.plans import SketchSpec, sketch_rollup
        from tsv_utils_spark.streaming.sketch_stream import make_processor

        li = tables["lineitem"]
        keys = ["l_returnflag", "l_linestatus"]
        specs = [SketchSpec("hll", "l_partkey", "uc",
                            {"sparse_limit": 1 << 18})]
        state_dir = str(tmp_path / "state")
        proc = make_processor(li, keys, specs, state_dir,
                              str(tmp_path / "out"))
        half = li.where("l_orderkey % 2 = 0")
        rest = li.where("l_orderkey % 2 = 1")
        proc(half, 0)
        proc(rest, 1)
        committed = sorted(glob.glob(os.path.join(state_dir,
                                                  "state-epoch=*")))[-1]
        state = spark.read.parquet(committed)
        rolled = sketch_rollup(state, ["l_returnflag"], specs,
                               include_rows=True)
        got = {r["l_returnflag"]: (r["rows"], int(r["uc"]))
               for r in rolled.collect()}
        from pyspark.sql import functions as F
        want = {r["l_returnflag"]: (r["n"], r["u"]) for r in
                li.groupBy("l_returnflag").agg(
                    F.count("*").alias("n"),
                    F.countDistinct("l_partkey").alias("u")).collect()}
        assert got == want


class TestStreamingDedup:
    def test_first_seen_kept_across_batches(self, spark, tables, tmp_path):
        # duplicates split across micro-batches: only the FIRST arrival
        # of each key survives; equals the batch keep-first row COUNT
        from tsv_utils_spark.streaming import streaming_dedup

        li = tables["lineitem"].select("l_returnflag", "l_linestatus",
                                       "l_orderkey")
        flat = str(tmp_path / "dflat")
        li.coalesce(3).write.parquet(flat)
        stream = (spark.readStream.schema(li.schema)
                  .option("maxFilesPerTrigger", 1).parquet(flat))
        qy = streaming_dedup(stream, ["l_returnflag", "l_linestatus"],
                             checkpoint_dir=str(tmp_path / "dstate"),
                             query_name="dd_out")
        try:
            qy.processAllAvailable()
        finally:
            qy.stop()
        got = spark.sql("SELECT * FROM dd_out").toPandas()
        keys = li.select("l_returnflag", "l_linestatus").distinct()
        assert len(got) == keys.count()
        assert not got.duplicated(["l_returnflag",
                                   "l_linestatus"]).any()

    def test_replay_is_idempotent(self, spark, tables, tmp_path):
        # same checkpoint + same input -> restart emits nothing new
        # (parquet sink: the checkpoint-recoverable production form)
        from tsv_utils_spark.streaming import streaming_dedup

        li = tables["lineitem"].select("l_returnflag", "l_orderkey")
        flat = str(tmp_path / "rflat")
        li.coalesce(2).write.parquet(flat)
        sink = str(tmp_path / "rsink")

        def run(name):
            stream = (spark.readStream.schema(li.schema)
                      .option("maxFilesPerTrigger", 1).parquet(flat))
            qy = streaming_dedup(stream, ["l_returnflag"],
                                 checkpoint_dir=str(tmp_path / "rstate"),
                                 query_name=name, output_path=sink)
            try:
                qy.processAllAvailable()
            finally:
                qy.stop()
            return spark.read.parquet(sink).toPandas()

        first = run("dd_a")
        assert len(first) == 3  # one row per returnflag
        second = run("dd_b")  # restart from the same checkpoint
        assert len(second) == 3  # no new rows appended on replay

    def test_order_col_picks_min_within_first_batch(self, spark,
                                                    tmp_path):
        # deterministic survivor: the minimum-order row of the first
        # batch containing the key (groupBy shuffles drop arrival
        # order, so order_col is the only deterministic contract)
        import pandas as pd

        from tsv_utils_spark.streaming import streaming_dedup

        rows = pd.DataFrame({
            "k": ["a"] * 5 + ["b"] * 3,
            "ord": [5, 3, 9, 1, 7, 20, 10, 30],
            "payload": ["p5", "p3", "p9", "p1", "p7",
                        "q20", "q10", "q30"]})
        df = spark.createDataFrame(rows)
        flat = str(tmp_path / "oflat")
        df.repartition(4).write.parquet(flat)  # one batch, many parts
        stream = (spark.readStream.schema(df.schema).parquet(flat))
        qy = streaming_dedup(stream, ["k"],
                             checkpoint_dir=str(tmp_path / "ostate"),
                             query_name="dd_ord", order_col="ord")
        try:
            qy.processAllAvailable()
        finally:
            qy.stop()
        got = {r["k"]: r["payload"] for r in
               spark.sql("SELECT * FROM dd_ord").collect()}
        assert got == {"a": "p1", "b": "q10"}

    def test_all_null_order_first_batch_still_emits(self, spark,
                                                    tmp_path):
        # ADVICE r5: a key whose first micro-batch carries only NULL
        # order values used to be marked seen with NOTHING emitted —
        # the key's first row was silently lost. Now an arbitrary row
        # is emitted (mirroring the order_col=None path) and later
        # batches stay suppressed.
        import pandas as pd

        from tsv_utils_spark.streaming import streaming_dedup

        flat = tmp_path / "nflat"
        flat.mkdir()
        schema = "k string, ord int, payload string"

        def add(name, rows):
            spark.createDataFrame(
                pd.DataFrame(rows, columns=["k", "ord", "payload"]),
                schema).coalesce(1).write.mode("append") \
                .parquet(str(flat))

        add("b0", [("a", None, "first"), ("a", None, "also-first")])
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(flat)))
        qy = streaming_dedup(stream, ["k"],
                             checkpoint_dir=str(tmp_path / "nstate"),
                             query_name="dd_null", order_col="ord")
        try:
            qy.processAllAvailable()
            add("b1", [("a", 1, "later")])
            qy.processAllAvailable()
        finally:
            qy.stop()
        got = spark.sql("SELECT * FROM dd_null").collect()
        assert len(got) == 1
        assert got[0]["payload"] in ("first", "also-first")

    def test_ttl_expiry_reemits_and_window_refresh(self, spark,
                                                   tmp_path):
        # TTL path: with ProcessingTimeTimeout the engine runs
        # continuous (often empty) micro-batches to evaluate timeouts,
        # so processAllAvailable never settles — poll the sink with a
        # deadline instead. A key idle past the TTL is forgotten (its
        # timeout fires on a later, possibly empty, batch) and a
        # post-TTL duplicate re-emits.
        import time

        import pandas as pd

        from tsv_utils_spark.streaming import streaming_dedup

        flat = tmp_path / "tflat"
        flat.mkdir()
        schema = "k string, v int"

        def add(rows):
            spark.createDataFrame(pd.DataFrame(
                rows, columns=["k", "v"]), schema) \
                .coalesce(1).write.mode("append").parquet(str(flat))

        def wait_rows(n, deadline=60.0):
            t0 = time.time()
            while time.time() - t0 < deadline:
                if spark.sql("SELECT count(*) c FROM dd_ttl") \
                        .first()["c"] >= n:
                    return
                time.sleep(0.3)
            raise AssertionError(f"sink never reached {n} rows")

        add([("x", 1)])
        stream = (spark.readStream.schema(
            spark.read.parquet(str(flat)).schema)
            .option("maxFilesPerTrigger", 1).parquet(str(flat)))
        qy = streaming_dedup(stream, ["k"],
                             checkpoint_dir=str(tmp_path / "tstate"),
                             query_name="dd_ttl",
                             ttl_minutes=0.001)  # 60ms
        try:
            wait_rows(1)                  # x emitted
            time.sleep(1.0)               # TTL lapses; an empty batch
            #                               fires x's timeout -> removed
            add([("x", 3)])
            wait_rows(2)                  # post-TTL duplicate re-emits
        finally:
            qy.stop()
        got = [(r["k"], r["v"]) for r in
               spark.sql("SELECT * FROM dd_ttl ORDER BY v").collect()]
        assert got == [("x", 1), ("x", 3)]

    def test_ttl_below_1ms_rejected_eagerly(self, spark, tmp_path):
        from tsv_utils_spark.streaming import streaming_dedup

        stream = (spark.readStream.format("rate")
                  .option("rowsPerSecond", 1).load())
        with pytest.raises(ValueError, match="1ms"):
            streaming_dedup(stream, ["value"],
                            checkpoint_dir=str(tmp_path / "zstate"),
                            ttl_minutes=1e-9)


class TestStreamingUrlDedup:
    def test_canonical_url_dedup_composes_in_stream(self, spark,
                                                    tmp_path):
        # web.url_normalize is pure Catalyst, so streaming URL dedup is
        # just the canonical column + streaming_dedup keyed on it —
        # trivially different fetches of the same page collapse to one
        # emission even when they arrive in DIFFERENT micro-batches
        from tsv_utils_spark.operators.web import url_normalize
        from tsv_utils_spark.streaming import streaming_dedup

        rows = [
            (0, "https://A.com/x?utm_source=z"),
            (1, "https://a.com/x/"),
            (2, "https://a.com/x#frag"),
            (3, "https://b.com/y"),
            (4, "https://b.com/y?gclid=1"),
            (5, "https://c.com/z"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        flat = str(tmp_path / "uflat")
        df.repartition(3).write.parquet(flat)   # keys split over batches
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(flat)
                  .withColumn("canonical_url", url_normalize("url"))
                  .where(F.col("canonical_url").isNotNull()))
        qy = streaming_dedup(stream, ["canonical_url"],
                             checkpoint_dir=str(tmp_path / "ustate"),
                             query_name="url_dd", order_col="doc_id")
        try:
            qy.processAllAvailable()
        finally:
            qy.stop()
        got = spark.sql("SELECT * FROM url_dd").toPandas()
        assert sorted(got["canonical_url"]) == [
            "https://a.com/x", "https://b.com/y", "https://c.com/z"]
        # order_col contract: the min-id fetch of each page survives
        # when duplicates share a micro-batch (cross-batch arrival order
        # depends on file order, which repartition randomizes — only
        # assert the per-key survivor is one of that key's ids)
        by_url = {r["canonical_url"]: r["doc_id"] for _, r in got.iterrows()}
        assert by_url["https://a.com/x"] in {0, 1, 2}
        assert by_url["https://b.com/y"] in {3, 4}
        assert by_url["https://c.com/z"] == 5
