"""Checkpoint/resume: crash between epochs, resume, estimates identical to
the single-shot job; lineage + metrics recorded; file-sliced epochs read
each input byte exactly once (no per-epoch re-scan)."""

from __future__ import annotations

import os
import time
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from tsv_utils_spark.plans import SketchSpec, sketch_agg
from tsv_utils_spark.plans.checkpoint import (
    _is_bare_scan,
    completed_epochs,
    epoch_file_groups,
    read_metrics,
    sketch_agg_checkpointed,
)

SPECS = [SketchSpec("hll", "l_partkey", "uc"),
         SketchSpec("kll", "l_quantity", "q50", {"quantiles": [0.5]})]


def _file_bytes(uris) -> int:
    return sum(os.path.getsize(urlparse(u).path) for u in uris)


def _group_job_tasks(spark, group: str, fn, jobs: int = 4) -> list[int]:
    """Run ``fn`` under job group ``group``; the task count of each job
    it started there (one stage per epoch write job), by job id, once at
    least ``jobs`` of them are seen."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    prev = None
    for _ in range(100):  # the tracker is fed by an async listener bus
        tasks = [sum(tracker.getStageInfo(s).numTasks
                     for s in tracker.getJobInfo(j).stageIds)
                 for j in sorted(tracker.getJobIdsForGroup(group))]
        if len(tasks) >= jobs and tasks == prev:
            return tasks
        prev = tasks
        time.sleep(0.2)
    return prev


@pytest.fixture()
def multi_file_lineitem(tables, spark, tmp_path):
    """lineitem written as 8 parquet files — the realistic shape for
    file-sliced epochs (testdata ships one file per table)."""
    src = str(tmp_path / "li8")
    tables["lineitem"].repartition(8).write.parquet(src)
    return spark.read.parquet(src)


class TestCheckpoint:
    def test_crash_and_resume(self, multi_file_lineitem, tmp_path):
        li = multi_file_lineitem
        ckpt = str(tmp_path / "ckpt")

        # "crash": only epochs 0 and 1 of 4 complete
        with pytest.raises(RuntimeError, match="resume"):
            sketch_agg_checkpointed(li, ["l_returnflag"], SPECS, ckpt,
                                    epochs=4, _run_epochs=[0, 1])
        assert completed_epochs(ckpt) == {0, 1}

        # resume: remaining epochs computed, nothing recomputed
        out = sketch_agg_checkpointed(li, ["l_returnflag"], SPECS, ckpt,
                                      epochs=4) \
            .toPandas().set_index("l_returnflag").sort_index()
        assert completed_epochs(ckpt) == {0, 1, 2, 3}
        metrics = read_metrics(ckpt)
        assert sorted(m["epoch"] for m in metrics) == [0, 1, 2, 3]
        assert all(m["rows_per_sec"] > 0 for m in metrics)
        total_rows = sum(m["rows"] for m in metrics)
        assert total_rows == li.count()  # every row in exactly one epoch

        # estimates identical to the non-checkpointed job (associativity)
        direct = sketch_agg(li, ["l_returnflag"], SPECS) \
            .toPandas().set_index("l_returnflag").sort_index()
        assert (out["uc"] == direct["uc"]).all()  # HLL sparse: exact match

    def test_single_scan_no_amplification(self, multi_file_lineitem,
                                          tmp_path):
        """Across ALL epochs, the per-epoch input file sets are disjoint and
        their union is exactly the full input — total bytes scanned equals
        one full scan, not epochs x scan."""
        li = multi_file_lineitem
        ckpt = str(tmp_path / "ckpt_scan")
        sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                epochs=4).collect()
        groups = epoch_file_groups(ckpt)
        assert groups is not None and len(groups) == 4
        seen: set[str] = set()
        for g in groups:
            assert g, "every epoch should get files (8 files / 4 epochs)"
            assert not (seen & set(g)), "epoch file slices must be disjoint"
            seen |= set(g)
        assert seen == set(li.inputFiles())

    def test_transform_reproduces_lineage(self, multi_file_lineitem,
                                          tmp_path):
        """Scan -> filter lineage is re-applied per epoch slice via
        ``transform`` and matches the direct filtered job."""
        li = multi_file_lineitem
        ckpt = str(tmp_path / "ckpt_tf")

        def keep_big(d):
            return d.filter(d.l_quantity > 25)

        out = sketch_agg_checkpointed(
            li, ["l_returnflag"], SPECS[:1], ckpt, epochs=3,
            transform=keep_big).toPandas().set_index("l_returnflag")
        direct = sketch_agg(keep_big(li), ["l_returnflag"], SPECS[:1]) \
            .toPandas().set_index("l_returnflag")
        assert (out.sort_index()["uc"] == direct.sort_index()["uc"]).all()

    def test_derived_input_falls_back_to_hash_slice(self, multi_file_lineitem,
                                                    tmp_path):
        """A FILTERED scan without ``transform`` must NOT take the
        file-sliced path (each epoch would re-read raw files and silently
        drop the filter) — it falls back to hash slicing and the result
        matches the direct filtered job."""
        li = multi_file_lineitem.filter("l_quantity > 25")
        ckpt = str(tmp_path / "ckpt_derived")
        out = sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                      epochs=3) \
            .toPandas().set_index("l_returnflag").sort_index()
        assert epoch_file_groups(ckpt) is None  # no manifest => hash slice
        direct = sketch_agg(li, ["l_returnflag"], SPECS[:1]) \
            .toPandas().set_index("l_returnflag").sort_index()
        assert (out["uc"] == direct["uc"]).all()

    def test_resume_rejects_changed_job_signature(self, multi_file_lineitem,
                                                  tmp_path):
        """Resuming a checkpoint with different specs / grouping /
        transform would deserialize old partial blobs under new sketch
        definitions and merge garbage — it must fail loudly."""
        li = multi_file_lineitem
        ckpt = str(tmp_path / "ckpt_sig")
        with pytest.raises(RuntimeError, match="resume"):
            sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                    epochs=3, _run_epochs=[0])
        # different sketch list
        with pytest.raises(ValueError, match="signature"):
            sketch_agg_checkpointed(li, ["l_returnflag"], SPECS, ckpt,
                                    epochs=3)
        # different grouping
        with pytest.raises(ValueError, match="signature"):
            sketch_agg_checkpointed(li, ["l_linestatus"], SPECS[:1], ckpt,
                                    epochs=3)
        # the ORIGINAL job resumes fine
        out = sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                      epochs=3)
        assert out.count() == 3

    def test_transform_requires_bare_scan(self, multi_file_lineitem,
                                          tmp_path):
        li = multi_file_lineitem.filter("l_quantity > 25")
        with pytest.raises(ValueError, match="bare file scan"):
            sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1],
                                    str(tmp_path / "ckpt_bad"), epochs=2,
                                    transform=lambda d: d)

    def test_resume_rejects_derived_df_on_file_sliced_checkpoint(
            self, multi_file_lineitem, tmp_path):
        """Resuming a FILE-SLICED checkpoint with a filtered df and no
        transform would re-read raw files and drop the filter silently —
        the resume path must apply the same bare-scan guard as run 1."""
        li = multi_file_lineitem
        ckpt = str(tmp_path / "ckpt_resume_derived")
        with pytest.raises(RuntimeError, match="resume"):
            sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                    epochs=3, _run_epochs=[0])
        with pytest.raises(ValueError, match="bare file scan"):
            sketch_agg_checkpointed(li.filter("l_quantity > 25"),
                                    ["l_returnflag"], SPECS[:1], ckpt,
                                    epochs=3)

    def test_signature_catches_changed_lambda_body(self, multi_file_lineitem,
                                                   tmp_path):
        li = multi_file_lineitem
        ckpt = str(tmp_path / "ckpt_lambda")
        with pytest.raises(RuntimeError, match="resume"):
            sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                    epochs=2, _run_epochs=[0],
                                    transform=lambda d: d.filter(
                                        "l_quantity > 25"))
        # same qualname ('<lambda>'), different body -> must be rejected
        with pytest.raises(ValueError, match="signature"):
            sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                    epochs=2,
                                    transform=lambda d: d.filter(
                                        "l_quantity > 30"))

    def test_measured_bytes_single_scan(self, multi_file_lineitem, spark,
                                        tmp_path):
        """TASK-METRIC check of no-read-amplification: actual input bytes
        across all epoch jobs stay within 1.3x of one full scan's bytes
        (file-slice disjointness is asserted separately; this measures what
        the executors really read)."""
        import time

        li = multi_file_lineitem
        store = spark.sparkContext._jsc.sc().statusStore()

        def input_bytes():
            it = store.executorList(True)
            return sum(it.apply(i).totalInputBytes()
                       for i in range(it.size()))

        def settled_bytes(prev):
            # the status store is fed by an async listener bus — poll
            # until the counter stops moving
            for _ in range(60):
                time.sleep(0.1)
                cur = input_bytes()
                if cur == prev:
                    return cur
                prev = cur
            return prev

        b0 = settled_bytes(input_bytes())
        # one full scan of the columns the sketch touches
        li.select("l_returnflag", "l_partkey").groupBy("l_returnflag") \
          .count().collect()
        b1 = settled_bytes(b0)
        one_scan = b1 - b0
        assert one_scan > 0
        ckpt = str(tmp_path / "ckpt_bytes")
        sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                epochs=4).collect()
        b2 = settled_bytes(b1)
        epochs_total = b2 - b1
        # the checkpointed run also reads back its own partials once, in
        # the final merge (the per-epoch metrics ride on the epoch's
        # write). That read-back is bounded by the PARTIALS' size — which
        # shrinks relative to the input at scale but is comparable to it
        # at sf0.001 — so subtract it before asserting the INPUT was
        # scanned only once.
        import glob
        import os
        partial_bytes = sum(
            os.path.getsize(p)
            for p in glob.glob(f"{ckpt}/partials/epoch=*/*.parquet"))
        input_side = epochs_total - partial_bytes
        assert input_side < 1.2 * one_scan, \
            (f"epoch jobs read {epochs_total}B total, {input_side}B net of "
             f"the partials ({partial_bytes}B) vs one scan {one_scan}B")

    def test_epoch_metrics_match_written_partials(self, multi_file_lineitem,
                                                  spark, tmp_path):
        """Each epoch's metrics line counts exactly what the epoch wrote
        and records its input bytes and task share; an epoch with no
        input files records 0 rows, 0 partials, 0 bytes and no share."""
        li = multi_file_lineitem
        ckpt = str(tmp_path / "ckpt_metrics")
        # 8 files over 10 epochs: epochs 8 and 9 get no files
        sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                epochs=10).collect()
        metrics = {m["epoch"]: m for m in read_metrics(ckpt)}
        assert sorted(metrics) == list(range(10))
        groups = epoch_file_groups(ckpt)
        share = max(1, spark.sparkContext.defaultParallelism // 4)
        for e, m in metrics.items():
            written = spark.read.parquet(f"{ckpt}/partials/epoch={e}") \
                .agg(F.sum("__rows").alias("rows"),
                     F.count(F.lit(1)).alias("partials"),
                     F.countDistinct("partition_id").alias("tasks")).first()
            assert m["rows"] == int(written["rows"] or 0)
            assert m["partials"] == written["partials"]
            # the sizing decision: the epoch's file bytes, its task share
            assert m["input_bytes"] == _file_bytes(groups[e])
            assert m["tasks"] == (share if groups[e] else None)
            assert written["tasks"] <= (m["tasks"] or 0)
        assert metrics[8]["rows"] == metrics[9]["rows"] == 0
        assert metrics[8]["partials"] == metrics[9]["partials"] == 0
        assert sum(m["rows"] for m in metrics.values()) == li.count()

    def test_is_bare_scan(self, multi_file_lineitem):
        li = multi_file_lineitem
        assert _is_bare_scan(li)
        assert not _is_bare_scan(li.filter("l_quantity > 1"))

        class NoJdf:  # e.g. a pandas frame passed where a DataFrame goes
            pass

        assert _is_bare_scan(NoJdf()) is False

    def test_partitioned_input_matches_sketch_agg(self, tables, spark,
                                                  multi_file_lineitem,
                                                  tmp_path):
        """A partitioned table's partition columns live in directory
        names, which an epoch's explicit file list never rediscovers: it
        must take the hash slice and answer as ``sketch_agg`` does."""
        src = str(tmp_path / "li_parted")
        tables["lineitem"].repartition(4).write \
            .partitionBy("l_returnflag").parquet(src)
        li = spark.read.parquet(src)
        assert not _is_bare_scan(li)
        specs = [SketchSpec("hll", "l_returnflag", "flags"),
                 SketchSpec("hll", "l_partkey", "uc")]
        ckpt = str(tmp_path / "ckpt_parted")
        out = sketch_agg_checkpointed(li, ["l_linestatus"], specs, ckpt,
                                      epochs=3).toPandas() \
            .set_index("l_linestatus").sort_index()
        assert epoch_file_groups(ckpt) is None  # hash slice
        direct = sketch_agg(li, ["l_linestatus"], specs).toPandas() \
            .set_index("l_linestatus").sort_index()
        assert (out["flags"] == direct["flags"]).all()
        assert (out["uc"] == direct["uc"]).all()
        assert (out["flags"] > 0).all()
        with pytest.raises(ValueError, match="bare file scan"):
            sketch_agg_checkpointed(li, ["l_linestatus"], specs,
                                    str(tmp_path / "ckpt_parted_tf"),
                                    epochs=3, transform=lambda d: d)
        # the same holds for the file-source v2 scan
        flat = multi_file_lineitem.inputFiles()[0].rsplit("/", 1)[0]
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        try:
            assert not _is_bare_scan(spark.read.parquet(src))
            assert _is_bare_scan(spark.read.parquet(flat))
        finally:
            spark.conf.unset("spark.sql.sources.useV1SourceList")

    def test_user_schema_scan_matches_single_shot(self, multi_file_lineitem,
                                                  spark, tmp_path):
        """Epoch slices read with the scan's own schema: a scan read with
        an explicit user schema (column subset, reordered, int widened to
        bigint) answers as the single-shot job does."""
        src = multi_file_lineitem.inputFiles()[0].rsplit("/", 1)[0]
        li = spark.read.schema(
            "l_linenumber bigint, l_returnflag string, l_partkey bigint") \
            .parquet(src)
        specs = [SketchSpec("hll", "l_partkey", "uc"),
                 SketchSpec("hll", "l_linenumber", "lines")]
        ckpt = str(tmp_path / "ckpt_user_schema")
        out = sketch_agg_checkpointed(li, ["l_returnflag"], specs, ckpt,
                                      epochs=4).toPandas() \
            .set_index("l_returnflag").sort_index()
        assert epoch_file_groups(ckpt) is not None  # file-sliced
        direct = sketch_agg(li, ["l_returnflag"], specs).toPandas() \
            .set_index("l_returnflag").sort_index()
        assert (out["uc"] == direct["uc"]).all()
        assert (out["lines"] == direct["lines"]).all()

    def test_failed_epoch_spares_the_others(self, multi_file_lineitem,
                                            tmp_path):
        """Concurrent epochs: one epoch's job fails, the others still
        commit with one metrics line each; the call raises; a resume
        without the (transient) fault completes with the single-shot
        answer."""
        import os

        li = multi_file_lineitem
        ckpt = str(tmp_path / "ckpt_fault")
        bad_epoch = 2
        bad_file = sorted(li.inputFiles())[bad_epoch::4][0]
        fault = {"file": bad_file.rsplit("/", 1)[1]}

        def flaky(d):  # same code on both calls: the signature matches
            if fault["file"] is None:
                return d
            return d.filter(F.when(F.input_file_name().endswith(
                fault["file"]), F.raise_error(F.lit("injected fault")))
                .otherwise(F.lit(True)))

        with pytest.raises(Exception, match="injected fault"):
            sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                    epochs=4, transform=flaky)
        assert completed_epochs(ckpt) == {0, 1, 3}
        for e in (0, 1, 3):
            assert os.path.exists(f"{ckpt}/partials/epoch={e}/_SUCCESS")
        assert sorted(m["epoch"] for m in read_metrics(ckpt)) == [0, 1, 3]

        fault["file"] = None
        out = sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                      epochs=4, transform=flaky) \
            .toPandas().set_index("l_returnflag").sort_index()
        assert sorted(m["epoch"] for m in read_metrics(ckpt)) == [0, 1, 2, 3]
        direct = sketch_agg(li, ["l_returnflag"], SPECS[:1]) \
            .toPandas().set_index("l_returnflag").sort_index()
        assert (out["uc"] == direct["uc"]).all()

    def test_epoch_jobs_keep_the_callers_job_group(self, multi_file_lineitem,
                                                    spark, tmp_path):
        """Epoch jobs run on worker threads but carry the calling
        thread's job group: none of them shows up ungrouped."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def settled_ungrouped():  # earlier jobs may still be on the bus
            prev = None
            while True:
                cur = set(tracker.getJobIdsForGroup(None))
                if cur == prev:
                    return cur
                prev = cur
                time.sleep(0.2)

        ungrouped_before = settled_ungrouped()
        grouped = _group_job_tasks(spark, "ckpt-group", lambda: (
            sketch_agg_checkpointed(multi_file_lineitem, ["l_returnflag"],
                                    SPECS[:1], str(tmp_path / "ckpt_group"),
                                    epochs=4)))
        assert len(grouped) >= 4  # at least one write job per epoch
        ungrouped = settled_ungrouped() - ungrouped_before
        assert not ungrouped, f"epoch jobs outside the group: {ungrouped}"

    def test_small_epochs_run_their_share_of_the_cores(
            self, multi_file_lineitem, spark, tmp_path):
        """Spark would split each small epoch to fill every core; the
        epochs in flight share the cores instead: each epoch's write job
        runs max(1, P // W) tasks, at most P in all, and answers as
        ``sketch_agg`` does."""
        li = multi_file_lineitem
        cores = spark.sparkContext.defaultParallelism
        ckpt = str(tmp_path / "ckpt_share")
        tasks = _group_job_tasks(spark, "ckpt-share", lambda: (
            sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                    epochs=4)))
        share = max(1, cores // min(4, cores))
        assert tasks == [share] * 4
        assert sum(tasks) <= cores
        assert [m["tasks"] for m in read_metrics(ckpt)] == [share] * 4
        out = sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                      epochs=4) \
            .toPandas().set_index("l_returnflag").sort_index()
        direct = sketch_agg(li, ["l_returnflag"], SPECS[:1]) \
            .toPandas().set_index("l_returnflag").sort_index()
        assert (out["uc"] == direct["uc"]).all()

    def test_large_epochs_keep_sparks_splits(self, multi_file_lineitem,
                                             spark, tmp_path):
        """An epoch whose bytes per core reach maxPartitionBytes keeps
        Spark's own splits (no coalesce), and answers as ``sketch_agg``
        does."""
        li = multi_file_lineitem
        cores = spark.sparkContext.defaultParallelism
        files = sorted(li.inputFiles())
        groups = [files[e::4] for e in range(4)]  # the manifest's slicing
        limit = min(_file_bytes(g) for g in groups) // (2 * cores)
        ckpt = str(tmp_path / "ckpt_splits")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(limit))
        try:
            splits = [spark.read.schema(li.schema).parquet(*g)
                      .rdd.getNumPartitions() for g in groups]
            tasks = _group_job_tasks(spark, "ckpt-splits", lambda: (
                sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1],
                                        ckpt, epochs=4)))
            out = sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1],
                                          ckpt, epochs=4) \
                .toPandas().set_index("l_returnflag").sort_index()
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        assert min(splits) > max(1, cores // 4)  # the gate matters here
        assert sorted(tasks) == sorted(splits)
        metrics = {m["epoch"]: m for m in read_metrics(ckpt)}
        assert all(metrics[e]["tasks"] is None for e in range(4))
        assert [metrics[e]["input_bytes"] for e in range(4)] == \
            [_file_bytes(g) for g in groups]
        direct = sketch_agg(li, ["l_returnflag"], SPECS[:1]) \
            .toPandas().set_index("l_returnflag").sort_index()
        assert (out["uc"] == direct["uc"]).all()

    def test_resume_across_task_layouts(self, multi_file_lineitem, spark,
                                        tmp_path):
        """Epochs written with Spark's splits, their metrics lines
        without the sizing keys (the layout of a checkpoint written
        before epochs took a task share), resume with the share: the
        answer equals a fresh run's."""
        import json

        li = multi_file_lineitem
        cores = spark.sparkContext.defaultParallelism
        ckpt = str(tmp_path / "ckpt_layouts")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        try:
            with pytest.raises(RuntimeError, match="resume"):
                sketch_agg_checkpointed(li, ["l_returnflag"], SPECS, ckpt,
                                        epochs=4, _run_epochs=[0, 1])
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        path = f"{ckpt}/metrics.jsonl"
        with open(path) as f:
            lines = [json.loads(line) for line in f]
        with open(path, "w") as f:
            for m in lines:
                assert m.pop("tasks") is None
                del m["input_bytes"]
                f.write(json.dumps(m) + "\n")

        out = sketch_agg_checkpointed(li, ["l_returnflag"], SPECS, ckpt,
                                      epochs=4, include_rows=True) \
            .toPandas().set_index("l_returnflag").sort_index()
        metrics = {m["epoch"]: m for m in read_metrics(ckpt)}
        assert sorted(metrics) == [0, 1, 2, 3]
        assert "tasks" not in metrics[0] and "tasks" not in metrics[1]
        share = max(1, cores // 2)  # two epochs left in flight
        assert metrics[2]["tasks"] == metrics[3]["tasks"] == share
        fresh = sketch_agg_checkpointed(li, ["l_returnflag"], SPECS,
                                        str(tmp_path / "ckpt_fresh"),
                                        epochs=4, include_rows=True) \
            .toPandas().set_index("l_returnflag").sort_index()
        assert (out["uc"] == fresh["uc"]).all()
        assert (out["rows"] == fresh["rows"]).all()

    def test_fallback_hash_slicing_for_memory_df(self, spark, tmp_path):
        """Non-file-backed input falls back to the hash slice; resume and
        totals still hold."""
        df = spark.range(0, 5000).selectExpr(
            "cast(id % 7 as string) AS k", "id AS v")
        specs = [SketchSpec("hll", "v", "uc")]
        ckpt = str(tmp_path / "ckpt_mem")
        with pytest.raises(RuntimeError, match="resume"):
            sketch_agg_checkpointed(df, ["k"], specs, ckpt, epochs=3,
                                    _run_epochs=[0])
        out = sketch_agg_checkpointed(df, ["k"], specs, ckpt, epochs=3)
        assert out.count() == 7
        assert epoch_file_groups(ckpt) is None  # no manifest => hash slice
        assert sum(m["rows"] for m in read_metrics(ckpt)) == 5000

    def test_second_call_skips_everything(self, multi_file_lineitem,
                                          tmp_path):
        li = multi_file_lineitem
        ckpt = str(tmp_path / "ckpt2")
        sketch_agg_checkpointed(li, ["l_linestatus"], SPECS[:1], ckpt,
                                epochs=2).collect()
        n_metrics = len(read_metrics(ckpt))
        sketch_agg_checkpointed(li, ["l_linestatus"], SPECS[:1], ckpt,
                                epochs=2).collect()
        # no new epochs were computed on the second call
        assert len(read_metrics(ckpt)) == n_metrics

    def test_lineage_columns_present(self, multi_file_lineitem, tmp_path,
                                     spark):
        li = multi_file_lineitem
        ckpt = str(tmp_path / "ckpt3")
        sketch_agg_checkpointed(li, ["l_returnflag"], SPECS[:1], ckpt,
                                epochs=2).collect()
        partials = spark.read.parquet(f"{ckpt}/partials")
        cols = set(partials.columns)
        assert {"epoch", "partition_id", "__rows", "__blob_0"} <= cols


class TestTransformFingerprint:
    def test_process_independent_with_nested_code(self):
        # nested code objects (inner lambdas) repr with a per-process
        # memory address; the fingerprint must hash them structurally so
        # a restart can resume the identical job (ADVICE r3)
        from tsv_utils_spark.plans.checkpoint import _transform_fingerprint

        src = ("def tf(df):\n"
               "    f = lambda x: x + 1\n"
               "    return df\n")
        ns1, ns2 = {}, {}
        exec(src, ns1)  # two compilations simulate two interpreter
        exec(src, ns2)  # processes: same code, different object addresses
        f1, f2 = ns1["tf"], ns2["tf"]
        c1 = next(c for c in f1.__code__.co_consts if hasattr(c, "co_code"))
        c2 = next(c for c in f2.__code__.co_consts if hasattr(c, "co_code"))
        assert repr(c1) != repr(c2)  # the address-instability being fixed
        assert _transform_fingerprint(f1) == _transform_fingerprint(f2)

    def test_changed_nested_body_changes_fingerprint(self):
        from tsv_utils_spark.plans.checkpoint import _transform_fingerprint

        ns1, ns2 = {}, {}
        exec("def tf(df):\n    f = lambda x: x + 1\n    return df\n", ns1)
        exec("def tf(df):\n    f = lambda x: x + 2\n    return df\n", ns2)
        assert _transform_fingerprint(ns1["tf"]) != \
            _transform_fingerprint(ns2["tf"])

    def test_fingerprint_stable_across_hash_seeds(self):
        # frozenset consts (set-literal membership tests) repr in
        # string-hash order; the fingerprint must not depend on
        # PYTHONHASHSEED or a restart rejects a legitimate resume
        import subprocess
        import sys

        import os

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prog = (
            f"import sys; sys.path.insert(0, {repo!r})\n"
            "from tsv_utils_spark.plans.checkpoint import "
            "_transform_fingerprint\n"
            "def tf(df):\n"
            "    f = lambda x: x in {'alpha', 'beta', 'gamma', 'delta'}\n"
            "    return df\n"
            "print(_transform_fingerprint(tf)[1])\n")
        outs = set()
        for seed in ("1", "2", "3"):
            r = subprocess.run([sys.executable, "-c", prog],
                               capture_output=True, text=True,
                               env={"PYTHONHASHSEED": seed, "PATH": "/usr/bin:/bin"})
            assert r.returncode == 0, r.stderr
            outs.add(r.stdout.strip())
        assert len(outs) == 1, f"fingerprint varies with hash seed: {outs}"

    def test_partial_with_set_arg_stable_across_hash_seeds(self):
        import os
        import subprocess
        import sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prog = (
            f"import sys; sys.path.insert(0, {repo!r})\n"
            "import functools\n"
            "from tsv_utils_spark.plans.checkpoint import "
            "_transform_fingerprint\n"
            "def f(df, keep): return df\n"
            "p = functools.partial(f, keep=frozenset({'aa','bb','cc'}))\n"
            "print(_transform_fingerprint(p)[0])\n")
        outs = set()
        for seed in ("1", "2", "3"):
            r = subprocess.run([sys.executable, "-c", prog],
                               capture_output=True, text=True,
                               env={"PYTHONHASHSEED": seed,
                                    "PATH": "/usr/bin:/bin"})
            assert r.returncode == 0, r.stderr
            outs.add(r.stdout.strip())
        assert len(outs) == 1, f"partial fingerprint varies: {outs}"

    def test_plain_repr_consts_unchanged_by_canonicalization(self):
        # minimal-churn guarantee: values with stable reprs pass through
        # verbatim, so fingerprints only changed for the unstable cases
        from tsv_utils_spark.plans.checkpoint import _const_repr

        for v in (None, True, 42, 3.5, "s", b"b", (1, "x", (2.0, None)),
                  ("a",)):
            assert _const_repr(v) == repr(v)

    def test_nested_set_in_list_and_dict_args_stable(self):
        import os
        import subprocess
        import sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prog = (
            f"import sys; sys.path.insert(0, {repo!r})\n"
            "import functools\n"
            "from tsv_utils_spark.plans.checkpoint import "
            "_transform_fingerprint\n"
            "def f(df, cfg, keep): return df\n"
            "p = functools.partial(f, cfg={'ids': {'aa', 'bb', 'cc'}},\n"
            "                      keep=['x', frozenset({'q', 'r'})])\n"
            "print(_transform_fingerprint(p)[0])\n")
        outs = set()
        for seed in ("1", "2", "3"):
            r = subprocess.run([sys.executable, "-c", prog],
                               capture_output=True, text=True,
                               env={"PYTHONHASHSEED": seed,
                                    "PATH": "/usr/bin:/bin"})
            assert r.returncode == 0, r.stderr
            outs.add(r.stdout.strip())
        assert len(outs) == 1, f"nested-set fingerprint varies: {outs}"

    def test_const_framing_prevents_concat_aliasing(self):
        # consts (1, 23) vs (12, 3): identical bytecode, identical
        # unframed concatenation "1"+"23" == "12"+"3" — digests must
        # still differ or an edited transform matches its stale
        # checkpoint
        from tsv_utils_spark.plans.checkpoint import _transform_fingerprint

        ns1, ns2 = {}, {}
        # call-arg form: separate consts (None, 1, 23) vs (None, 12, 3)
        # with byte-identical co_code — verified to collide under the
        # old unframed concatenation
        exec("def tf(df):\n    return df.x(1, 23)\n", ns1)
        exec("def tf(df):\n    return df.x(12, 3)\n", ns2)
        assert ns1["tf"].__code__.co_code == ns2["tf"].__code__.co_code
        assert _transform_fingerprint(ns1["tf"]) != \
            _transform_fingerprint(ns2["tf"])

    def test_swapped_global_name_changes_fingerprint(self):
        # bytecode loads globals BY INDEX into co_names, so min(xs) and
        # max(xs) compile to identical co_code + co_consts — only the
        # name tuple differs. Pre-fix these were fingerprint-equal and a
        # resume silently reused stale epoch results (ADVICE r4).
        from tsv_utils_spark.plans.checkpoint import _transform_fingerprint

        ns1, ns2 = {}, {}
        exec("def tf(xs):\n    return min(xs)\n", ns1)
        exec("def tf(xs):\n    return max(xs)\n", ns2)
        assert ns1["tf"].__code__.co_code == ns2["tf"].__code__.co_code
        assert ns1["tf"].__code__.co_consts == ns2["tf"].__code__.co_consts
        assert _transform_fingerprint(ns1["tf"]) != \
            _transform_fingerprint(ns2["tf"])

    def test_swapped_freevar_shape_changes_fingerprint(self):
        from tsv_utils_spark.plans.checkpoint import _transform_fingerprint

        src1 = ("def mk(lo, hi):\n"
                "    def tf(x):\n        return lo\n"
                "    return tf\n")
        src2 = ("def mk(lo, hi):\n"
                "    def tf(x):\n        return hi\n"
                "    return tf\n")
        ns1, ns2 = {}, {}
        exec(src1, ns1)
        exec(src2, ns2)
        f1, f2 = ns1["mk"](1, 2), ns2["mk"](1, 2)
        assert f1.__code__.co_code == f2.__code__.co_code
        assert _transform_fingerprint(f1) != _transform_fingerprint(f2)

    def test_object_with_address_repr_is_stable(self):
        from tsv_utils_spark.plans.checkpoint import _const_repr

        class Cfg:
            pass

        a, b = Cfg(), Cfg()
        assert repr(a) != repr(b)  # address-bearing default reprs
        assert _const_repr(a) == _const_repr(b)  # canonical type form

    def test_string_containing_address_text_not_aliased(self):
        # a str const may CONTAIN ' at 0x...>' — it must keep its exact
        # repr, not collapse to a type name (which would alias two
        # different transforms and resume a stale checkpoint)
        from tsv_utils_spark.plans.checkpoint import _transform_fingerprint

        ns1, ns2 = {}, {}
        exec("def tf(df):\n    return df.filter(\"x != '<Foo at 0xdead>'\")\n",
             ns1)
        exec("def tf(df):\n    return df.filter(\"x != '<Bar at 0xbeef>'\")\n",
             ns2)
        assert _transform_fingerprint(ns1["tf"]) != \
            _transform_fingerprint(ns2["tf"])
