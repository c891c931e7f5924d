"""Structured Streaming over mergeable sketches.

The reference's tools are single-pass streaming programs over unbounded
stdin (tsv-sample.d:141-147 advertises memory-free streaming); its closest
Spark analogue is a Structured Streaming query whose state is the sketch
partials themselves — tiny, mergeable, and order-insensitive, which makes
them ideal streaming aggregation state (no watermark needed for the
all-time aggregate: the sketch IS the compacted history).

``streaming_sketch_agg`` runs the two-level plan incrementally via
``foreachBatch``:

  per micro-batch:  level-1 partials over the batch (the shared
                    mapInArrow kernel, plans/arrow_kernel.py)
  state update:     merge batch partials into the persistent per-key blob
                    table (parquet, atomic swap) — associativity makes the
                    result identical to a batch job over all data so far
  output:           finalized estimates per key written to ``out_dir``

Exactly-once: foreachBatch can replay a batch after failure; merging the
same partial twice would double-count, so the state swap carries its own
epoch marker: state for epoch N is committed by atomically renaming the
tmp dir to ``state-epoch=N`` — the marker IS the state directory name, so
there is no crash window between "state updated" and "epoch recorded"
(the standard idempotent-foreachBatch pattern, hardened).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsv_utils_spark.plans.agg import (
    SketchSpec,
    _level1,
    _merge_partials,
    _partial_schema,
)


def make_processor(template_df: DataFrame,
                   group_by: list[str],
                   specs: list[SketchSpec],
                   state_dir: str,
                   out_dir: str,
                   max_groups_per_partition: int = 100_000,
                   state_filter=None):
    """Build the idempotent foreachBatch processor (exposed for direct
    testing of the exactly-once replay guard; ``template_df`` only
    supplies the schema). ``state_filter`` (optional Column predicate over
    the state's group columns) prunes state rows at every restate — the
    retention hook for windowed aggregation (drop windows old enough that
    no more late data is expected)."""
    spark = template_df.sparkSession
    group_by = list(group_by)
    in_cols = [spec.input_expr(i) for i, spec in enumerate(specs)]
    in_names = [f"__in_{i}" for i in range(len(specs))]
    partial_schema = _partial_schema(template_df, group_by, len(specs))
    os.makedirs(state_dir, exist_ok=True)

    def live_state() -> tuple[str | None, int]:
        """Newest committed state dir (``state-epoch=N`` with _SUCCESS) and
        its epoch. The directory name is the applied-epoch marker — renamed
        into place atomically WITH the state, so a crash can never leave
        'state updated but epoch unrecorded' (which would re-merge the
        replayed batch and double-count)."""
        best_path, best_epoch = None, -1
        for name in os.listdir(state_dir):
            if not name.startswith("state-epoch="):
                continue
            try:
                e = int(name.split("=", 1)[1])
            except ValueError:
                continue
            p = os.path.join(state_dir, name)
            if e > best_epoch and os.path.exists(os.path.join(p, "_SUCCESS")):
                best_path, best_epoch = p, e
        return best_path, best_epoch

    def write_estimates(state_path: str) -> None:
        est = _merge_partials(spark.read.parquet(state_path), group_by,
                              specs, include_rows=True)
        est.write.mode("overwrite").parquet(out_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        live_path, live_epoch = live_state()
        if epoch_id <= live_epoch:
            # replayed batch — state already committed; refresh the (possibly
            # stale) estimate output, which is idempotent, and skip the merge
            write_estimates(live_path)
            return
        partials = _level1(batch_df.select(*group_by, *in_cols), group_by,
                           in_names, specs, partial_schema,
                           max_groups_per_partition)
        if live_path is not None:
            old = spark.read.parquet(live_path)
            partials = old.unionByName(partials)
        # state compaction is the blob-table form of the level-2 merge,
        # so committed state dirs are themselves valid sketch TABLES:
        # sketch_rollup() them to any coarser key subset without replay
        new_state = _merge_partials(partials, group_by, specs,
                                    finalize=False)
        if state_filter is not None:
            new_state = new_state.where(state_filter)
        tmp = os.path.join(state_dir, f".tmp-{epoch_id}")
        new_state.write.mode("overwrite").parquet(tmp)
        committed = os.path.join(state_dir, f"state-epoch={epoch_id}")
        if os.path.exists(committed):
            shutil.rmtree(committed)
        os.rename(tmp, committed)  # atomic commit: state + epoch marker
        write_estimates(committed)
        if live_path is not None:  # prune superseded state (crash-safe)
            shutil.rmtree(live_path, ignore_errors=True)

    return process


def streaming_sketch_agg(stream_df: DataFrame,
                         group_by: list[str],
                         specs: list[SketchSpec],
                         state_dir: str,
                         out_dir: str,
                         max_groups_per_partition: int = 100_000,
                         **write_stream_kwargs):
    """Start the incremental sketch aggregation; returns the StreamingQuery.

    The caller owns the trigger/termination (e.g. ``.processAllAvailable()``
    in tests, a real trigger in production).
    """
    process = make_processor(stream_df, group_by, specs, state_dir, out_dir,
                             max_groups_per_partition)
    writer = (stream_df.writeStream
              .foreachBatch(process)
              .outputMode("update")
              .option("checkpointLocation", os.path.join(state_dir, "ckpt")))
    for k, v in write_stream_kwargs.items():
        writer = writer.option(k, v)
    return writer.start()


def streaming_windowed_sketch_agg(stream_df: DataFrame,
                                  time_col: str,
                                  group_by: list[str],
                                  specs: list[SketchSpec],
                                  state_dir: str,
                                  out_dir: str,
                                  window_duration: str = "1 hour",
                                  retention_predicate=None,
                                  **write_stream_kwargs):
    """Event-time tumbling-window sketch aggregation.

    The window start becomes an extra group key, so per-(window, keys)
    sketch blobs are the state. LATE DATA needs no watermark-drop: a late
    row merges into its window's sketch whenever it arrives, and
    associativity makes the window's estimate identical to an on-time
    run — strictly better than discarding. What a watermark normally
    bounds (state growth) is handled by ``retention_predicate``: an
    optional Column over ``window_start`` evaluated at every restate
    (e.g. ``F.col("window_start") >= F.lit(cutoff)``) that drops windows
    old enough that no more late data is expected.
    """
    derived = stream_df.withColumn(
        "window_start",
        F.window(F.col(time_col), window_duration)["start"])
    process = make_processor(derived, ["window_start", *group_by], specs,
                             state_dir, out_dir,
                             state_filter=retention_predicate)
    writer = (derived.writeStream
              .foreachBatch(process)
              .outputMode("update")
              .option("checkpointLocation", os.path.join(state_dir, "ckpt")))
    for k, v in write_stream_kwargs.items():
        writer = writer.option(k, v)
    return writer.start()
