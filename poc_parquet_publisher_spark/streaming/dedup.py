"""Streaming deduplication: exact dedup over a continuous stream.

The batch tier (ops/dedup.py exact_dedup) dedups a corpus at rest; a
100 TB/day ingest pipeline needs the same guarantee on the stream. Spark
native: ``dropDuplicatesWithinWatermark`` keys state by content hash and
EXPIRES it past the watermark -- the property that keeps state bounded
forever, where plain dropDuplicates on a stream grows state per distinct
key without limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import event_time


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    watermark: str = "1 hour",
) -> DataFrame:
    """Drop duplicate rows within the watermark horizon.

    ``key_cols`` identify a duplicate (e.g. event_id, or a content-hash
    column). Duplicates separated by more than the watermark are NOT
    suppressed -- bounded state is exactly that trade, matching SQS's
    own at-least-once redelivery window.
    """
    return (
        event_time(df, "ts")
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(key_cols)
    )


def _maybe_compact(
    spark, index_path: str, threshold_files: int | None, compact_fn
) -> None:
    """Auto-compaction trigger shared by the incremental streams: each
    micro-batch appends one parquet generation to the index forever, so
    a long-running stream accumulates a small-files problem unless an
    operator remembers to run the compactor. When the index's data-file
    count exceeds ``threshold_files``, rewrite it via the appropriate
    ``compact_*_index`` (probe-result-preserving by construction; see
    ops/incremental.py). Safe inside foreachBatch: availableNow drains
    micro-batches SERIALLY, so the index is never probed mid-swap."""
    if threshold_files is None:
        return
    from ..pipeline.layout import _list_data_files

    if len(_list_data_files(spark, index_path)) > threshold_files:
        compact_fn(spark, index_path)


def stream_incremental_dedup(
    spark,
    source_dir: str,
    schema,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous ingest with UNBOUNDED dedup lookback: each micro-batch
    anti-joins the persistent hash index (ops/incremental.py) and
    appends its survivors to ``out_dir`` -- the complement of
    ``dedup_stream``: that one bounds state to the watermark horizon
    (cheap, in-memory), this one trades a per-batch index join for
    exactly-once-per-content across the entire ingest history, state
    living as a narrow parquet table instead of executor memory.

    File-drop source, availableNow drain: call again whenever new files
    land. Returns the StreamingQuery.

    Crash semantics: survivors are written to ``out_dir`` BEFORE their
    hashes are appended to the index. A retry after a crash between the
    two writes re-emits the same survivors (at-least-once duplicates in
    ``out_dir``, removable downstream by hash); the index-first order
    would instead re-match the retry against its own just-indexed
    hashes and emit NOTHING -- silently losing the batch.

    Lifecycle: every micro-batch appends one index generation; when the
    index data-file count exceeds 64 the sink runs
    ``compact_hash_index`` inline (probe-preserving rewrite), so a
    long-running stream keeps file count bounded without an operator.
    """
    from ..ops.incremental import compact_hash_index, incremental_dedup

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        fresh = incremental_dedup(
            batch_df,
            index_path,
            update_index=False,
        ).localCheckpoint()  # pin: the plan reads the index we append to
        fresh.write.mode("append").parquet(out_dir)
        fresh.select(
            F.md5(F.lower(F.col("text"))).alias("h")
        ).write.mode("append").parquet(index_path)
        _maybe_compact(spark, index_path, 64, compact_hash_index)

    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_incremental_neardup(
    spark,
    source_dir: str,
    schema,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    compact_threshold_files: int | None = 64,
    max_files_per_trigger: int | None = None,
):
    """Continuous ingest with UNBOUNDED **near**-dup lookback: each
    micro-batch probes the persistent MinHash-band index
    (ops/incremental.py incremental_neardup_dedup) -- band equi-join
    candidates, exact-Jaccard verify -- and appends its survivors'
    signatures, so a drop that PARAPHRASES yesterday's corpus is
    caught, not just byte-identical repeats. The index is hashed
    shingles + band keys, never text: the per-batch probe shuffles
    band keys and candidate pairs only.

    File-drop source, availableNow drain: call again whenever new
    files land. Returns the StreamingQuery.

    Crash semantics: survivors are written to ``out_dir`` BEFORE their
    signatures are appended to the index (same order as
    ``stream_incremental_dedup``). A retry after a crash between the
    two writes re-emits the same survivors (at-least-once); appending
    the index first would make the retry match its own signatures at
    jaccard 1.0 and emit nothing, silently dropping the batch from the
    curated output.

    Lifecycle: when the index data-file count exceeds
    ``compact_threshold_files`` the sink runs ``compact_neardup_index``
    inline (probe-preserving rewrite, ops/incremental.py), bounding a
    long-running stream's file count without an operator. ``None``
    disables. ``max_files_per_trigger`` caps source files per
    micro-batch (test/backfill pacing).
    """
    from ..ops.incremental import (
        compact_neardup_index,
        incremental_neardup_dedup,
        neardup_signatures,
    )

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        fresh = incremental_neardup_dedup(
            batch_df,
            index_path,
            update_index=False,
        ).localCheckpoint()  # pin: the plan reads the index we append to
        fresh.write.mode("append").parquet(out_dir)
        # recomputed from the survivors: deterministic, so identical to
        # the signatures the in-batch probe used
        neardup_signatures(fresh).write.mode("append").parquet(index_path)
        _maybe_compact(
            spark,
            index_path,
            compact_threshold_files,
            compact_neardup_index,
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
