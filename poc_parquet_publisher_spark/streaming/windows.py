"""Tumbling-window event counts with late-data handling (Q27's streaming
variant, SURVEY.md section 2.3).

The reference has no windowed aggregation -- its consumer only counts a
batch (cmd/sqs-record-consumer/main.go:29). This is the declared Spark
extension: ``groupBy(window(ts, '1 hour'))`` with a watermark so state is
bounded (late rows past the watermark are dropped instead of growing
state forever -- the property that keeps a continuous 100 TB/day stream's
memory flat).

Every streaming transform here and in ``dedup``/``stateful`` runs batch or
stream on one code path; ``event_time`` prepares the watermark column and
``drain_to_memory`` is the one drain the registry and tests run them
through.
"""

from __future__ import annotations

import threading
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

# Serializes the set/start/restore dance in drain_to_memory: the
# shuffle-partition conf is session-global, so two threads starting
# streams (or one starting a stream while another plans a batch query)
# could otherwise observe the temporary value or race the restore.
_START_LOCK = threading.Lock()
_STATE_PARTITIONS = 8
_DRAIN_TIMEOUT_S = 300


def drain_to_memory(
    frame: DataFrame, output_mode: str, checkpoint_dir: str
) -> DataFrame:
    """Drain a streaming ``frame`` with ``availableNow`` into a memory
    sink under a fresh unique name and return a materialized copy of it;
    raise if the drain does not finish within 300 s instead of returning
    a partially filled sink. The sink's view is dropped, so its rows
    live only as long as the returned frame.

    The query starts with 8 shuffle partitions, not the session's
    CPU-count default: every stateful operator instantiates
    shuffle-partition-count state stores (pinned by the checkpoint
    forever), and each store pays open/commit overhead per micro-batch
    -- measured 14.5 s -> 3.4 s at sf0.1 for the stream-stream join
    going 32 -> 8. The conf is read at query START only, so it is set
    around ``.start()`` and restored after.
    """
    spark = frame.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    writer = (
        frame.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    with _START_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(_STATE_PARTITIONS)
        )
        try:
            q = writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    if not q.awaitTermination(_DRAIN_TIMEOUT_S):
        q.stop()
        raise RuntimeError(
            f"stream drain did not finish within {_DRAIN_TIMEOUT_S} s; "
            "refusing to return a partially-filled sink"
        )
    out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    return out


def event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """``df`` with ``ts_col`` as TIMESTAMP, ready for a watermark.

    Watermarks reject TIMESTAMP_NTZ (the type naive Parquet timestamps
    load as); with the session zone pinned to UTC (catalog contract) the
    cast to TIMESTAMP is value-preserving. Other types pass through.
    """
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def windowed_event_counts(df: DataFrame) -> DataFrame:
    """(window_start, event_type, n_events, sum_value) per tumbling window.

    Works identically on a batch or streaming DataFrame (withWatermark is
    a no-op in batch), so tests can assert stream == batch on one code
    path. The sum goes through DECIMAL: partial aggregation order differs
    between micro-batch and batch plans, and double addition is not
    associative.
    """
    return (
        event_time(df, "ts")
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(30,8)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_event_counts(df: DataFrame) -> DataFrame:
    """Per-key SESSION windows via Spark's native ``session_window``:
    events merge while consecutive gaps stay UNDER 30 minutes; the
    window closes 30 minutes after its last event. The dynamic-window
    operator the x21 lag/gap method emulates relationally -- here state
    merging is native (and streaming-capable: with the watermark, closed
    sessions are finalized and state is evicted, keeping memory flat on
    an unbounded stream).

    Output: (key, session_start, session_end, n_events) where
    session_end = last event + 30 minutes (the operator's window end).

    Works identically on batch and streaming input (withWatermark is a
    batch no-op), so tests assert stream == batch on one code path.
    Session-window semantics note for the oracle: a gap EXACTLY equal to
    the 30 minutes starts a new session (window ends are exclusive), so the
    relational mirror must split on ``>=``, not ``>``.
    """
    return (
        event_time(df, "ts")
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), "30 minutes").alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def enriched_segment_counts(
    events: DataFrame,
    customer: DataFrame,
) -> DataFrame:
    """STREAM-STATIC enrichment join + windowed rollup: events (stream
    or batch) LEFT-join a broadcast customer dimension on user_id, then
    tumble into per-(window, market-segment) counts -- the standard
    "enrich the firehose against a slowly-changing dim" shape.

    Stream-static joins need no watermark on the static side and keep
    NO join state: each micro-batch probes the broadcast dim and moves
    on, so a 100 TB/day stream joins a dim table at scan speed. LEFT
    join so events with no dim row survive (segment NULL -> 'unknown'),
    exactly what a late-arriving dim row must not silently drop.

    Works identically on batch input (withWatermark + broadcast are
    batch no-ops/hints), so the oracle's plain SQL join hash-matches
    the drained stream -- stream == batch is the correctness contract.
    """
    dim = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        event_time(events, "ts")
        .withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), "user_id", "left")
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.coalesce(F.col("segment"), F.lit("unknown")).alias(
                "segment"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL accumulation (x27 contract): distinct aggregates
            # are unsupported on streams, and double sums are partial-
            # aggregation-order dependent
            F.round(
                F.sum(F.col("value").cast("decimal(30,8)")).cast(
                    "double"
                ),
                4,
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "segment",
            "n_events",
            "sum_value",
        )
    )


ATTRIBUTION_WATERMARK = "48 hours"


def view_click_attribution(views: DataFrame, clicks: DataFrame) -> DataFrame:
    """STREAM-STREAM interval join: attribute each click to every view
    by the same user within the trailing attribution window -- the
    ad-attribution / funnel-stitching shape that needs state on BOTH
    sides (a view must wait for clicks that haven't arrived; a click
    must probe views already seen).

    Inner stream-stream joins emit a pair the moment both sides have
    arrived; the watermarks plus the time-interval bound let Spark
    EVICT join state older than (watermark + window), which is what
    keeps a continuous stream's state flat -- without the interval
    condition the view side would buffer forever. Works identically on
    batch inputs (withWatermark is a batch no-op), so the oracle's
    plain interval-join SQL hash-matches the drained stream.
    """
    v = (
        event_time(views, "ts")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", ATTRIBUTION_WATERMARK)
    )
    c = (
        event_time(clicks, "ts")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", ATTRIBUTION_WATERMARK)
    )
    cond = (
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (
            F.col("v_ts")
            >= F.col("c_ts") - F.expr("INTERVAL 24 hours")
        )
    )
    return c.join(v, cond).select(
        "click_id",
        "view_id",
        F.col("user_id").cast("long").alias("user_id"),
        (
            F.unix_timestamp("c_ts") - F.unix_timestamp("v_ts")
        ).cast("long").alias("gap_sec"),
    )

