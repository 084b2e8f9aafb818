"""Watermarked window operators over event streams.

Streaming twins of the batch queries in :mod:`..plans.events` (the batch
forms are the oracle-checked versions; these share the same aggregate
expressions, so a batch/stream pair computes identical results on the same
data — verified in ``tests/test_streaming.py``).

The reference has no streaming analytics at all (its only 'stream' is the
per-record gRPC loop, ``SparkDestinationStream.java:70-85``); this is
north-star surface built directly on Structured Streaming.

Scale / state: every operator bounds its state with a watermark — state
per key×window is dropped once the watermark passes the window end.
Tumbling/sliding aggs keyed by (window, event_type) are low-cardinality;
session windows and dedup key by user/event id — at 100 TB-rate streams
the state store partitions on the grouping key across executors (RocksDB
state store in production; local HDFS-backed here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cdc import start_foreach_batch


def tumbling_rollup(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "ts",
) -> DataFrame:
    """Per event-type counts/sums in tumbling windows; late rows beyond the
    watermark are dropped (streaming form of ``q21_hourly_event_rollup``)."""
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
            "approx_users",
        )
    )


def sliding_rollup(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    time_col: str = "ts",
) -> DataFrame:
    """Sliding-window event counts — each row lands in window/slide
    overlapping windows."""
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_rollup(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    time_col: str = "ts",
) -> DataFrame:
    """Gap-based session windows per user (``F.session_window``): a session
    closes after ``gap`` of inactivity; state for a session is emitted and
    dropped once the watermark passes its end. Streaming twin of
    ``q22_sessionization``."""
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    time_col: str = "ts",
) -> DataFrame:
    """Exactly-once-per-key emission within the watermark horizon
    (``dropDuplicatesWithinWatermark``): duplicate events arriving within
    the watermark are suppressed; state is bounded — per-key entries expire
    with the watermark, unlike an unbounded ``dropDuplicates``."""
    return events.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(keys)


def trending_topk_stream(
    events: DataFrame,
    wh,
    result_table: str,
    checkpoint_dir: str,
    k: int = 3,
    window: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "ts",
    available_now: bool = True,
):
    """Top-k trending event types per tumbling window, maintained as a
    stream: the windowed count aggregation runs in APPEND mode (a window's
    counts are emitted exactly once, when the watermark closes it), and
    each epoch ranks ONLY the newly-closed windows before appending them
    to the result table. Ranking inside foreachBatch is correct because
    append-mode rows for one window always arrive in a single epoch —
    there is nothing to re-rank later.

    Scale / state: the streaming state is the (window × event_type) count
    table the watermark already bounds; ranking per epoch touches only
    closed windows (k small, windows few), so the per-epoch batch job is
    metadata-sized regardless of stream rate.
    """
    from pyspark.sql import Window as W

    agg = (
        events.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )

    def _epoch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        w = W.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), F.col("event_type")
        )
        ranked = (
            batch.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
        if not wh.table_exists(result_table):
            wh.create_table(result_table, ranked.schema)
        # commit mark = epoch id: a foreachBatch re-delivery of this
        # epoch (at-least-once) must not double-append its rows
        wh.append(result_table, ranked, mark=f"e{epoch_id}")

    return start_foreach_batch(
        agg,
        _epoch,
        checkpoint_dir,
        available_now,
        output_mode="append",
    )
