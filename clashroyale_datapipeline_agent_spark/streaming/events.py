"""Structured Streaming operators (SURVEY.md §2.10 design targets).

The reference is batch-only; its Phase-0 loop defines the streaming
semantics (append-only fact stream, dedup-on-key, recompute aggregates).
Here they are native Structured Streaming plans sharing aggregation bodies
with their batch twins in ``plans/text_queries.py`` — one definition, two
execution modes.

At 100 TB/day these run with kafka/file sources; tests drive them with the
rate/memory sources + ``foreachBatch`` collection (no external services).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time window counts with a late-data watermark.

    Watermark bounds state: windows older than max(event time) - watermark
    are finalized and evicted. Works identically on batch DataFrames (the
    watermark is a no-op there) — the batch twin is
    ``events_tumbling_hourly``.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stateful_dedup(
    events: DataFrame,
    *,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming dedup-on-key with bounded state (U3's streaming form:
    ``dropDuplicates`` + watermark — the reference's ``fetched_player_tags``
    set, but with state eviction instead of unbounded driver memory)."""
    keys = key_cols or ["event_id"]
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "user_id",
    within: str = "30 minutes",
    left_watermark: str = "1 hour",
    right_watermark: str = "2 hours",
    ts_col: str = "ts",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event pairs with
    right events of the same ``key`` whose timestamp falls in
    ``[left.ts, left.ts + within]`` (e.g. view → purchase conversion within
    30 minutes).

    Both sides carry watermarks and the join condition bounds event-time
    distance in ONE direction per side, which is exactly what Spark needs
    to compute state eviction for both join buffers — without the time
    bound the right-side buffer would grow forever. Works identically on
    batch DataFrames (the batch twin is a plain range join, the
    ``j_range_join_ship_window`` shape; oracle row
    ``events_interval_join_conversion``).

    ``how='left_outer'`` keeps left events that never convert: in
    streaming mode the null-padded row for an unmatched left event is
    emitted only once the watermark passes ``l_ts + within`` (the point
    where no future right row could still match) — possibly a micro-batch
    later, since outer results ride the state-eviction pass. Both
    watermarks are REQUIRED for outer mode; that requirement is Spark's,
    not ours (state for the outer side must be boundable).
    """
    l = left.withWatermark(ts_col, left_watermark).select(
        F.col(key).alias("l_key"),
        F.col(ts_col).alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.withWatermark(ts_col, right_watermark).select(
        F.col(key).alias("r_key"),
        F.col(ts_col).alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        how,
    ).select("l_key", "l_event_id", "l_ts", "r_event_id", "r_ts")


def accumulate_stream_to_parquet(events: DataFrame, path: str, checkpoint: str):
    """U4's streaming form: append-only accumulation into a parquet/Delta
    staging table via ``writeStream`` (the Phase-0 ``meta_raw.extend`` loop
    without driver-held state). Drains what has landed (``availableNow``)
    and returns the started query."""
    return (
        events.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def enrich_with_dim(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    *,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join a stream against a (small) static
    dimension. Structured Streaming re-plans the static side per
    micro-batch, so a dimension refreshed on disk is picked up without
    restarting the query; wrapping the dim in ``F.broadcast`` keeps the
    join map-side — the stream is never shuffled for the enrichment.
    This is the streaming twin of the batch J1 broadcast dim join."""
    return events.join(F.broadcast(dim), on, how)
