"""Streaming EWMA control monitor — the continuous twin of
``plans/control_queries.events_ewma_control_chart``.

The batch query reads the whole history and charts it; this monitor
maintains the day-grain sufficient statistics (d, n, sq) as a
versioned parquet store, folds every micro-batch in (counts and
cent-sums are mergeable, so partial days accumulate correctly across
batches), and logs the chart reading for each batch's newest day. The
readout calls ``control_queries.ewma_readout`` — the SAME epilogue the
batch query runs — so stream and batch readings are equal by
construction once the same data has flowed through.

State is calendar-bounded (one row per day) however long the stream
runs; per-batch work is one partial-agg shuffle to day grain plus a
days-sized epilogue. Versioning, replay safety and the at-least-once
reading log with its deduplicated read are
``incremental._VersionedStore``'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.plans.control_queries import (
    ewma_readout,
)
from clashroyale_datapipeline_agent_spark.streaming.incremental import (
    _foreach_batch,
    _VersionedStore,
)

#: (d, n, sq) day-grain sufficient statistics
DAY_STORE_SCHEMA = "d date, n bigint, sq bigint"
#: (batch_id, day, n_events, daily_mean, ewma, is_alarm) reading log
CONTROL_LOG_SCHEMA = (
    "batch_id bigint, day date, n_events bigint, daily_mean double,"
    " ewma double, is_alarm boolean"
)


def day_batch_agg(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Per-batch day-grain (d, n, sq) — the identical cents
    quantization the batch chart uses, so merged state is the batch
    query's input bit-for-bit."""
    return (
        df.select(
            F.to_date("ts").alias("d"),
            F.round(F.col(value_col) * 100).cast("bigint").alias("vq"),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("vq").alias("sq"),
        )
    )


class ControlMonitorStore(_VersionedStore):
    """Versioned day-grain store + chart-reading log on plain parquet."""

    _schema = DAY_STORE_SCHEMA

    def daily(self) -> DataFrame:
        return self._state()

    def readings(self) -> DataFrame:
        return self._log("control_log", CONTROL_LOG_SCHEMA, ["batch_id"])

    def chart(self) -> DataFrame:
        """The full control chart over accumulated state — equals the
        batch query's output once the same events have streamed in."""
        return ewma_readout(self.daily())

    def merge_and_read(self, batch_daily: DataFrame, batch_id: int) -> None:
        """Fold the batch's day-grain stats into the store, then log
        the chart reading for the batch's newest day. Marker-committed:
        a replayed batch is a no-op on both store and log."""
        if self._replayed(batch_id):
            return
        batch_daily = batch_daily.localCheckpoint(eager=True)
        merged = (
            self.daily()
            .unionByName(batch_daily)
            .groupBy("d")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("sq").cast("bigint").alias("sq"),
            )
        ).localCheckpoint(eager=True)
        newest = batch_daily.agg(F.max("d").alias("mx")).collect()[0]["mx"]
        if newest is not None:
            reading = (
                ewma_readout(merged)
                .where(F.col("day") == F.lit(newest))
                .select(
                    F.lit(batch_id).cast("bigint").alias("batch_id"),
                    "day",
                    "n_events",
                    "daily_mean",
                    "ewma",
                    "is_alarm",
                )
            )
            reading.write.mode("append").parquet(
                str(self.root / "control_log")
            )
        self._commit(batch_id, merged)


def start_streaming_control(
    events: DataFrame,
    store: ControlMonitorStore,
    *,
    value_col: str = "value",
    checkpoint_dir: str,
):
    """Continuous EWMA control gate: per micro-batch, aggregate to day
    grain (one partial-agg shuffle), fold into the store, log the
    newest day's chart reading. ``store.readings()`` is the alarm time
    series; ``store.chart()`` replays the full batch chart on demand."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        store.merge_and_read(day_batch_agg(batch_df, value_col), batch_id)

    return _foreach_batch(events, handle, checkpoint_dir)
