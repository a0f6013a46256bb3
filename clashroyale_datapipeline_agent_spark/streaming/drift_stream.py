"""Streaming drift monitoring — PSI of each micro-batch against the
accumulated reference histogram.

The streaming twin of ``plans/drift_queries.events_psi_value_drift``:
the batch query splits ONE dataset at its time midpoint; this monitor
scores every INCOMING micro-batch against the reference distribution
accumulated from all prior batches, then folds the batch into the
reference — the "is today's feed shaped like history" gate that runs
continuously in front of a training-data ingest.

State is histogram-sized (types × 10 bins) however long the stream
runs; the PSI epilogue is a spine join over those rows, so scoring adds
no per-event work beyond the binning agg. Versioning, replay safety
and the at-least-once score log with its deduplicated read are
``incremental._VersionedStore``'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.streaming.incremental import (
    _foreach_batch,
    _VersionedStore,
)

#: (event_type, bin, cnt) reference histogram rows
PSI_STORE_SCHEMA = "event_type string, bin bigint, cnt bigint"
#: (batch_id, event_type, n_batch, n_ref, psi) score log rows
PSI_LOG_SCHEMA = (
    "batch_id bigint, event_type string, n_batch bigint, n_ref bigint,"
    " psi double"
)
N_BINS = 10


def psi_batch_bins(df: DataFrame, value_col: str) -> DataFrame:
    """Per-batch (event_type, bin) counts on the SAME fixed width-50
    10-bin grid as ``events_psi_value_drift`` — fixed edges are what
    make histograms mergeable across batches."""
    return (
        df.groupBy(
            "event_type",
            F.least(
                F.floor(
                    F.greatest(F.col(value_col), F.lit(0.0)) / 50.0
                ).cast("bigint"),
                F.lit(N_BINS - 1).cast("bigint"),
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def psi_score(ref: DataFrame, batch: DataFrame, spark: SparkSession) -> DataFrame:
    """PSI per event_type between a reference histogram and a batch
    histogram (both (event_type, bin, cnt)), add-one smoothed over the
    zero-backfilled 10-bin spine — the identical formula (and the
    identical 1e-12 integer-scaled exact sum) as the batch query, so
    monitor readings and backfill audits can be compared directly."""
    types = (
        ref.select("event_type")
        .unionByName(batch.select("event_type"))
        .distinct()
    )
    bins = spark.range(0, N_BINS).select(F.col("id").alias("bin"))
    spine = (
        types.crossJoin(F.broadcast(bins))
        .join(
            ref.select("event_type", "bin", F.col("cnt").alias("cr")),
            ["event_type", "bin"],
            "left",
        )
        .join(
            batch.select("event_type", "bin", F.col("cnt").alias("cb")),
            ["event_type", "bin"],
            "left",
        )
        .select(
            "event_type",
            "bin",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    tot = spine.groupBy("event_type").agg(
        F.sum("cr").cast("bigint").alias("tr"),
        F.sum("cb").cast("bigint").alias("tb"),
    )
    cells = spine.join(F.broadcast(tot), "event_type")
    pr = (F.col("cr") + 1).cast("double") / (F.col("tr") + N_BINS)
    pb = (F.col("cb") + 1).cast("double") / (F.col("tb") + N_BINS)
    scaled = cells.select(
        "event_type",
        "tr",
        "tb",
        F.round((pr - pb) * F.log(pr / pb) * 1000000000000.0)
        .cast("bigint")
        .alias("t"),
    )
    return scaled.groupBy("event_type").agg(
        F.max("tb").cast("bigint").alias("n_batch_rows_max"),
        F.sum("t").alias("tq"),
        F.max("tr").alias("tr_"),
        F.max("tb").alias("tb_"),
    ).select(
        "event_type",
        F.col("tb_").cast("bigint").alias("n_batch"),
        F.col("tr_").cast("bigint").alias("n_ref"),
        (F.col("tq") / 1000000000000.0).alias("psi"),
    )


class PsiMonitorStore(_VersionedStore):
    """Versioned reference histogram + PSI score log on plain parquet."""

    _schema = PSI_STORE_SCHEMA

    def reference(self) -> DataFrame:
        return self._state()

    def scores(self) -> DataFrame:
        return self._log("psi_log", PSI_LOG_SCHEMA, ["batch_id", "event_type"])

    def score_and_merge(self, batch_bins: DataFrame, batch_id: int) -> None:
        """Score the batch against the current reference, append to the
        log, then fold the batch into the reference — marker-committed
        so a Structured Streaming replay is a no-op."""
        if self._replayed(batch_id):
            return
        ref = self.reference()
        if ref.limit(1).count() > 0:  # first batch only seeds, no score
            out = psi_score(ref, batch_bins, self.spark).select(
                F.lit(batch_id).cast("bigint").alias("batch_id"),
                "event_type",
                "n_batch",
                "n_ref",
                "psi",
            )
            out.write.mode("append").parquet(str(self.root / "psi_log"))
        merged = (
            ref.unionByName(batch_bins)
            .groupBy("event_type", "bin")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        self._commit(batch_id, merged)


def start_streaming_psi(
    events: DataFrame,
    store: PsiMonitorStore,
    value_col: str,
    *,
    checkpoint_dir: str,
):
    """Continuous PSI drift gate: per micro-batch, bin the batch (one
    partial-agg shuffle), score it against the accumulated reference,
    log the score, fold it in. Read ``store.scores()`` for the drift
    time series; ``psi > 0.2`` rows are the batches a training-data
    ingest should quarantine for review."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        store.score_and_merge(psi_batch_bins(batch_df, value_col), batch_id)

    return _foreach_batch(events, handle, checkpoint_dir)
