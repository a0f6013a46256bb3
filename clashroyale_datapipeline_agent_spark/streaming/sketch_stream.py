"""Streaming sketch maintenance — heavy hitters over an unbounded stream.

Composes the deterministic count-min sketch (`operators/sketches.py`)
with the ``foreachBatch`` exactly-once merge discipline of
`streaming/incremental.py`: each micro-batch contributes its own
counter matrix (≤ DEPTH·WIDTH rows however large the batch), and the
merge SUMS counters into a versioned compact store. CMS state is
sum-mergeable exactly as HLL registers are max-mergeable — which is why
a 100 TB/day stream can keep per-hour sketch partitions and answer
top-k/frequency queries over any window by summing kilobytes, never
replaying events.

Versioning and replay safety of both stores are
``incremental._VersionedStore``'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.operators.sketches import cms_counters
from clashroyale_datapipeline_agent_spark.streaming.incremental import (
    _foreach_batch,
    _VersionedStore,
)

CMS_STORE_SCHEMA = "row_id int, bucket int, cnt bigint"


class CmsCounterStore(_VersionedStore):
    """Versioned (row_id, bucket, cnt) sketch store on plain parquet;
    merge is a SUM per (row_id, bucket) — the CMS merge operator."""

    _schema = CMS_STORE_SCHEMA

    def read(self) -> DataFrame:
        return self._state()

    def merge_deltas(self, deltas: DataFrame, batch_id: int) -> None:
        if self._replayed(batch_id):
            return
        merged = (
            self._state()
            .unionByName(deltas)
            .groupBy("row_id", "bucket")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        self._commit(batch_id, merged)


def start_streaming_cms(
    events: DataFrame,
    store: CmsCounterStore,
    value_col: str,
    *,
    checkpoint_dir: str,
):
    """Maintain a CMS over a stream: per batch, sketch the batch
    (map-side explode + partial agg → ≤ DEPTH·WIDTH delta rows) and
    sum-merge into the store. Heavy-hitter estimates at any moment come
    from ``cms_estimate(store.read(), candidates, ...)`` without
    touching a single historical event."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        deltas = cms_counters(batch_df, value_col).select(
            F.col("row_id").cast("int"),
            F.col("bucket").cast("int"),
            F.col("cnt").cast("bigint"),
        )
        store.merge_deltas(deltas, batch_id)

    return _foreach_batch(events, handle, checkpoint_dir)


# ---------------------------------------------------------------------------
# Misra-Gries heavy-hitter store (deterministic-bound sibling of the CMS)
# ---------------------------------------------------------------------------

#: counter rows; a NULL key row per bucket carries the accumulated
#: decrement mass (the bucket's underestimate bound)
MG_STORE_SCHEMA = "bucket string, key bigint, cnt bigint"

#: counters kept per bucket (the MG memory dial, matching the batch
#: query ``events_mg_heavy_hitters``'s top-5)
MG_K = 5


def mg_batch_counts(df: DataFrame, value_col: str) -> DataFrame:
    """Per-batch exact (bucket, key) counts — 16 md5 buckets, same
    bucketing as ``plans/resolution_queries.events_mg_heavy_hitters``
    so stream and batch summaries are comparable."""
    return (
        df.select(
            F.substring(F.md5(F.col(value_col).cast("string")), 1, 1).alias(
                "bucket"
            ),
            F.col(value_col).cast("bigint").alias("key"),
        )
        .groupBy("bucket", "key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def mg_reduce(counts: DataFrame, k: int = MG_K) -> tuple[DataFrame, DataFrame]:
    """The Misra-Gries decrement in closed form over counted state:
    per bucket keep the top-k counts minus the (k+1)-th largest
    (ties → smaller key wins, deterministic), and report the per-bucket
    decrement ``t`` — the mass every survivor gave up and every dropped
    key is bounded by. Returns (kept_counters, per_bucket_decrement).

    MG summaries are mergeable (Agarwal et al., PODS'12): pointwise-sum
    two summaries then reduce back to k counters; the underestimate
    bounds ADD, which is what the store's error row accumulates."""
    from pyspark.sql import Window as W

    rk = counts.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("bucket").orderBy(F.desc("cnt"), F.asc("key"))
        ),
    )
    thresh = rk.groupBy("bucket").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == k + 1, F.col("cnt"))), F.lit(0)
        )
        .cast("bigint")
        .alias("t")
    )
    kept = (
        rk.join(thresh, "bucket")
        .filter((F.col("rn") <= k) & (F.col("cnt") > F.col("t")))
        .select(
            "bucket", "key", (F.col("cnt") - F.col("t")).cast("bigint").alias("cnt")
        )
    )
    return kept, thresh


class MgCounterStore(_VersionedStore):
    """Versioned Misra-Gries summary store on plain parquet: ≤ k counter
    rows plus one NULL-key error row per bucket — O(buckets·k) state
    however many keys the stream has seen.

    Contract (the deterministic MG guarantee, additive across merges):
    for every key, ``est ≤ exact`` and ``exact − est ≤ err(bucket)``;
    a key absent from the summary has ``exact ≤ err(bucket)``. The
    error row makes the bound REPORTED, not assumed — the streaming
    mirror of the batch query's measured-underestimate column."""

    _schema = MG_STORE_SCHEMA

    def __init__(self, spark: SparkSession, root: str, k: int = MG_K) -> None:
        super().__init__(spark, root)
        self.k = k

    def read(self) -> DataFrame:
        """Counter rows only (bucket, key, est)."""
        return self._state().filter(F.col("key").isNotNull())

    def errors(self) -> DataFrame:
        """Per-bucket accumulated underestimate bound (bucket, err)."""
        return self._state().filter(F.col("key").isNull()).select(
            "bucket", F.col("cnt").alias("err")
        )

    def merge_deltas(self, deltas: DataFrame, batch_id: int) -> None:
        if self._replayed(batch_id):
            return
        merged = (
            self.read()
            .unionByName(deltas)
            .groupBy("bucket", "key")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        kept, thresh = mg_reduce(merged, self.k)
        err = (
            self.errors()
            .unionByName(thresh.select("bucket", F.col("t").alias("err")))
            .groupBy("bucket")
            .agg(F.sum("err").cast("bigint").alias("cnt"))
            .select("bucket", F.lit(None).cast("bigint").alias("key"), "cnt")
        )
        self._commit(batch_id, kept.unionByName(err))


def start_streaming_mg(
    events: DataFrame,
    store: MgCounterStore,
    value_col: str,
    *,
    checkpoint_dir: str,
):
    """Maintain a Misra-Gries heavy-hitter summary over a stream: per
    micro-batch, count the batch exactly (one partial-agg shuffle to
    (bucket, key) grain), then summary-merge into the bounded store —
    the deterministic-underestimate twin of :func:`start_streaming_cms`
    and the streaming twin of the batch query
    ``events_mg_heavy_hitters``. Top-k-with-bound queries read
    O(buckets·k) rows however long the stream has run."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        store.merge_deltas(mg_batch_counts(batch_df, value_col), batch_id)

    return _foreach_batch(events, handle, checkpoint_dir)
