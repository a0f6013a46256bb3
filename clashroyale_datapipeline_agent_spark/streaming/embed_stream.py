"""Streaming mini-batch k-means assignment store — the embedding-world
member of the foreachBatch store family (``incremental.py`` /
``drift_stream.py`` / ``control_stream.py``).

Vectors arrive as a stream; each micro-batch is assigned to FIXED
centroid literals map-side (``similarity.nearest_centroid_col`` — no
shuffle wider than the per-batch (cluster, dim) aggregate) and folded
into a versioned store of sufficient statistics. The statistics are
integer-QUANTIZED per-dimension sums (``round(x * 1e6)`` as BIGINT), so
they are exactly mergeable: addition is associative and commutative in
int64, which makes the streamed store equal the one-pass batch
aggregation BIT-FOR-BIT regardless of micro-batch boundaries, arrival
order, or partial-agg merge order — the float-sum flake class cannot
exist here. The readout (``centroid_readout``) is shared verbatim by
the batch twin (``minibatch_kmeans_readout``), so stream ≡ batch by
shared code AND exact arithmetic.

This is the streaming half of the IVF story (`similarity.IvfPqIndex`):
at 100 TB the reference centroids come from a bounded training slice,
new embeddings stream in, and this store maintains live cluster
populations and updated means (a mini-batch Lloyd update per trigger)
without ever rescanning history — per batch one (k × dim)-row
aggregate, state bounded at k × dim rows however long the stream runs.

Versioning, replay safety and the at-least-once assignment log with
its deduplicated read are ``incremental._VersionedStore``'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.operators.similarity import (
    nearest_centroid_col,
)
from clashroyale_datapipeline_agent_spark.streaming.incremental import (
    _foreach_batch,
    _VersionedStore,
)

#: quantization scale for per-dimension sums (1e6 ~ float32's precision
#: at unit scale; sums stay exact in int64 up to ~9e12 vectors per cell)
Q = 1_000_000

#: (cluster, dim, cnt, sq) — cnt duplicated across a cluster's dims
ASSIGN_STORE_SCHEMA = "cluster int, dim int, cnt bigint, sq bigint"
#: per-batch assignment census
ASSIGN_LOG_SCHEMA = "batch_id bigint, cluster int, n bigint"


def batch_cluster_stats(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-batch (cluster, dim) sufficient statistics: map-side argmin
    assignment to the centroid LITERALS, posexplode to dimension grain,
    one hash aggregation of counts + quantized sums. The only shuffle is
    k×dim keys wide."""
    assigned = df.withColumn(
        "_c", nearest_centroid_col(F.col(vec_col), centroids)
    )
    dims = assigned.select(
        "_c", F.posexplode(F.col(vec_col).cast("array<double>"))
    ).toDF("cluster", "dim", "v")
    return dims.groupBy("cluster", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.round(F.col("v") * Q).cast("bigint")).alias("sq"),
    )


def centroid_readout(stats: DataFrame) -> DataFrame:
    """(cluster, n_assigned, centroid_norm) from the sufficient
    statistics — the SHARED epilogue of the streamed store and the
    batch twin. Means are sq/(cnt·Q) (one double division per cell from
    exact integers); the norm rounds to 4 decimals."""
    means = stats.select(
        "cluster",
        "cnt",
        (F.col("sq").cast("double") / (F.col("cnt") * F.lit(float(Q)))).alias(
            "m"
        ),
    )
    return (
        means.groupBy("cluster")
        .agg(
            F.max("cnt").cast("bigint").alias("n_assigned"),
            F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias(
                "centroid_norm"
            ),
        )
        .orderBy("cluster")
    )


def minibatch_kmeans_readout(
    vectors: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch twin: one-pass assignment + quantized-sum update readout —
    equals the streamed store's ``chart()`` bit-for-bit once the same
    vectors have flowed through (exact integer merge, shared epilogue)."""
    return centroid_readout(
        batch_cluster_stats(vectors, centroids, vec_col=vec_col)
    )


class EmbeddingAssignStore(_VersionedStore):
    """Versioned (cluster, dim) sufficient-statistics store + per-batch
    assignment log on plain parquet (lakehouse mapping: SCALE.md r9)."""

    _schema = ASSIGN_STORE_SCHEMA

    def stats(self) -> DataFrame:
        return self._state()

    def assignments(self) -> DataFrame:
        return self._log("assign_log", ASSIGN_LOG_SCHEMA, ["batch_id", "cluster"])

    def chart(self) -> DataFrame:
        """Live centroid readout over accumulated state — equals
        ``minibatch_kmeans_readout`` over everything streamed so far."""
        return centroid_readout(self.stats())

    def merge_and_log(self, batch_stats: DataFrame, batch_id: int) -> None:
        """Fold a batch's (cluster, dim) statistics into the store and
        log its per-cluster assignment census. Marker-committed: a
        replayed batch is a no-op on the store."""
        if self._replayed(batch_id):
            return
        batch_stats = batch_stats.localCheckpoint(eager=True)
        census = batch_stats.groupBy("cluster").agg(
            F.max("cnt").cast("bigint").alias("n")
        )
        census.select(
            F.lit(batch_id).cast("bigint").alias("batch_id"), "cluster", "n"
        ).write.mode("append").parquet(str(self.root / "assign_log"))
        merged = (
            self.stats()
            .unionByName(batch_stats)
            .groupBy("cluster", "dim")
            .agg(
                F.sum("cnt").cast("bigint").alias("cnt"),
                F.sum("sq").cast("bigint").alias("sq"),
            )
        )
        self._commit(batch_id, merged)


def start_streaming_assign(
    vectors: DataFrame,
    store: EmbeddingAssignStore,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    checkpoint_dir: str,
):
    """Continuous mini-batch k-means maintenance: per micro-batch one
    map-side assignment + one k×dim aggregate folded into the store.
    ``store.chart()`` is the live centroid table; ``assignments()`` the
    per-batch census time series."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        store.merge_and_log(
            batch_cluster_stats(batch_df, centroids, vec_col=vec_col),
            batch_id,
        )

    return _foreach_batch(vectors, handle, checkpoint_dir)


def start_streaming_ivf_refresh(
    vec_stream: DataFrame,
    index,
    checkpoint: str,
    codebooks: list[list[list[float]]],
):
    """Continuous IVF index maintenance (round-11: composing the
    streaming plane with ``similarity.IvfPqIndex``): every micro-batch
    of ``(vec_id, vq)`` arrivals runs one :meth:`IvfPqIndex.refresh`
    cycle — assign against current centroids, flag drifted cells by the
    exact staleness rule, re-center and re-assign ONLY the flagged
    cells, rewrite only touched partitions. foreachBatch serializes
    cycles, so each batch sees the centroids the previous batch left
    behind — the streaming form of the standing maintenance job a
    billion-vector index runs on its ingest feed.

    Replay note: refresh is NOT naturally idempotent (a replayed batch
    appends again), so exactly-once here relies on the checkpoint's
    batch tracking; crash-between-write-and-commit re-appends one
    batch, which the vec_id-keyed ``rows/`` layout makes detectable
    (dup vec_ids) and repairable by a dedup compaction — the documented
    Delta/Iceberg MERGE mapping (SCALE.md lakehouse section) removes
    even that window."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        index.refresh(batch_df, codebooks)

    return _foreach_batch(vec_stream, handle, checkpoint)
