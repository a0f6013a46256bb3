"""Similarity paths checked against exact answers: the LSH-candidate
Jaccard verify against the exact shingle join, Lloyd k-means inertia, and
the IVF recall sweep's monotonicity in n_probe."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_ngram_jaccard_all_pairs_consistent_with_candidate_verify(spark, sf_dir):
    """The exact shingle-join Jaccard agrees with the LSH-candidate verify
    path on every candidate pair (same numbers, from two different plans)."""
    from clashroyale_datapipeline_agent_spark.operators import dedup as D
    from clashroyale_datapipeline_agent_spark.sources.readers import load_star_table

    docs = load_star_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    cands = D.lsh_candidate_pairs(docs, bands=16)
    via_verify = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in D.ngram_jaccard_pairs(docs, cands, threshold=0.0).collect()
    }
    all_pairs = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in D.ngram_jaccard_all_pairs(docs).collect()
    }
    for pair, j in via_verify.items():
        if j > 0:
            assert all_pairs.get(pair) == j, pair


def test_kmeans_lloyd_inertia_decreases(spark):
    import pyspark.sql.functions as F

    from clashroyale_datapipeline_agent_spark.operators.similarity import (
        kmeans_lloyd_iter,
        nearest_centroid_col,
    )

    v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def inertia(cents):
        assigned = v.withColumn(
            "_c", nearest_centroid_col(F.col("embedding"), cents)
        )
        # squared distance to the assigned centroid, summed
        total = 0.0
        for ci, c in enumerate(cents):
            arr = F.array(*[F.lit(x) for x in c])
            d = F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    arr,
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            row = assigned.filter(F.col("_c") == ci).agg(F.sum(d)).collect()[0]
            total += row[0] or 0.0
        return total

    init = [
        list(r["c"])
        for r in v.orderBy("vec_id")
        .limit(4)
        .select(F.col("embedding").cast("array<double>").alias("c"))
        .collect()
    ]
    cents3 = init
    for _ in range(3):  # the driver loop: per round only k x dim means return
        _, means = kmeans_lloyd_iter(v, cents3)
        by_c: dict[int, dict[int, float]] = {}
        for r in means.collect():
            by_c.setdefault(r["_cluster"], {})[r["dim"]] = r["m"]
        cents3 = [
            [by_c[c][d] for d in sorted(by_c[c])] if c in by_c else cents3[c]
            for c in range(len(cents3))
        ]
    assert inertia(cents3) < inertia(init)  # Lloyd monotonicity held


def test_ivf_recall_monotone_in_nprobe(spark):
    """ann_ivf_recall_sweep: per query, recall@10 and candidate volume
    are non-decreasing in n_probe (probing more clusters can only add
    candidates), hits stay within [0, 10], and the probe grid is the
    full 16-query x {1,2,4} grid."""
    from clashroyale_datapipeline_agent_spark.plans.curation_queries import (
        ann_ivf_recall_sweep,
    )

    rows = ann_ivf_recall_sweep(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 16 * 3
    by_q: dict[int, list] = {}
    for r in rows:
        assert 0 <= r["hits"] <= 10
        assert r["recall"] == round(r["hits"] / 10.0, 4)
        by_q.setdefault(r["vec_id"], []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["n_probe"])
        assert [r["n_probe"] for r in rs] == [1, 2, 4]
        for a, b in zip(rs, rs[1:]):
            assert a["hits"] <= b["hits"], f"recall not monotone for q={q}"
            assert a["n_candidates"] <= b["n_candidates"]
        assert rs[0]["n_candidates"] >= 0
