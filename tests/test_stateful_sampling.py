"""applyInPandasWithState operators + deterministic sampling tests."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.streaming.stateful import (
    archetype_floor_monitor,
)


def test_archetype_floor_monitor_stream(spark, tmp_path):
    # two micro-batches of participant rows; floor = 3 games
    src = tmp_path / "parts"
    src.mkdir()

    def write(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write("b0.json", [{"deck_type": "Cycle"}] * 2 + [{"deck_type": "Bait"}] * 4)

    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "floor_out")

    def run_once():
        # parquet sink: supports checkpoint recovery (memory sink does not)
        stream = spark.readStream.schema("deck_type string").json(str(src))
        out = archetype_floor_monitor(stream, min_games_per_type=3)
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.schema(
            "deck_type string, games long, crossed boolean"
        ).parquet(sink).collect()

    rows = {r["deck_type"]: r for r in run_once()}
    assert rows["Bait"]["games"] == 4 and rows["Bait"]["crossed"]
    assert rows["Cycle"]["games"] == 2 and not rows["Cycle"]["crossed"]

    # second batch crosses Cycle's floor; STATE survives via checkpoint
    write("b1.json", [{"deck_type": "Cycle"}] * 2)
    all_rows = run_once()
    cycle_rows = sorted(
        (r for r in all_rows if r["deck_type"] == "Cycle"), key=lambda r: r["games"]
    )
    assert cycle_rows[-1]["games"] == 4 and cycle_rows[-1]["crossed"]


def test_session_aggregator_gap_split(spark, tmp_path):
    from clashroyale_datapipeline_agent_spark.streaming.stateful import (
        session_aggregator,
    )

    src = tmp_path / "sess_src"
    src.mkdir()
    rows = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z"},
        {"user_id": 1, "ts": "2024-01-01T00:10:00.000Z"},
        # > 30 min gap -> first session closes
        {"user_id": 1, "ts": "2024-01-01T01:00:00.000Z"},
        {"user_id": 2, "ts": "2024-01-01T00:05:00.000Z"},
    ]
    with open(src / "b0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = spark.readStream.schema("user_id long, ts timestamp").json(str(src))
    out = session_aggregator(stream, gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    closed = spark.sql("select * from sessions").collect()
    # exactly the gap-split session of user 1 is emitted (open sessions stay
    # in state until timeout)
    assert len(closed) == 1
    r = closed[0]
    assert r["user_id"] == 1 and r["n_events"] == 2 and r["closed"]
    assert str(r["session_start"]).startswith("2024-01-01 00:00:00")
    assert str(r["session_end"]).startswith("2024-01-01 00:10:00")


def test_hash_split_col_partitions_and_proportions(spark):
    from clashroyale_datapipeline_agent_spark.operators.sampling import hash_split_col

    df = spark.range(0, 20_000).withColumn(
        "split", hash_split_col(F.col("id"), [("train", "cc"), ("val", "e6")], "test")
    )
    counts = {r["split"]: r["count"] for r in df.groupBy("split").count().collect()}
    # exhaustive and disjoint by construction; proportions near 204/26/26 of 256
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20_000
    assert abs(counts["train"] / 20_000 - 204 / 256) < 0.02
    assert abs(counts["val"] / 20_000 - 26 / 256) < 0.02
    # deterministic: same assignment on recompute
    again = {r["split"]: r["count"] for r in df.groupBy("split").count().collect()}
    assert counts == again


def test_stratified_mod_sample_rates(spark):
    from clashroyale_datapipeline_agent_spark.operators.sampling import (
        stratified_mod_sample,
    )

    df = spark.range(0, 9_000).withColumn(
        "lang",
        F.when(F.col("id") % 3 == 0, "en").when(F.col("id") % 3 == 1, "de").otherwise("fr"),
    )
    out = stratified_mod_sample(df, "lang", F.col("id"), {"en": (5, 1), "de": (2, 1)})
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert counts["fr"] == 3_000            # untouched stratum keeps everything
    assert counts["en"] == 600              # exactly 1/5 of 3000 (id % 5 < 1)
    assert counts["de"] == 1_500            # exactly 1/2 of 3000


def test_resample_by_temperature_invariants(spark, sf_dir):
    """alpha=0.5 flattening: every group lands at most at its floor'd
    target, totals never exceed the budget, and the survivor set is
    stable across runs (no RNG)."""
    from clashroyale_datapipeline_agent_spark.operators.sampling import (
        resample_by_temperature,
    )
    from clashroyale_datapipeline_agent_spark.sources.readers import load_star_table

    d = load_star_table(spark, sf_dir, "documents")
    kept = resample_by_temperature(
        d, group_col="lang", alpha=0.5, total=300, id_col="doc_id"
    )
    per_group = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # budget respected (floor per group can undershoot, never overshoot)
    assert sum(per_group.values()) <= 300
    # flattening: the dominant group's share shrinks vs its natural share
    nat = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    top = max(nat, key=nat.get)
    assert per_group[top] / sum(per_group.values()) < nat[top] / sum(nat.values())
    # determinism: identical survivor ids across two runs
    ids1 = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    ids2 = sorted(
        r["doc_id"]
        for r in resample_by_temperature(
            d, group_col="lang", alpha=0.5, total=300, id_col="doc_id"
        )
        .select("doc_id")
        .collect()
    )
    assert ids1 == ids2


def test_int8_quant_error_bound(spark, sf_dir):
    """Symmetric int8 quantization: per-element reconstruction error is
    bounded by scale/2 = max|x|/254 for every vector (the half-step
    bound floor(x/scale + 0.5) guarantees)."""
    from clashroyale_datapipeline_agent_spark.sources.readers import load_star_table

    e = load_star_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x))) / 127.0
    dq = F.transform(emb, lambda x: F.floor(x / scale + 0.5) * scale)
    max_err = F.array_max(F.zip_with(emb, dq, lambda a, b: F.abs(a - b)))
    # allow 1 ulp of slack on the strict half-step bound
    n_bad = e.select(
        (max_err > scale / 2.0 * 1.0000001).cast("int").alias("bad")
    ).agg(F.sum("bad").alias("n")).collect()[0]["n"]
    assert n_bad == 0
