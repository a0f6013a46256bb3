"""Root-cause probe for the round-13 driver-thread-overlap scheduler
stall on ``semantic_dedup_multiprobe_stats`` (r13 VERDICT item 2).

Round 13 measured the query's four post-checkpoint legs (all-pairs
census, row count, two prune-operator replays) overlapped from driver
threads: min dropped 5.4 → 3.2 s but ~1/3 of reps stalled 20–56 s, and
the change was reverted without a root cause. This probe reproduces the
overlap shape, launched through the same ``session.run_legs`` the query
uses, under a WATCHDOG: any rep that exceeds ``--stall-sec``
(default 15) gets a full JVM thread dump (``jcmd Thread.print``) and a
Python ``faulthandler`` dump written to ``--out`` while the stall is
in progress, so the blocked thread is caught in the act instead of
inferred afterwards.

Usage:
    python tools/multiprobe_stall_probe.py [--reps 10] [--mode overlap|serial]
        [--stall-sec 15] [--out /tmp/stall] [--gc-log]

The probe mirrors the query body (operators imported, not reimplemented)
but is measurement-only: it is not on the bench path and changes nothing.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _jvm_pid() -> int | None:
    """The driver JVM is this process's java child (local mode)."""
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parts = fh.read().split()
            if int(parts[3]) != me:
                continue
            with open(f"/proc/{pid}/cmdline") as fh:
                cmd = fh.read()
            if "java" in cmd:
                return int(pid)
        except (OSError, ValueError, IndexError):
            continue
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--mode", choices=["overlap", "serial"], default="overlap")
    ap.add_argument("--stall-sec", type=float, default=15.0)
    ap.add_argument("--out", default="/tmp/stall")
    ap.add_argument("--gc-log", action="store_true",
                    help="enable JVM GC logging to <out>/gc.log")
    args = ap.parse_args()
    outdir = Path(args.out)
    outdir.mkdir(parents=True, exist_ok=True)

    from pyspark.sql import functions as F

    from clashroyale_datapipeline_agent_spark.session import get_spark, run_legs

    extra = {}
    if args.gc_log:
        extra["spark.driver.extraJavaOptions"] = (
            f"-Xlog:gc*:file={outdir}/gc.log:time,uptime"
        )
    spark = get_spark("multiprobe-stall-probe", extra_conf=extra or None)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    jpid = _jvm_pid()
    print(f"driver jvm pid: {jpid}", file=sys.stderr)

    from clashroyale_datapipeline_agent_spark.operators.similarity import (
        dot_col,
        norm_col,
        semantic_dedup_multiprobe,
        semantic_dedup_prune,
        two_nearest_centroids_col,
    )
    from clashroyale_datapipeline_agent_spark.sources.readers import (
        load_star_table,
        spread_if_narrow,
    )

    def build_legs():
        """Mirror the query body up to the four post-checkpoint legs."""
        v = spread_if_narrow(
            load_star_table(spark, sf_dir, "embeddings")
        ).filter(F.col("vec_id") % 2 == 0)
        seeds = [
            list(r["c"])
            for r in v.filter(F.col("vec_id") < 16)
            .orderBy("vec_id")
            .select(F.col("embedding").cast("array<double>").alias("c"))
            .collect()
        ]
        base = v.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        assigned = (
            base.withColumn("_t", two_nearest_centroids_col(F.col("e"), seeds))
            .withColumn("nrm", norm_col(F.col("e")))
            .select(
                "vec_id", "e", "nrm",
                F.col("_t.c1").alias("c1"), F.col("_t.c2").alias("c2"),
            )
            .localCheckpoint(eager=True)
        )
        a, b = assigned.alias("a"), assigned.alias("b")
        cos = F.round(
            dot_col(F.col("a.e"), F.col("b.e"))
            / (F.col("a.nrm") * F.col("b.nrm")),
            6,
        )
        in_single = F.col("a.c1") == F.col("b.c1")
        in_multi = (
            (F.col("a.c1") == F.col("b.c1"))
            | (F.col("a.c1") == F.col("b.c2"))
            | (F.col("a.c2") == F.col("b.c1"))
        )
        pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
            (cos >= 0.3).alias("is_true"),
            in_single.alias("in_single"),
            in_multi.alias("in_multi"),
        )
        cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731

        return {
            "probe: census": lambda: pairs.agg(
                cnt(F.col("is_true")).alias("n_true_pairs"),
                cnt(F.col("in_single")).alias("single_candidate_pairs"),
                cnt(F.col("in_multi")).alias("multi_candidate_pairs"),
                cnt(F.col("is_true") & F.col("in_single")).alias("sc"),
                cnt(F.col("is_true") & F.col("in_multi")).alias("mc"),
            ).collect()[0],
            "probe: count": assigned.count,
            "probe: prune replay": lambda: int(
                semantic_dedup_prune(v, seeds, threshold=0.3)
                .agg(F.sum(F.col("pruned").cast("long")))
                .collect()[0][0]
            ),
            "probe: multiprobe replay": lambda: int(
                semantic_dedup_multiprobe(v, seeds, threshold=0.3)
                .agg(F.sum(F.col("pruned").cast("long")))
                .collect()[0][0]
            ),
        }

    def dump(tag: str) -> None:
        ts = time.strftime("%H%M%S")
        if jpid is not None:
            try:
                txt = subprocess.run(
                    ["jcmd", str(jpid), "Thread.print", "-l"],
                    capture_output=True, text=True, timeout=30,
                ).stdout
                (outdir / f"jvm_{tag}_{ts}.txt").write_text(txt)
            except Exception as e:  # noqa: BLE001
                (outdir / f"jvm_{tag}_{ts}.err").write_text(repr(e))
        with open(outdir / f"py_{tag}_{ts}.txt", "w") as fh:
            faulthandler.dump_traceback(file=fh)

    times: list[float] = []
    stalls = 0
    for rep in range(args.reps):
        legs = build_legs()
        done = threading.Event()
        t0 = time.perf_counter()

        def watchdog(rep=rep):
            n = 0
            while not done.wait(args.stall_sec if n == 0 else 10.0):
                n += 1
                print(
                    f"rep {rep}: STALL at "
                    f"{time.perf_counter() - t0:.1f}s — dumping",
                    file=sys.stderr,
                )
                dump(f"rep{rep}_n{n}")
                if n >= 3:
                    return

        w = threading.Thread(target=watchdog, daemon=True)
        w.start()
        if args.mode == "overlap":
            res = run_legs(spark, legs)
        else:
            res = [run_legs(spark, {k: t})[0] for k, t in legs.items()]
        dt = time.perf_counter() - t0
        done.set()
        if dt > args.stall_sec:
            stalls += 1
        times.append(round(dt, 3))
        print(f"rep {rep}: {dt:.3f}s  {[r for r in res[1:2]]}", file=sys.stderr)
    print(json.dumps({
        "mode": args.mode, "reps": args.reps, "times": times,
        "stalls_over_threshold": stalls, "stall_sec": args.stall_sec,
    }))


if __name__ == "__main__":
    main()
