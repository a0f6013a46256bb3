"""Benchmark of the engine's batch side and of its coach user, end to end
and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout; everything the run writes stays under
``.perfbench/`` there. One process, one client, closed loop, on
``local[<cpus this process may use>]``:

1. set up: start the Spark session (this launches the JVM), stage the
   workload's inputs and warm up at the measured scale (see each
   workload); ``setup_s`` is the whole of it;
2. run measured passes until ``--seconds`` have elapsed (at least one)
   or the workload has no input left for another pass;
3. check the outputs, untimed;
4. print the workload's own figures on one line, then the result as the
   last line: ``{"correct", "attempted", "failed", "metrics"}``.

End-to-end metrics: ``setup_s``; ``pass_s``, the median time of a pass;
``op_geomean_s``, the geometric mean over operation kinds of each kind's
median time, so that short operations weigh as much as long ones.

Every time is wall time net of CPU steal. On a virtual machine the
hypervisor withholds a varying share of the CPU time that runnable
threads ask for (``steal`` in ``/proc/stat``), and on a shared host that
share swings between 0 and 30 %. A timed interval is therefore scaled
by the share of the machine's demanded CPU time it was actually served,
``busy / (busy + steal)`` over the interval: an estimate of the wall
time the interval would have taken had no CPU been withheld. On a host
without steal this is the wall time. On a 4-vCPU VM it halved the
run-to-run spread of ``pass_s``; slow-downs that steal accounting does
not see remain. Raw wall times are kept in the run record.

With ``--trace 1`` the session also writes an uncompressed Spark event
log; jobs are attributed to operations through the job group set before
each one, and the per-layer metrics replace the end-to-end ones. Every
run writes its record (figures, failures, operations, host snapshot
and git SHA; with ``--trace 1`` also the spans and the per-job event-log
summary) to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MiB",
    "exec.task_gc_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.in_job_s": "s",
    "exec.outside_job_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.input_mb": "MiB",
    "exec.shuffle_read_mb": "MiB",
    "exec.shuffle_write_mb": "MiB",
    "exec.spill_mb": "MiB",
    "exec.output_mb": "MiB",
    "exec.untraced_job_s": "s",
    "pyboundary.run_minus_cpu_s": "s",
    "pipeline.meta_loops": "count",
    "pipeline.meta_jobs": "count",
    "pipeline.meta_output_mb": "MiB",
    "pipeline.meta_files": "count",
    "pipeline.meta_kept_per_fetched": "ratio",
    "pipeline.user_plan_s": "s",
    "pipeline.user_collect_s": "s",
    "pipeline.user_jobs": "count",
    "qna.prep_s": "s",
    "qna.render_s": "s",
    "qna.serialize_s": "s",
    "qna.jobs_per_turn": "count",
    "qna.context_chars": "count",
    "streaming.apply_s.neardup": "s",
    "streaming.apply_s.hamming": "s",
    "streaming.apply_s.hamming_verified": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.admit_ratio": "ratio",
    "streaming.write_amp": "ratio",
    "streaming.files_before_compact": "count",
    "streaming.files_after_compact": "count",
    "streaming.compact_s": "s",
    "trace.pass_s": "s",
}


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of the machine since boot."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


class Clock:
    """Times an interval twice: raw wall time, and wall time net of CPU
    steal (see the module docstring)."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.ticks0 = _cpu_ticks()

    def read(self) -> tuple[float, float]:
        """(net of steal, raw wall) seconds since the clock started."""
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.ticks0, _cpu_ticks()))
        return (wall * busy / (busy + steal) if busy + steal else wall), wall


class Bench:
    """Run state shared with the workloads: the current session, the
    seeded RNG, the span recorder and the operation log."""

    def __init__(self, *, seed: int, run_dir: Path, data_dir: Path, smoke: bool) -> None:
        from perfbench.tracing import SpanRecorder

        self.seed = seed
        self.smoke = smoke
        self.rng = random.Random(seed)
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.warehouse = run_dir / "warehouse"
        self.rec = SpanRecorder()
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.phase = "setup"
        self.spark = None

    def op(self, kind: str, fn):
        """One timed operation under its own job group. An operation that
        raises is recorded as failed and returns None."""
        op_id = f"op{len(self.ops)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        ok, result = True, None
        clock = Clock()
        with self.rec.span(kind, op=op_id, phase=self.phase) as span:
            try:
                result = fn()
            except Exception as e:  # noqa: BLE001 — counted, run continues
                ok = False
                self.errors.append(f"{kind}: {e!r}"[:400])
        dt, wall = clock.read()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        self.ops.append(
            {
                "id": op_id, "kind": kind, "phase": self.phase, "s": dt, "wall_s": wall,
                "ok": ok, "span": span["id"],
            }
        )
        return result

    def measured_ops(self) -> list[dict]:
        return [o for o in self.ops if o["phase"] == "measure"]

    def kind_geomean(self, prefix: str = "") -> float:
        """Geometric mean over operation kinds of each kind's median."""
        by_kind: dict[str, list[float]] = {}
        for o in self.measured_ops():
            if o["kind"].startswith(prefix):
                by_kind.setdefault(o["kind"], []).append(o["s"])
        if not by_kind:
            return 0.0
        logs = [math.log(statistics.median(v)) for v in by_kind.values()]
        return math.exp(sum(logs) / len(logs))


def _peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _pin_host(run_dir: Path) -> dict[str, str]:
    """Environment for this run: every core this process may use, an
    explicit driver heap, and Spark's scratch space under the run dir."""
    for sub in ("local", "tmp", "warehouse", "eventlog"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.local.dir": str(run_dir / "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
        ),
    }


def _layer_metrics(
    bench: Bench, wl, jobs: list[dict], window, setup: dict, peak_rss_mb: float, passes: int
) -> dict:
    """Per-layer figures of the measured passes. Counts, times and bytes
    summed over jobs or operations are per pass."""
    from perfbench.tracing import union_length

    out = {name: 0.0 for name in PER_LAYER}
    measured = bench.measured_ops()
    ids = {o["id"] for o in measured}
    lo, hi = window
    in_window = [
        j for j in jobs if j["group"] in ids or (j["group"] is None and lo <= j["start"] <= hi)
    ]
    untraced = [j for j in in_window if j["group"] is None]
    # time inside each operation's span covered by at least one of its jobs
    in_job = 0.0
    for o in measured:
        span = bench.rec.spans[o["span"]]
        intervals = [(j["start"], j["end"]) for j in jobs if j["group"] == o["id"]]
        in_job += union_length(intervals, span["start"], span["end"])
    mb = 1024.0 * 1024.0
    per_pass = {
        "exec.task_gc_s": sum(j["gc_s"] for j in in_window),
        "exec.jobs": len(in_window),
        "exec.stages": sum(j["stages"] for j in in_window),
        "exec.tasks": sum(j["tasks"] for j in in_window),
        "exec.in_job_s": in_job,
        "exec.outside_job_s": sum(o["wall_s"] for o in measured) - in_job,
        "exec.task_run_s": sum(j["run_s"] for j in in_window),
        "exec.task_cpu_s": sum(j["cpu_s"] for j in in_window),
        "exec.input_mb": sum(j["input_b"] for j in in_window) / mb,
        "exec.shuffle_read_mb": sum(j["shuffle_read_b"] for j in in_window) / mb,
        "exec.shuffle_write_mb": sum(j["shuffle_write_b"] for j in in_window) / mb,
        "exec.spill_mb": sum(j["spill_b"] for j in in_window) / mb,
        "exec.output_mb": sum(j["output_b"] for j in in_window) / mb,
        "exec.untraced_job_s": sum(j["end"] - j["start"] for j in untraced),
        "pyboundary.run_minus_cpu_s": sum(j["run_s"] - j["cpu_s"] for j in in_window),
    }
    out.update({k: v / passes for k, v in per_pass.items()})
    out.update({
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "session.peak_rss_mb": peak_rss_mb,
    })
    out.update(wl.layer_metrics(bench, jobs))
    return out


def run(args) -> tuple[dict, dict]:
    sys.path.insert(0, str(ROOT))
    # the engine first: a tree without it fails here, before any output
    import __spark_entry__  # noqa: F401
    from clashroyale_datapipeline_agent_spark.session import get_spark

    import bench as repo_bench
    from perfbench import data
    from perfbench.tracing import event_log_file, parse_event_log
    from perfbench.workloads import WORKLOADS, CoachWorkload
    from tools.oracle_check import git_sha

    state_dir = ROOT / ".perfbench"
    if args.smoke:
        data_dir = data.ensure_tables(state_dir / "data-smoke", scale=0.1)
    else:
        data_dir = data.ensure_tables(state_dir / "data")
    run_dir = state_dir / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _pin_host(run_dir)
    host_start = repo_bench._host_snapshot()

    b = Bench(seed=args.seed, run_dir=run_dir, data_dir=data_dir, smoke=args.smoke)
    wl = WORKLOADS[args.workload](b)
    if args.trace:
        CoachWorkload.instrument(b.rec)
    jvm = None
    try:
        clock = Clock()
        b.spark = get_spark(f"perfbench-{args.workload}", extra_conf=dict(conf, **{
            "spark.eventLog.enabled": "true" if args.trace else "false",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }))
        jvm = b.spark.sparkContext._gateway.proc
        start_s, start_wall = clock.read()
        clock = Clock()
        wl.setup(b)
        warmup_s, warmup_wall = clock.read()
        setup = {
            "start_s": start_s, "warmup_s": warmup_s,
            "start_wall_s": start_wall, "warmup_wall_s": warmup_wall,
        }

        b.phase = "measure"
        pass_times, pass_walls = [], []
        window_lo = time.time()
        t0 = time.perf_counter()
        while not pass_times or (time.perf_counter() - t0 < args.seconds and not wl.exhausted()):
            clock = Clock()
            with b.rec.span("pass"):
                wl.run_pass(b)
            dt, wall = clock.read()
            pass_times.append(dt)
            pass_walls.append(wall)
        window_hi = time.time()

        # the session's JVM (spark-submit execs into it) plus this process
        peak_kb = _peak_rss_kb(os.getpid()) + _peak_rss_kb(jvm.pid)
        b.phase = "check"
        tc = time.perf_counter()
        failures = wl.check(b)
        details = wl.details(b)
        check_s = time.perf_counter() - tc
    finally:
        tc = time.perf_counter()
        if b.spark is not None:
            b.spark.stop()
        if jvm is not None:
            _stop_jvm(jvm)
        stop_s = time.perf_counter() - tc

    op_failures = sum(not o["ok"] for o in b.ops)
    attempted = len(b.ops)
    failed = min(attempted, op_failures + len(failures))
    details["fail_frac"] = failed / attempted
    metrics = {
        "setup_s": setup["start_s"] + setup["warmup_s"],
        "pass_s": statistics.median(pass_times),
        "op_geomean_s": b.kind_geomean(),
    }
    details["peak_rss_mb"] = peak_kb / 1024.0
    details["pass_wall_s"] = statistics.median(pass_walls)
    layers = None
    jobs: list[dict] = []
    if args.trace:
        jobs = parse_event_log(event_log_file(run_dir / "eventlog"))
        layers = _layer_metrics(
            b, wl, jobs, (window_lo, window_hi), setup, details["peak_rss_mb"], len(pass_times)
        )
        layers["trace.pass_s"] = metrics["pass_s"]

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_sha": git_sha(),
        "host": {"start": host_start, "end": repo_bench._host_snapshot()},
        "end_to_end": metrics,
        "details": details,
        "per_layer": layers,
        "setup": setup,
        "check_s": check_s,
        "stop_s": stop_s,
        "pass_times_s": pass_times,
        "pass_wall_s": pass_walls,
        "attempted": attempted,
        "failed": failed,
        "failures": failures + b.errors,
        "ops": b.ops,
    }
    if args.trace:
        for span in b.rec.spans:
            span["self_s"] = b.rec.self_time(span)
        record["spans"] = b.rec.spans
        record["jobs"] = jobs
    trace_dir = state_dir / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (trace_dir / name).write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)
    return record, {"metrics": layers if args.trace else metrics}


def _stop_jvm(proc) -> None:
    """Stop the JVM that the session launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the process is reaped below
            pass
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=20)
    except Exception:  # noqa: BLE001 — escalate
        proc.kill()
        proc.wait(timeout=20)


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the self-test's mode: sf0.001-sized tables, one query or turn a pass
    ap.add_argument("--smoke", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    record, result = run(args)
    units = PER_LAYER if args.trace else END_TO_END
    metrics = {
        k: {"value": float(result["metrics"][k]), "unit": units[k]} for k in units
    }
    print(json.dumps({"workload": args.workload, "details": record["details"],
                      "failures": record["failures"][:10]}))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
