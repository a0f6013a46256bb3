"""End-to-end pipeline tests: Phase-1 catalog, Phase-0 loop semantics
(SURVEY.md §5.2 items 4-5), Phase-2 router fixtures (FIXTURES.md §A6)."""

from __future__ import annotations

import json

import pytest

from clashroyale_datapipeline_agent_spark.fixtures import (
    generate_leaderboard,
    generate_raw_battles,
    raw_battles_df,
    stub_battlelog,
)
from clashroyale_datapipeline_agent_spark.plans import qna_router as qr
from clashroyale_datapipeline_agent_spark.plans.pipeline import (
    MetaDatasetBuilder,
    run_user_pipeline,
    user_llm_tables,
    user_analytics_tables,
)


@pytest.fixture(scope="module")
def catalog(spark):
    raw = raw_battles_df(spark, n_players=8, battles_per_player=25)
    return run_user_pipeline(raw)


def test_user_pipeline_catalog_complete(catalog):
    expected = {
        "summary", "best_cards", "worst_cards", "tough_opp_cards",
        "easy_opp_cards", "best_decks", "worst_decks", "tough_matchups",
        "easy_matchups", "my_deck_types", "opp_deck_types",
        "deck_type_matchups", "llm_user_summary", "llm_user_deck_summary",
        "llm_user_matchup_summary", "llm_user_card_summary",
        "llm_opponent_card_summary",
    }
    assert expected <= set(catalog)


def test_llm_card_summary_roles(catalog):
    rows = catalog["llm_user_card_summary"].collect()
    assert {r["role"] for r in rows} == {"best", "worst"}
    for r in rows:
        assert r["card_name"] == r["card"]
        assert r["source"] in ("best_cards", "worst_cards")


def test_summary_melt_is_stringly(catalog):
    rows = {r["metric"]: r["value"] for r in catalog["llm_user_summary"].collect()}
    assert set(rows) == {"games_played", "wins", "losses", "draws", "win_rate"}
    assert all(isinstance(v, str) for v in rows.values())


# ---------------------------------------------------------------------------
# Phase-0 loop
# ---------------------------------------------------------------------------

def test_meta_keeps_battles_of_every_fetched_player(spark, tmp_path):
    """One Phase 0 pass over k players keeps each player's own most
    recent battles: k distinct ``player_tag``s, at most ``per_player``
    battles each."""
    b = MetaDatasetBuilder(
        spark,
        stub_battlelog,
        str(tmp_path / "staging"),
        min_total_battles=10_000_000,
        min_games_per_type=0,
        initial_sample=8,
        max_loops=0,
        seed=3,
        bucket_table=None,
    )
    b.run(generate_leaderboard(40))
    per_tag = {
        r["player_tag"]: r["count"]
        for r in b.staged_battles().groupBy("player_tag").count().collect()
    }
    assert len(b.fetched_tags) == 8
    assert set(per_tag) == set(b.fetched_tags)
    assert all(0 < n <= b.per_player for n in per_tag.values())


def test_meta_loop_stops_enough(spark, tmp_path):
    b = MetaDatasetBuilder(
        spark,
        stub_battlelog,
        str(tmp_path / "staging"),
        min_total_battles=50,
        min_games_per_type=0,
        initial_sample=10,
        increment_sample=3,
        seed=1,
    )
    try:
        tables = b.run(generate_leaderboard(40))
        assert b.notes[-1].split("decision=")[1].startswith("enough")
        assert tables["battles"].count() >= 50
        # participant table doubles rows
        assert tables["participants"].count() == 2 * tables["battles"].count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {b.bucket_table}")


def test_meta_loop_stops_by_exhaustion(spark, tmp_path):
    b = MetaDatasetBuilder(
        spark,
        stub_battlelog,
        str(tmp_path / "staging2"),
        min_total_battles=10_000_000,  # unreachable
        min_games_per_type=0,
        initial_sample=5,
        increment_sample=5,
        max_loops=50,
        seed=2,
    )
    try:
        b.run(generate_leaderboard(12))
        assert "decision=stop" in b.notes[-1]
        # every usable tag fetched
        usable = sum(1 for p in generate_leaderboard(12) if p.get("tag"))
        assert len(b.fetched_tags) == usable
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {b.bucket_table}")


def test_meta_loop_stops_by_max_loops(spark, tmp_path):
    b = MetaDatasetBuilder(
        spark,
        stub_battlelog,
        str(tmp_path / "staging3"),
        min_total_battles=10_000_000,
        initial_sample=2,
        increment_sample=1,
        max_loops=3,
        seed=3,
    )
    try:
        b.run(generate_leaderboard(200))
        assert b.loop_count == 3
        assert "decision=stop" in b.notes[-1]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {b.bucket_table}")


# ---------------------------------------------------------------------------
# Phase-2 router (offline, mocked classifier)
# ---------------------------------------------------------------------------

def test_parse_classifier_fallbacks():
    c = qr.parse_classifier_output("not json at all")
    assert c.category == "other" and c.data_needs == ["SEND_ALL"]
    c = qr.parse_classifier_output(json.dumps({"category": "bogus", "data_needs": []}))
    assert c.category == "other" and c.data_needs == ["SEND_ALL"]
    c = qr.parse_classifier_output(
        json.dumps({"category": "card", "data_needs": ["NOT_A_BLOCK"]})
    )
    assert c.category == "card" and c.data_needs == ["USER_CARD_SUMMARY"]


@pytest.mark.parametrize("needs", [5, True, "USER_SUMMARY", {"USER_SUMMARY": 1}, None])
def test_parse_classifier_non_list_needs_fall_back(needs):
    """A data_needs that is not a list falls back to the category's
    defaults instead of raising out of answer_question."""
    c = qr.parse_classifier_output(json.dumps({"category": "user", "data_needs": needs}))
    assert c.category == "user" and c.data_needs == ["USER_SUMMARY", "USER_DECK_SUMMARY"]


def test_route_precedence_needs_over_category():
    c = qr.Classification("meta", ["USER_MATCHUP_SUMMARY"])
    assert qr.route_by_category(c) == "matchup"
    c = qr.Classification("user", ["OPPONENT_CARD_SUMMARY"])
    assert qr.route_by_category(c) == "card"
    c = qr.Classification("card", [])
    assert qr.route_by_category(c) == "card"  # category fallback
    c = qr.Classification("other", ["SEND_ALL"])
    assert qr.route_by_category(c) == "other"


def test_enough_data_meta_exempt():
    ok, warn = qr.enough_data(3, "meta")
    assert ok and warn == ""
    ok, warn = qr.enough_data(3, "user")
    assert not ok and "only 3 recent ranked games" in warn
    ok, _ = qr.enough_data(20, "user")
    assert ok


def test_full_qna_flow_offline(catalog):
    user_tables = {
        "user_summary": catalog["llm_user_summary"],
        "user_deck_summary": catalog["llm_user_deck_summary"],
        "user_matchup_summary": catalog["llm_user_matchup_summary"],
        "user_card_summary": catalog["llm_user_card_summary"],
        "opponent_card_summary": catalog["llm_opponent_card_summary"],
    }
    meta_tables = {
        "meta_deck_summary": catalog["llm_user_deck_summary"],  # stand-in
        "meta_matchup_summary": catalog["llm_user_matchup_summary"],
    }
    state = qr.answer_question(
        "why do I keep losing to bait?",
        classify=lambda q: json.dumps(
            {"category": "matchup", "data_needs": ["USER_MATCHUP_SUMMARY"]}
        ),
        answer=lambda q, ctx: f"ctx:{len(ctx)}",
        user_tables=user_tables,
        meta_tables=meta_tables,
        games_played=25,
    )
    assert state["route"] == "matchup"
    assert state["context_tables"] == [
        "meta_deck_summary", "meta_matchup_summary",
        "user_matchup_summary", "user_summary",
    ]
    assert state["has_enough_data"]
    # context cap honored
    assert int(state["answer"].split(":")[1]) <= qr.CONTEXT_CHAR_CAP


# ---------------------------------------------------------------------------
# Phase-2 coach loop (parity: phase2_qna_workflow.py:474-685)
# ---------------------------------------------------------------------------

def _coach_session(catalog, counters):
    from clashroyale_datapipeline_agent_spark.plans.coach import CoachSession

    def build_meta():
        counters["meta"] += 1
        return {
            "meta_deck_summary": catalog["llm_user_deck_summary"],  # stand-in
            "meta_matchup_summary": catalog["llm_user_matchup_summary"],
        }

    def build_user(tag):
        counters["user"] += 1
        counters["tags"].append(tag)
        return {
            "user_summary": catalog["llm_user_summary"],
            "user_deck_summary": catalog["llm_user_deck_summary"],
            "user_matchup_summary": catalog["llm_user_matchup_summary"],
            "user_card_summary": catalog["llm_user_card_summary"],
            "opponent_card_summary": catalog["llm_opponent_card_summary"],
        }

    return CoachSession(
        build_meta=build_meta,
        build_user=build_user,
        classify=lambda q: json.dumps(
            {"category": "meta" if "meta" in q else "user", "data_needs": []}
        ),
        answer=lambda q, ctx: f"A[{q}] ctx:{len(ctx)}",
    )


def test_coach_loop_memoizes_and_stops(catalog):
    """3 questions then a stop word: phase builds run EXACTLY once each
    (ensure_meta/ensure_user memoization), every question is answered,
    and the stop word ends the loop without an answer."""
    from clashroyale_datapipeline_agent_spark.plans.coach import run_coach_loop

    counters = {"meta": 0, "user": 0, "tags": []}
    session = _coach_session(catalog, counters)
    script = iter(["GVJQ20", "how is my win rate?", "what is the meta?",
                   "which deck should I play?", "  STOP  "])
    emitted = []
    state = run_coach_loop(session, ask=lambda prompt: next(script),
                           emit=emitted.append)

    assert counters == {"meta": 1, "user": 1, "tags": ["GVJQ20"]}
    assert state["meta_builds"] == 1 and state["user_builds"] == 1
    assert state["player_tag"] == "GVJQ20"
    assert [r["question"] for r in state["results"]] == [
        "how is my win rate?", "what is the meta?", "which deck should I play?",
    ]
    assert len(emitted) == 3 and all(e.startswith("A[") for e in emitted)
    # routing flows through the real Phase-2 router per question
    assert state["results"][1]["route"] == "meta"
    assert state["results"][0]["route"] == "user"


def test_coach_loop_stop_variants(catalog):
    from clashroyale_datapipeline_agent_spark.plans.coach import (
        is_stop,
        run_coach_loop,
    )

    assert is_stop("stop") and is_stop(" Exit ") and is_stop("QUIT")
    assert not is_stop("stop losing") and not is_stop(None)

    counters = {"meta": 0, "user": 0, "tags": []}
    session = _coach_session(catalog, counters)
    # immediate quit: no answers, but both phases still prebuilt (reference
    # graph order: ensure_meta -> ask_for_tag -> ensure_user -> ask)
    script = iter(["TAG", "quit"])
    state = run_coach_loop(session, ask=lambda p: next(script))
    assert state["results"] == []
    assert counters["meta"] == 1 and counters["user"] == 1


#: one classifier output per route, each asking for every table the
#: route can ship
_ROUTE_NEEDS = {
    "user": ("user", ["USER_SUMMARY", "USER_DECK_SUMMARY"]),
    "matchup": ("matchup", ["USER_MATCHUP_SUMMARY"]),
    "meta": ("meta", ["META_DECK_SUMMARY", "META_DECK_MATCHUPS"]),
    "card": ("card", ["USER_CARD_SUMMARY", "OPPONENT_CARD_SUMMARY"]),
    "other": ("other", []),
}
_LLM_TABLES = (
    "user_summary",
    "user_deck_summary",
    "user_matchup_summary",
    "user_card_summary",
    "opponent_card_summary",
)


def _route_classify(question: str) -> str:
    category, needs = _ROUTE_NEEDS[question.split(":", 1)[0]]
    return json.dumps({"category": category, "data_needs": needs})


def _player_tables(spark, seed: int) -> dict:
    """A fresh Phase-1 build of one player's five LLM tables."""
    catalog = run_user_pipeline(
        raw_battles_df(spark, n_players=1, battles_per_player=25, seed=seed)
    )
    return {k: catalog[f"llm_{k}"] for k in _LLM_TABLES}


@pytest.fixture(scope="module")
def meta_catalog(spark, tmp_path_factory):
    """One-pass Phase 0 over a plain parquet staging dir."""
    return MetaDatasetBuilder(
        spark,
        stub_battlelog,
        str(tmp_path_factory.mktemp("meta") / "staging"),
        min_total_battles=10_000_000,
        min_games_per_type=0,
        initial_sample=6,
        max_loops=0,
        seed=5,
        bucket_table=None,
    ).run(generate_leaderboard(20))


def _shipped_meta(meta_catalog) -> dict:
    return {k: meta_catalog[k] for k in ("meta_deck_summary", "meta_matchup_summary")}


def test_meta_build_caches_the_tables_qna_ships(meta_catalog):
    from pyspark import StorageLevel

    for name in ("battles", "meta_deck_summary", "meta_matchup_summary"):
        assert meta_catalog[name].storageLevel != StorageLevel.NONE, name


def test_coach_session_computes_each_table_once(spark, meta_catalog):
    """Turns over a session read its cached tables: games_played is
    computed once, every turn's state and context equal those of the
    same answer_question call over uncached tables, and a repeated turn
    launches one job per table it reads — no recompute of the tables."""
    from pyspark import StorageLevel

    from clashroyale_datapipeline_agent_spark.plans.coach import (
        CoachSession,
        default_games_played,
    )

    meta = _shipped_meta(meta_catalog)
    contexts: list[str] = []

    def answer(question: str, context: str) -> str:
        contexts.append(context)
        return f"A[{question}] ctx:{len(context)}"

    # expected turns first, before any session table is cached
    uncached = _player_tables(spark, seed=11)
    games = default_games_played(uncached)
    expected = {}
    for route in _ROUTE_NEEDS:
        question = f"{route}: how am I doing?"
        state = qr.answer_question(
            question, classify=_route_classify, answer=answer,
            user_tables=uncached, meta_tables=meta, games_played=games,
        )
        expected[route] = (state, contexts.pop())

    calls = []

    def games_played_fn(tables):
        calls.append(1)
        return default_games_played(tables)

    built = _player_tables(spark, seed=11)
    session = CoachSession(
        build_meta=lambda: meta,
        build_user=lambda tag: built,
        classify=_route_classify,
        answer=answer,
        games_played_fn=games_played_fn,
    )
    session.ensure_meta()
    session.ensure_user("#TAG")
    assert session.games_played == games

    sc = spark.sparkContext
    for round_no in range(3):
        for route in _ROUTE_NEEDS:
            question = f"{route}: how am I doing?"
            group = f"coach-turn-{round_no}-{route}"
            sc.setJobGroup(group, group)
            try:
                state = session.answer_one(question)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert (state, contexts.pop()) == expected[route], route
            if round_no:
                # the JSON reads each shipped table once; the user route
                # also renders its two tables as lines
                reads = len(state["context_tables"]) + (2 if route == "user" else 0)
                jobs = sc.statusTracker().getJobIdsForGroup(group)
                assert len(jobs) <= reads, (route, len(jobs), reads)
    assert len(calls) == 1

    session.close()
    for name, df in built.items():
        assert df.storageLevel == StorageLevel.NONE, name
    for name, df in meta.items():
        assert df.storageLevel != StorageLevel.NONE, name


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    """The ids of the Spark jobs ``fn()`` launches under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("meta_first", [True, False], ids=["meta-first", "user-first"])
def test_coach_turns_launch_no_spark_job(spark, meta_catalog, meta_first):
    """The session's snapshot jobs all run in the caller's job group —
    in ensure_user, or for the meta legs in ensure_meta when the user
    snapshot came first — and no turn, first or repeated, launches a job."""
    from clashroyale_datapipeline_agent_spark.plans.coach import CoachSession

    session = CoachSession(
        build_meta=lambda: _shipped_meta(meta_catalog),
        build_user=lambda tag: _player_tables(spark, seed=13),
        classify=_route_classify,
        answer=lambda q, ctx: "ok",
    )
    tag = f"coach-{'meta' if meta_first else 'user'}-first"
    ensure_meta = lambda: _jobs_in_group(spark, f"{tag}-meta", session.ensure_meta)  # noqa: E731
    ensure_user = lambda: _jobs_in_group(  # noqa: E731
        spark, f"{tag}-user", lambda: session.ensure_user("#TAG"))
    if meta_first:
        assert ensure_meta() == []
        # five tables, two meta tables and two rendered frames: a job each
        assert len(ensure_user()) >= 9
    else:
        assert len(ensure_user()) >= 7
        assert len(ensure_meta()) >= 2
    for round_no in range(2):
        for route in _ROUTE_NEEDS:
            group = f"{tag}-turn-{round_no}-{route}"
            jobs = _jobs_in_group(spark, group, lambda: session.answer_one(f"{route}: hi"))
            assert jobs == [], (round_no, route)
    session.close()


@pytest.mark.parametrize("stops", [True, False], ids=["stop-word", "input-ends"])
def test_coach_loop_releases_the_session_cache(spark, meta_catalog, stops):
    """run_coach_loop closes its session when it ends, also when a turn
    raises; a table cached before the session is not the session's."""
    from pyspark import StorageLevel

    from clashroyale_datapipeline_agent_spark.plans.coach import (
        CoachSession,
        run_coach_loop,
    )

    meta = _shipped_meta(meta_catalog)
    pre_cached = spark.range(3).cache()
    built = {**_player_tables(spark, seed=12), "pre_cached": pre_cached}
    session = CoachSession(
        build_meta=lambda: meta,
        build_user=lambda tag: built,
        classify=_route_classify,
        answer=lambda q, ctx: "ok",
    )
    inputs = iter(["#TAG", "user: hi", "card: hi"] + (["stop"] if stops else []))
    try:
        if stops:
            state = run_coach_loop(session, ask=lambda p: next(inputs))
            assert len(state["results"]) == 2
        else:
            with pytest.raises(StopIteration):
                run_coach_loop(session, ask=lambda p: next(inputs))
        for name in _LLM_TABLES:
            assert built[name].storageLevel == StorageLevel.NONE, name
        assert pre_cached.storageLevel != StorageLevel.NONE
        for name, df in meta.items():
            assert df.storageLevel != StorageLevel.NONE, name
    finally:
        pre_cached.unpersist()


def test_rendered_context_matches_reference_fstrings(spark):
    """F7: engine-side F.format_string rendering reproduces the reference's
    f-string lines (phase2_qna_workflow.py:68-86) on a fixture with no
    half-ULP 2dp boundary values (JVM %.2f rounds HALF_UP, Python
    half-even — display-only divergence, excluded here by construction)."""
    summary = spark.createDataFrame(
        [("games_played", "30"), ("wins", "17"), ("win_rate", "0.5667")],
        "metric string, value string",
    )
    deck = spark.createDataFrame(
        [("Cycle", 30, 17, 0.5666666666666667),
         ("Beatdown", 9, 3, 1.0 / 3.0),
         ("Siege", 4, 2, 0.5)],
        "deck_type string, games long, wins long, win_rate double",
    )
    tables = {"user_summary": summary, "user_deck_summary": deck}
    needs = ["USER_SUMMARY", "USER_DECK_SUMMARY"]
    rows = qr.snapshot(tables, qr.route_keys("user", needs))
    rendered = qr.render_context_lines("user", needs, rows)
    expected_rows = [("games_played", "30"), ("wins", "17"), ("win_rate", "0.5667")]
    expected = [f"{m}: {v}" for m, v in expected_rows]
    expected.append("\nYour deck performance:")
    for dt, g, w, wr in [("Cycle", 30, 17, 17 / 30), ("Beatdown", 9, 3, 1 / 3),
                         ("Siege", 4, 2, 0.5)]:
        expected.append(f"- {dt}: {w}/{g} wins ({wr:.2f})")
    assert rendered == "\n".join(expected)

    # empty deck table -> the reference's fallback sentence
    empty = {"user_deck_summary": deck.filter("games < 0"), "user_summary": summary}
    rows = qr.snapshot(empty, qr.route_keys("user", ["USER_DECK_SUMMARY"]))
    rendered = qr.render_context_lines("user", ["USER_DECK_SUMMARY"], rows)
    assert rendered == "\nNo deck statistics found for this user."


def test_answer_question_includes_rendered_text(catalog):
    user_tables = {
        "user_summary": catalog["llm_user_summary"],
        "user_deck_summary": catalog["llm_user_deck_summary"],
        "user_matchup_summary": catalog["llm_user_matchup_summary"],
        "user_card_summary": catalog["llm_user_card_summary"],
        "opponent_card_summary": catalog["llm_opponent_card_summary"],
    }
    meta_tables = {
        "meta_deck_summary": catalog["llm_user_deck_summary"],
        "meta_matchup_summary": catalog["llm_user_matchup_summary"],
    }
    captured = {}

    def answer(q, ctx):
        captured["ctx"] = ctx
        return "ok"

    state = qr.answer_question(
        "how am I doing?",
        classify=lambda q: json.dumps(
            {"category": "user",
             "data_needs": ["USER_SUMMARY", "USER_DECK_SUMMARY"]}
        ),
        answer=answer,
        user_tables=user_tables,
        meta_tables=meta_tables,
        games_played=25,
    )
    assert state["route"] == "user"
    assert "games_played:" in state["context_text"]
    assert "Your deck performance:" in state["context_text"]
    # the rendered text is shipped to the expert ahead of the JSON tables
    assert captured["ctx"].startswith(state["context_text"])


# ---------------------------------------------------------------------------
# Bucketed battle store (SCALE.md wiring: VERDICT r1 item 6)
# ---------------------------------------------------------------------------

def _exec_plan_nodes(node):
    """Class names of an executed plan's operators, descending through AQE
    wrappers and query stages but not into a cached relation's plan (an
    ``InMemoryTableScanExec`` has no children)."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _exec_plan_nodes(node.executedPlan())
    out = [name]
    if name.endswith("QueryStageExec"):
        return out + _exec_plan_nodes(node.plan())
    kids = node.children()
    for i in range(kids.size()):
        out += _exec_plan_nodes(kids.apply(i))
    return out


def test_phase1_tables_one_job_each_no_exchange(spark):
    """A player's catalog is cached on one partition: the first table's
    collect fills the cache, every other table is a single job, and no LLM
    table's final plan shuffles above the cached relation (a plain
    ``cache()`` ran 25 jobs here: AQE shuffle stages and range-sort
    sampling over a few dozen rows)."""
    tables = _player_tables(spark, seed=21)
    sc = spark.sparkContext
    group = "phase1-one-job-per-table"
    sc.setJobGroup(group, group)
    try:
        for df in tables.values():
            df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 7, len(jobs)
    for name, df in tables.items():
        nodes = _exec_plan_nodes(df._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScanExec" in nodes, (name, nodes)
        assert not [n for n in nodes if "Exchange" in n], (name, nodes)


def test_meta_loop_bucketed_store_no_exchange(spark, tmp_path):
    """The DEFAULT Phase-0 staging path is the bucketed store: without any
    opt-in, the per-player most-recent-k window (W1) over the staged table
    plans WITHOUT any Exchange — the bucketed scan already satisfies the
    window's required hash distribution."""
    import re

    from clashroyale_datapipeline_agent_spark.operators import meta as M

    b = MetaDatasetBuilder(
        spark,
        stub_battlelog,
        str(tmp_path / "staging-unused"),
        min_total_battles=50,
        min_games_per_type=0,
        initial_sample=10,
        increment_sample=3,
        seed=1,
        num_buckets=8,
    )
    try:
        assert b.bucket_table, "bucketed store must be the default"
        tables = b.run(generate_leaderboard(40))
        assert tables["battles"].count() >= 50

        ranked = M.most_recent_per_player(b.staged_battles(), 3)
        plan = spark.sparkContext._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            ranked._jdf.queryExecution(), "formatted"
        )
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
        # and the result is still the real W1 semantics
        counts = ranked.groupBy("player_tag").count().collect()
        assert counts and all(r["count"] <= 3 for r in counts)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {b.bucket_table}")
