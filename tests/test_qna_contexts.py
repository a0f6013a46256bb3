"""Golden Q&A contexts: the full Phase 2 state and the context handed to
the expert LLM, for three players × the five routes plus one player with
no ranked 1v1 battle (every Phase 1 table empty), pinned byte for byte.
The meta question is asked twice: with META_DECK_MATCHUPS, which the
planner sends down the matchup route, and without, which stays on the
meta route. ``CoachSession.answer_one`` must reproduce every entry. The
committed entries come from the router that collected each table per
turn, so they pin its output independently of the snapshot code.
Regenerate (through ``answer_question``) with:

    python -m tests.test_qna_contexts   # writes tests/qna_contexts.json
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

GOLDEN_PATH = Path(__file__).parent / "qna_contexts.json"

#: one classifier output per route, each asking for every table the
#: route can ship
ROUTE_NEEDS = {
    "user": ("user", ["USER_SUMMARY", "USER_DECK_SUMMARY"]),
    "matchup": ("matchup", ["USER_MATCHUP_SUMMARY"]),
    "meta": ("meta", ["META_DECK_SUMMARY", "META_DECK_MATCHUPS"]),
    # META_DECK_MATCHUPS routes to "matchup"; this one stays on "meta"
    "meta_deck": ("meta", ["META_DECK_SUMMARY"]),
    "card": ("card", ["USER_CARD_SUMMARY", "OPPONENT_CARD_SUMMARY"]),
    "other": ("other", []),
}
USER_TABLES = (
    "user_summary",
    "user_deck_summary",
    "user_matchup_summary",
    "user_card_summary",
    "opponent_card_summary",
)
#: (player label, battlelog seed, share of non-ranked battles); the last
#: player has no ranked 1v1 battle, so every table it ships is empty
PLAYERS = (("p11", 11, 0.25), ("p12", 12, 0.25), ("p13", 13, 0.25), ("empty", 14, 1.0))


def classify(question: str) -> str:
    category, needs = ROUTE_NEEDS[question.split(":", 1)[0]]
    return json.dumps({"category": category, "data_needs": needs})


def meta_tables(spark, staging: Path) -> dict:
    """The two shipped meta tables of a one-pass Phase 0 over a plain
    parquet staging dir."""
    from clashroyale_datapipeline_agent_spark.fixtures import (
        generate_leaderboard,
        stub_battlelog,
    )
    from clashroyale_datapipeline_agent_spark.plans.pipeline import MetaDatasetBuilder

    catalog = MetaDatasetBuilder(
        spark,
        stub_battlelog,
        str(staging),
        min_total_battles=10_000_000,
        min_games_per_type=0,
        initial_sample=40,
        max_loops=0,
        seed=5,
        bucket_table=None,
    ).run(generate_leaderboard(40))
    return {k: catalog[k] for k in ("meta_deck_summary", "meta_matchup_summary")}


def user_tables(spark, seed: int, anomaly_rate: float) -> dict:
    from clashroyale_datapipeline_agent_spark import schemas
    from clashroyale_datapipeline_agent_spark.fixtures import generate_raw_battles
    from clashroyale_datapipeline_agent_spark.plans.pipeline import run_user_pipeline

    raw = generate_raw_battles(
        n_players=1, battles_per_player=25, seed=seed, anomaly_rate=anomaly_rate
    )
    catalog = run_user_pipeline(spark.createDataFrame(raw, schema=schemas.RAW_BATTLE))
    return {k: catalog[f"llm_{k}"] for k in USER_TABLES}


def _capture(spark, meta: dict) -> list[dict]:
    """Every (player, route) entry through ``answer_question``."""
    from clashroyale_datapipeline_agent_spark.plans import qna_router as qr
    from clashroyale_datapipeline_agent_spark.plans.coach import default_games_played

    entries = []
    for player, seed, anomaly_rate in PLAYERS:
        tables = user_tables(spark, seed, anomaly_rate)
        games = default_games_played(tables)
        for route in ROUTE_NEEDS:
            contexts: list[str] = []

            def answer(question: str, context: str) -> str:
                contexts.append(context)
                return f"A[{question}] ctx:{len(context)}"

            question = f"{route}: how am I doing?"
            state = qr.answer_question(
                question, classify=classify, answer=answer,
                user_tables=tables, meta_tables=meta, games_played=games,
            )
            entries.append(
                {"player": player, "question": question, "state": state,
                 "context": contexts[0]}
            )
    return entries


@pytest.fixture(scope="module")
def meta(spark, tmp_path_factory):
    return meta_tables(spark, tmp_path_factory.mktemp("qna_meta") / "staging")


def test_session_reproduces_golden_contexts(spark, meta):
    from clashroyale_datapipeline_agent_spark.plans.coach import CoachSession

    want = json.loads(GOLDEN_PATH.read_text())
    by_player: dict[str, list[dict]] = {}
    for entry in want:
        by_player.setdefault(entry["player"], []).append(entry)
    assert list(by_player) == [p for p, _, _ in PLAYERS]
    for player, seed, anomaly_rate in PLAYERS:
        contexts: list[str] = []

        def answer(question: str, context: str) -> str:
            contexts.append(context)
            return f"A[{question}] ctx:{len(context)}"

        session = CoachSession(
            build_meta=lambda: meta,
            build_user=lambda tag, s=seed, a=anomaly_rate: user_tables(spark, s, a),
            classify=classify,
            answer=answer,
        )
        session.ensure_meta()
        session.ensure_user(f"#{player}")
        for entry in by_player[player]:
            state = session.answer_one(entry["question"])
            assert state == entry["state"], (player, entry["question"])
            assert contexts.pop() == entry["context"], (player, entry["question"])
        session.close()


if __name__ == "__main__":
    import tempfile

    from clashroyale_datapipeline_agent_spark.session import get_spark

    spark = get_spark("qna-contexts", shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as tmp:
        entries = _capture(spark, meta_tables(spark, Path(tmp) / "staging"))
    GOLDEN_PATH.write_text(json.dumps(entries, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(entries)} entries to {GOLDEN_PATH}")
