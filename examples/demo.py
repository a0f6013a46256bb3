"""End-to-end demo — the reference notebook's flow, Spark-first.

Mirrors ``clash_agent_demo.ipynb``: Phase 0 (meta dataset build with the
sampling loop), Phase 1 (per-player analytics for one tag), Phase 2 (a
scripted Q&A session; the LLM is mocked so the demo runs offline).

    python examples/demo.py
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from clashroyale_datapipeline_agent_spark.fixtures import (
    generate_leaderboard,
    raw_battles_df,
    stub_battlelog,
)
from clashroyale_datapipeline_agent_spark.plans import qna_router as qr
from clashroyale_datapipeline_agent_spark.plans.pipeline import (
    MetaDatasetBuilder,
    run_user_pipeline,
)
from clashroyale_datapipeline_agent_spark.session import get_spark


def show(name: str, df, n: int = 6) -> None:
    print(f"\n── {name} " + "─" * max(0, 60 - len(name)))
    df.show(n, truncate=False)


def main() -> None:
    spark = get_spark("demo")

    # ---- Phase 0: meta dataset (iterative sampling loop) -----------------
    print("Phase 0: building the meta dataset …")

    builder = MetaDatasetBuilder(
        spark,
        stub_battlelog,
        staging_dir=tempfile.mkdtemp(prefix="meta_staging_"),
        min_total_battles=300,
        min_games_per_type=20,
        initial_sample=20,
        increment_sample=5,
        seed=42,
    )
    meta = builder.run(generate_leaderboard(120))
    for note in builder.notes:
        print("  ", note)
    show("meta_deck_summary", meta["meta_deck_summary"])
    show("meta_matchup_summary (top rows)", meta["meta_matchup_summary"])

    # ---- Phase 1: per-player analytics -----------------------------------
    print("\nPhase 1: analytics for one player …")
    raw = raw_battles_df(spark, n_players=1, battles_per_player=25, seed=7)
    catalog = run_user_pipeline(raw)
    show("summary", catalog["summary"])
    show("best_cards", catalog["best_cards"], 5)
    show("my_deck_types", catalog["my_deck_types"])
    show("deck_type_matchups", catalog["deck_type_matchups"], 5)

    # ---- Phase 2: Q&A with a mocked coach --------------------------------
    print("\nPhase 2: Q&A session (mock LLM) …")
    user_tables = {
        "user_summary": catalog["llm_user_summary"],
        "user_deck_summary": catalog["llm_user_deck_summary"],
        "user_matchup_summary": catalog["llm_user_matchup_summary"],
        "user_card_summary": catalog["llm_user_card_summary"],
        "opponent_card_summary": catalog["llm_opponent_card_summary"],
    }
    meta_tables = {
        "meta_deck_summary": meta["meta_deck_summary"],
        "meta_matchup_summary": meta["meta_matchup_summary"],
    }
    games = int(catalog["summary"].collect()[0]["games_played"])

    def classify(q: str) -> str:
        ql = q.lower()
        if "meta" in ql:
            return json.dumps({"category": "meta", "data_needs": ["META_DECK_SUMMARY"]})
        if "los" in ql or "counter" in ql:
            return json.dumps(
                {"category": "matchup", "data_needs": ["USER_MATCHUP_SUMMARY"]}
            )
        return json.dumps({"category": "user", "data_needs": ["USER_SUMMARY"]})

    def answer(q: str, context: str) -> str:
        return f"[coach-mock] grounded on {len(context)} chars of context"

    for question in (
        "what is strong in the meta right now?",
        "why do I keep losing to bridge spam?",
        "how am I doing overall?",
    ):
        state = qr.answer_question(
            question,
            classify=classify,
            answer=answer,
            user_tables=user_tables,
            meta_tables=meta_tables,
            games_played=games,
        )
        print(f"\nQ: {question}")
        print(f"   route={state['route']} tables={state['context_tables']}")
        if state["low_data_warning"]:
            print(f"   {state['low_data_warning']}")
        print(f"   A: {state['answer']}")

    print("\ndemo complete.")


if __name__ == "__main__":
    main()
