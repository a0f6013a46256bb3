"""S6 plot sinks and batched LLM classify tests."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.operators import plots as P
from clashroyale_datapipeline_agent_spark.operators.llm_batch import classify_questions


def test_plot_sinks_degrade_without_matplotlib(spark, tmp_path):
    df = spark.createDataFrame(
        [("Cycle", 10, 0.5), ("Bait", 8, 0.4)], "deck_type string, games long, win_rate double"
    )
    out = P.plot_bar(df, x="deck_type", y="games", out_dir=tmp_path, name="T")
    if P.HAVE_MPL:  # pragma: no cover - env without mpl
        assert out and out.endswith("t.png")
    else:
        assert out is None
    pdf = P.top_k_pandas(df, [F.desc("games")], 1)
    assert list(pdf["deck_type"]) == ["Cycle"]


def test_classify_questions_batched(spark):
    qs = spark.createDataFrame(
        [
            (1, "why do I lose to bait?"),
            (2, "what is strong in the meta?"),
            (3, "???"),
        ],
        "question_id long, question string",
    )

    def make_client():
        def client(q: str) -> str:
            if "lose to" in q:
                return json.dumps(
                    {"category": "matchup", "data_needs": ["USER_MATCHUP_SUMMARY"]}
                )
            if "meta" in q:
                return json.dumps(
                    {"category": "meta", "data_needs": ["META_DECK_SUMMARY"]}
                )
            return "garbage"

        return client

    out = {r["question_id"]: r for r in classify_questions(qs, make_client).collect()}
    assert out[1]["route"] == "matchup"
    assert out[2]["route"] == "meta"
    assert out[3]["category"] == "other" and out[3]["data_needs"] == ["SEND_ALL"]
    # malformed JSON is a PARSE fallback, not an error
    assert out[3]["llm_error"] is None


def test_classify_questions_flaky_client_per_row_fallback(spark):
    qs = spark.createDataFrame(
        [
            (1, "why do I lose to bait?"),
            (2, "DOWN forever"),
            (3, "FLAKY what beats me?"),
        ],
        "question_id long, question string",
    ).coalesce(1)  # one task: the flaky counter's state is coherent

    def make_client():
        calls = {"flaky": 0}

        def client(q: str) -> str:
            if q.startswith("DOWN"):
                raise RuntimeError("LLM API error 500: upstream down")
            if q.startswith("FLAKY"):
                calls["flaky"] += 1
                if calls["flaky"] <= 2:
                    raise RuntimeError("LLM API error 429: rate limited")
            return json.dumps(
                {"category": "matchup", "data_needs": ["USER_MATCHUP_SUMMARY"]}
            )

        return client

    sleeps: list[float] = []
    out = {
        r["question_id"]: r
        for r in classify_questions(
            qs, make_client, max_retries=2, sleeper=sleeps.append
        ).collect()
    }
    # healthy row untouched
    assert out[1]["route"] == "matchup" and out[1]["llm_error"] is None
    # permanently-down row: reference LLM-error fallback, PER ROW — the
    # other rows in the same batch are unaffected
    assert out[2]["category"] == "other"
    assert out[2]["data_needs"] == ["SEND_ALL"]
    assert "500" in out[2]["llm_error"]
    # transient row recovers via retries
    assert out[3]["route"] == "matchup" and out[3]["llm_error"] is None

    # no retries -> the transient row falls back too
    out0 = {
        r["question_id"]: r
        for r in classify_questions(
            qs, make_client, max_retries=0, sleeper=lambda s: None
        ).collect()
    }
    assert out0[3]["category"] == "other" and "429" in out0[3]["llm_error"]
