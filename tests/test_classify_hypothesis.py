"""Property-based classify fidelity (SURVEY.md §5.2 item 3) — hypothesis
generates adversarial decks (dups, unknowns, boundary elixir mixes, any
length), batched into single Spark jobs to keep wall-clock sane."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from clashroyale_datapipeline_agent_spark.functions import (
    classify_deck_col,
    classify_deck_oracle,
)
from clashroyale_datapipeline_agent_spark.sources.readers import load_card_metadata_rows

NAMES = [r["name"] for r in load_card_metadata_rows()]

card = st.one_of(
    st.sampled_from(NAMES),  # real cards dominate
    st.sampled_from(["Unknown A", "Unknown B", ""]),  # metadata misses
)
deck = st.lists(card, min_size=0, max_size=10)  # wrong sizes included


@pytest.fixture(scope="module")
def classify_batch(spark):
    def run(decks: list[list[str]]) -> list[str]:
        df = spark.createDataFrame(
            [(i, d) for i, d in enumerate(decks)], "i int, cards array<string>"
        )
        rows = df.select("i", classify_deck_col("cards").alias("a")).collect()
        return [r["a"] for r in sorted(rows, key=lambda r: r["i"])]

    return run


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(deck, min_size=30, max_size=60))
def test_classify_matches_oracle_on_random_decks(classify_batch, decks):
    got = classify_batch(decks)
    for d, g in zip(decks, got):
        assert g == classify_deck_oracle(d), d
