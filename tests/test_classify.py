"""F1 fidelity: native classify expression vs the pure-Python oracle
(SURVEY.md §5.2 item 3 — the top fidelity risk)."""

from __future__ import annotations

import random

import pytest

from clashroyale_datapipeline_agent_spark.functions import (
    classify_deck_col,
    classify_deck_oracle,
)
from clashroyale_datapipeline_agent_spark.sources.readers import load_card_metadata_rows


def _edge_decks(names: list[str]) -> list[list[str]]:
    by_flag = {
        "bait": [r["name"] for r in load_card_metadata_rows() if r["is_bait_piece"]],
        "spam": [r["name"] for r in load_card_metadata_rows() if r["is_bridge_spam_piece"]],
        "tank": [r["name"] for r in load_card_metadata_rows() if r["is_big_tank"]],
    }
    cheap = sorted(
        (r for r in load_card_metadata_rows() if r["elixir"] is not None),
        key=lambda r: r["elixir"],
    )
    cheapest = [r["name"] for r in cheap[:8]]
    priciest = [r["name"] for r in cheap[-8:]]
    return [
        [],  # empty -> Hybrid
        ["X-Bow"] + names[:7],  # Siege beats everything
        ["Mortar"] + by_flag["bait"][:3] + names[:4],  # Siege over Bait
        by_flag["bait"][:3] + priciest[:5],  # exactly 3 bait
        by_flag["bait"][:2] + priciest[:6],  # 2 bait -> not Bait
        cheapest,  # 4-cheapest <= 9 -> Cycle
        by_flag["spam"][:2] + priciest[:6],  # 2 spam pieces
        by_flag["tank"][:1] + priciest[:7],  # tank + heavy avg
        ["Totally Unknown"] * 8,  # all unknown -> avg 3.0/cycle 12.0 -> Hybrid
        ["Totally Unknown"] * 7 + by_flag["tank"][:1],  # one resolved elixir
        names[:5],  # short deck (classifier still runs on any length)
    ]


@pytest.fixture(scope="module")
def classified(spark):
    names = [r["name"] for r in load_card_metadata_rows()]
    rng = random.Random(123)
    decks = _edge_decks(names)
    decks += [rng.sample(names, 8) for _ in range(300)]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(decks)], "idx int, cards array<string>"
    )
    got = {
        r["idx"]: r["archetype"]
        for r in df.select("idx", classify_deck_col("cards").alias("archetype")).collect()
    }
    return decks, got


def test_matches_python_oracle(classified):
    decks, got = classified
    for i, deck in enumerate(decks):
        assert got[i] == classify_deck_oracle(deck), f"deck {i}: {deck}"


def test_priority_invariants(classified):
    decks, got = classified
    for i, deck in enumerate(decks):
        if "X-Bow" in deck or "Mortar" in deck:
            assert got[i] == "Siege"


def test_all_archetypes_reachable(classified):
    decks, got = classified
    assert {"Siege", "Bait", "Cycle", "Bridge Spam", "Beatdown", "Hybrid"} <= set(got.values())


def test_every_card_in_the_dimension(spark):
    """Each card as an 8-copy deck and in a mixed deck: every map entry and
    every flag list of the generated cascade is exercised."""
    names = [r["name"] for r in load_card_metadata_rows()]
    n = len(names)
    decks = []
    for i, name in enumerate(names):
        decks.append([name] * 8)
        decks.append([name] + [names[(i + 17 * k) % n] for k in range(1, 8)])
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(decks)], "idx int, cards array<string>"
    )
    got = {
        r["idx"]: r["archetype"]
        for r in df.select("idx", classify_deck_col("cards").alias("archetype")).collect()
    }
    for i, deck in enumerate(decks):
        assert got[i] == classify_deck_oracle(deck), f"deck {i}: {deck}"
