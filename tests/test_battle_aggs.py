"""A1-A6 + J6 fidelity: Spark aggregates vs the in-test Python oracle
(counter/flip conventions per SURVEY.md §2.4)."""

from __future__ import annotations

import pytest

from clashroyale_datapipeline_agent_spark.fixtures import generate_raw_battles
from clashroyale_datapipeline_agent_spark.functions import classify_deck_oracle
from clashroyale_datapipeline_agent_spark.operators import battle_aggs as ba
from clashroyale_datapipeline_agent_spark.operators.normalize import (
    filter_and_normalize_ranked_1v1,
)

from tests import domain_oracle as oracle


@pytest.fixture(scope="module")
def norm_rows():
    return oracle.filter_and_normalize(
        generate_raw_battles(n_players=12, battles_per_player=25)
    )


@pytest.fixture(scope="module")
def battles(spark):
    from clashroyale_datapipeline_agent_spark.fixtures import raw_battles_df

    raw = raw_battles_df(spark, n_players=12, battles_per_player=25)
    return filter_and_normalize_ranked_1v1(raw).cache()


def _check(table: dict, got_rows, key_cols):
    got = {}
    for r in got_rows:
        k = tuple(r[c] for c in key_cols)
        got[k[0] if len(k) == 1 else k] = r
    assert set(got) == set(table)
    for k, want in table.items():
        g = got[k]
        for f in ("games", "wins", "losses", "draws"):
            assert g[f] == want[f], (k, f, g[f], want[f])
        assert g["win_rate"] == pytest.approx(want["win_rate"])


def test_summary(battles, norm_rows):
    row = ba.compute_summary(battles).collect()[0]
    want = oracle.counter_table([(None, r["result"]) for r in norm_rows])[None]
    assert row["games_played"] == want["games"]
    assert (row["wins"], row["losses"], row["draws"]) == (
        want["wins"], want["losses"], want["draws"]
    )
    assert row["win_rate"] == pytest.approx(want["win_rate"])


def test_card_performance_mine(battles, norm_rows):
    want = oracle.counter_table(
        [(c, r["result"]) for r in norm_rows for c in r["my_cards"]], min_games=3
    )
    got = ba.compute_card_performance(battles, "my_cards").collect()
    _check(want, got, ["card"])


def test_card_performance_opp_flipped(battles, norm_rows):
    want = oracle.counter_table(
        [(c, oracle.flip(r["result"])) for r in norm_rows for c in r["opp_cards"]],
        min_games=3,
    )
    got = ba.compute_card_performance(battles, "opp_cards").collect()
    _check(want, got, ["card"])


def test_deck_performance(battles, norm_rows):
    want = oracle.counter_table(
        [(tuple(sorted(r["my_cards"])), r["result"]) for r in norm_rows], min_games=3
    )
    got = battles.sparkSession.sql(
        ba.deck_performance_sql("{b}", "my_cards", False, 3), b=battles
    ).collect()
    got = [{**r.asDict(), "deck": tuple(r["deck"])} for r in got]
    _check(want, got, ["deck"])


def test_deck_type_summary_both_sides(spark, battles, norm_rows):
    typed = ba.with_deck_types(battles)
    my_want = oracle.counter_table(
        [
            (classify_deck_oracle(r["my_cards"]), r["result"])
            for r in norm_rows
            if len(r["my_cards"]) == 8
        ]
    )
    opp_want = oracle.counter_table(
        [
            (classify_deck_oracle(r["opp_cards"]), oracle.flip(r["result"]))
            for r in norm_rows
            if len(r["opp_cards"]) == 8
        ]
    )
    for side, want in (("my", my_want), ("opp", opp_want)):
        got = spark.sql(ba.deck_type_summary_sql("{t}", side), t=typed).collect()
        _check(want, got, ["type"])


def test_deck_type_matchups(battles, norm_rows):
    want = oracle.counter_table(
        [
            (
                (classify_deck_oracle(r["my_cards"]), classify_deck_oracle(r["opp_cards"])),
                r["result"],
            )
            for r in norm_rows
            if len(r["my_cards"]) == 8 and len(r["opp_cards"]) == 8
        ]
    )
    got = ba.compute_deck_type_matchups(ba.with_deck_types(battles)).collect()
    _check(want, got, ["my_deck_type", "opp_deck_type"])


def test_user_deck_matchups_split(battles, norm_rows):
    summary = oracle.counter_table([(None, r["result"]) for r in norm_rows])[None]
    overall = summary["win_rate"]
    tough, easy = ba.compute_user_deck_matchups(battles, overall)
    stats = oracle.counter_table(
        [
            (tuple(sorted(r["opp_cards"])), r["result"])
            for r in norm_rows
            if r["opp_cards"]
        ],
        min_games=1,
    )
    tough_want = {k for k, s in stats.items() if s["win_rate"] <= overall}
    easy_want = {k for k, s in stats.items() if s["win_rate"] >= overall}
    assert {tuple(r["deck"]) for r in tough.collect()} == tough_want
    assert {tuple(r["deck"]) for r in easy.collect()} == easy_want


def test_matchups_ref_frame_contract_enforced(spark, battles):
    """The 1-row scalar-carrier contract fails LOUDLY at execution (not
    silently keeping an arbitrary row), while staying one lazy plan."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    one = spark.createDataFrame([(0.5,)], "win_rate double")
    tough, easy = ba.compute_user_deck_matchups(battles, one)
    t_scalar, e_scalar = ba.compute_user_deck_matchups(battles, 0.5)
    assert [r.asDict() for r in tough.collect()] == [
        r.asDict() for r in t_scalar.collect()
    ]
    assert [r.asDict() for r in easy.collect()] == [
        r.asDict() for r in e_scalar.collect()
    ]

    bad = spark.createDataFrame([(0.5,), (0.9,)], "win_rate double")
    t_bad, _ = ba.compute_user_deck_matchups(battles, bad)
    with _pytest.raises(Exception, match="exactly one row"):
        t_bad.collect()

    empty = spark.createDataFrame([], "win_rate double")
    t_empty, _ = ba.compute_user_deck_matchups(battles, empty)
    with _pytest.raises(Exception, match="exactly one row"):
        t_empty.collect()
