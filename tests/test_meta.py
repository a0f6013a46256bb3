"""A7-A15, W1 fidelity tests (meta pipeline operators)."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.fixtures import generate_raw_battles, raw_battles_df
from clashroyale_datapipeline_agent_spark.functions import classify_deck_oracle
from clashroyale_datapipeline_agent_spark.operators import meta as M
from clashroyale_datapipeline_agent_spark.operators.normalize import (
    filter_and_normalize_ranked_1v1,
)
from clashroyale_datapipeline_agent_spark.schemas import ARCHETYPES

from tests import domain_oracle as oracle


@pytest.fixture(scope="module")
def norm_rows():
    return oracle.filter_and_normalize(
        generate_raw_battles(n_players=12, battles_per_player=25)
    )


@pytest.fixture(scope="module")
def battles(spark):
    raw = raw_battles_df(spark, n_players=12, battles_per_player=25)
    return filter_and_normalize_ranked_1v1(raw).cache()


def test_participant_table(battles, norm_rows):
    got = M.build_participant_table(battles).collect()
    # oracle: 2 rows per valid battle, POV-flipped
    want = []
    for r in norm_rows:
        if r["result"] not in ("win", "loss", "draw"):
            continue
        my_t = classify_deck_oracle(r["my_cards"])
        opp_t = classify_deck_oracle(r["opp_cards"])
        want.append(("my", my_t, r["result"], r["result"] == "win"))
        fl = oracle.flip(r["result"])
        want.append(("opp", opp_t, fl, fl == "win"))
    got_tuples = [(g["role"], g["deck_type"], g["result"], g["is_win"]) for g in got]
    assert Counter(got_tuples) == Counter(want)


def test_symmetric_matchups(battles, norm_rows):
    rows = []
    for r in norm_rows:
        my_t = classify_deck_oracle(r["my_cards"])
        opp_t = classify_deck_oracle(r["opp_cards"])
        rows.append(((my_t, opp_t), r["result"]))
        rows.append(((opp_t, my_t), oracle.flip(r["result"])))
    want = oracle.counter_table(rows)
    got = M.compute_symmetric_matchups(battles).collect()
    assert len(got) == len(want)
    for g in got:
        w = want[(g["deck_type"], g["opp_type"])]
        assert (g["games"], g["wins"], g["losses"], g["draws"]) == (
            w["games"], w["wins"], w["losses"], w["draws"]
        )
        assert g["win_rate"] == pytest.approx(w["win_rate"])


def test_deck_type_counts_zero_backfill(battles, norm_rows):
    got = {r["deck_type"]: r["cnt"] for r in M.compute_deck_type_counts(battles, "my").collect()}
    want = Counter(classify_deck_oracle(r["my_cards"]) for r in norm_rows)
    assert set(got) >= set(ARCHETYPES)  # all archetypes present
    for a in got:
        assert got[a] == want.get(a, 0)


def test_combined_type_counts_lowercased(battles, norm_rows):
    my = M.compute_deck_type_counts(battles, "my")
    opp = M.compute_deck_type_counts(battles, "opp")
    got = {r["deck_type"]: r["cnt"] for r in M.combined_type_counts(my, opp).collect()}
    want: dict = defaultdict(int)
    for r in norm_rows:
        want[classify_deck_oracle(r["my_cards"]).lower()] += 1
        want[classify_deck_oracle(r["opp_cards"]).lower()] += 1
    for a in ARCHETYPES:
        want[a.lower()] += 0
    assert got == dict(want)


def test_meta_deck_summary(battles, norm_rows):
    parts = M.build_participant_table(battles)
    got = M.build_meta_deck_summary(parts, min_games_per_type=50).collect()
    # oracle over participant rows
    rows = []
    for r in norm_rows:
        rows.append((classify_deck_oracle(r["my_cards"]), r["result"]))
        rows.append((classify_deck_oracle(r["opp_cards"]), oracle.flip(r["result"])))
    want = oracle.counter_table(rows)
    total = sum(w["games"] for w in want.values())
    assert len(got) == len(want)
    for g in got:
        w = want[g["deck_type"]]
        assert g["games"] == w["games"]
        assert g["meta_share"] == pytest.approx(w["games"] / total)
        assert g["win_rate"] == pytest.approx(w["win_rate"])
        assert g["sample_ok"] == (w["games"] >= 50)
    # sorted by games desc
    games = [g["games"] for g in got]
    assert games == sorted(games, reverse=True)


def test_matchup_summary_labels(battles):
    mm = M.compute_symmetric_matchups(battles)
    summ = M.build_matchup_summary(mm, min_matchup_games=5).collect()
    for row in summ:
        assert row["games"] >= 5
        if row["win_rate"] >= 0.55:
            assert row["advantage_label"] == "favored"
        elif row["win_rate"] <= 0.45:
            assert row["advantage_label"] == "unfavored"
        else:
            assert row["advantage_label"] == "even"


def test_user_deck_summary_reagg(battles, norm_rows):
    from clashroyale_datapipeline_agent_spark.operators import battle_aggs as ba

    typed = ba.with_deck_types(battles)
    mm = ba.compute_deck_type_matchups(typed)
    got = M.build_user_deck_summary(mm, min_games_per_deck=20).collect()
    rows = [
        (classify_deck_oracle(r["my_cards"]), r["result"])
        for r in norm_rows
        if len(r["my_cards"]) == 8 and len(r["opp_cards"]) == 8
    ]
    want = oracle.counter_table(rows)
    total = sum(w["games"] for w in want.values())
    assert len(got) == len(want)
    for g in got:
        w = want[g["deck_type"]]
        assert g["games"] == w["games"]
        assert g["user_share"] == pytest.approx(w["games"] / total)
        assert g["win_rate"] == pytest.approx(w["win_rate"])


def test_most_recent_per_player(battles):
    top = M.most_recent_per_player(battles, k=5)
    counts = top.groupBy("player_tag").count().collect()
    assert all(c["count"] <= 5 for c in counts)
    # each player's kept battles are their most recent by battle_ts
    per_player_max = battles.groupBy("player_tag").agg(F.max("battle_ts").alias("mx"))
    joined = top.join(per_player_max, "player_tag")
    # the newest battle of every player must be in the top-5
    newest_kept = joined.filter(F.col("battle_ts") == F.col("mx")).select("player_tag").distinct().count()
    assert newest_kept == battles.select("player_tag").distinct().count()
