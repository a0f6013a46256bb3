"""Meta-pipeline operators (SURVEY.md §2.4 A7-A15, §2.5 W1-W2, §2.3 J3-J5).

The Phase-0 side of the reference: POV-doubled participant tables, the
symmetric matchup matrix, share-of-total windows, per-player top-k, and the
LLM-facing summaries. All shuffles here key on archetype (6 values) or
(archetype, archetype) (36) — tiny post-aggregation states however large the
battle table grows.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.functions.cards import classify_deck_col
from clashroyale_datapipeline_agent_spark.functions.common import (
    advantage_label,
    flip_result,
    win_rate,
    win_rate_sql,
)
from clashroyale_datapipeline_agent_spark.operators.battle_aggs import counter_aggs
from clashroyale_datapipeline_agent_spark.schemas import ARCHETYPES


def build_participant_table(battles: DataFrame) -> DataFrame:
    """A9 — one row per battle participant, POV-flipped for the opponent.

    Parity: ``meta_standardize.py:31-99``: skip rows whose cards are not
    lists or whose result is not a valid enum; classify BOTH decks with no
    8-card guard (unlike the user-side deck-type stats); opp rows flip
    win/loss; ``is_win = result == "win"`` after flipping.

    Spark shape: classify once per side, then explode a 2-struct array —
    map-side doubling with a single evaluation of the classify cascade.
    """
    valid = battles.filter(
        F.col("my_cards").isNotNull()
        & F.col("opp_cards").isNotNull()
        & F.col("result").isin("win", "loss", "draw")
    ).withColumns(
        {
            "_my_type": classify_deck_col("my_cards"),
            "_opp_type": classify_deck_col("opp_cards"),
        }
    )

    # explode-based POV doubling (see compute_symmetric_matchups): one
    # Generate over a single classified projection, so each deck's
    # classification cascade evaluates once — a union of two side
    # projections would re-run it per branch
    return valid.select(
        "battle_time",
        "player_tag",
        F.explode(
            F.array(
                F.struct(
                    F.lit("my").alias("role"),
                    F.col("_my_type").alias("deck_type"),
                    F.col("result").alias("result"),
                ),
                F.struct(
                    F.lit("opp").alias("role"),
                    F.col("_opp_type").alias("deck_type"),
                    flip_result("result").alias("result"),
                ),
            )
        ).alias("s"),
        "mode_name",
    ).select(
        "battle_time",
        "player_tag",
        F.col("s.role").alias("role"),
        F.col("s.deck_type").alias("deck_type"),
        F.col("s.result").alias("result"),
        (F.col("s.result") == "win").alias("is_win"),
        "mode_name",
    )


def compute_symmetric_matchups(battles: DataFrame) -> DataFrame:
    """A7 — deck-type vs deck-type matrix counting BOTH sides.

    Parity: ``meta_analytics.py:41-102``: every battle contributes
    (my,opp,result) and (opp,my,flipped) rows; classification has no 8-card
    guard. Long format; 36-key hash-agg after row doubling — the union is
    map-side only (no extra shuffle beyond the final groupBy).
    """
    typed = battles.select(
        classify_deck_col("my_cards").alias("_my_type"),
        classify_deck_col("opp_cards").alias("_opp_type"),
        "result",
    )
    # POV doubling via explode, NOT a union: union branches are separate
    # codegen stages, so each would re-evaluate the classification cascade
    # (and a mirror filter pushed through the union duplicates it again
    # into each branch's FilterExec — measured 3.5x on cr_p8). With one
    # projection + Generate, the cascade runs once per row per side, and
    # pushed filters land on the cheap generated struct fields instead.
    doubled = typed.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_my_type").alias("deck_type"),
                    F.col("_opp_type").alias("opp_type"),
                    F.col("result").alias("result"),
                ),
                F.struct(
                    F.col("_opp_type").alias("deck_type"),
                    F.col("_my_type").alias("opp_type"),
                    flip_result("result").alias("result"),
                ),
            )
        ).alias("s")
    ).select("s.deck_type", "s.opp_type", "s.result")
    return doubled.groupBy("deck_type", "opp_type").agg(*counter_aggs())


def exclude_mirror_matchups(
    matchups: DataFrame,
    attacker_col: str = "deck_type",
    defender_col: str = "opp_type",
) -> DataFrame:
    """P8 — drop mirror matchups (attacker == defender).

    Parity: ``meta_workflow.py:127-137`` (the reference excludes mirrors
    from the per-archetype plot series; totals keep them). A pure filter —
    pushes straight into whatever produced the matrix.
    """
    return matchups.filter(F.col(attacker_col) != F.col(defender_col))


def compute_deck_type_counts(battles: DataFrame, side: str) -> DataFrame:
    """A8 — archetype value_counts for one side with zero-backfill of all six
    archetypes (``meta_analytics.py:186-197``).

    The backfill is a right join against the tiny archetype dimension —
    Spark broadcasts it automatically.
    """
    col = "my_cards" if side == "my" else "opp_cards"
    counts = (
        battles.select(classify_deck_col(col).alias("deck_type"))
        .groupBy("deck_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spark = battles.sparkSession
    archetypes = spark.createDataFrame(
        [(a,) for a in ARCHETYPES], "deck_type string"
    )
    # broadcast the post-agg counts (<= 6 rows) as the BUILD side of a
    # left-outer — broadcasting archetypes under right_outer is an
    # unsupported build direction and silently degrades to a shuffle join
    return archetypes.join(F.broadcast(counts), "deck_type", "left").select(
        "deck_type", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )


def combined_type_counts(my_counts: DataFrame, opp_counts: DataFrame) -> DataFrame:
    """A15 — elementwise my+opp counts keyed on LOWERCASED archetype, the
    Phase-0 stopping check's view (``meta_workflow.py:401-415``)."""
    return (
        my_counts.unionByName(opp_counts)
        .groupBy(F.lower("deck_type").alias("deck_type"))
        .agg(F.sum("cnt").alias("cnt"))
    )


def combined_type_counts_single_scan(battles: DataFrame) -> DataFrame:
    """A15, fused: my+opp archetype counts from ONE battles scan.

    Semantically identical to ``combined_type_counts(
    compute_deck_type_counts(b, "my"), compute_deck_type_counts(b, "opp"))``
    (``meta_analytics.py:186-197`` + ``meta_workflow.py:401-415``), but the
    two-sided plan there scans the battle lineage twice and evaluates the
    classify cascade once per scan. Here both sides classify in a single
    projection, explode-doubles map-side (see ``build_participant_table``),
    and one 6-key groupBy + broadcast zero-backfill finishes it — the same
    one-scan shape as A7/A9. Non-archetype labels (if the cascade ever
    produced one) are dropped by the right join, exactly as in the
    per-side backfill path.
    """
    doubled = battles.select(
        F.explode(
            F.array(
                classify_deck_col("my_cards"),
                classify_deck_col("opp_cards"),
            )
        ).alias("deck_type")
    )
    counts = (
        doubled.groupBy(F.lower("deck_type").alias("deck_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    archetypes = battles.sparkSession.createDataFrame(
        [(a.lower(),) for a in ARCHETYPES], "deck_type string"
    )
    # archetypes LEFT JOIN broadcast(counts): Spark can only build the
    # RIGHT side of a left-outer join, and counts is the post-agg 6-row
    # side — a right_outer with broadcast(archetypes) would fall back to
    # a shuffle join (HintErrorLogger warns the hint is unsupported).
    return archetypes.join(F.broadcast(counts), "deck_type", "left").select(
        "deck_type", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )


def build_meta_deck_summary(
    participants: DataFrame, *, min_games_per_type: int = 50
) -> DataFrame:
    """A10 — per-archetype meta summary over the participant table, with
    ``meta_share`` and ``sample_ok``.

    Parity: ``meta_llm_tables.py:8-76``: null deck_type -> "Unknown";
    draws counted only on an explicit ``"draw"`` (elif chain, unlike the
    else-branch convention elsewhere); share = games/total (W2: unbounded
    window over the 6-row aggregate — negligible at any scale since the
    window runs AFTER aggregation).
    """
    agg = (
        participants.select(
            F.coalesce(F.col("deck_type"), F.lit("Unknown")).alias("deck_type"),
            "result",
        )
        .groupBy("deck_type")
        .agg(
            F.count(F.lit(1)).alias("games"),
            F.sum(F.when(F.col("result") == "win", 1).otherwise(0)).alias("wins"),
            F.sum(F.when(F.col("result") == "loss", 1).otherwise(0)).alias("losses"),
            F.sum(F.when(F.col("result") == "draw", 1).otherwise(0)).alias("draws"),
        )
    )
    # Global (partition-less) window => single-partition WindowExec and a
    # startup warning — INTENTIONAL and bounded: it runs over the
    # post-aggregation output, whose cardinality is the archetype count
    # (<= 7 rows incl. "Unknown") at ANY input scale. Not a scale risk.
    total = Window.partitionBy()
    return agg.select(
        "deck_type",
        "games",
        (F.col("games") / F.sum("games").over(total)).alias("meta_share"),
        "wins",
        "losses",
        "draws",
        win_rate("wins", "games").alias("win_rate"),
        (F.col("games") >= min_games_per_type).alias("sample_ok"),
    ).orderBy(F.desc("games"), F.asc("deck_type"))


def build_matchup_summary(
    matchups: DataFrame, *, min_matchup_games: int, attacker_col: str = "attacker_type",
    defender_col: str = "defender_type",
) -> DataFrame:
    """A13 + P9 — flatten/label a long-format matchup table.

    Parity: ``meta_llm_tables.py:93-157`` (meta, min 30) and
    ``user_llm_tables.py:103-172`` (user, min 10; column names
    my_deck_type/opp_deck_type). In Spark the matrix is already long, so
    this is filter + label + rename + sort.
    """
    return (
        matchups.filter(F.col("games") >= min_matchup_games)
        .select(
            F.col("deck_type").alias(attacker_col),
            F.col("opp_type").alias(defender_col),
            "games",
            "wins",
            "losses",
            "draws",
            "win_rate",
            advantage_label(F.col("win_rate")).alias("advantage_label"),
        )
        .orderBy(F.desc("games"), F.asc(attacker_col), F.asc(defender_col))
    )


@lru_cache(maxsize=4)
def _user_deck_summary_sql(min_games_per_deck: int) -> str:
    # Bounded global window — post-aggregation, <= 6 archetype rows at any
    # scale (see build_meta_deck_summary). The WindowExec warning is noise.
    return f"""
        SELECT deck_type, games, games / sum(games) OVER () AS user_share,
               wins, losses, draws, {win_rate_sql("wins", "games")} AS win_rate,
               games >= {int(min_games_per_deck)} AS sample_ok
        FROM (
            SELECT my_deck_type AS deck_type, sum(games) AS games,
                   sum(wins) AS wins, sum(losses) AS losses, sum(draws) AS draws
            FROM {{matchups}} GROUP BY my_deck_type
        )
        ORDER BY games DESC, deck_type ASC
    """


def build_user_deck_summary(
    deck_type_matchups: DataFrame, *, min_games_per_deck: int = 20
) -> DataFrame:
    """A12 — re-aggregate the user matchup matrix over opponents.

    Parity: ``user_llm_tables.py:8-84``. This is literally partial/final
    re-aggregation: summing A6's per-(my,opp) counters by my_deck_type.
    ``win_rate`` is recomputed from summed counters, matching the reference.
    One SQL statement, like the Phase 1 tables it reads.
    """
    return deck_type_matchups.sparkSession.sql(
        _user_deck_summary_sql(min_games_per_deck), matchups=deck_type_matchups
    )


def most_recent_per_player(battles: DataFrame, k: int = 10) -> DataFrame:
    """W1 — per-player most-recent-k battles as an explicit ranking window.

    The reference trusts API order and slices ``[:10]``
    (``meta_workflow.py:329-331``); here ordering is explicit on the parsed
    timestamp (battle_time string as tiebreak for identical stamps).
    At scale this is one shuffle by player_tag; with the battle store
    bucketed by player_tag it is shuffle-free.
    """
    w = Window.partitionBy("player_tag").orderBy(
        F.desc("battle_ts"), F.desc("battle_time")
    )
    return (
        battles.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
