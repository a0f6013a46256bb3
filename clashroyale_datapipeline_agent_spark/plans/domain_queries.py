"""Battle-domain queries in the driver catalog (SURVEY.md §2 parity proof).

The reference's domain operators run on nested battle logs, which the
DuckDB oracle can't load (its views are fixed to the star schema). To put
the domain semantics — above all F1 deck classification, the top fidelity
risk — under the driver's cross-engine gate anyway, these queries derive a
deterministic battle-shaped dataset FROM the star tables with pure integer
arithmetic, identically in both engines:

    deck(o_orderkey) = [ card_names[(o_orderkey*7 + k*13) % 121] , k=0..7 ]
    result(o)        = status -> win/loss/draw

The Spark side runs the REAL production operators (``classify_deck_col``,
counter aggregations, POV flips); the oracle SQL re-implements the
classifier cascade independently (card dimension embedded as a VALUES
list, flags as IN lists) straight from the reference semantics
(``/root/reference/src/analytics/deck_type.py:38-152``). A hash match means
the production classifier agrees with an independent transcription on
~15k synthetic decks — on top of the pytest property tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.functions.cards import (
    classify_deck_col,
)
from clashroyale_datapipeline_agent_spark.operators.battle_aggs import counter_aggs
from clashroyale_datapipeline_agent_spark.plans.star_queries import _t, register
from clashroyale_datapipeline_agent_spark.sources.readers import (
    load_card_metadata_rows,
)

_ROWS = load_card_metadata_rows()
_NAMES = [r["name"] for r in _ROWS]  # fixture order = stable index base


def _names_array():
    return F.array(*[F.lit(n) for n in _NAMES])


def _deck_col(key, mult: int, offset: int):
    """8-card deck from an integer key (duplicates possible — the classifier
    counts per instance, and the SQL twin does the same)."""
    names = _names_array()
    return F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda k: F.element_at(
            names, (F.pmod(key * mult + k * 13 + offset, F.lit(121)) + 1).cast("int")
        ),
    )




def _spread(df):
    """Guarded repartition before the compute-heavy classification — see
    ``sources.readers.spread_if_narrow`` (shared with the heavy text/dedup
    queries)."""
    from clashroyale_datapipeline_agent_spark.sources.readers import (
        spread_if_narrow,
    )

    return spread_if_narrow(df)

def _result_col():
    return (
        F.when(F.col("o_orderstatus") == "F", "win")
        .when(F.col("o_orderstatus") == "O", "loss")
        .otherwise("draw")
    )


def _cards_values_sql() -> str:
    rows = []
    for i, r in enumerate(_ROWS):
        name = r["name"].replace("'", "''")
        elixir = "NULL" if r["elixir"] is None else str(r["elixir"])
        rows.append(
            f"({i}, '{name}', {elixir}, {str(bool(r['is_bait_piece'])).upper()}, "
            f"{str(bool(r['is_bridge_spam_piece'])).upper()}, {str(bool(r['is_big_tank'])).upper()})"
        )
    return ",\n          ".join(rows)


def _decks_sql(mult: int, offset: int, deck_alias: str) -> str:
    """SQL CTE fragment: one row per (o_orderkey, card name) for an 8-slot
    deck derived by the shared arithmetic."""
    return f"""
        SELECT o.o_orderkey,
               c.name, c.elixir, c.is_bait, c.is_spam, c.is_tank
        FROM orders o
        JOIN (SELECT UNNEST(generate_series(0, 7)) AS k) slots ON TRUE
        JOIN cards c
          ON c.idx = CAST((o.o_orderkey * {mult} + slots.k * 13 + {offset}) % 121 AS INTEGER)
    """


def _classify_sql(deck_rel: str) -> str:
    """Classifier cascade as SQL over per-deck feature aggregates —
    independent transcription of ``deck_type.py:85-152`` (divide-by-8 avg,
    4-cheapest cycle cost, no-elixir defaults 3.0/12.0, priority order)."""
    return f"""
        SELECT o_orderkey,
               CASE
                 WHEN has_xbow OR has_mortar THEN 'Siege'
                 WHEN bait_pieces >= 3 THEN 'Bait'
                 WHEN four_cycle <= 9 THEN 'Cycle'
                 WHEN spam_count >= 2 THEN 'Bridge Spam'
                 WHEN tank_count >= 1 AND avg_elixir >= 3.5 THEN 'Beatdown'
                 ELSE 'Hybrid'
               END AS deck_type
        FROM (
            SELECT o_orderkey,
                   BOOL_OR(name = 'X-Bow')  AS has_xbow,
                   BOOL_OR(name = 'Mortar') AS has_mortar,
                   SUM(CASE WHEN is_bait THEN 1 ELSE 0 END) AS bait_pieces,
                   SUM(CASE WHEN is_spam THEN 1 ELSE 0 END) AS spam_count,
                   SUM(CASE WHEN is_tank THEN 1 ELSE 0 END) AS tank_count,
                   CASE WHEN COUNT(elixir) = 0 THEN 3.0
                        ELSE SUM(elixir) / 8.0 END          AS avg_elixir,
                   CASE WHEN COUNT(elixir) = 0 THEN 12.0
                        ELSE CAST(list_sum(list_sort(list(elixir) FILTER (elixir IS NOT NULL))[1:4]) AS DOUBLE)
                   END                                      AS four_cycle
            FROM {deck_rel} d
            GROUP BY o_orderkey
        )
    """


@register(
    "cr_classify_archetype_counts",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    deck_cards AS ({_decks_sql(7, 0, 'my')}),
    classified AS ({_classify_sql('deck_cards')}),
    labeled AS (
        SELECT c.deck_type,
               CASE WHEN o.o_orderstatus = 'F' THEN 'win'
                    WHEN o.o_orderstatus = 'O' THEN 'loss'
                    ELSE 'draw' END AS result
        FROM classified c JOIN orders o ON c.o_orderkey = o.o_orderkey
    )
    SELECT deck_type,
           CAST(COUNT(*) AS BIGINT) AS games,
           CAST(SUM(CASE WHEN result = 'win'  THEN 1 ELSE 0 END) AS BIGINT) AS wins,
           CAST(SUM(CASE WHEN result = 'loss' THEN 1 ELSE 0 END) AS BIGINT) AS losses,
           CAST(SUM(CASE WHEN result NOT IN ('win','loss') THEN 1 ELSE 0 END) AS BIGINT) AS draws,
           ROUND(SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS win_rate
    FROM labeled
    GROUP BY deck_type
    """,
)
def cr_classify_archetype_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 + A5 cross-engine: the production ``classify_deck_col`` over ~15k
    deterministic decks, counter-aggregated per archetype, vs an independent
    SQL transcription of the classifier cascade."""
    decks = _battles_full(spark, sf_dir).select("my_cards", "result")
    typed = decks.select(
        classify_deck_col("my_cards").alias("deck_type"), "result"
    )
    out = typed.groupBy("deck_type").agg(*counter_aggs())
    return out.select(
        "deck_type",
        F.col("games").cast("bigint"),
        F.col("wins").cast("bigint"),
        F.col("losses").cast("bigint"),
        F.col("draws").cast("bigint"),
        F.round("win_rate", 4).alias("win_rate"),
    )


@register(
    "cr_symmetric_matchup_matrix",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    my_cards_rel AS ({_decks_sql(7, 0, 'my')}),
    opp_cards_rel AS ({_decks_sql(11, 5, 'opp')}),
    my_types AS ({_classify_sql('my_cards_rel')}),
    opp_types AS ({_classify_sql('opp_cards_rel')}),
    battles AS (
        SELECT m.deck_type AS my_type, p.deck_type AS opp_type,
               CASE WHEN o.o_orderstatus = 'F' THEN 'win'
                    WHEN o.o_orderstatus = 'O' THEN 'loss'
                    ELSE 'draw' END AS result
        FROM orders o
        JOIN my_types m  ON m.o_orderkey = o.o_orderkey
        JOIN opp_types p ON p.o_orderkey = o.o_orderkey
    ),
    doubled AS (
        SELECT my_type AS deck_type, opp_type, result FROM battles
        UNION ALL
        SELECT opp_type AS deck_type, my_type AS opp_type,
               CASE WHEN result = 'win' THEN 'loss'
                    WHEN result = 'loss' THEN 'win' ELSE result END AS result
        FROM battles
    )
    SELECT deck_type, opp_type,
           CAST(COUNT(*) AS BIGINT) AS games,
           CAST(SUM(CASE WHEN result = 'win'  THEN 1 ELSE 0 END) AS BIGINT) AS wins,
           CAST(SUM(CASE WHEN result = 'loss' THEN 1 ELSE 0 END) AS BIGINT) AS losses,
           CAST(SUM(CASE WHEN result NOT IN ('win','loss') THEN 1 ELSE 0 END) AS BIGINT) AS draws,
           ROUND(SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS win_rate
    FROM doubled
    GROUP BY deck_type, opp_type
    """,
)
def cr_symmetric_matchup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 cross-engine on the derived battle set: REAL production operator
    (``compute_symmetric_matchups`` — classify both sides, POV-double,
    counter-agg) vs the independent SQL pipeline."""
    from clashroyale_datapipeline_agent_spark.operators.meta import (
        compute_symmetric_matchups,
    )

    battles = _battles(spark, sf_dir)
    out = compute_symmetric_matchups(battles)
    return out.select(
        "deck_type",
        "opp_type",
        F.col("games").cast("bigint"),
        F.col("wins").cast("bigint"),
        F.col("losses").cast("bigint"),
        F.col("draws").cast("bigint"),
        F.round("win_rate", 4).alias("win_rate"),
    )


@register(
    "cr_exact_deck_grouping",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    deck_cards AS ({_decks_sql(3, 2, 'my')}),
    decks AS (
        SELECT o_orderkey,
               md5(array_to_string(list_sort(list(name)), '|')) AS deck_key
        FROM deck_cards
        GROUP BY o_orderkey
    ),
    labeled AS (
        SELECT d.deck_key,
               CASE WHEN o.o_orderstatus = 'F' THEN 'win'
                    WHEN o.o_orderstatus = 'O' THEN 'loss'
                    ELSE 'draw' END AS result
        FROM decks d JOIN orders o ON d.o_orderkey = o.o_orderkey
    )
    SELECT deck_key,
           CAST(COUNT(*) AS BIGINT) AS games,
           CAST(SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) AS BIGINT) AS wins,
           ROUND(SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS win_rate
    FROM labeled
    GROUP BY deck_key
    HAVING COUNT(*) >= 3
    """,
)
def cr_exact_deck_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 cross-engine: exact-deck grouping on the sorted card list
    (md5-of-joined-names as the engine-comparable key) + HAVING threshold.
    NB: the multiplier 3 shares a factor with 121's step so decks repeat —
    giving groups with games >= 3 to survive the HAVING."""
    decks = _battles_full(spark, sf_dir).select(
        F.md5(F.concat_ws("|", F.array_sort(F.col("alt_cards")))).alias("deck_key"),
        "result",
    )
    games = "count(1)"
    wins = "sum(CASE WHEN result = 'win' THEN 1 ELSE 0 END)"
    from clashroyale_datapipeline_agent_spark.functions.common import win_rate

    return (
        decks.groupBy("deck_key")
        .agg(
            F.expr(games).cast("bigint").alias("games"),
            F.expr(wins).cast("bigint").alias("wins"),
            F.round(win_rate(wins, games), 4).alias("win_rate"),
        )
        .filter(F.col("games") >= 3)
    )


@register(
    "cr_user_matchup_summary",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    my_cards_rel AS ({_decks_sql(7, 0, 'my')}),
    opp_cards_rel AS ({_decks_sql(11, 5, 'opp')}),
    my_types AS ({_classify_sql('my_cards_rel')}),
    opp_types AS ({_classify_sql('opp_cards_rel')}),
    matchups AS (
        SELECT m.deck_type AS my_deck_type, p.deck_type AS opp_deck_type,
               CASE WHEN o.o_orderstatus = 'F' THEN 'win'
                    WHEN o.o_orderstatus = 'O' THEN 'loss'
                    ELSE 'draw' END AS result
        FROM orders o
        JOIN my_types m  ON m.o_orderkey = o.o_orderkey
        JOIN opp_types p ON p.o_orderkey = o.o_orderkey
    ),
    agg AS (
        SELECT my_deck_type, opp_deck_type,
               COUNT(*) AS games,
               SUM(CASE WHEN result = 'win'  THEN 1 ELSE 0 END) AS wins,
               SUM(CASE WHEN result = 'loss' THEN 1 ELSE 0 END) AS losses,
               SUM(CASE WHEN result NOT IN ('win','loss') THEN 1 ELSE 0 END) AS draws,
               SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS win_rate
        FROM matchups
        GROUP BY my_deck_type, opp_deck_type
        HAVING COUNT(*) >= 10
    )
    SELECT my_deck_type, opp_deck_type,
           CAST(games AS BIGINT)  AS games,
           CAST(wins AS BIGINT)   AS wins,
           CAST(losses AS BIGINT) AS losses,
           CAST(draws AS BIGINT)  AS draws,
           ROUND(win_rate, 4)     AS win_rate,
           CASE WHEN win_rate >= 0.55 THEN 'favored'
                WHEN win_rate <= 0.45 THEN 'unfavored'
                ELSE 'even' END   AS advantage_label
    FROM agg
    """,
)
def cr_user_matchup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 + A13 + P9 cross-engine: the production user matchup-matrix
    operator (classify both sides, counter-agg, HAVING min 10) flattened
    with advantage labels via the production ``build_matchup_summary``
    rename path."""
    from clashroyale_datapipeline_agent_spark.functions.common import advantage_label
    from clashroyale_datapipeline_agent_spark.operators.battle_aggs import (
        compute_deck_type_matchups,
        with_deck_types,
    )

    battles = _battles(spark, sf_dir)
    mm = compute_deck_type_matchups(with_deck_types(battles), min_games=10)
    return mm.select(
        "my_deck_type",
        "opp_deck_type",
        F.col("games").cast("bigint"),
        F.col("wins").cast("bigint"),
        F.col("losses").cast("bigint"),
        F.col("draws").cast("bigint"),
        F.round("win_rate", 4).alias("win_rate"),
        advantage_label(F.col("win_rate")).alias("advantage_label"),
    )


@register(
    "cr_user_deck_summary_reagg",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    my_cards_rel AS ({_decks_sql(7, 0, 'my')}),
    opp_cards_rel AS ({_decks_sql(11, 5, 'opp')}),
    my_types AS ({_classify_sql('my_cards_rel')}),
    opp_types AS ({_classify_sql('opp_cards_rel')}),
    matchups AS (
        SELECT m.deck_type AS my_deck_type, p.deck_type AS opp_deck_type,
               CASE WHEN o.o_orderstatus = 'F' THEN 'win'
                    WHEN o.o_orderstatus = 'O' THEN 'loss'
                    ELSE 'draw' END AS result
        FROM orders o
        JOIN my_types m  ON m.o_orderkey = o.o_orderkey
        JOIN opp_types p ON p.o_orderkey = o.o_orderkey
    ),
    cell AS (
        SELECT my_deck_type, opp_deck_type,
               COUNT(*) AS games,
               SUM(CASE WHEN result = 'win'  THEN 1 ELSE 0 END) AS wins,
               SUM(CASE WHEN result = 'loss' THEN 1 ELSE 0 END) AS losses,
               SUM(CASE WHEN result NOT IN ('win','loss') THEN 1 ELSE 0 END) AS draws
        FROM matchups GROUP BY my_deck_type, opp_deck_type
    ),
    reagg AS (
        SELECT my_deck_type AS deck_type,
               SUM(games) AS games, SUM(wins) AS wins,
               SUM(losses) AS losses, SUM(draws) AS draws
        FROM cell GROUP BY my_deck_type
    )
    SELECT deck_type,
           CAST(games AS BIGINT) AS games,
           ROUND(games * 1.0 / SUM(games) OVER (), 4) AS user_share,
           CAST(wins AS BIGINT) AS wins,
           CAST(losses AS BIGINT) AS losses,
           CAST(draws AS BIGINT) AS draws,
           ROUND(CASE WHEN games > 0 THEN wins * 1.0 / games ELSE 0.0 END, 4) AS win_rate,
           games >= 20 AS sample_ok
    FROM reagg
    """,
)
def cr_user_deck_summary_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 + J5 cross-engine: the production re-aggregation of the matchup
    matrix over opponents (summed counters, share window, sample_ok flag)."""
    from clashroyale_datapipeline_agent_spark.operators.battle_aggs import (
        compute_deck_type_matchups,
        with_deck_types,
    )
    from clashroyale_datapipeline_agent_spark.operators.meta import (
        build_user_deck_summary,
    )

    battles = _battles(spark, sf_dir)
    mm = compute_deck_type_matchups(with_deck_types(battles), min_games=1)
    out = build_user_deck_summary(mm, min_games_per_deck=20)
    return out.select(
        "deck_type",
        F.col("games").cast("bigint"),
        F.round("user_share", 4).alias("user_share"),
        F.col("wins").cast("bigint"),
        F.col("losses").cast("bigint"),
        F.col("draws").cast("bigint"),
        F.round("win_rate", 4).alias("win_rate"),
        "sample_ok",
    )


# ---------------------------------------------------------------------------
# Round-2 additions: oracle coverage for the operators that were pytest-only
# in round 1 (VERDICT.md "Next round" #1) — J6, A15, P8, P11, and
# order-sensitive variants of O2-O5 (each ordering wrapped in a LIMIT so the
# driver's order-insensitive hash checks the SORT through the selected set).
# ---------------------------------------------------------------------------


#: Staged derived-battle tables, keyed by (session id, sf dir). The deck
#: derivation (two F.transform passes over a 121-literal name array per
#: row, plus the md5 deck keys) dominates every cr_*/o2-o5 query's cost and
#: is IDENTICAL across them, so it is computed once and persisted — each
#: query then starts from materialized arrays and only pays its own
#: classify/agg. This is the "stage the synthetic decks once" design:
#: at scale it is a one-pass staging write shared by a dozen readers
#: instead of twelve re-derivations of the same expensive projection.
_STAGED_BATTLES: dict[tuple[int, str], DataFrame] = {}


def _battles_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared derived battle table, staged + persisted on first use:
    deck(7,0) vs deck(11,5), the alternate deck(3,2) used by the exact-deck
    grouping, result, and the identity columns the meta queries need."""
    k = (id(spark), sf_dir)
    df = _STAGED_BATTLES.get(k)
    if df is None:
        o = _spread(_t(spark, sf_dir, "orders"))
        df = o.select(
            F.col("o_orderdate").alias("battle_time"),
            F.concat(F.lit("#P"), F.col("o_custkey").cast("string")).alias(
                "player_tag"
            ),
            _deck_col(F.col("o_orderkey"), 7, 0).alias("my_cards"),
            _deck_col(F.col("o_orderkey"), 11, 5).alias("opp_cards"),
            _deck_col(F.col("o_orderkey"), 3, 2).alias("alt_cards"),
            _result_col().alias("result"),
            F.lit("Ranked1v1").alias("mode_name"),
        ).persist()
        df.count()  # materialize once; every cr_*/o* query reads from here
        _STAGED_BATTLES[k] = df
    return df


def _battles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deck(7,0) vs deck(11,5) + result — the minimal battle projection."""
    return _battles_full(spark, sf_dir).select("my_cards", "opp_cards", "result")


_RESULT_SQL = """CASE WHEN o.o_orderstatus = 'F' THEN 'win'
                    WHEN o.o_orderstatus = 'O' THEN 'loss'
                    ELSE 'draw' END"""

#: opponent-deck stats CTE chain shared by the J6/O5 oracles
_J6_STATS_SQL = f"""
    opp_rel AS ({{opp_rel}}),
    decks AS (
        SELECT o_orderkey,
               md5(array_to_string(list_sort(list(name)), '|')) AS deck_key
        FROM opp_rel GROUP BY o_orderkey
    ),
    battles AS (
        SELECT d.deck_key, {_RESULT_SQL} AS result
        FROM decks d JOIN orders o ON d.o_orderkey = o.o_orderkey
    ),
    stats AS (
        SELECT deck_key,
               COUNT(*) AS games,
               SUM(CASE WHEN result = 'win'  THEN 1 ELSE 0 END) AS wins,
               SUM(CASE WHEN result = 'loss' THEN 1 ELSE 0 END) AS losses,
               SUM(CASE WHEN result NOT IN ('win','loss') THEN 1 ELSE 0 END) AS draws,
               SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS wr
        FROM battles GROUP BY deck_key
    ),
    overall AS (
        SELECT SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS owr
        FROM battles
    )
"""


def _j6_shape(df: DataFrame, role: str) -> DataFrame:
    return df.select(
        F.lit(role).alias("role"),
        F.md5(F.concat_ws("|", "deck")).alias("deck_key"),
        F.col("games").cast("bigint").alias("games"),
        F.col("wins").cast("bigint").alias("wins"),
        F.col("losses").cast("bigint").alias("losses"),
        F.col("draws").cast("bigint").alias("draws"),
        F.round("win_rate", 4).alias("win_rate"),
    )


def _overall_win_rate(battles: DataFrame) -> float:
    """Driver-boundary scalar, as in the reference (the user summary feeds
    the tough/easy thresholds). Plain int division in Python — bit-identical
    to the engines' double division on the same exact integers."""
    row = battles.agg(
        F.sum(F.when(F.col("result") == "win", 1).otherwise(0)).alias("w"),
        F.count(F.lit(1)).alias("g"),
    ).collect()[0]
    return (row["w"] / row["g"]) if row["g"] else 0.0


@register(
    "cr_j6_tough_easy_split",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    {_J6_STATS_SQL.format(opp_rel=_decks_sql(11, 5, 'opp'))}
    SELECT 'tough' AS role, deck_key,
           CAST(games AS BIGINT) AS games, CAST(wins AS BIGINT) AS wins,
           CAST(losses AS BIGINT) AS losses, CAST(draws AS BIGINT) AS draws,
           ROUND(wr, 4) AS win_rate
    FROM stats, overall WHERE wr <= owr
    UNION ALL
    SELECT 'easy' AS role, deck_key,
           CAST(games AS BIGINT), CAST(wins AS BIGINT),
           CAST(losses AS BIGINT), CAST(draws AS BIGINT),
           ROUND(wr, 4)
    FROM stats, overall WHERE wr >= owr
    """,
)
def cr_j6_tough_easy_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 cross-engine: the production ``compute_user_deck_matchups`` —
    per-opponent-deck stats, two INDEPENDENT threshold filters against the
    overall win rate (a deck whose WR equals the overall WR lands in BOTH
    lists — the reference quirk, ``user_analytics.py:99-175``). Deck key is
    md5-of-sorted-names for engine comparability."""
    from clashroyale_datapipeline_agent_spark.operators.battle_aggs import (
        compute_user_deck_matchups,
    )

    battles = _battles(spark, sf_dir)
    overall = _overall_win_rate(battles)
    tough, easy = compute_user_deck_matchups(battles, overall, min_games=1)
    return _j6_shape(tough, "tough").unionByName(_j6_shape(easy, "easy"))


@register(
    "o5_tough_order_topk",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    {_J6_STATS_SQL.format(opp_rel=_decks_sql(11, 5, 'opp'))}
    SELECT deck_key,
           CAST(games AS BIGINT) AS games, CAST(wins AS BIGINT) AS wins,
           CAST(losses AS BIGINT) AS losses, CAST(draws AS BIGINT) AS draws,
           ROUND(wr, 4) AS win_rate
    FROM stats, overall
    WHERE wr <= owr
    ORDER BY ROUND(wr, 4) ASC, games ASC, deck_key ASC
    LIMIT 8
    """,
)
def o5_tough_order_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 under a LIMIT: the tough list's ascending (win_rate, games) order
    decides which rows survive, so the hash checks the sort. Tiebreak is the
    md5 deck key (engine-comparable stand-in for the reference's
    insertion-order-stable Python sort — SURVEY.md §7.4 risk #3)."""
    from clashroyale_datapipeline_agent_spark.operators.battle_aggs import (
        compute_user_deck_matchups,
    )

    battles = _battles(spark, sf_dir)
    overall = _overall_win_rate(battles)
    tough, _ = compute_user_deck_matchups(battles, overall, min_games=1)
    return (
        _j6_shape(tough, "tough")
        .drop("role")
        .orderBy(F.asc("win_rate"), F.asc("games"), F.asc("deck_key"))
        .limit(8)
    )


@register(
    "cr_a15_combined_type_counts",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    my_rel AS ({_decks_sql(7, 0, 'my')}),
    opp_rel AS ({_decks_sql(11, 5, 'opp')}),
    my_types AS ({_classify_sql('my_rel')}),
    opp_types AS ({_classify_sql('opp_rel')}),
    all_types AS (
        SELECT deck_type FROM my_types
        UNION ALL
        SELECT deck_type FROM opp_types
    ),
    counts AS (SELECT deck_type, COUNT(*) AS c FROM all_types GROUP BY deck_type),
    archetypes(deck_type) AS (
        VALUES ('Siege'), ('Bait'), ('Cycle'), ('Bridge Spam'), ('Beatdown'), ('Hybrid')
    )
    SELECT LOWER(a.deck_type) AS deck_type,
           CAST(COALESCE(c.c, 0) AS BIGINT) AS cnt
    FROM archetypes a LEFT JOIN counts c ON a.deck_type = c.deck_type
    """,
)
def cr_a15_combined_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 cross-engine: my+opp archetype counts, zero-backfilled over all
    six archetypes and keyed by LOWERCASED archetype — the Phase-0 stopping
    check's view (``meta_workflow.py:401-415``). Planned through the fused
    single-scan shape (``combined_type_counts_single_scan``): one battles
    scan, classify both sides in one projection, explode-double, 6-key
    groupBy — not the reference's two per-side value_counts passes."""
    from clashroyale_datapipeline_agent_spark.operators.meta import (
        combined_type_counts_single_scan,
    )

    battles = _battles(spark, sf_dir)
    out = combined_type_counts_single_scan(battles)
    return out.select("deck_type", F.col("cnt").cast("bigint").alias("cnt"))


@register(
    "cr_p8_mirror_exclusion",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    my_cards_rel AS ({_decks_sql(7, 0, 'my')}),
    opp_cards_rel AS ({_decks_sql(11, 5, 'opp')}),
    my_types AS ({_classify_sql('my_cards_rel')}),
    opp_types AS ({_classify_sql('opp_cards_rel')}),
    battles AS (
        SELECT m.deck_type AS my_type, p.deck_type AS opp_type,
               {_RESULT_SQL} AS result
        FROM orders o
        JOIN my_types m  ON m.o_orderkey = o.o_orderkey
        JOIN opp_types p ON p.o_orderkey = o.o_orderkey
    ),
    doubled AS (
        SELECT my_type AS deck_type, opp_type, result FROM battles
        UNION ALL
        SELECT opp_type AS deck_type, my_type AS opp_type,
               CASE WHEN result = 'win' THEN 'loss'
                    WHEN result = 'loss' THEN 'win' ELSE result END AS result
        FROM battles
    )
    SELECT deck_type, opp_type,
           CAST(COUNT(*) AS BIGINT) AS games,
           CAST(SUM(CASE WHEN result = 'win'  THEN 1 ELSE 0 END) AS BIGINT) AS wins,
           ROUND(SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS win_rate
    FROM doubled
    WHERE deck_type <> opp_type
    GROUP BY deck_type, opp_type
    """,
)
def cr_p8_mirror_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 cross-engine: the production ``exclude_mirror_matchups`` filter
    over the production symmetric matrix — mirrors dropped from the plot
    view while totals keep them (``meta_workflow.py:127-137``)."""
    from clashroyale_datapipeline_agent_spark.operators.meta import (
        compute_symmetric_matchups,
        exclude_mirror_matchups,
    )

    battles = _battles(spark, sf_dir)
    out = exclude_mirror_matchups(compute_symmetric_matchups(battles))
    return out.select(
        "deck_type",
        "opp_type",
        F.col("games").cast("bigint").alias("games"),
        F.col("wins").cast("bigint").alias("wins"),
        F.round("win_rate", 4).alias("win_rate"),
    )


@register(
    "p11_alias_reconciliation",
    """
    SELECT o_orderkey,
           COALESCE(CASE WHEN o_orderkey % 3 = 0 THEN 'cycle' END,
                    CASE WHEN o_orderkey % 2 = 0 THEN 'siege' ELSE 'hybrid' END)
               AS deck_type,
           'c' || CAST(o_orderkey % 5 AS VARCHAR) AS card
    FROM orders o
    """,
)
def p11_alias_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 cross-engine: production ``reconcile_column_aliases`` — accept any
    of several candidate columns for a target (``deck_type | type |
    my_deck_type``; ``card | card_name``), coalescing whichever exist and
    dropping the aliases (``user_workflow.py:46-74``)."""
    from clashroyale_datapipeline_agent_spark.operators.llm_tables import (
        reconcile_column_aliases,
    )

    o = _t(spark, sf_dir, "orders")
    df = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("cycle")).alias("type"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("siege"))
        .otherwise(F.lit("hybrid"))
        .alias("my_deck_type"),
        F.concat(F.lit("c"), (F.col("o_orderkey") % 5).cast("string")).alias(
            "card_name"
        ),
    )
    df = reconcile_column_aliases(df, "deck_type", ["deck_type", "type", "my_deck_type"])
    df = reconcile_column_aliases(df, "card", ["card", "card_name"])
    return df.select("o_orderkey", "deck_type", "card")


@register(
    "o2_worst_first_topk",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    my_rel AS ({_decks_sql(7, 0, 'my')}),
    card_rows AS (
        SELECT d.name AS card, {_RESULT_SQL} AS result
        FROM my_rel d JOIN orders o ON d.o_orderkey = o.o_orderkey
    ),
    stats AS (
        SELECT card,
               COUNT(*) AS games,
               SUM(CASE WHEN result = 'win'  THEN 1 ELSE 0 END) AS wins,
               SUM(CASE WHEN result = 'loss' THEN 1 ELSE 0 END) AS losses,
               SUM(CASE WHEN result NOT IN ('win','loss') THEN 1 ELSE 0 END) AS draws,
               SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS wr
        FROM card_rows GROUP BY card HAVING COUNT(*) >= 3
    )
    SELECT card, CAST(games AS BIGINT) AS games, CAST(wins AS BIGINT) AS wins,
           CAST(losses AS BIGINT) AS losses, CAST(draws AS BIGINT) AS draws,
           ROUND(wr, 4) AS win_rate
    FROM stats
    ORDER BY wr ASC, games ASC, card DESC
    LIMIT 15
    """,
)
def o2_worst_first_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 under a LIMIT: production ``compute_card_performance`` (A2
    explode + counter agg + HAVING) ordered by the production
    ``order_worst_first`` (the reference's ``reversed(desc)`` dual =
    ascending with desc-key tiebreak); the LIMIT makes the hash
    order-sensitive."""
    from clashroyale_datapipeline_agent_spark.operators.battle_aggs import (
        compute_card_performance,
        order_worst_first,
    )

    battles = _battles(spark, sf_dir).select("my_cards", "result")
    stats = compute_card_performance(battles, "my_cards", min_games=3)
    out = order_worst_first(stats).limit(15)
    return out.select(
        "card",
        F.col("games").cast("bigint").alias("games"),
        F.col("wins").cast("bigint").alias("wins"),
        F.col("losses").cast("bigint").alias("losses"),
        F.col("draws").cast("bigint").alias("draws"),
        F.round("win_rate", 4).alias("win_rate"),
    )


@register(
    "o3_meta_summary_order",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    my_rel AS ({_decks_sql(7, 0, 'my')}),
    opp_rel AS ({_decks_sql(11, 5, 'opp')}),
    my_types AS ({_classify_sql('my_rel')}),
    opp_types AS ({_classify_sql('opp_rel')}),
    labeled AS (
        SELECT m.deck_type AS my_type, p.deck_type AS opp_type,
               {_RESULT_SQL} AS result
        FROM orders o
        JOIN my_types m  ON m.o_orderkey = o.o_orderkey
        JOIN opp_types p ON p.o_orderkey = o.o_orderkey
    ),
    participants AS (
        SELECT my_type AS deck_type, result FROM labeled
        UNION ALL
        SELECT opp_type AS deck_type,
               CASE WHEN result = 'win' THEN 'loss'
                    WHEN result = 'loss' THEN 'win' ELSE result END AS result
        FROM labeled
    ),
    agg AS (
        SELECT deck_type,
               COUNT(*) AS games,
               SUM(CASE WHEN result = 'win'  THEN 1 ELSE 0 END) AS wins,
               SUM(CASE WHEN result = 'loss' THEN 1 ELSE 0 END) AS losses,
               SUM(CASE WHEN result = 'draw' THEN 1 ELSE 0 END) AS draws
        FROM participants GROUP BY deck_type
    )
    SELECT deck_type,
           CAST(games AS BIGINT) AS games,
           ROUND(games * 1.0 / SUM(games) OVER (), 4) AS meta_share,
           CAST(wins AS BIGINT) AS wins,
           CAST(losses AS BIGINT) AS losses,
           CAST(draws AS BIGINT) AS draws,
           ROUND(wins * 1.0 / games, 4) AS win_rate,
           games >= 50 AS sample_ok
    FROM agg
    ORDER BY games DESC, deck_type ASC
    LIMIT 4
    """,
)
def o3_meta_summary_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 under a LIMIT + A10 direct oracle: production
    ``build_participant_table`` (A9 POV doubling) into
    ``build_meta_deck_summary`` (games-desc ordering, share window,
    sample_ok); the LIMIT makes the games-desc order decide the
    surviving archetypes."""
    from clashroyale_datapipeline_agent_spark.operators.meta import (
        build_meta_deck_summary,
        build_participant_table,
    )

    battles = _battles_full(spark, sf_dir)
    parts = build_participant_table(battles)
    out = build_meta_deck_summary(parts, min_games_per_type=50).limit(4)
    return out.select(
        "deck_type",
        F.col("games").cast("bigint").alias("games"),
        F.round("meta_share", 4).alias("meta_share"),
        F.col("wins").cast("bigint").alias("wins"),
        F.col("losses").cast("bigint").alias("losses"),
        F.col("draws").cast("bigint").alias("draws"),
        F.round("win_rate", 4).alias("win_rate"),
        "sample_ok",
    )


@register(
    "o4_matchup_order_topk",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    my_cards_rel AS ({_decks_sql(7, 0, 'my')}),
    opp_cards_rel AS ({_decks_sql(11, 5, 'opp')}),
    my_types AS ({_classify_sql('my_cards_rel')}),
    opp_types AS ({_classify_sql('opp_cards_rel')}),
    matchups AS (
        SELECT m.deck_type AS my_deck_type, p.deck_type AS opp_deck_type,
               {_RESULT_SQL} AS result
        FROM orders o
        JOIN my_types m  ON m.o_orderkey = o.o_orderkey
        JOIN opp_types p ON p.o_orderkey = o.o_orderkey
    ),
    agg AS (
        SELECT my_deck_type, opp_deck_type,
               COUNT(*) AS games,
               SUM(CASE WHEN result = 'win'  THEN 1 ELSE 0 END) AS wins,
               SUM(CASE WHEN result = 'loss' THEN 1 ELSE 0 END) AS losses,
               SUM(CASE WHEN result NOT IN ('win','loss') THEN 1 ELSE 0 END) AS draws,
               SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS wr
        FROM matchups
        GROUP BY my_deck_type, opp_deck_type
        HAVING COUNT(*) >= 1
    )
    SELECT my_deck_type, opp_deck_type,
           CAST(games AS BIGINT) AS games, CAST(wins AS BIGINT) AS wins,
           CAST(losses AS BIGINT) AS losses, CAST(draws AS BIGINT) AS draws,
           ROUND(wr, 4) AS win_rate
    FROM agg
    ORDER BY games DESC, wr DESC, my_deck_type ASC, opp_deck_type ASC
    LIMIT 10
    """,
)
def o4_matchup_order_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 under a LIMIT: production ``order_matchups`` — (games, win_rate)
    desc with key tiebreaks (``user_analytics.py:94-96``) over the
    production A6 matrix; the LIMIT makes the order decide the set."""
    from clashroyale_datapipeline_agent_spark.operators.battle_aggs import (
        compute_deck_type_matchups,
        order_matchups,
        with_deck_types,
    )

    battles = _battles(spark, sf_dir)
    mm = compute_deck_type_matchups(with_deck_types(battles), min_games=1)
    out = order_matchups(mm).limit(10)
    return out.select(
        "my_deck_type",
        "opp_deck_type",
        F.col("games").cast("bigint").alias("games"),
        F.col("wins").cast("bigint").alias("wins"),
        F.col("losses").cast("bigint").alias("losses"),
        F.col("draws").cast("bigint").alias("draws"),
        F.round("win_rate", 4).alias("win_rate"),
    )


@register(
    "j2_elixir_backfill",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    raw AS (
        SELECT name,
               CASE WHEN idx % 7 = 0 THEN NULL ELSE (idx % 9) + 1 END AS elixirCost
        FROM cards WHERE idx % 3 <> 0
    )
    SELECT c.name,
           CAST(CASE WHEN r.name IS NOT NULL THEN r.elixirCost ELSE c.elixir END
                AS BIGINT) AS elixir,
           CASE WHEN r.name IS NOT NULL THEN 'updated' ELSE 'missing' END
               AS backfill_status
    FROM cards c LEFT JOIN raw r ON c.name = r.name
    """,
)
def j2_elixir_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 cross-engine: the production ``backfill_elixir`` dimension refresh
    (``update_cardsdata.py:36-52`` parity) against a derived raw dump that
    exercises all three paths — matched-with-value, matched-with-NULL (the
    verbatim overwrite, NOT coalesce), and missing (keeps old elixir)."""
    from clashroyale_datapipeline_agent_spark.operators.dim_maintenance import (
        backfill_elixir,
    )
    from clashroyale_datapipeline_agent_spark.sources.readers import (
        load_card_metadata,
    )

    meta = load_card_metadata(spark)
    raw_rows = [
        (r["name"], None if i % 7 == 0 else (i % 9) + 1)
        for i, r in enumerate(_ROWS)
        if i % 3 != 0
    ]
    raw = spark.createDataFrame(raw_rows, "name string, elixirCost int")
    out = backfill_elixir(meta, raw)
    return out.select(
        "name",
        F.col("elixir").cast("bigint").alias("elixir"),
        "backfill_status",
    )


# ---------------------------------------------------------------------------
# Round-3 additions: oracle rows for F7 (engine-side context rendering) and
# the stateful floor monitor's terminal state (VERDICT r2 "Next round" #3/#7).
# ---------------------------------------------------------------------------


@register(
    "f7_context_lines",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    my_cards_rel AS ({_decks_sql(7, 0, 'my')}),
    opp_cards_rel AS ({_decks_sql(11, 5, 'opp')}),
    my_types AS ({_classify_sql('my_cards_rel')}),
    opp_types AS ({_classify_sql('opp_cards_rel')}),
    matchups AS (
        SELECT m.deck_type AS my_deck_type, p.deck_type AS opp_deck_type,
               {_RESULT_SQL} AS result
        FROM orders o
        JOIN my_types m  ON m.o_orderkey = o.o_orderkey
        JOIN opp_types p ON p.o_orderkey = o.o_orderkey
    ),
    reagg AS (
        SELECT my_deck_type AS deck_type,
               COUNT(*) AS games,
               SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) AS wins
        FROM matchups GROUP BY my_deck_type
    )
    SELECT printf('- %s: %d/%d wins (%.2f)',
                  deck_type, CAST(wins AS BIGINT), CAST(games AS BIGINT),
                  ROUND(wins * 1.0 / games, 2)) AS line
    FROM reagg
    ORDER BY games DESC, deck_type ASC
    LIMIT 5
    """,
)
def f7_context_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 cross-engine: the production engine-side context rendering
    (``qna_router.render_deck_lines`` — ``format_string`` over the top-5
    user deck summary, reference ``phase2_qna_workflow.py:80-83``) vs a
    DuckDB ``printf`` twin. The LIMIT makes the games-desc order part of
    the check; win_rate is pre-rounded to 2dp in both engines so ``%.2f``
    formats an engine-stable value."""
    from clashroyale_datapipeline_agent_spark.operators.battle_aggs import (
        compute_deck_type_matchups,
        with_deck_types,
    )
    from clashroyale_datapipeline_agent_spark.operators.meta import (
        build_user_deck_summary,
    )
    from clashroyale_datapipeline_agent_spark.plans.qna_router import (
        render_deck_lines,
    )

    battles = _battles(spark, sf_dir)
    mm = compute_deck_type_matchups(with_deck_types(battles), min_games=1)
    uds = build_user_deck_summary(mm, min_games_per_deck=20)
    return render_deck_lines(uds, limit=5)


@register(
    "floor_monitor_batch_twin",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    my_rel AS ({_decks_sql(7, 0, 'my')}),
    opp_rel AS ({_decks_sql(11, 5, 'opp')}),
    my_types AS ({_classify_sql('my_rel')}),
    opp_types AS ({_classify_sql('opp_rel')}),
    labeled AS (
        SELECT m.deck_type AS my_type, p.deck_type AS opp_type
        FROM orders o
        JOIN my_types m  ON m.o_orderkey = o.o_orderkey
        JOIN opp_types p ON p.o_orderkey = o.o_orderkey
    ),
    participants AS (
        SELECT my_type AS deck_type FROM labeled
        UNION ALL
        SELECT opp_type AS deck_type FROM labeled
    )
    SELECT deck_type,
           CAST(COUNT(*) AS BIGINT) AS games,
           COUNT(*) >= 200 AS crossed
    FROM participants
    GROUP BY deck_type
    """,
)
def floor_monitor_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 cross-engine: the TERMINAL state of the streaming archetype
    floor monitor (``streaming/stateful.py:archetype_floor_monitor`` —
    per-key running count, crossed flag at the 200-game floor) equals a
    batch count over the same participant stream. The incremental
    emit-once-on-crossing behavior is pytest-covered (``test_streaming``);
    this row pins the state arithmetic cross-engine."""
    from clashroyale_datapipeline_agent_spark.operators.meta import (
        build_participant_table,
    )

    parts = build_participant_table(_battles_full(spark, sf_dir))
    return parts.groupBy("deck_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("games"),
        (F.count(F.lit(1)) >= 200).alias("crossed"),
    )


# ---------------------------------------------------------------------------
# Round-4: end-to-end Phase-0 -> Phase-2 composition under the oracle gate
# (VERDICT r3 "Next round" #9).
# ---------------------------------------------------------------------------


@register(
    "e2e_user_context_render",
    f"""
    WITH cards(idx, name, elixir, is_bait, is_spam, is_tank) AS (
        VALUES
          {_cards_values_sql()}
    ),
    my_cards_rel AS ({_decks_sql(7, 0, 'my')}),
    opp_cards_rel AS ({_decks_sql(11, 5, 'opp')}),
    my_types AS ({_classify_sql('my_cards_rel')}),
    opp_types AS ({_classify_sql('opp_cards_rel')}),
    battles AS (
        SELECT m.deck_type AS my_deck_type, p.deck_type AS opp_deck_type,
               {_RESULT_SQL} AS result
        FROM orders o
        JOIN my_types m  ON m.o_orderkey = o.o_orderkey
        JOIN opp_types p ON p.o_orderkey = o.o_orderkey
    ),
    summary AS (
        SELECT COUNT(*) AS games_played,
               SUM(CASE WHEN result = 'win'  THEN 1 ELSE 0 END) AS wins,
               SUM(CASE WHEN result = 'loss' THEN 1 ELSE 0 END) AS losses,
               SUM(CASE WHEN result = 'draw' THEN 1 ELSE 0 END) AS draws
        FROM battles
    ),
    summary_lines(ord, line) AS (
        SELECT 1, printf('games_played: %d', CAST(games_played AS BIGINT)) FROM summary
        UNION ALL SELECT 2, printf('wins: %d', CAST(wins AS BIGINT)) FROM summary
        UNION ALL SELECT 3, printf('losses: %d', CAST(losses AS BIGINT)) FROM summary
        UNION ALL SELECT 4, printf('draws: %d', CAST(draws AS BIGINT)) FROM summary
        UNION ALL SELECT 5, printf('win_rate: %.4f',
                                   ROUND(wins * 1.0 / games_played, 4)) FROM summary
        UNION ALL SELECT 6, 'Your deck performance:'
    ),
    reagg AS (
        SELECT my_deck_type AS deck_type,
               COUNT(*) AS games,
               SUM(CASE WHEN result = 'win' THEN 1 ELSE 0 END) AS wins
        FROM battles GROUP BY my_deck_type
    ),
    deck_top AS (
        SELECT deck_type, games, wins,
               ROW_NUMBER() OVER (ORDER BY games DESC, deck_type ASC) AS rn
        FROM reagg
        ORDER BY games DESC, deck_type ASC
        LIMIT 5
    ),
    deck_lines AS (
        SELECT 6 + rn AS ord,
               printf('- %s: %d/%d wins (%.2f)',
                      deck_type, CAST(wins AS BIGINT), CAST(games AS BIGINT),
                      ROUND(wins * 1.0 / games, 2)) AS line
        FROM deck_top
    )
    SELECT CAST(ord AS BIGINT) AS ord, line FROM summary_lines
    UNION ALL
    SELECT CAST(ord AS BIGINT) AS ord, line FROM deck_lines
    ORDER BY ord
    """,
)
def e2e_user_context_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Phase-0 → Phase-2 lineage in ONE DataFrame, proving the
    pipeline COMPOSES, not just its pieces: the staged battle store feeds
    the A1 global summary, the A14 metric/value melt, the A6 matchup
    matrix, the A12 user-deck re-aggregation, and the F7 engine-side
    rendering (``render_deck_lines`` + the ``"%s: %s"`` form of
    ``qna_router.summary_lines``, reference ``phase2_qna_workflow.py:68-86``)
    — emitted as the ordered coach-context lines the QnA router ships to
    the LLM. Counter lines format via the melt's string values; win_rate
    renders ``%.4f`` over a pre-rounded value (the f7 engine-stability
    trick). The oracle replays the whole chain as stacked CTEs."""
    from clashroyale_datapipeline_agent_spark.operators.battle_aggs import (
        compute_deck_type_matchups,
        compute_summary,
        with_deck_types,
    )
    from clashroyale_datapipeline_agent_spark.operators.llm_tables import (
        summary_to_metric_value,
    )
    from clashroyale_datapipeline_agent_spark.operators.meta import (
        build_user_deck_summary,
    )
    from clashroyale_datapipeline_agent_spark.plans.qna_router import (
        render_deck_lines,
    )

    # a projection of the staged table, not the persisted frame itself: the
    # operators bind their input as a temporary view, and dropping a view
    # whose plan is a cached plan uncaches it
    battles = _battles(spark, sf_dir)

    # Phase-1: A1 summary -> A14 melt with engine-stable value strings
    summary = compute_summary(battles)
    stable = summary.select(
        F.col("games_played").cast("long").alias("games_played"),
        F.col("wins").cast("long").alias("wins"),
        F.col("losses").cast("long").alias("losses"),
        F.col("draws").cast("long").alias("draws"),
        F.format_string(
            "%.4f", F.round(F.col("win_rate").cast("double"), 4)
        ).alias("win_rate"),
    )
    melted = summary_to_metric_value(stable)
    ord_of = (
        F.when(F.col("metric") == "games_played", 1)
        .when(F.col("metric") == "wins", 2)
        .when(F.col("metric") == "losses", 3)
        .when(F.col("metric") == "draws", 4)
        .otherwise(5)
    )
    summary_lines = melted.select(
        ord_of.cast("bigint").alias("ord"),
        F.format_string("%s: %s", "metric", "value").alias("line"),
    ).unionByName(
        spark.range(1).select(
            F.lit(6).cast("bigint").alias("ord"),
            F.lit("Your deck performance:").alias("line"),
        )
    )

    # Phase-1/2: A6 matrix -> A12 re-agg -> F7 top-5 deck lines
    mm = compute_deck_type_matchups(with_deck_types(battles), min_games=1)
    uds = build_user_deck_summary(mm, min_games_per_deck=20)
    deck_lines = render_deck_lines(uds, limit=5, with_ordinal=True).select(
        (F.col("line_no") + 6).cast("bigint").alias("ord"), "line"
    )

    return summary_lines.unionByName(deck_lines).orderBy("ord")
