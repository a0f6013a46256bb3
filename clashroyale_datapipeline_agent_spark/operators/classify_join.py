"""Deck classification via broadcast dimension join — the big-dimension
alternative to the literal-expression classifier (SURVEY.md §2.3 J1).

``functions/cards.classify_deck_col`` inlines the 121-card dimension into
the plan as a map literal in its generated SQL text (zero shuffle — the
default). This variant is the shape you need when the dimension does NOT
fit in literals (say, a 10M-row item table):

    explode(cards) → broadcast left-outer join dim → groupBy(row id)
    re-aggregating the classifier features → cascade

Costs one explode (map-side) and one shuffle keyed on the row id (the
exploded rows carry the original columns so no self-join back is needed —
project narrow before classifying very wide rows); feature lookup becomes
an O(1) hash probe instead of an O(|dim|) literal-map scan, so the
crossover favors this path as |dim| grows. Run ``tools/classify_bench.py``
for the measured comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.functions.cards import (
    ARCHETYPE_BAIT,
    ARCHETYPE_BEATDOWN,
    ARCHETYPE_BRIDGE_SPAM,
    ARCHETYPE_CYCLE,
    ARCHETYPE_HYBRID,
    ARCHETYPE_SIEGE,
)


def classify_with_dimension_join(
    battles: DataFrame,
    card_dim: DataFrame,
    *,
    cards_col: str = "my_cards",
    out_col: str = "deck_type",
) -> DataFrame:
    """Append ``out_col`` to ``battles`` using a broadcast-join classifier.

    ``card_dim`` needs columns (name, elixir, is_big_tank, is_bait_piece,
    is_bridge_spam_piece). Preserves all original columns. Reference
    semantics identical to ``classify_deck_col`` (divide-by-8 average,
    missing-elixir drop, empty-resolve defaults, priority cascade).
    """
    # Single-lineage design: the row id is used only as a grouping key inside
    # ONE derivation chain — never joined across two independently-computed
    # branches of `keyed`. (A two-branch self-join on monotonically_increasing_id
    # is unsafe: task retries / speculative execution / AQE re-planning can
    # recompute the branches with different ids and silently mis-assign rows.)
    # The original columns ride through the explode and are recovered with
    # first() — all exploded copies of a row carry identical values, so
    # first() is deterministic here despite its general nondeterminism.
    orig_cols = battles.columns
    keyed = battles.withColumn("_rid", F.monotonically_increasing_id())
    exploded = keyed.select(
        "_rid", *orig_cols, F.explode_outer(cards_col).alias("_card_name")
    )
    dim = card_dim.select(
        F.col("name").alias("_card_name"),
        "elixir",
        "is_big_tank",
        "is_bait_piece",
        "is_bridge_spam_piece",
    )
    joined = exploded.join(F.broadcast(dim), "_card_name", "left")
    feats = joined.groupBy("_rid").agg(
        *[F.first(c).alias(c) for c in orig_cols],
        F.count("_card_name").alias("n_cards"),
        F.sort_array(
            F.collect_list("elixir")  # nulls (unknown/no-elixir) drop out
        ).alias("elixirs"),
        F.max(F.when(F.col("_card_name") =="X-Bow", True).otherwise(False)).alias("has_xbow"),
        F.max(F.when(F.col("_card_name") =="Mortar", True).otherwise(False)).alias("has_mortar"),
        F.sum(F.when(F.coalesce("is_bait_piece", F.lit(False)), 1).otherwise(0)).alias("bait"),
        F.sum(F.when(F.coalesce("is_bridge_spam_piece", F.lit(False)), 1).otherwise(0)).alias("spam"),
        F.sum(F.when(F.coalesce("is_big_tank", F.lit(False)), 1).otherwise(0)).alias("tank"),
    )
    n_elix = F.size("elixirs")
    avg_elixir = F.when(n_elix == 0, F.lit(3.0)).otherwise(
        F.aggregate("elixirs", F.lit(0.0), lambda a, x: a + x) / F.lit(8.0)
    )
    four_cycle = F.when(n_elix == 0, F.lit(12.0)).otherwise(
        F.aggregate(F.slice("elixirs", 1, 4), F.lit(0.0), lambda a, x: a + x)
    )
    return feats.select(
        *orig_cols,
        F.when(F.col("n_cards") == 0, ARCHETYPE_HYBRID)
        .when(F.col("has_xbow") | F.col("has_mortar"), ARCHETYPE_SIEGE)
        .when(F.col("bait") >= 3, ARCHETYPE_BAIT)
        .when(four_cycle <= 9, ARCHETYPE_CYCLE)
        .when(F.col("spam") >= 2, ARCHETYPE_BRIDGE_SPAM)
        .when((F.col("tank") >= 1) & (avg_elixir >= 3.5), ARCHETYPE_BEATDOWN)
        .otherwise(ARCHETYPE_HYBRID)
        .alias(out_col),
    )
