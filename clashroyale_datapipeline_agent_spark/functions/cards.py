"""Deck classification (SURVEY.md §2.8 F1 + §2.3 J1) as native expressions.

The reference classifies a deck with a per-row Python dict lookup + rule
cascade (``/root/reference/src/analytics/deck_type.py:38-152``). Here the
121-row card dimension becomes a **map literal** folded into the plan, and
the cascade becomes a ``CASE WHEN`` chain over array expressions — zero
shuffle, zero Python, fully whole-stage-codegen'd. (The broadcast-join
formulation of J1 lives in ``operators/card_stats.py`` where per-card rows
are wanted anyway; for per-deck features the map literal is strictly
better: no explode/re-agg round trip.)

The cascade is generated once per process as SQL text and handed to
``F.expr``: building the same tree from ``F.lit``/``F.transform`` Column
calls cost ~1,700 py4j round trips per deck column (several per map entry,
flag name and lambda), which Phase 1 and Phase 0 paid on every plan they
built. Double literals carry a ``D`` suffix so the expression types equal
the ``F.lit(float)`` ones (a bare ``3.0`` is a DECIMAL in SQL).

Fidelity notes (the subtle bits, per SURVEY.md §7.4):
- avg_elixir divides by 8.0 regardless of how many elixirs resolved
  (``deck_type.py:59``);
- unknown cards and the one null-elixir card are silently dropped from the
  elixir list (``deck_type.py:51-53``);
- if NO elixirs resolve: avg=3.0, four_cycle=12.0 (``deck_type.py:54-57``);
- four-card cycle cost = sum of the 4 cheapest resolved elixirs
  (``deck_type.py:61``);
- X-Bow/Mortar trigger on the card NAME, not a metadata flag
  (``deck_type.py:34-35,65-66``);
- priority: empty->Hybrid; Siege; Bait(>=3); Cycle(<=9); Bridge Spam(>=2);
  Beatdown(tank>=1 & avg>=3.5); Hybrid (``deck_type.py:97-152``).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.functions.common import sql_str
from clashroyale_datapipeline_agent_spark.sources.readers import load_card_metadata_rows

ARCHETYPE_SIEGE = "Siege"
ARCHETYPE_BAIT = "Bait"
ARCHETYPE_CYCLE = "Cycle"
ARCHETYPE_BRIDGE_SPAM = "Bridge Spam"
ARCHETYPE_BEATDOWN = "Beatdown"
ARCHETYPE_HYBRID = "Hybrid"


@lru_cache(maxsize=8)
def classify_deck_sql(cards: str) -> str:
    """The F1 cascade over the deck column ``cards`` as SQL text.

    Mirrors ``_precompute_deck_values`` + ``classify_deck``
    (``deck_type.py:38-152``) including its quirks (see module docstring).
    Only elixir needs a value lookup, so the dimension inlines as a flat
    ``map<string,int>`` (the null-elixir card omitted, same semantics as
    the reference's isinstance-drop); the three boolean flags compile to
    ``IN`` lists (9/22/7 names). Flag counts are per card *instance*
    (duplicates count twice), matching the reference's per-meta iteration —
    hence ``filter`` + ``IN``, not ``array_intersect`` (which would dedup).
    """
    rows = load_card_metadata_rows()
    deck = f"`{cards}`"
    elixir_map = ", ".join(
        f"{sql_str(r['name'])}, {int(r['elixir'])}" for r in rows if r["elixir"] is not None
    )
    elixirs = (
        f"filter(transform({deck}, c -> element_at(map({elixir_map}), c)), e -> e IS NOT NULL)"
    )
    avg_elixir = (
        f"CASE WHEN size({elixirs}) = 0 THEN 3.0D"
        f" ELSE aggregate({elixirs}, 0.0D, (acc, x) -> acc + x) / 8.0D END"
    )
    four_cycle = (
        f"CASE WHEN size({elixirs}) = 0 THEN 12.0D"
        f" ELSE aggregate(slice(array_sort({elixirs}), 1, 4), 0.0D, (acc, x) -> acc + x) END"
    )

    def flag_count(flag: str) -> str:
        names = ", ".join(sql_str(r["name"]) for r in rows if r[flag])
        return f"size(filter({deck}, c -> c IN ({names})))"

    cascade = [
        (f"{deck} IS NULL OR size({deck}) = 0", ARCHETYPE_HYBRID),
        (f"array_contains({deck}, 'X-Bow') OR array_contains({deck}, 'Mortar')", ARCHETYPE_SIEGE),
        (f"{flag_count('is_bait_piece')} >= 3", ARCHETYPE_BAIT),
        (f"{four_cycle} <= 9", ARCHETYPE_CYCLE),
        (f"{flag_count('is_bridge_spam_piece')} >= 2", ARCHETYPE_BRIDGE_SPAM),
        (f"{flag_count('is_big_tank')} >= 1 AND {avg_elixir} >= 3.5D", ARCHETYPE_BEATDOWN),
    ]
    whens = " ".join(f"WHEN {cond} THEN {sql_str(label)}" for cond, label in cascade)
    return f"CASE {whens} ELSE {sql_str(ARCHETYPE_HYBRID)} END"


def classify_deck_col(cards: str) -> Column:
    """Archetype of the ``array<string>`` deck column named ``cards`` — the
    F1 cascade.

    Parity: ``classify_deck`` (``deck_type.py:85-152``). Empty/null deck ->
    Hybrid (``:97-98``; null arrays only arise from malformed rows, which the
    reference would have skipped upstream).
    """
    return F.expr(classify_deck_sql(cards))
