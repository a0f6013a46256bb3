"""Battle filter + normalization front end (SURVEY.md §2.2 P1-P6).

The reference walks raw battlelog dicts row-at-a-time
(``/root/reference/src/analytics/battle_filters.py:100-124``). Here the same
semantics are one SQL statement, a filtered projection that Catalyst fuses
into one whole-stage-codegen'd scan stage; on parquet/JSON sources the
mode-id predicate and the 5-of-~30 column projection push into the scan.
The statement text is generated once per process.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame

from clashroyale_datapipeline_agent_spark.functions.common import sql_str
from clashroyale_datapipeline_agent_spark.schemas import (
    BATTLE_TIME_FORMAT,
    RANKED_1V1_MODE_IDS,
)


def _side_cards_sql(side: str) -> str:
    """Card names of one participant (``side`` is SQL text for its struct):
    keep entries whose RAW name is non-null and non-empty, then trim.

    Parity: ``battle_filters.py:76-86`` — the truthiness filter runs on the
    un-stripped name, so a whitespace-only name survives as ``""`` after the
    strip. Preserved bit-for-bit (it only matters for malformed feeds, but
    the oracle fixtures exercise it).
    """
    kept = f"filter(coalesce({side}.cards, array()), c -> c.name IS NOT NULL AND c.name != '')"
    return f"transform({kept}, c -> trim(c.name))"


@lru_cache(maxsize=1)
def _ranked_1v1_sql() -> str:
    """The P1 filter and P2/P3 projection over the raw view ``{raw}``.

    - P1 (``is_ranked_1v1_battle``, ``battle_filters.py:10-35``): team and
      opponent must be 1-element lists (null array => not a list =>
      reject) and ``gameMode.id`` must be whitelisted (null => reject, as
      ``None not in whitelist``).
    - P3 (``battle_filters.py:38-49``): crown comparison -> win/loss/draw;
      missing crowns default to 0 (``:71-72``).
    - ``battle_ts`` is the parsed CR timestamp — the reference keeps the
      string opaque and trusts API ordering (``meta_workflow.py:329-331``);
      we make time-ordering explicit.
    - ``mode_name`` mirrors the reference's ``or`` chain
      (``battle_filters.py:88-89``): empty-string gameMode.name falls
      through to ``type``, and a missing ``type`` yields ``""`` (not null).
    """
    my_side, opp_side = "element_at(team, 1)", "element_at(opponent, 1)"
    my_crowns = f"coalesce({my_side}.crowns, 0)"
    opp_crowns = f"coalesce({opp_side}.crowns, 0)"
    mode_ids = ", ".join(str(int(i)) for i in RANKED_1V1_MODE_IDS)
    return f"""
        SELECT battleTime AS battle_time,
               to_timestamp(battleTime, {sql_str(BATTLE_TIME_FORMAT)}) AS battle_ts,
               CASE WHEN {my_crowns} > {opp_crowns} THEN 'win'
                    WHEN {my_crowns} < {opp_crowns} THEN 'loss'
                    ELSE 'draw' END AS result,
               {_side_cards_sql(my_side)} AS my_cards,
               {_side_cards_sql(opp_side)} AS opp_cards,
               coalesce(CASE WHEN gameMode.name != '' THEN gameMode.name END,
                        CASE WHEN `type` != '' THEN `type` END,
                        '') AS mode_name,
               player_tag
        FROM {{raw}}
        WHERE size(team) = 1 AND size(opponent) = 1 AND gameMode.id IN ({mode_ids})
    """


def filter_and_normalize_ranked_1v1(raw: DataFrame) -> DataFrame:
    """P1-P4 — ranked-1v1 filter fused with the projection of nested raw
    battles to the flat fact schema (``battle_filters.py:100-124``).

    Output: ``battle_time, battle_ts, result, my_cards, opp_cards,
    mode_name, player_tag`` (NORMALIZED_BATTLE). The card lists are never
    null, so the 8-card guard of deck-level stats (P6) is ``size(...) = 8``.
    """
    return raw.sparkSession.sql(_ranked_1v1_sql(), raw=raw)
