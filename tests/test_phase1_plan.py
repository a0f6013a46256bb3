"""How a player's Phase 1 catalog is planned: one SQL statement per table.

The table schemas are pinned to a snapshot (``phase1_schemas.json``: column
names, types and nullability of the 17 ``run_user_pipeline`` tables), the
build's driver cost to a budget of DataFrames and py4j round trips, and
the temporary views the statements bind must all be gone afterwards.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException

from clashroyale_datapipeline_agent_spark.fixtures import raw_battles_df
from clashroyale_datapipeline_agent_spark.plans.pipeline import (
    run_user_pipeline,
    user_analytics_tables,
)
from tests.conftest import SF_DIR, dataframes_created, py4j_calls

SCHEMAS_PATH = Path(__file__).parent / "phase1_schemas.json"


def test_phase1_schemas_match_snapshot(spark):
    catalog = run_user_pipeline(raw_battles_df(spark, n_players=2, battles_per_player=25, seed=7))
    want = json.loads(SCHEMAS_PATH.read_text())
    assert sorted(catalog) == sorted(want)
    for name, df in catalog.items():
        assert json.loads(df.schema.json()) == want[name], name


def test_phase1_build_budget(spark):
    """One player's build creates at most 20 DataFrames (a classic
    DataFrame runs ``__init__`` twice, so 40 ``__init__`` calls) and makes
    at most 1,500 py4j round trips; Column-built tables took 70 and ~4.1k."""
    run_user_pipeline(raw_battles_df(spark, n_players=1, battles_per_player=25, seed=31))
    raw = raw_battles_df(spark, n_players=1, battles_per_player=25, seed=32)
    with py4j_calls() as calls, dataframes_created() as frames:
        run_user_pipeline(raw)
    assert frames.n <= 20, frames.n
    assert calls.n <= 1500, calls.n


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_phase1_build_leaves_no_temp_view(spark):
    before = _temp_views(spark)
    raw = raw_battles_df(spark, n_players=1, battles_per_player=25, seed=33)
    run_user_pipeline(raw)
    assert _temp_views(spark) == before
    # a statement that fails analysis inside the shared views' block, and
    # one that fails in spark.sql's own binding
    with pytest.raises(AnalysisException):
        user_analytics_tables(run_user_pipeline(raw)["summary"])
    with pytest.raises(AnalysisException):
        run_user_pipeline(raw.drop("player_tag"))
    assert _temp_views(spark) == before


#: the battle-domain registry builders, and the star-schema ones that use
#: the win-rate / POV-flip fragments
_BUILDERS = [
    "cr_classify_archetype_counts",
    "cr_symmetric_matchup_matrix",
    "cr_exact_deck_grouping",
    "cr_user_matchup_summary",
    "cr_user_deck_summary_reagg",
    "cr_j6_tough_easy_split",
    "o5_tough_order_topk",
    "cr_a15_combined_type_counts",
    "cr_p8_mirror_exclusion",
    "p11_alias_reconciliation",
    "o2_worst_first_topk",
    "o3_meta_summary_order",
    "o4_matchup_order_topk",
    "j2_elixir_backfill",
    "f7_context_lines",
    "floor_monitor_batch_twin",
    "e2e_user_context_render",
    "p10_win_rate_per_customer",
    "p9_advantage_labels",
    "a7_symmetric_pair_matrix",
    "a9_role_tagged_union",
]


def test_registry_builders_leave_no_temp_view(spark):
    import __spark_entry__ as entry

    registry = entry.queries()
    before = _temp_views(spark)
    for name in _BUILDERS:
        registry[name](spark, SF_DIR)
    assert _temp_views(spark) == before
