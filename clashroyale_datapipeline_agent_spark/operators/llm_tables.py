"""LLM-context table operators (SURVEY.md §2.2 P11, §2.4 A14, §2.7 U1).

The Phase-2 prep nodes project analytics tables into compact row tables for
the coach LLM (``/root/reference/src/workflows/user_workflow.py:39-205``).
Pure DataFrame transforms; serialization (``toJSON`` + truncation) happens
only at the driver boundary. The Phase 1 operators here are SQL text
builders over an input relation ``src`` (see ``operators/battle_aggs.py``),
generated once per process.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.functions.common import sql_str


@lru_cache(maxsize=8)
def metric_value_sql(src: str, columns: tuple[str, ...]) -> str:
    pairs = ", ".join(f"{sql_str(c)}, CAST(`{c}` AS STRING)" for c in columns)
    return f"SELECT stack({len(columns)}, {pairs}) AS (metric, value) FROM {src}"


def summary_to_metric_value(summary: DataFrame) -> DataFrame:
    """A14 — melt the 1-row summary into a (metric, value) long table.

    Parity: ``user_workflow.py:39-43``. The reference's ``value`` column is
    mixed-type (ints + float); relational form casts to string — documented
    convention (SURVEY.md §7.4 risk #5).
    """
    return summary.sparkSession.sql(
        metric_value_sql("{summary}", tuple(summary.columns)), summary=summary
    )


@lru_cache(maxsize=8)
def role_union_sql(parts: tuple[tuple[str, str], ...], role_col: str = "role") -> str:
    """U1 — UNION ALL of (relation, role) ``parts``, each tagged with its
    literal role in column ``role_col``. The relations' columns must line
    up by position.

    Parity: best∪worst cards / tough∪easy opponent cards with ``role`` tags
    (``user_workflow.py:120-162``, ``:164-205``).
    """
    return " UNION ALL ".join(
        f"SELECT *, {sql_str(role)} AS `{role_col}` FROM {src}" for src, role in parts
    )


def reconcile_column_aliases(
    df: DataFrame, target: str, candidates: list[str]
) -> DataFrame:
    """P11 — accept any of ``candidates`` as the source for ``target``.

    Parity: ``user_workflow.py:46-74`` reconciles ``deck_type | type |
    my_deck_type`` (and ``card | card_name``) at read time. Relational form:
    ``coalesce`` over whichever candidates exist, dropping the aliases.
    """
    present = [c for c in candidates if c in df.columns]
    if not present:
        raise ValueError(f"none of {candidates} present in {df.columns}")
    out = df.withColumn(target, F.coalesce(*[F.col(c) for c in present]))
    for c in present:
        if c != target:
            out = out.drop(c)
    return out
