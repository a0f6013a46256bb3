"""Shared scalar column functions (SURVEY.md §2.8).

All native expressions — no Python UDFs — so they stay inside whole-stage
codegen and never block predicate pushdown.

The win-rate and POV-flip rules are defined once, as SQL fragments
(``win_rate_sql``, ``flip_result_sql``) that the Phase 1 operators splice
into their statements; ``win_rate`` and ``flip_result`` wrap the same text
in ``F.expr`` for callers that build Columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_str(value: str) -> str:
    """A SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def flip_result_sql(result: str) -> str:
    """POV flip of the SQL expression ``result``: win<->loss, draw (and
    anything else) unchanged.

    Parity: ``/root/reference/src/analytics/meta_analytics.py:32-38`` (dup at
    ``meta_standardize.py:22-28``). Draws never flip.
    """
    return (
        f"CASE WHEN ({result}) = 'win' THEN 'loss'"
        f" WHEN ({result}) = 'loss' THEN 'win' ELSE ({result}) END"
    )


def flip_result(result: str) -> Column:
    """:func:`flip_result_sql` as a Column; ``result`` is SQL text."""
    return F.expr(flip_result_sql(result))


def win_rate_sql(wins: str, games: str) -> str:
    """``wins/games`` over two SQL expressions, with the reference's
    divide-by-zero convention.

    Two reference idioms (ternary -> 0.0 at ``user_analytics.py:80``; pandas
    ``.where(games>0, 1)`` divisor at ``meta_analytics.py:86``) produce the
    same value (0/1 == 0.0); unified here as ``ELSE 0.0`` per SURVEY.md §2.2
    P10. ``0.0D`` is a DOUBLE literal (a bare ``0.0`` is a DECIMAL in SQL).
    """
    return (
        f"CASE WHEN ({games}) > 0"
        f" THEN CAST({wins} AS DOUBLE) / CAST({games} AS DOUBLE) ELSE 0.0D END"
    )


def win_rate(wins: str, games: str) -> Column:
    """:func:`win_rate_sql` as a Column; ``wins`` and ``games`` are SQL text."""
    return F.expr(win_rate_sql(wins, games))


def advantage_label(wr: Column, margin: float = 0.05) -> Column:
    """win_rate -> favored/even/unfavored with a ±margin band around 0.5.

    Parity: ``/root/reference/src/analytics/meta_llm_tables.py:79-90``
    (duplicate at ``user_llm_tables.py:87-100``).
    """
    return (
        F.when(wr >= 0.5 + margin, F.lit("favored"))
        .when(wr <= 0.5 - margin, F.lit("unfavored"))
        .otherwise(F.lit("even"))
    )
