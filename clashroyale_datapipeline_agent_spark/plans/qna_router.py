"""Phase-2 Q&A router (SURVEY.md §2.11, §3.3) — the reference's miniature
query planner, LLM-free at the core.

The classifier LLM's output ``{category, data_needs[]}`` is a logical plan
(which relations to scan); ``route_by_category`` is the planner; the
expert LLM call is the sink. LLM clients are injected so the whole thing
tests offline (FIXTURES.md §A6).

The driver boundary is :func:`snapshot`: it collects the shippable
tables, and the two frames Spark renders (``SUMMARY_LINES``,
``DECK_LINES``), into row dicts, one concurrent ``run_legs`` leg per
frame. The prep, render and serialize steps then route, slice, render
and ``json.dumps`` over those rows, like the reference's ``List[Dict]``
LLM tables (SURVEY.md §1.1); the 4,000-char cap applies to the JSON.
A coach session snapshots once per player (:mod:`plans.coach`), so its
turns launch no Spark job; :func:`answer_question` called with
DataFrames snapshots just the tables its route reads.

Parity: ``/root/reference/src/workflows/phase2_qna_workflow.py:54-471`` and
``phase2_constants.py``.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.session import run_legs

CATEGORIES = ["user", "matchup", "meta", "card", "other"]

DATANEEDS = [
    "USER_SUMMARY",
    "USER_DECK_SUMMARY",
    "USER_MATCHUP_SUMMARY",
    "USER_CARD_SUMMARY",
    "OPPONENT_CARD_SUMMARY",
    "META_DECK_SUMMARY",
    "META_DECK_MATCHUPS",
    "SEND_ALL",
]

#: Fallback needs when the classifier output is empty/invalid
#: (``phase2_constants.py:46-52``).
DEFAULT_NEEDS = {
    "user": ["USER_SUMMARY", "USER_DECK_SUMMARY"],
    "matchup": ["USER_MATCHUP_SUMMARY"],
    "meta": ["META_DECK_SUMMARY"],
    "card": ["USER_CARD_SUMMARY"],
    "other": ["SEND_ALL"],
}

CONTEXT_CHAR_CAP = 4000  # phase2_qna_workflow.py:397-398
DECK_ROWS_LIMIT = 5  # user_llm_tables.py:84 — deck_table[:5]

#: The tables a session snapshots: the five Phase 1 LLM tables and the
#: two meta tables Q&A ships (the full Phase 0 catalog is not shipped).
USER_TABLES = (
    "user_summary",
    "user_deck_summary",
    "user_matchup_summary",
    "user_card_summary",
    "opponent_card_summary",
)
META_TABLES = ("meta_deck_summary", "meta_matchup_summary")

#: Snapshot keys of the rendered context lines (one ``line`` per row).
SUMMARY_LINES = "user_summary_lines"
DECK_LINES = "user_deck_lines"

#: What each route ships, in payload order (``phase2_qna_workflow.py:54-220``):
#: (shipped name, snapshot key, the data need that selects it — None
#: ships it always). The matchup route always ships all four
#: (``:92-156``); "other" ships user_summary only (the reference's
#: SEND_ALL quirk, ``:209-220``).
ROUTE_TABLES: dict[str, tuple[tuple[str, str, str | None], ...]] = {
    "user": (
        ("user_summary", "user_summary", "USER_SUMMARY"),
        ("user_deck_summary", "user_deck_summary", "USER_DECK_SUMMARY"),
    ),
    "matchup": (
        ("user_summary", "user_summary", None),
        ("user_matchup_summary", "user_matchup_summary", None),
        ("meta_deck_summary", "meta_deck_summary", None),
        ("meta_matchup_summary", "meta_matchup_summary", None),
    ),
    "card": (
        ("user_card_summary", "user_card_summary", "USER_CARD_SUMMARY"),
        ("opponent_card_summary", "opponent_card_summary", "OPPONENT_CARD_SUMMARY"),
    ),
    "meta": (
        ("meta_deck_summary", "meta_deck_summary", "META_DECK_SUMMARY"),
        ("meta_deck_matchups", "meta_matchup_summary", "META_DECK_MATCHUPS"),
    ),
    "other": (("user_summary", "user_summary", None),),
}


@dataclass
class Classification:
    category: str = "other"
    data_needs: list[str] = field(default_factory=list)


def parse_classifier_output(raw: str) -> Classification:
    """F6 — tolerant JSON parse of the classifier LLM output with the
    reference's fallbacks (``phase2_qna_workflow.py:238-257``): bad JSON or
    invalid category -> other/defaults; invalid needs filtered; empty or
    non-list needs -> category defaults."""
    try:
        data = json.loads(raw)
        if not isinstance(data, dict):
            raise ValueError
    except Exception:
        return Classification("other", list(DEFAULT_NEEDS["other"]))
    cat = data.get("category")
    if cat not in CATEGORIES:
        cat = "other"
    needs = data.get("data_needs")
    needs = [n for n in needs if n in DATANEEDS] if isinstance(needs, list) else []
    if not needs:
        needs = list(DEFAULT_NEEDS[cat])
    return Classification(cat, needs)


def route_by_category(c: Classification) -> str:
    """The planner (``phase2_qna_workflow.py:437-471``): data-needs take
    precedence over the category label; category is only a fallback hint."""
    needs = c.data_needs or []
    if any(n in needs for n in ("USER_MATCHUP_SUMMARY", "META_DECK_MATCHUPS")):
        return "matchup"
    if any(n in needs for n in ("USER_CARD_SUMMARY", "OPPONENT_CARD_SUMMARY")):
        return "card"
    if "META_DECK_SUMMARY" in needs:
        return "meta"
    if any(n in needs for n in ("USER_SUMMARY", "USER_DECK_SUMMARY")):
        return "user"
    if c.category in ("user", "matchup", "meta", "card"):
        return c.category
    return "other"


def enough_data(games_played: int, category: str, threshold: int = 20) -> tuple[bool, str]:
    """Data health check (``phase2_qna_workflow.py:289-326``): warn (never
    block) when a non-meta question has < threshold games; meta exempt."""
    if category == "meta":
        return True, ""
    if games_played >= threshold:
        return True, ""
    return False, (
        f"Warning: only {games_played} recent ranked games; "
        "these stats may be noisy or not fully representative."
    )


def render_deck_lines(
    deck_summary: DataFrame, *, limit: int = 5, with_ordinal: bool = False
) -> DataFrame:
    """F7 — the deck-performance lines as a DataFrame of rendered strings.

    The reference sorts by games desc before taking the top rows
    (``user_llm_tables.py:84`` — ``deck_table[:5]``); ``deck_type`` asc is
    the deterministic tiebreak. ``win_rate`` is pre-rounded to 2dp with
    ``F.round`` before the ``%.2f`` format: JVM formatting of an
    already-2dp value is engine-stable (raw ``%.2f`` rounds HALF_UP in
    the JVM but half-even in C/Python on exact half-boundaries), which is
    what lets the ``f7_context_lines`` oracle pair this against DuckDB's
    ``printf``. The limit prunes BEFORE formatting — at scale only
    ``limit`` rows ever render. ``with_ordinal=True`` additionally emits
    the 1-based display position (``line_no``, the same games-desc
    order) so composed renderings can interleave sections
    deterministically."""
    line = F.format_string(
        "- %s: %d/%d wins (%.2f)",
        F.col("deck_type"),
        F.col("wins").cast("long"),
        F.col("games").cast("long"),
        F.round(F.col("win_rate").cast("double"), 2),
    ).alias("line")
    top = deck_summary.orderBy(F.desc("games"), F.asc("deck_type")).limit(limit)
    if not with_ordinal:
        return top.select(line)
    w = Window.orderBy(F.desc("games"), F.asc("deck_type"))
    return top.select(
        F.row_number().over(w).cast("long").alias("line_no"), line
    )


def summary_lines(user_summary: DataFrame) -> DataFrame:
    """F7 — the ``"{metric}: {value}"`` user-summary lines
    (``phase2_qna_workflow.py:68-86``) as a DataFrame of rendered strings."""
    return user_summary.select(F.format_string("%s: %s", "metric", "value").alias("line"))


#: Snapshot keys Spark renders: (source table, the columns rendering
#: needs, renderer). A source without those columns has no lines.
RENDERED = {
    SUMMARY_LINES: ("user_summary", {"metric", "value"}, summary_lines),
    DECK_LINES: (
        "user_deck_summary",
        {"deck_type", "games", "wins", "win_rate"},
        partial(render_deck_lines, limit=DECK_ROWS_LIMIT),
    ),
}


def snapshot(tables: dict[str, DataFrame], keys: Iterable[str]) -> dict[str, list[dict]]:
    """The driver boundary: the snapshot ``keys`` that ``tables`` can
    supply, collected to row dicts — one ``run_legs`` leg and one
    ``collect()`` per frame, all concurrent, in the caller's job group.

    A key is a table name, or a :data:`RENDERED` key whose lines Spark
    formats from its source table, so the JVM's ``%.2f`` (HALF_UP) stays
    the one renderer. Keys ``tables`` cannot supply are left out."""
    frames: dict[str, DataFrame] = {}
    for key in keys:
        if key in RENDERED:
            source, columns, render = RENDERED[key]
            df = tables.get(source)
            if df is not None and columns <= set(df.columns):
                frames[key] = render(df)
        elif key in tables:
            frames[key] = tables[key]
    if not frames:
        return {}
    spark = next(iter(frames.values())).sparkSession
    collected = run_legs(
        spark, {f"qna snapshot: {key}": df.collect for key, df in frames.items()}
    )
    return {key: [r.asDict() for r in rows] for key, rows in zip(frames, collected)}


def route_keys(route: str, needs: list[str]) -> list[str]:
    """The snapshot keys a turn on ``route`` reads."""
    keys = [key for _, key, need in ROUTE_TABLES[route] if need is None or need in needs]
    if route == "user":  # the rendered lines
        lines = ((SUMMARY_LINES, "USER_SUMMARY"), (DECK_LINES, "USER_DECK_SUMMARY"))
        keys += [key for key, need in lines if need in needs]
    return keys


def prep_context(
    route: str,
    needs: list[str],
    rows: dict[str, list[dict]],
    *,
    deck_rows_limit: int = DECK_ROWS_LIMIT,
) -> dict[str, list[dict]]:
    """Prep-node table selection (``phase2_qna_workflow.py:54-220``) over
    snapshot rows: the route's tables by shipped name (:data:`ROUTE_TABLES`),
    the deck table cut to its top rows (the snapshot keeps them in the
    table's games-desc order)."""
    out: dict[str, list[dict]] = {}
    for name, key, need in ROUTE_TABLES[route]:
        if need is None or need in needs:
            table = rows[key]
            out[name] = table[:deck_rows_limit] if key == "user_deck_summary" else table
    return out


def render_context_lines(route: str, needs: list[str], rows: dict[str, list[dict]]) -> str:
    """F7 — formatted, human-readable context lines.

    Parity: ``phase2_qna_workflow.py:68-86`` — ``"{metric}: {value}"`` lines
    for the user summary and ``"- {deck_type}: {wins}/{games} wins
    ({win_rate:.2f})"`` for the top deck rows, with the empty-table fallback
    sentence. The lines were rendered ENGINE-SIDE (``F.format_string``) when
    the snapshot was taken; this only joins them.

    Display nuance: ``%.2f`` rounds HALF_UP in the JVM while Python's
    f-string rounds half-even, so a win_rate landing exactly on a 2dp
    half-boundary (e.g. 0.625) can differ in the last digit. Display-only.
    """
    lines: list[str] = []
    if route == "user" and "USER_SUMMARY" in needs:
        lines.extend(r["line"] for r in rows[SUMMARY_LINES])
    if route == "user" and "USER_DECK_SUMMARY" in needs:
        deck = rows[DECK_LINES]
        if deck:
            lines.append("\nYour deck performance:")
            lines.extend(r["line"] for r in deck)
        else:
            lines.append("\nNo deck statistics found for this user.")
    return "\n".join(lines)


def serialize_context(tables: dict[str, list[dict]], char_cap: int = CONTEXT_CHAR_CAP) -> str:
    """Driver-boundary sink: tables of rows -> JSON, truncated to the
    reference's 4,000-char cap (``:392-398``)."""
    return json.dumps(tables, default=str)[:char_cap]


def answer_question(
    question: str,
    *,
    classify: Callable[[str], str],
    answer: Callable[[str, str], str],
    games_played: int,
    user_tables: dict[str, DataFrame] | None = None,
    meta_tables: dict[str, DataFrame] | None = None,
    rows: dict[str, list[dict]] | None = None,
) -> dict:
    """Full Phase-2 flow with injected LLM callables (``classify`` returns
    the raw classifier output; ``answer(question, context)`` the coach
    reply). Returns the state dict a caller/test can inspect.

    Pass either ``rows`` — a :func:`snapshot` holding every key the turn
    reads, as a coach session does — or the ``user_tables`` /
    ``meta_tables`` DataFrames, of which just the keys the route reads are
    snapshotted here."""
    c = parse_classifier_output(classify(question))
    route = route_by_category(c)
    ok, warning = enough_data(games_played, c.category)
    if rows is None:
        rows = snapshot({**user_tables, **meta_tables}, route_keys(route, c.data_needs))
    tables = prep_context(route, c.data_needs, rows)
    context_text = render_context_lines(route, c.data_needs, rows)
    context = serialize_context(tables)
    if context_text:
        context = context_text + "\n" + context
    if warning:
        context = warning + "\n" + context
    return {
        "category": c.category,
        "data_needs": c.data_needs,
        "route": route,
        "has_enough_data": ok,
        "low_data_warning": warning,
        "context_tables": sorted(tables),
        "context_text": context_text,
        "answer": answer(question, context),
    }
