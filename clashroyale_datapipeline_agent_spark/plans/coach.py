"""Phase-2 interactive coach loop (SURVEY.md §2.11) — the reference's
primary end-user entry point, re-expressed with injected I/O.

Parity: ``/root/reference/src/workflows/phase2_qna_workflow.py:474-685``
(``build_coach_graph``). The reference drives a LangGraph state machine:

    START → ensure_meta → ask_for_tag → ensure_user → ask_for_question
          → (stop|exit|quit → END) | qa_answer → ask_for_question → …

Semantics preserved here without the graph framework:

- ``ensure_meta`` runs the Phase-0 build ONCE per session regardless of
  how many questions follow (memoization at ``:557-560``);
- ``ask_for_tag`` asks once; ``ensure_user`` runs the Phase-1 build ONCE
  per session (``:601-603`` — the reference keys on presence, not tag);
- every question routes through the Phase-2 answer flow
  (:mod:`qna_router`) over the session's one row snapshot;
- ``stop`` / ``exit`` / ``quit`` (case-insensitive, stripped) end the
  loop BEFORE answering (``route_after_question``, ``:645-655``).

The DataFrames are lazy, so memoizing the dicts alone would re-run each
table's plan on every turn that ships it. ``ensure_user`` therefore
takes one row snapshot per session (:func:`qna_router.snapshot`): a
single ``run_legs`` call, one concurrent ``collect()`` per leg, in the
caller's job group. The legs are every table ``build_user`` returned
under one of the five user-table names, ``meta_deck_summary`` and
``meta_matchup_summary`` as far as ``ensure_meta`` memoized them (no
other meta table: the Phase 0 catalog holds thousands of battles), and
the two frames Spark renders, the summary lines and the top deck lines.
Every turn then routes, slices, renders and serializes those rows and
launches no Spark job. ``ensure_meta`` launches none either; only when
``ensure_user`` ran first does it collect the meta legs.
``games_played`` for the enough-data check is read from the snapshot's
``user_summary`` rows (a caller's ``games_played_fn`` is called once,
with the tables instead). The session caches nothing in Spark;
``close()`` drops the snapshot.

I/O and LLM calls are injected callables so the loop tests offline
(FIXTURES.md §A6); nothing here touches stdin or the network.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from clashroyale_datapipeline_agent_spark.plans.qna_router import (
    META_TABLES,
    RENDERED,
    USER_TABLES,
    answer_question,
    snapshot,
)

#: ``route_after_question`` stop tokens (``phase2_qna_workflow.py:650-652``).
STOP_WORDS = frozenset({"stop", "exit", "quit"})

TAG_PROMPT = "Enter your player tag (without #):"
QUESTION_PROMPT = "Ask about your performance (type 'stop' to finish):"


def is_stop(question: str | None) -> bool:
    """``route_after_question`` — stripped, lowercased membership test."""
    return (question or "").strip().lower() in STOP_WORDS


def summary_games_played(rows: list[dict]) -> int:
    """Games count for the enough-data check, read from the user summary's
    rows (same as the reference reading ``user_analytics['summary']``).
    Accepts both the wide 1-row summary and the melted (metric, value)
    LLM table (A14)."""
    if not rows:
        return 0
    if {"metric", "value"} <= rows[0].keys():
        values = [r["value"] for r in rows if r["metric"] == "games_played"]
        return int(float(values[0])) if values else 0
    return int(rows[0]["games_played"])


def default_games_played(user_tables: dict[str, DataFrame]) -> int:
    """:func:`summary_games_played` over a collect of ``user_summary``."""
    return summary_games_played([r.asDict() for r in user_tables["user_summary"].collect()])


@dataclass
class CoachSession:
    """Memoized Phase-0/Phase-1 state for one interactive session.

    ``build_meta`` / ``build_user`` are the expensive phase builders
    (typically :mod:`plans.pipeline` wrappers); each runs AT MOST once per
    session — the invocation counts are observable for tests. Turns read
    the row snapshot ``ensure_user`` takes, until :meth:`close`.
    """

    build_meta: Callable[[], dict[str, DataFrame]]
    build_user: Callable[[str], dict[str, DataFrame]]
    classify: Callable[[str], str]
    answer: Callable[[str, str], str]
    #: ``None`` reads games_played from the snapshot's user_summary rows
    games_played_fn: Callable[[dict[str, DataFrame]], int] | None = None

    meta_builds: int = 0
    user_builds: int = 0
    player_tag: str | None = None
    games_played: int | None = None
    _meta_tables: dict[str, DataFrame] | None = field(default=None, repr=False)
    _user_tables: dict[str, DataFrame] | None = field(default=None, repr=False)
    _rows: dict[str, list[dict]] | None = field(default=None, repr=False)

    def ensure_meta(self) -> dict[str, DataFrame]:
        """Phase-0 memoization (``ensure_meta``, ``:557-560``). Collects
        the shipped meta tables only if ``ensure_user`` already took the
        snapshot without them."""
        if self._meta_tables is None:
            self._meta_tables = self.build_meta()
            self.meta_builds += 1
            if self._rows is not None:
                self._rows.update(snapshot(self._meta_tables, META_TABLES))
        return self._meta_tables

    def ensure_user(self, player_tag: str) -> dict[str, DataFrame]:
        """Phase-1 memoization (``ensure_user``, ``:601-603``) — presence-
        keyed like the reference (a new tag mid-session does NOT rebuild).

        Takes the session's row snapshot and reads ``games_played``."""
        if self._user_tables is None:
            self.player_tag = player_tag
            tables = self.build_user(player_tag)
            self.user_builds += 1
            frames = {k: tables[k] for k in USER_TABLES if k in tables}
            if self._meta_tables is not None:
                frames.update(self._meta_tables)
            self._rows = snapshot(frames, (*USER_TABLES, *RENDERED, *META_TABLES))
            if self.games_played_fn is None:
                self.games_played = summary_games_played(self._rows["user_summary"])
            else:
                self.games_played = self.games_played_fn(tables)
            self._user_tables = tables
        return self._user_tables

    def close(self) -> None:
        """Drop the row snapshot (idempotent). The session caches nothing
        in Spark, so nothing else needs releasing."""
        self._rows = None

    def answer_one(self, question: str) -> dict:
        """One qa_answer hop over the snapshot rows."""
        if self._rows is None or self._meta_tables is None:
            raise RuntimeError("ensure_meta/ensure_user must run before answering")
        return answer_question(
            question,
            classify=self.classify,
            answer=self.answer,
            games_played=self.games_played,
            rows=self._rows,
        )


def run_coach_loop(
    session: CoachSession,
    ask: Callable[[str], str],
    emit: Callable[[str], None] = lambda s: None,
    *,
    max_turns: int = 100,
) -> dict:
    """Drive the coach state machine to completion.

    ``ask(prompt)`` supplies the human inputs (tag, then questions);
    ``emit(text)`` receives each answer. Returns the final state: the
    tag, per-question result dicts, and the build counts (which a test
    asserts are exactly 1/1 after multiple questions). The session is
    closed when the loop ends, however it ends.
    """
    session.ensure_meta()
    tag = ask(TAG_PROMPT)

    results: list[dict] = []
    try:
        session.ensure_user(tag)
        for _ in range(max_turns):
            question = ask(QUESTION_PROMPT)
            if is_stop(question):
                break
            result = session.answer_one(question)
            emit(result["answer"])
            results.append({"question": question, **result})
    finally:
        session.close()

    return {
        "player_tag": session.player_tag,
        "results": results,
        "meta_builds": session.meta_builds,
        "user_builds": session.user_builds,
    }
