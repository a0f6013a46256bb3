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
  (:mod:`qna_router`) over one memoized pair of table dicts;
- ``stop`` / ``exit`` / ``quit`` (case-insensitive, stripped) end the
  loop BEFORE answering (``route_after_question``, ``:645-655``).

The DataFrames are lazy, so memoizing the dicts alone would re-run each
table's shuffles on every turn that ships it. ``ensure_user`` therefore
marks every Phase-1 table it gets with ``.cache()`` (lazy: no build-time
job), so each table is computed at most once per session and later
turns read the cached rows. ``games_played`` for the enough-data check
is read once, in ``ensure_user``: the tables cannot change within a
session. ``close()`` unpersists the tables the session cached; the meta
tables are shared across sessions and stay with their producer
(``MetaDatasetBuilder.run`` caches the ones Q&A ships).

I/O and LLM calls are injected callables so the loop tests offline
(FIXTURES.md §A6); nothing here touches stdin or the network.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from clashroyale_datapipeline_agent_spark.plans.qna_router import answer_question

#: ``route_after_question`` stop tokens (``phase2_qna_workflow.py:650-652``).
STOP_WORDS = frozenset({"stop", "exit", "quit"})

TAG_PROMPT = "Enter your player tag (without #):"
QUESTION_PROMPT = "Ask about your performance (type 'stop' to finish):"


def is_stop(question: str | None) -> bool:
    """``route_after_question`` — stripped, lowercased membership test."""
    return (question or "").strip().lower() in STOP_WORDS


def default_games_played(user_tables: dict[str, DataFrame]) -> int:
    """Games count for the enough-data check, read from the user summary
    (collects at most one row — driver boundary, same as the reference
    reading ``user_analytics['summary']``). Accepts both the wide 1-row
    summary and the melted (metric, value) LLM table (A14)."""
    from pyspark.sql import functions as F

    df = user_tables["user_summary"]
    if {"metric", "value"} <= set(df.columns):
        rows = (
            df.filter(F.col("metric") == "games_played").select("value").collect()
        )
        return int(float(rows[0]["value"])) if rows else 0
    rows = df.select("games_played").collect()
    return int(rows[0]["games_played"]) if rows else 0


@dataclass
class CoachSession:
    """Memoized Phase-0/Phase-1 state for one interactive session.

    ``build_meta`` / ``build_user`` are the expensive phase builders
    (typically :mod:`plans.pipeline` wrappers); each runs AT MOST once per
    session — the invocation counts are observable for tests. The user
    tables are cached until :meth:`close`.
    """

    build_meta: Callable[[], dict[str, DataFrame]]
    build_user: Callable[[str], dict[str, DataFrame]]
    classify: Callable[[str], str]
    answer: Callable[[str, str], str]
    games_played_fn: Callable[[dict[str, DataFrame]], int] = default_games_played

    meta_builds: int = 0
    user_builds: int = 0
    player_tag: str | None = None
    games_played: int | None = None
    _meta_tables: dict[str, DataFrame] | None = field(default=None, repr=False)
    _user_tables: dict[str, DataFrame] | None = field(default=None, repr=False)
    _cached: list[DataFrame] = field(default_factory=list, repr=False)

    def ensure_meta(self) -> dict[str, DataFrame]:
        """Phase-0 memoization (``ensure_meta``, ``:557-560``)."""
        if self._meta_tables is None:
            self._meta_tables = self.build_meta()
            self.meta_builds += 1
        return self._meta_tables

    def ensure_user(self, player_tag: str) -> dict[str, DataFrame]:
        """Phase-1 memoization (``ensure_user``, ``:601-603``) — presence-
        keyed like the reference (a new tag mid-session does NOT rebuild).

        Caches every table not cached already (those belong to whoever
        cached them) and reads ``games_played`` from the cached tables."""
        if self._user_tables is None:
            self.player_tag = player_tag
            tables = self.build_user(player_tag)
            self.user_builds += 1
            for df in tables.values():
                if df.storageLevel == StorageLevel.NONE:
                    self._cached.append(df.cache())
            self.games_played = self.games_played_fn(tables)
            self._user_tables = tables
        return self._user_tables

    def close(self) -> None:
        """Release the tables this session cached (idempotent)."""
        while self._cached:
            self._cached.pop().unpersist()

    def answer_one(self, question: str) -> dict:
        """One qa_answer hop over the memoized tables."""
        user_tables = self._user_tables
        meta_tables = self._meta_tables
        if user_tables is None or meta_tables is None:
            raise RuntimeError("ensure_meta/ensure_user must run before answering")
        return answer_question(
            question,
            classify=self.classify,
            answer=self.answer,
            user_tables=user_tables,
            meta_tables=meta_tables,
            games_played=self.games_played,
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
    asserts are exactly 1/1 after multiple questions). The session's
    cached tables are released when the loop ends, however it ends.
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
