"""Batched per-row LLM operators (SURVEY.md §2.11).

The reference calls its classifier LLM once per question on the driver
(``phase2_qna_workflow.py:224-267``). The distributed form — classifying a
whole DataFrame of questions — runs the client inside ``mapInPandas``:
Arrow batches amortize the Python boundary, one client per task (not per
row), and the batch size caps concurrent requests per executor (the
rate-limit knob). The client is injected, so tests run with a mock and
production swaps in a real HTTP client without touching the plan.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from clashroyale_datapipeline_agent_spark.plans.qna_router import (
    parse_classifier_output,
    route_by_category,
)

CLASSIFIED_SCHEMA = (
    "question_id long, question string, category string, "
    "data_needs array<string>, route string, llm_error string"
)


def classify_questions(
    questions: DataFrame,
    make_client: Callable[[], Callable[[str], str]],
    *,
    question_col: str = "question",
    id_col: str = "question_id",
    max_retries: int = 0,
    backoff_s: float = 1.0,
    sleeper: Callable[[float], None] | None = None,
) -> DataFrame:
    """Classify + route every question row.

    ``make_client()`` is called once per task and returns the raw-output
    classifier callable — connection setup cost is per-partition, request
    cost per row, parsing/fallbacks identical to the driver path
    (``parse_classifier_output``).

    Robustness replays the reference client's semantics PER ROW, never
    per batch (``phase2_qna_workflow.py:231-238``: an LLM error falls
    back to other/SEND_ALL for THAT question; ``:246-252``: malformed
    JSON likewise):

    - a raising client retries up to ``max_retries`` times with linear
      backoff (``backoff_s * attempt``; ``sleeper`` injectable so tests
      don't sleep) — the rate-limit answer for 429-style failures;
    - a row still failing gets the reference's error fallback
      (category ``other``, needs ``SEND_ALL``) plus the error string in
      ``llm_error``; every other row in the batch is unaffected;
    - malformed/invalid JSON output is a PARSE fallback (handled inside
      ``parse_classifier_output``), not an error: ``llm_error`` stays
      NULL and the reference's category/needs defaults apply.
    """
    do_sleep = sleeper if sleeper is not None else __import__("time").sleep

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = make_client()
        for pdf in batches:
            cats, needs, routes, errors = [], [], [], []
            for q in pdf[question_col]:
                raw: str | None = None
                err: str | None = None
                for attempt in range(max_retries + 1):
                    try:
                        raw = client(q)
                        err = None
                        break
                    except Exception as exc:  # per-row tolerance
                        err = f"{type(exc).__name__}: {exc}"[:500]
                        if attempt < max_retries:
                            do_sleep(backoff_s * (attempt + 1))
                if err is not None:
                    # reference LLM-error fallback: other/SEND_ALL
                    c = parse_classifier_output("")
                else:
                    c = parse_classifier_output(raw)
                cats.append(c.category)
                needs.append(c.data_needs)
                routes.append(route_by_category(c))
                errors.append(err)
            yield pd.DataFrame(
                {
                    "question_id": pdf[id_col],
                    "question": pdf[question_col],
                    "category": cats,
                    "data_needs": needs,
                    "route": routes,
                    "llm_error": errors,
                }
            )

    return questions.mapInPandas(run, schema=CLASSIFIED_SCHEMA)

