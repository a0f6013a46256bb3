"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one has returned.

A workload has six entry points, called by ``run.py``:

- ``setup(bench)`` — once, after the session starts: stage what the
  workload needs and run its warm-up at the measured scale;
- ``run_pass(bench)`` — one measured pass of operations;
- ``exhausted()`` — true once no input is left for another pass;
- ``check(bench)`` — untimed output checks, one message per failure;
- ``details(bench)`` — the workload's own end-to-end figures;
- ``layer_metrics(bench, jobs)`` — its per-layer figures in a traced run.

Operations go through ``bench.op(kind, fn)``, which sets the Spark job
group, times the call from outside and records its span.
"""

from __future__ import annotations

import json
import statistics
import zlib
from pathlib import Path

MB = 1024.0 * 1024.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*") if p.is_file()] if path.exists() else []


def _jobs_of(jobs: list[dict], op_ids) -> list[dict]:
    ids = set(op_ids)
    return [j for j in jobs if j["group"] in ids]


def _ops(bench, prefix: str, phase: str = "measure") -> list[dict]:
    return [o for o in bench.ops if o["phase"] == phase and o["kind"].startswith(prefix)]


# ---------------------------------------------------------------------------
# registry slice + streaming admission
# ---------------------------------------------------------------------------


class RegistryAdmit:
    """The batch side: a slice of the query registry, then one micro-batch
    through the streaming admission plane.

    A query operation builds one query's DataFrame (the registry
    function, which may run eager driver-side jobs) and writes its full
    result to the ``noop`` sink. The five queries are scan/join/
    aggregate/shuffle-bound: a TPC-H scan-aggregate and a six-way join, a
    range join, a top-k window and event-stream sessionization. (The
    Clash Royale tables are built by the coach workload; the driver-heavy
    near-dup path, an eagerly checkpointed md5-salted MinHash signature,
    is measured in admission below.)

    Then one micro-batch of the ``documents`` table is admitted into
    three streaming stores (``streaming/incremental.py``): a near-dup
    band store (text MinHash, signed eagerly like the near-dup query), a
    banded Hamming store over a 64-bit hash of the text, and a
    popcount-verified Hamming store over image arrivals: one gradient
    PNG per document, synthesized and dHashed by the ``mapInPandas``
    codecs of ``operators/multimodal.py`` (the Python/Arrow boundary).
    The batch's admitted band keys are also appended to a bucketed
    band-key table (``dedup.write_lsh_band_store``). Then the
    ``compact`` operation runs each store's ``compact()`` (folds staged
    on ``ThreadPoolExecutor`` legs, segment and marker committed under
    the maintenance lock) and ``store_maint.store_compact`` on the
    bucketed table (every multi-file bucket staged on its thread pool
    and rewritten to one file, journaled). Compaction runs every pass.
    Each batch is a parquet file that its admission operations read;
    stores and table live under the run's own directory.

    The seed picks the query order of every pass and the split of the
    corpus into micro-batches. The warm-up is one pass that collects
    every query result in full (those rows are what the untimed check
    compares with each query's DuckDB twin). A run stops measuring once
    every micro-batch has been admitted."""

    queries = (
        "flagship_pricing_summary",
        "q9_profit_by_nation_year",
        "j_range_join_ship_window",
        "w1_topk_per_group",
        "events_sessionization",
    )
    n_batches = 8
    store_kinds = ("neardup", "hamming", "hamming_verified")
    band_table = "perfbench_band_keys"

    def __init__(self, bench) -> None:
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        self.names = self.queries[:1] if bench.smoke else self.queries
        registry, oracle = entry.queries(), entry.oracle_sql()
        self.fns = {n: registry[n] for n in self.names}
        self.sqls = {n: oracle[n] for n in self.names}
        self.rows: dict[str, list[dict]] = {}

        docs = pq.read_table(bench.data_dir / "documents.parquet", columns=["doc_id", "text"])
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        ids = sorted(self.texts)
        bench.rng.shuffle(ids)
        self.batch_ids = [ids[b :: self.n_batches] for b in range(self.n_batches)]
        self.batch_dir = bench.run_dir / "batches"
        self.batch_dir.mkdir(parents=True, exist_ok=True)
        row = {i: n for n, i in enumerate(docs["doc_id"].to_pylist())}
        for b, batch in enumerate(self.batch_ids):
            pq.write_table(docs.take([row[i] for i in batch]), self.batch_dir / f"{b}.parquet")
        self.store_root = bench.run_dir / "stores"
        self.next_batch = 0
        self.measured_batches: list[int] = []
        # per store: batch id -> ids that batch admitted
        self.kept: dict[str, dict[int, list[int]]] = {k: {} for k in self.store_kinds}
        # (rows before, rows after) of every compaction, summed over the
        # stores, and the same for the bucketed band-key table
        self.compactions: list[tuple[int, int]] = []
        self.table_compactions: list[tuple[int, int]] = []
        self.files_before = self.files_after = 0

    def _open_stores(self, bench) -> None:
        from clashroyale_datapipeline_agent_spark.streaming.incremental import (
            HammingBandStore,
            NearDupBandStore,
        )

        root = self.store_root
        self.stores = {
            "neardup": NearDupBandStore(bench.spark, str(root / "neardup")),
            "hamming": HammingBandStore(bench.spark, str(root / "hamming")),
            "hamming_verified": HammingBandStore(
                bench.spark, str(root / "hamming_verified"), max_dist=4
            ),
        }

    def _batch(self, bench, kind: str, b: int):
        from pyspark.sql import functions as F

        from clashroyale_datapipeline_agent_spark.operators.multimodal import (
            dhash_assets,
            synthesize_gradient_png_assets,
        )

        docs = bench.spark.read.parquet(str(self.batch_dir / f"{b}.parquet"))
        if kind == "neardup":
            return docs
        if kind == "hamming":
            return docs.select(F.col("doc_id").alias("id"), F.xxhash64("text").alias("h"))
        # an 18x16 gray gradient per document, its parameters a function
        # of doc_id (the curation registry's image corpus), so that
        # neighbouring ids give near-identical images
        grp = F.expr("doc_id div 2")
        params = docs.select(
            F.col("doc_id").alias("asset_id"),
            F.lit(18).alias("w"),
            F.lit(16).alias("h"),
            ((grp * 7) % 240 + F.col("doc_id") % 2).cast("int").alias("g"),
            (grp % 5 + 1).cast("int").alias("d"),
            (F.expr("doc_id div 10") % 3 + 1).cast("int").alias("e"),
        )
        return dhash_assets(synthesize_gradient_png_assets(params)).select(
            F.col("asset_id").alias("id"), F.col("dhash").alias("h")
        )

    def _partition_ids(self, kind: str, b: int) -> list[int]:
        import pyarrow.parquet as pq

        sub, col = ("docs", "doc_id") if kind == "neardup" else ("hashes", "id")
        part = self.store_root / kind / sub / f"batch={b}"
        return [
            i
            for p in sorted(part.rglob("*.parquet"))
            for i in pq.read_table(p, columns=[col])[col].to_pylist()
        ]

    @staticmethod
    def _rows(root: Path) -> int:
        """Rows under ``root``, from parquet footers: no Spark job."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(p).metadata.num_rows for p in _files(root) if p.suffix == ".parquet"
        )

    def exhausted(self) -> bool:
        return self.next_batch >= self.n_batches

    def admit(self, bench) -> None:
        from clashroyale_datapipeline_agent_spark.operators.dedup import write_lsh_band_store

        b = self.next_batch
        self.next_batch += 1
        if bench.phase == "measure":
            self.measured_batches.append(b)
        for kind in self.store_kinds:
            bench.op(
                f"admit.{kind}",
                lambda s=self.stores[kind], k=kind: s.apply_batch(self._batch(bench, k, b), b),
            )
            self.kept[kind][b] = self._partition_ids(kind, b)
        keys = self.store_root / "neardup" / "keys" / f"batch={b}"
        bench.op(
            "admit.band_table",
            lambda: write_lsh_band_store(
                bench.spark.read.parquet(str(keys)), self.band_table, num_buckets=8, mode="append"
            ),
        )

    def compact(self, bench) -> None:
        from clashroyale_datapipeline_agent_spark.operators.store_maint import store_compact

        table = bench.warehouse / self.band_table
        self.files_before = len(_files(self.store_root))
        rows_before, table_before = self._rows(self.store_root), self._rows(table)

        def compact_all() -> None:
            for kind in self.store_kinds:
                with bench.rec.span(f"streaming.compact.{kind}"):
                    self.stores[kind].compact()
            with bench.rec.span("store_maint.compact"):
                store_compact(bench.spark, self.band_table, max_files=1)

        bench.op("compact", compact_all)
        self.files_after = len(_files(self.store_root))
        self.compactions.append((rows_before, self._rows(self.store_root)))
        self.table_compactions.append((table_before, self._rows(table)))

    def _query(self, bench, name: str, collect: bool) -> None:
        with bench.rec.span("plans.build"):
            df = self.fns[name](bench.spark, str(bench.data_dir))
        if collect:
            with bench.rec.span("exec.collect"):
                self.rows[name] = [r.asDict() for r in df.collect()]
        else:
            with bench.rec.span("exec.noop"):
                df.write.format("noop").mode("overwrite").save()

    def _pass(self, bench, *, collect: bool = False) -> None:
        order = list(self.names)
        bench.rng.shuffle(order)
        for name in order:
            bench.op(f"query.{name}", lambda n=name: self._query(bench, n, collect))
        self.admit(bench)
        self.compact(bench)

    def setup(self, bench) -> None:
        self._open_stores(bench)
        self._pass(bench, collect=True)

    def run_pass(self, bench) -> None:
        self._pass(bench)

    def _oracle_failures(self, bench) -> list[str]:
        """Each query's collected result against its DuckDB oracle twin.
        A query whose operation raised has no rows and is already
        counted as failed."""
        import duckdb

        from tools.oracle_check import compare_frames

        con = duckdb.connect()
        try:
            for path in sorted(bench.data_dir.glob("*.parquet")):
                con.execute(
                    f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')"
                )
            failures = []
            for name, rows in self.rows.items():
                try:
                    cur = con.execute(self.sqls[name])
                    err = compare_frames(rows, cur.fetchall(), [d[0] for d in cur.description])
                except Exception as e:  # noqa: BLE001 — reported as a failure
                    err = repr(e)[:300]
                if err is not None:
                    failures.append(f"oracle {name}: {err}")
            return failures
        finally:
            con.close()

    def check(self, bench) -> list[str]:
        """The oracle check of the queries; compaction kept every row of
        the stores and of the band-key table, and the table holds each
        admitted band key once; then per store: every batch admitted a
        subset of what it was offered (kept + dropped = offered), and the
        store now holds exactly the rows the batches admitted, texts
        unchanged."""
        failures = self._oracle_failures(bench)
        for what, log in (("stores", self.compactions), ("band-key table", self.table_compactions)):
            for before, after in log:
                if before != after:
                    failures.append(f"compaction changed the {what}' rows: {before} -> {after}")
        # the bucketed table holds each band key the near-dup store
        # admitted, once
        table_keys = [r[0] for r in bench.spark.table(self.band_table).collect()]
        store_keys = {r[0] for r in self.stores["neardup"].read_keys().collect()}
        if sorted(table_keys) != sorted(store_keys):
            failures.append(
                f"band-key table holds {len(table_keys)} keys, the near-dup store"
                f" {len(store_keys)} distinct"
            )
        for kind, store in self.stores.items():
            kept = self.kept[kind]
            for b, ids in kept.items():
                dropped = set(self.batch_ids[b]) - set(ids)
                if len(ids) + len(dropped) != len(self.batch_ids[b]):
                    failures.append(
                        f"{kind} batch {b}: kept {len(ids)} + dropped {len(dropped)}"
                        f" != offered {len(self.batch_ids[b])}"
                    )
            want = sorted(i for ids in kept.values() for i in ids)
            if kind == "neardup":
                rows = store.admitted().select("doc_id", "text").collect()
                if any(self.texts.get(r[0]) != r[1] for r in rows):
                    failures.append("neardup: an admitted text differs from the offered one")
            else:
                rows = store.admitted().select("id").collect()
            got = sorted(r[0] for r in rows)
            if got != want:
                failures.append(
                    f"{kind}: store holds {len(got)} rows, the batches admitted {len(want)}"
                )
        return failures

    def details(self, bench) -> dict:
        admits = _ops(bench, "admit.")
        docs = sum(len(self.batch_ids[b]) for b in self.measured_batches)
        admit_s = sum(o["s"] for o in admits)
        return {
            "query_geomean_s": bench.kind_geomean("query."),
            "admit_batch_s_p50": _median(o["s"] for o in admits),
            # a document is admitted once every store and the band-key
            # table have taken it
            "admit_docs_per_s": docs / admit_s if admit_s else 0.0,
            "compact_s": _median(o["s"] for o in _ops(bench, "compact")),
        }

    def layer_metrics(self, bench, jobs: list[dict]) -> dict:
        queries = _ops(bench, "query.")
        build_s = build_jobs = 0.0
        for o in queries:
            for child in bench.rec.children(bench.rec.spans[o["span"]]):
                if child["name"] != "plans.build":
                    continue
                build_s += child["end"] - child["start"]
                build_jobs += sum(
                    1
                    for j in _jobs_of(jobs, [o["id"]])
                    if child["start"] <= j["start"] <= child["end"]
                )
        total = sum(o["wall_s"] for o in queries)
        passes = max(1, len(self.measured_batches))
        out = {
            "plans.build_s": build_s / passes,
            "plans.build_jobs": build_jobs / passes,
            "plans.build_share": build_s / total if total else 0.0,
        }
        admits = _ops(bench, "admit.")
        for kind in self.store_kinds:
            out[f"streaming.apply_s.{kind}"] = _median(
                o["s"] for o in admits if o["kind"] == f"admit.{kind}"
            )
        offered = [i for b in self.kept["neardup"] for i in self.batch_ids[b]]
        kept = sum(len(ids) for per_batch in self.kept.values() for ids in per_batch.values())
        # what the stores were offered: text + id for the near-dup store,
        # (id, h) pairs for each Hamming store
        input_b = sum(len(self.texts[i].encode()) + 8 + 2 * 16 for i in offered)
        store_b = sum(p.stat().st_size for p in _files(self.store_root))
        out.update({
            "streaming.jobs_per_batch": len(_jobs_of(jobs, [o["id"] for o in admits]))
            / len(self.measured_batches) if self.measured_batches else 0.0,
            "streaming.admit_ratio": kept / (len(self.store_kinds) * len(offered)),
            "streaming.write_amp": store_b / input_b,
            "streaming.files_before_compact": float(self.files_before),
            "streaming.files_after_compact": float(self.files_after),
            "streaming.compact_s": _median(o["s"] for o in _ops(bench, "compact")),
        })
        return out


# ---------------------------------------------------------------------------
# Phase 0 -> 2 coach session
# ---------------------------------------------------------------------------

ROUTE_NEEDS = {
    "user": ("user", ["USER_SUMMARY", "USER_DECK_SUMMARY"]),
    "matchup": ("matchup", ["USER_MATCHUP_SUMMARY"]),
    "meta": ("meta", ["META_DECK_SUMMARY"]),
    "card": ("card", ["USER_CARD_SUMMARY", "OPPONENT_CARD_SUMMARY"]),
    "other": ("other", []),
}
USER_TABLES = (
    "user_summary",
    "user_deck_summary",
    "user_matchup_summary",
    "user_card_summary",
    "opponent_card_summary",
)
BATTLES_PER_PLAYER = 25


def _stub_fetch(tag: str, log: list[int]) -> list[dict]:
    """Stand-in for GET /players/{tag}/battlelog: battles seeded by a
    stable hash of the tag (the same in every process), re-tagged to the
    requested player."""
    from clashroyale_datapipeline_agent_spark.fixtures import generate_raw_battles

    battles = generate_raw_battles(
        n_players=1, battles_per_player=BATTLES_PER_PLAYER, seed=zlib.crc32(tag.encode())
    )
    for b in battles:
        b["player_tag"] = tag
        for member in b["team"]:
            member["tag"] = tag
    log.append(len(battles))
    return battles


def _recount(battles: list[dict]) -> dict[str, int]:
    """Pure-Python summary of the ranked 1v1 battles in a raw battlelog."""
    from clashroyale_datapipeline_agent_spark.schemas import RANKED_1V1_MODE_IDS

    out = {"games_played": 0, "wins": 0, "losses": 0, "draws": 0}
    for b in battles:
        if len(b["team"]) != 1 or len(b["opponent"]) != 1:
            continue
        if b["gameMode"]["id"] not in RANKED_1V1_MODE_IDS:
            continue
        mine, theirs = b["team"][0]["crowns"], b["opponent"][0]["crowns"]
        key = "wins" if mine > theirs else "losses" if mine < theirs else "draws"
        out["games_played"] += 1
        out[key] += 1
    return out


def _payload_failure(payload: str, tables: list[str], n_rows: dict[str, int]) -> str | None:
    """What is wrong with the serialized part of a Q&A context, if
    anything. It must not exceed the cap, and every table the turn
    shipped must be in it with at least one row, or as ``[]`` where the
    table (``n_rows``) is empty; a table the 4,000-char cap cut off is
    exempt."""
    from clashroyale_datapipeline_agent_spark.plans.qna_router import CONTEXT_CHAR_CAP

    if len(payload) > CONTEXT_CHAR_CAP:
        return f"{len(payload)} serialized chars, over the {CONTEXT_CHAR_CAP}-char cap"
    if not tables:
        return "no table shipped"
    cut = len(payload) == CONTEXT_CHAR_CAP
    for name in tables:
        key = json.dumps(name) + ": "
        at = payload.find(key)
        if at < 0:
            if not cut:
                return f"table {name} missing"
            continue
        rows = payload[at + len(key) :]
        want = "[{" if n_rows[name] else "[]"
        if not rows.startswith(want) and not (cut and len(rows) < 2):
            return f"table {name} of {n_rows[name]} rows serialized as {rows[:20]!r}"
    return None


class CoachWorkload:
    """The paper's end-user path through its public entry points.

    Set-up builds the meta catalog once (Phase 0, the ``meta_build``
    operation): ``MetaDatasetBuilder.run`` over a seeded leaderboard with
    a stub ``fetch_battlelog`` and a bucketed ``saveAsTable`` append into
    the run's warehouse. It fetches one initial sample and stops at the
    first stopping decision (``max_loops=0``: no resampling loop, which
    would add about 8 s to every run's set-up), then every meta table
    is materialized. It then runs two player sessions as warm-up: the
    JVM's compilers are still busy during the first sessions, and a
    session's time only settles from about the third on.

    A pass is one player's session (``plans/coach.py:CoachSession``)
    sharing that catalog: ``ensure_user`` (Phase 1,
    ``run_user_pipeline`` over the player's seeded raw battlelog, the
    five LLM tables collected), then one ``answer_one`` turn (Phase 2,
    ``answer_question``) per route in a seeded order, with stub
    classify/answer callables that return real ``data_needs``."""

    leaderboard_size = 40
    warmup_sessions = 2

    def __init__(self, bench) -> None:
        from clashroyale_datapipeline_agent_spark.fixtures import generate_leaderboard

        self.leaderboard = generate_leaderboard(self.leaderboard_size, seed=bench.seed)
        self.routes = list(ROUTE_NEEDS)[:1] if bench.smoke else list(ROUTE_NEEDS)
        self.meta: dict = {}
        self.sessions: list[dict] = []
        # (full context, length of the warning/rendered lines prepended
        # to the serialized tables, tables shipped, player session) per
        # answered question
        self.contexts: list[tuple[str, int, list[str], dict]] = []

    def exhausted(self) -> bool:
        return False

    def _build_meta(self, bench) -> None:
        from clashroyale_datapipeline_agent_spark.plans.pipeline import MetaDatasetBuilder

        fetched: list[int] = []
        builder = MetaDatasetBuilder(
            bench.spark,
            lambda tag: _stub_fetch(tag, fetched),
            staging_dir=str(bench.run_dir / "meta_staging"),
            min_total_battles=10**9,
            min_games_per_type=10**9,
            max_loops=0,
            initial_sample=6,
            seed=bench.seed,
        )
        tables = builder.run(self.leaderboard)
        for name, df in tables.items():
            with bench.rec.span(f"pipeline.materialize.{name}"):
                df.write.format("noop").mode("overwrite").save()
        self.meta = {
            "tables": tables,
            "loops": builder.loop_count,
            "fetched": sum(fetched),
            "table_dir": bench.warehouse / builder.bucket_table,
        }

    def _build_user(self, bench, rec: dict) -> dict:
        from clashroyale_datapipeline_agent_spark import schemas
        from clashroyale_datapipeline_agent_spark.plans.pipeline import run_user_pipeline

        with bench.rec.span("pipeline.user_plan"):
            raw_df = bench.spark.createDataFrame(rec["raw"], schema=schemas.RAW_BATTLE)
            catalog = run_user_pipeline(raw_df)
            tables = {k: catalog[f"llm_{k}"] for k in USER_TABLES}
        with bench.rec.span("pipeline.user_collect"):
            rows = {k: df.collect() for k, df in tables.items()}
        rec["summary"] = {r["metric"]: r["value"] for r in rows["user_summary"]}
        rec["n_rows"] = {k: len(v) for k, v in rows.items()}
        return tables

    def player_session(self, bench) -> None:
        from clashroyale_datapipeline_agent_spark.fixtures import generate_raw_battles
        from clashroyale_datapipeline_agent_spark.plans.coach import CoachSession

        rec = {
            "tag": f"#COACH{len(self.sessions):03d}",
            "raw": generate_raw_battles(
                n_players=1,
                battles_per_player=BATTLES_PER_PLAYER,
                seed=bench.rng.randrange(2**31),
            ),
            "summary": None,
        }
        self.sessions.append(rec)
        last_context = [""]

        def classify(question: str) -> str:
            category, needs = ROUTE_NEEDS[question.split(":", 1)[0]]
            return json.dumps({"category": category, "data_needs": needs})

        def answer(question: str, context: str) -> str:
            last_context[0] = context
            return f"coach reply grounded on {len(context)} chars"

        meta = self.meta["tables"]
        session = CoachSession(
            build_meta=lambda: {k: meta[k] for k in ("meta_deck_summary", "meta_matchup_summary")},
            build_user=lambda tag: self._build_user(bench, rec),
            classify=classify,
            answer=answer,
        )
        session.ensure_meta()

        def turn(question: str) -> dict:
            state = session.answer_one(question)
            prefix = sum(
                len(t) + 1 for t in (state["low_data_warning"], state["context_text"]) if t
            )
            self.contexts.append((last_context[0], prefix, state["context_tables"], rec))
            return state

        bench.op("user_build", lambda: session.ensure_user(rec["tag"]))
        routes = list(self.routes)
        bench.rng.shuffle(routes)
        for i, route in enumerate(routes):
            bench.op(f"turn.{route}", lambda q=f"{route}:question {i}": turn(q))

    def setup(self, bench) -> None:
        bench.op("meta_build", lambda: self._build_meta(bench))
        for _ in range(1 if bench.smoke else self.warmup_sessions):
            self.player_session(bench)

    def run_pass(self, bench) -> None:
        self.player_session(bench)

    def check(self, bench) -> list[str]:
        """Every session's summary against a pure-Python recount of its
        raw battles, the participants table against the staged battles,
        and the serialized part of every Q&A context: a row of each table
        shipped, within the 4,000-char cap."""
        failures = []
        if not self.meta:
            return ["Phase 0 produced no meta catalog"]
        staged = self.meta["tables"]["battles"].count()
        parts = self.meta["tables"]["participants"].count()
        self.meta["staged"] = staged
        if parts != 2 * staged:
            failures.append(f"participants {parts} != 2 x staged battles {staged}")
        for rec in self.sessions:
            if rec["summary"] is None:
                failures.append(f"{rec['tag']}: Phase 1 produced no tables")
                continue
            want = _recount(rec["raw"])
            got = {k: int(float(rec["summary"].get(k, "nan"))) for k in want}
            if got != want:
                failures.append(f"{rec['tag']}: summary {got} != recount {want}")
        meta_rows = {
            k: self.meta["tables"][k].count() for k in ("meta_deck_summary", "meta_matchup_summary")
        }
        for context, prefix, tables, rec in self.contexts:
            err = _payload_failure(context[prefix:], tables, {**meta_rows, **rec["n_rows"]})
            if err:
                failures.append(f"Q&A context: {err}")
        return failures

    def details(self, bench) -> dict:
        turns = [o["s"] for o in _ops(bench, "turn.")]
        return {
            "meta_build_s": _median(o["s"] for o in _ops(bench, "meta_build", "setup")),
            "user_build_s_p50": _median(o["s"] for o in _ops(bench, "user_build")),
            "qna_turn_s_p50": _median(turns),
            "qna_turn_s_p90": _p90(turns),
            "qna_turns": len(turns),
            # the warning and rendered lines are prepended after the cap
            "qna_context_max_chars": max((len(c[0]) for c in self.contexts), default=0),
        }

    def layer_metrics(self, bench, jobs: list[dict]) -> dict:
        rec = bench.rec
        metas = _ops(bench, "meta_build", "setup")
        users = _ops(bench, "user_build")
        turns = _ops(bench, "turn.")

        def child_s(op: dict, name: str) -> float:
            return sum(
                s["end"] - s["start"] for s in rec.spans if s["op"] == op["id"] and s["name"] == name
            )

        meta_jobs = _jobs_of(jobs, [o["id"] for o in metas])
        return {
            "pipeline.meta_loops": float(self.meta.get("loops", 0)),
            "pipeline.meta_jobs": float(len(meta_jobs)),
            "pipeline.meta_output_mb": sum(j["output_b"] for j in meta_jobs) / MB,
            "pipeline.meta_files": float(len(_files(self.meta["table_dir"])))
            if self.meta else 0.0,
            "pipeline.meta_kept_per_fetched": self.meta["staged"] / self.meta["fetched"]
            if self.meta.get("fetched") else 0.0,
            "pipeline.user_plan_s": _median(child_s(o, "pipeline.user_plan") for o in users),
            "pipeline.user_collect_s": _median(child_s(o, "pipeline.user_collect") for o in users),
            "pipeline.user_jobs": _median(len(_jobs_of(jobs, [o["id"]])) for o in users),
            "qna.prep_s": _mean(child_s(o, "qna.prep") for o in turns),
            "qna.render_s": _mean(child_s(o, "qna.render") for o in turns),
            "qna.serialize_s": _mean(child_s(o, "qna.serialize") for o in turns),
            "qna.jobs_per_turn": len(_jobs_of(jobs, [o["id"] for o in turns])) / len(turns)
            if turns else 0.0,
            "qna.context_chars": _median(len(c[0]) for c in self.contexts),
        }

    @staticmethod
    def instrument(rec) -> None:
        """Traced runs only: spans around the Q&A router's prep, render
        and serialize steps, recorded by wrapping the module functions
        ``answer_question`` looks up at call time."""
        from clashroyale_datapipeline_agent_spark.plans import qna_router

        for attr, name in (
            ("prep_context", "qna.prep"),
            ("render_context_lines", "qna.render"),
            ("serialize_context", "qna.serialize"),
        ):
            fn = getattr(qna_router, attr)

            def wrapped(*a, _fn=fn, _name=name, **kw):
                with rec.span(_name):
                    return _fn(*a, **kw)

            setattr(qna_router, attr, wrapped)


WORKLOADS = {
    "registry_admit": RegistryAdmit,
    "coach_session": CoachWorkload,
}
