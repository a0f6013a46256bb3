"""Dimension-maintenance jobs (SURVEY.md §2.3 J2).

The reference's ``update_cardsdata.py:36-52`` is a one-shot script: build a
``name -> elixirCost`` dict from the raw API dump, then for every metadata
card that MATCHES a raw name, overwrite ``elixir`` with the raw value —
verbatim, even when the raw value is null (``dict.get`` — Mirror has no
``elixirCost``). Unmatched cards keep their current elixir and are reported
as missing.

Spark-first shape: broadcast left join on ``name``; the matched/unmatched
branch is a ``CASE`` on the join hit, NOT a ``coalesce`` (coalesce would
wrongly preserve an old elixir when the raw value is null). At scale this
is the canonical slowly-changing-dimension refresh: dimension updates are
tiny, the join broadcasts, and the write is a full overwrite of a small
table — no fact-table shuffle anywhere.
"""

from __future__ import annotations

import json
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.sources.readers import (
    CARD_METADATA_PATH,
    load_card_metadata,
)

_DATA_DIR = CARD_METADATA_PATH.parent
CARDS_RAW_PATH = _DATA_DIR / "cards_raw.json"

#: columns we pin from the raw API dump (the rest are pruned)
RAW_CARDS_SCHEMA = "id bigint, name string, elixirCost int"


def load_cards_raw(spark: SparkSession, path: str | Path | None = None) -> DataFrame:
    """Raw API card dump as a schema-pinned DataFrame (tiny dimension,
    driver-loaded like ``load_card_metadata``; fixture copy disclosed in
    ``data/README.md``)."""
    p = Path(path) if path is not None else CARDS_RAW_PATH
    with p.open("r", encoding="utf-8") as f:
        raw = json.load(f)
    rows = [
        {"id": int(c["id"]), "name": c["name"], "elixirCost": c.get("elixirCost")}
        for c in raw
    ]
    return spark.createDataFrame(rows, schema=RAW_CARDS_SCHEMA)


def backfill_elixir(meta: DataFrame, raw: DataFrame) -> DataFrame:
    """J2 — refresh the metadata ``elixir`` column from the raw dump.

    Matched names take ``raw.elixirCost`` VERBATIM (null included — the
    reference's ``c["elixir"] = elixir_lookup[name]`` runs even when the
    lookup value is None); unmatched names keep their current ``elixir``.
    Adds ``backfill_status`` ('updated' | 'missing') so the caller can
    report the reference script's updated/missing tallies relationally.

    Precondition: ``raw.name`` unique (true for the API dump; enforced with
    ``dropDuplicates`` to keep the join 1:1 — the reference's dict build
    would keep the LAST duplicate, an order-dependent accident not worth
    reproducing).
    """
    lookup = raw.select(
        "name",
        F.col("elixirCost").alias("_raw_elixir"),
        F.lit(True).alias("_matched"),
    ).dropDuplicates(["name"])
    joined = meta.join(F.broadcast(lookup), "name", "left")
    matched = F.coalesce(F.col("_matched"), F.lit(False))
    return joined.select(
        *[c for c in meta.columns if c != "elixir"],
        F.when(matched, F.col("_raw_elixir")).otherwise(F.col("elixir")).alias("elixir"),
        F.when(matched, F.lit("updated")).otherwise(F.lit("missing")).alias(
            "backfill_status"
        ),
    )


def run_elixir_backfill(
    spark: SparkSession,
    *,
    raw_path: str | Path | None = None,
    meta_path: str | Path | None = None,
    out_path: str,
) -> dict:
    """The J2 job end-to-end: load both dimensions, backfill, write the
    refreshed dimension as JSON lines via the S4 sink, and return the
    reference script's report (updated count + missing names)."""
    meta = load_card_metadata(spark, meta_path)
    raw = load_cards_raw(spark, raw_path)
    refreshed = backfill_elixir(meta, raw)
    refreshed.drop("backfill_status").write.mode("overwrite").json(str(out_path))
    missing = [
        r["name"]
        for r in refreshed.filter(F.col("backfill_status") == "missing")
        .select("name")
        .collect()
    ]
    updated = refreshed.filter(F.col("backfill_status") == "updated").count()
    return {"updated": updated, "missing": missing}


def merge_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    *,
    op_col: str = "op",
) -> DataFrame:
    """MERGE INTO semantics as one full-outer join — upsert + delete.

    ``changes`` carries ``op_col`` ∈ {'I','U','D'} plus the full row
    payload for inserts/updates. Result rows:

    - key only in snapshot               -> snapshot row (untouched);
    - key in changes with op 'I' or 'U'  -> change row (insert/update);
    - key in changes with op 'D'         -> dropped;
    - 'U'/'D' for an absent key behaves like the SQL MERGE default:
      'U' inserts (upsert), 'D' is a no-op;
    - op NULL or outside {I,U,D}         -> the change row is ignored:
      an existing snapshot row survives untouched, an absent key stays
      absent. A malformed changeset can therefore never delete or
      overwrite snapshot rows.

    Precondition (same as SQL MERGE, which raises on multiple matches):
    ``changes`` has at most one row per key — dedupe upstream (e.g.
    keep the latest by a version column) before merging.

    Scale shape: ONE shuffle on the merge keys (the full-outer join);
    every branch is a column-level CASE on join-hit markers, no second
    pass, no driver state. This is the nightly-snapshot maintenance
    primitive (Delta/Iceberg MERGE) expressed in pure DataFrame algebra
    — works on plain parquet snapshots.
    """
    payload = [c for c in snapshot.columns if c not in keys]
    s = snapshot.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"_s_{c}") for c in payload],
        F.lit(True).alias("_in_s"),
    )
    c = changes.select(
        *[F.col(k) for k in keys],
        *[F.col(x).alias(f"_c_{x}") for x in payload],
        F.col(op_col).alias("_op"),
        F.lit(True).alias("_in_c"),
    )
    j = s.join(c, list(keys), "full_outer")
    # Only a recognized upsert op takes the change payload; only a
    # literal 'D' (NULL-safe compare) deletes. Anything else — op NULL,
    # typo'd op — leaves the snapshot row in place and inserts nothing.
    take_change = F.col("_in_c").isNotNull() & F.col("_op").isin("I", "U")
    keep = (
        # snapshot rows survive unless explicitly deleted; valid
        # insert/update rows survive with the change payload
        (F.col("_in_s").isNotNull() & ~F.col("_op").eqNullSafe("D"))
        | take_change
    )
    return j.filter(keep).select(
        *[F.col(k) for k in keys],
        *[
            F.when(take_change, F.col(f"_c_{x}"))
            .otherwise(F.col(f"_s_{x}"))
            .alias(x)
            for x in payload
        ],
    )
