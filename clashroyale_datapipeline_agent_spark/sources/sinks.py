"""File sinks (SURVEY.md §2.1 S4) — schema-preserving writers.

The reference writes pretty-printed JSON dimension files
(``/root/reference/getcards.py:55-89``, ``update_cardsdata.py:32-57``).
Engine-side equivalents plus the scale-relevant staging writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink — the shuffle-elimination path for
    repeated joins/windows on the same key (SCALE.md: battle store bucketed
    by player_tag makes per-player top-k and joins shuffle-free)."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table, format="parquet")


#: Formats the generic table I/O pair accepts. Parquet and ORC are the
#: columnar pair (both predicate-pushdown capable); CSV/JSON are the
#: text-interchange pair (schema must be supplied on read — never
#: inferred, inference samples the data and can flip types between runs).
TABLE_FORMATS = ("parquet", "orc", "csv", "json")


def write_table(
    df: DataFrame,
    path: str,
    *,
    format: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Format-generic table sink (parquet/orc/csv/json).

    CSV writes a header so files are self-describing for external tools,
    but the read path still pins the schema explicitly. Partitioning
    works identically across formats (directory layout is format-
    agnostic), so date/lang pruning carries over to ORC and CSV zones.
    """
    if format not in TABLE_FORMATS:
        raise ValueError(f"unsupported format {format!r}; one of {TABLE_FORMATS}")
    w = df.write.mode(mode).format(format)
    if format == "csv":
        w = w.option("header", "true")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table(spark, path: str, schema, *, format: str = "parquet"):
    """Format-generic schema-PINNED table scan.

    The schema argument is mandatory by design: text formats would
    otherwise infer (an extra data pass + nondeterministic typing), and
    even for columnar formats pinning keeps the contract explicit. ORC
    and parquet both reach ``PushedFilters`` for comparison predicates;
    CSV/JSON scans read whole rows — keep them as landing zones only and
    convert to a columnar format before analytics (SCALE.md)."""
    if format not in TABLE_FORMATS:
        raise ValueError(f"unsupported format {format!r}; one of {TABLE_FORMATS}")
    r = spark.read.format(format).schema(schema)
    if format == "csv":
        r = r.option("header", "true")
    return r.load(path)
