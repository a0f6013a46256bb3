"""Sampling operators (SURVEY.md §2.9 R1-R3).

The reference uses ``random.sample`` for exact-k without-replacement draws
(``/root/reference/src/utils/sampling.py:5-31``). Distributed equivalents:

- :func:`sample_deterministic_mod` — seedless *deterministic* pseudo-sample
  on a key (hash-mod). Used where cross-engine reproducibility matters more
  than uniformity (e.g. the DuckDB oracle, which cannot reproduce either
  engine's RNG stream — SURVEY.md §7.4 risk #4).

Seed semantics differ from ``random.sample`` by construction; tests fix the
sampled *set* via injected tag lists, never by RNG replay.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F



def sample_deterministic_mod(key: Column, modulus: int, keep_below: int) -> Column:
    """Deterministic pseudo-sample predicate: ``key % modulus < keep_below``.

    Engine-independent (pure integer arithmetic) — the only sampling form
    the DuckDB oracle can verify bit-for-bit.
    """
    return F.pmod(key, F.lit(modulus)) < keep_below


def hash_split_col(key: Column, boundaries: list[tuple[str, str]], last: str) -> Column:
    """Deterministic train/val/test assignment from a content hash.

    ``boundaries`` is a list of (label, exclusive upper hex bound) over the
    first two md5 hex chars of the stringified key (256 buckets); rows at or
    past the last bound get ``last``. E.g. ``[("train", "cc"), ("val", "e6")],
    "test"`` ≈ 80/10/10. Pure per-row expression: no shuffle, no RNG, stable
    across engines, runs, and cluster sizes — re-ingesting the same document
    always lands it in the same split (the property RNG splits lack).
    """
    h = F.substring(F.md5(key.cast("string")), 1, 2)
    expr = F.lit(last)
    for label, upper in reversed(boundaries):
        expr = F.when(h < upper, F.lit(label)).otherwise(expr)
    return expr


def stratified_mod_sample(
    df: DataFrame,
    strata_col: str,
    key: Column,
    rates: dict[str, tuple[int, int]],
    *,
    default: tuple[int, int] | None = None,
) -> DataFrame:
    """Deterministic stratified sample: per-stratum keep predicates
    ``key % modulus < keep_below`` (``rates[stratum] = (modulus,
    keep_below)``), composing :func:`sample_deterministic_mod` per class.

    The dataset-balancing operator (e.g. downsample dominant languages):
    a pure scan predicate — no shuffle, no per-stratum pass, no RNG; strata
    absent from ``rates`` keep everything unless ``default`` is given.
    """
    keep = F.lit(True) if default is None else sample_deterministic_mod(
        key, default[0], default[1]
    )
    for stratum, (modulus, keep_below) in sorted(rates.items()):
        keep = F.when(
            F.col(strata_col) == stratum,
            sample_deterministic_mod(key, modulus, keep_below),
        ).otherwise(keep)
    return df.filter(keep)


def cap_per_group(
    df: DataFrame,
    *,
    group_col: str,
    cap: int,
    id_col: str,
) -> DataFrame:
    """Deterministic per-group downsampling to at most ``cap`` rows — the
    language/source-rebalancing step of a training mix (cap the
    over-represented groups, keep small groups whole).

    Survivors are the first ``cap`` rows per group in md5(id) order (id
    tiebreak): a uniform-but-reproducible choice with no RNG, so two
    engines and two runs agree row-for-row. One shuffle on the group key;
    same W1 top-k shape, so a group-bucketed store makes it exchange-free.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def resample_by_temperature(
    df: DataFrame,
    *,
    group_col: str,
    alpha: float,
    total: int,
    id_col: str,
) -> DataFrame:
    """Temperature-based mixture resampling — the multilingual-corpus
    rebalancing step (sample group g with probability proportional to
    ``n_g ** alpha``; alpha<1 flattens the mix toward low-resource
    groups, alpha=1 keeps natural proportions).

    Per-group targets are ``floor(total * n^alpha / sum(n^alpha))``;
    survivors are the first ``target`` rows per group in md5(id) order —
    the same deterministic no-RNG discipline as :func:`cap_per_group`, so
    the survivor SET is engine- and run-stable. alpha=0.5 goes through
    ``sqrt`` (correctly-rounded IEEE in every engine) rather than
    ``pow`` so the target boundary cannot wobble cross-engine.

    Scale shape: group counts + the sum-of-weights scalar are one
    bounded aggregate broadcast back as a 1-row/row-per-group literal
    join; the only corpus-width shuffle is the per-group rank window
    (W1 shape — exchange-free over a group-bucketed store).
    """
    ng = F.col("_n").cast("double")
    weight = F.sqrt(ng) if alpha == 0.5 else F.pow(ng, F.lit(float(alpha)))
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    tot = counts.agg(F.sum(weight).alias("_s"))
    targets = counts.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.floor(F.lit(float(total)) * weight / F.col("_s"))
        .cast("bigint")
        .alias("_target"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(targets), group_col)
        .filter(F.col("_rn") <= F.col("_target"))
        .drop("_rn", "_target")
    )


def plan_source_mixture(
    token_counts: DataFrame,
    weight_col: Column,
    *,
    budget_frac: float,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Training-mixture planning (the Pile/Llama-style source-weighting
    step): given per-source token counts and RELATIVE weights, compute
    each source's token target under a corpus-fraction budget, the
    sampling rate (or oversampling epochs, when the target exceeds the
    source), and the planned token yield.

    ``token_counts`` is the (source, n_tokens) aggregate — sources², not
    corpus, rows. ``weight_col`` is any deterministic expression over it
    (a literal map, a CASE over the source name, …); weights are
    normalized internally so callers pass relative priorities. The two
    corpus totals (token sum, weight sum) join back as a broadcast 1-row
    aggregate — no driver collect, and the whole plan touches only the
    per-source aggregate, so it composes after a single corpus scan.

    Returns ``(source, n_tokens, weight, target_tokens, epochs,
    planned_tokens)``: ``epochs`` > 1 means the source must be repeated
    to fill its slice; ``planned_tokens`` caps at one epoch (the
    no-oversampling yield).
    """
    w = token_counts.withColumn("_w_raw", weight_col.cast("double"))
    totals = w.agg(
        F.sum("_w_raw").alias("_w_sum"),
        F.sum(F.col(tokens_col)).alias("_tok_sum"),
    )
    out = w.join(F.broadcast(totals))
    budget = F.floor(F.lit(budget_frac) * F.col("_tok_sum").cast("double"))
    target = F.floor(
        budget.cast("double") * F.col("_w_raw") / F.col("_w_sum")
    ).cast("bigint")
    return out.select(
        F.col(source_col),
        F.col(tokens_col).cast("bigint").alias(tokens_col),
        F.round(F.col("_w_raw") / F.col("_w_sum"), 4).alias("weight"),
        target.alias("target_tokens"),
        F.round(
            target.cast("double") / F.col(tokens_col).cast("double"), 4
        ).alias("epochs"),
        F.least(F.col(tokens_col).cast("bigint"), target).alias(
            "planned_tokens"
        ),
    )
