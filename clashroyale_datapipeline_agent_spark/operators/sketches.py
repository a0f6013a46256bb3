"""Deterministic cardinality sketches built from relational expressions.

The engine already exposes Spark's native ``approx_count_distinct``
(HLL++, engine-specific hash → honest rows-only check). This module adds
a *cross-engine-deterministic* HyperLogLog built entirely from md5 +
string/integer expressions, so a DuckDB oracle can replay the sketch
bit-for-bit:

- hash   = md5(value as string) — same lowercase hex in Spark and DuckDB;
- bucket = value of the first 2 hex digits (m = 256 registers);
- rho    = 1 + number of leading zero *bits* of the next 16 hex digits
           (4·zero-digits + a CASE on the first non-zero digit), capped
           at 40 so the per-register term 2^(40−M) is an exact BIGINT;
- S      = Σ_registers 2^(40−M_j), empty registers contributing 2^40 —
           an *integer* sum, so no FP-ordering hazard exists anywhere in
           the sketch state;
- E      = α·m² · 2^40 / S with α = 0.7213/(1+1.079/256), written as the
           same literal division in both engines (IEEE ops are
           bit-deterministic; only libm functions are not — which is why
           the classic ln-based small-range correction is deliberately
           omitted and the register-occupancy count is reported instead).

Parity: reference `phase1_data_pipeline.py` has no sketching at all —
this is beyond-parity scale tooling (exact distinct over 100 TB keys is
a full shuffle of every key; the sketch state is 256 bytes per group).

Scale shape: one (group, bucket) partial/final aggregate — map-side
combine reduces every partition to ≤ 256·|groups| rows — then a bounded
re-aggregate per group. No window, no collect, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX = "0123456789abcdef"
#: rho cap: keeps 2^(CAP - rho) an exact non-negative BIGINT power.
RHO_CAP = 40
#: α·m²·2^CAP for m=256, as the literal expression both engines evaluate.
ALPHA_EXPR = "(0.7213 / 1.00421484375) * 65536.0 * 1099511627776.0"


def hll_register_cols(value: Column) -> tuple[Column, Column]:
    """(bucket, rho) HLL register coordinates for one value.

    All string/arithmetic expressions — stays in whole-stage codegen and
    is replayable verbatim in any engine with md5/substring/CASE.
    """
    h = F.md5(value.cast("string"))
    d1 = F.substring(h, 1, 1)
    d2 = F.substring(h, 2, 1)
    bucket = (
        (F.instr(F.lit(HEX), d1) - 1) * 16 + (F.instr(F.lit(HEX), d2) - 1)
    ).alias("bucket")
    rest = F.substring(h, 3, 16)
    zeros = F.length(F.regexp_extract(rest, "^0*", 0))
    first = F.substring(rest, zeros + 1, 1)
    lz = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = F.least(zeros * 4 + lz + F.lit(1), F.lit(RHO_CAP)).alias("rho")
    return bucket, rho


def hll_registers(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group HLL register table (group, bucket, m_j) — the MERGEABLE
    sketch state. Two register tables over disjoint (or overlapping)
    slices of the same data merge by ``MAX(m_j)`` per (group, bucket);
    merge-of-maxes equals the direct sketch by construction, which is
    what lets a 100 TB pipeline keep one 256-row sketch per (group, day)
    partition and answer any date-range distinct estimate without
    rescanning the fact table. See :func:`hll_estimate_from_registers`.
    """
    bucket, rho = hll_register_cols(F.col(value_col))
    return (
        df.select(F.col(group_col), bucket, rho)
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def hll_estimate_from_registers(regs: DataFrame, group_col: str) -> DataFrame:
    """Finalize (group, bucket, m_j) registers into the harmonic estimate.

    Same integer-state arithmetic as :func:`hll_estimate` — callers that
    merged register tables (``MAX(m_j)`` over slices) get the identical
    estimate a direct single-pass sketch would produce.
    """
    per_group = regs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"),
        F.sum(F.pow(F.lit(2.0), F.lit(RHO_CAP) - F.col("m_j")).cast("long"))
        .cast("bigint")
        .alias("present_sum"),
    )
    reg_sum = (
        F.col("present_sum")
        + (F.lit(256) - F.col("n_buckets_used")) * F.lit(1099511627776)
    ).cast("bigint")
    return per_group.select(
        F.col(group_col),
        "n_buckets_used",
        reg_sum.alias("reg_sum"),
        F.round(F.expr(ALPHA_EXPR) / reg_sum.cast("double"), 2).alias(
            "hll_estimate"
        ),
    )


def hll_estimate(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group deterministic HLL-256 distinct estimate.

    Returns (group, n_buckets_used, reg_sum, hll_estimate) where
    ``reg_sum`` is the exact BIGINT Σ 2^(40−M_j) sketch state (empty
    registers included) and ``hll_estimate`` the harmonic estimate.
    """
    return hll_estimate_from_registers(
        hll_registers(df, group_col, value_col), group_col
    )


# ---------------------------------------------------------------------------
# Count-min sketch — deterministic heavy-hitter frequency estimation
# ---------------------------------------------------------------------------

#: CMS geometry: DEPTH independent md5-salted hash rows × WIDTH buckets
#: (3 hex digits → 4096). State is DEPTH·WIDTH counters per sketch —
#: 16 384 BIGINTs — regardless of input size or key cardinality.
CMS_DEPTH = 4
CMS_WIDTH = 4096


def md5_position(value: Column, salt: int, size: int = CMS_WIDTH) -> Column:
    """Position in [0, ``size``) for one salted hash of ``value`` — the
    one hash primitive of the CMS rows and the Bloom filters.

    ``md5('<salt>:' || value)``'s leading hex digits (as many as
    ``size`` needs: 3 for 4096, 4 for 16384) read as a base-16 integer,
    modulo ``size`` unless ``size`` is a power of 16. Pure
    string/integer expressions, replayable verbatim in DuckDB
    (strpos/substr) — same discipline as :func:`hll_register_cols`.
    """
    digits = 1
    while 16**digits < size:
        digits += 1
    h = F.md5(F.concat(F.lit(f"{salt}:"), value.cast("string")))
    d = lambda i: F.instr(F.lit(HEX), F.substring(h, i, 1)) - 1  # noqa: E731
    pos = d(1)
    for i in range(2, digits + 1):
        pos = pos * 16 + d(i)
    return pos if 16**digits == size else pos % size


def cms_counters(df: DataFrame, value_col: str, depth: int = CMS_DEPTH) -> DataFrame:
    """Build the (row_id, bucket, cnt) counter matrix in one pass.

    The explode is map-side (×depth rows, no shuffle); the groupBy's
    partial aggregation collapses every partition to ≤ depth·WIDTH rows
    before the exchange, so the shuffle moves sketch-sized state, not
    data-sized state — the whole point of sketching a 100 TB stream.
    """
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("row_id"),
                    md5_position(F.col(value_col), j).alias("bucket"),
                )
                for j in range(depth)
            ]
        )
    ).alias("rb")
    return (
        df.select(rb)
        .groupBy("rb.row_id", "rb.bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame, keys: DataFrame, value_col: str, depth: int = CMS_DEPTH
) -> DataFrame:
    """Point-query the sketch: estimate = MIN over rows of the hit counter.

    ``counters`` is ≤ depth·WIDTH rows — broadcast to the probe side, so
    estimating any number of candidate keys is a map-side join. The CMS
    guarantee is one-sided: estimate ≥ true count, always.
    """
    probes = keys.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_id"),
                        md5_position(F.col(value_col), j).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("*", "rb.row_id", "rb.bucket").drop("rb")
    others = [c for c in keys.columns if c != value_col]
    return (
        # LEFT join + coalesce(0): a probe key whose (row_id, bucket)
        # cell was never incremented must contribute 0 to the MIN, not
        # vanish — otherwise an unseen key either drops from the output
        # or overestimates from its nonzero cells only, breaking the
        # "estimate >= truth, including truth = 0" contract.
        probes.join(F.broadcast(counters), ["row_id", "bucket"], "left")
        .groupBy(value_col, *others)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("bigint")
            .alias("cms_estimate")
        )
    )


# ---------------------------------------------------------------------------
# Bloom filter (set membership)
# ---------------------------------------------------------------------------

#: Default Bloom geometry: BLOOM_HASHES salted positions into BLOOM_BITS
#: bits. State is the DISTINCT set-bit table — at most ``bits`` rows
#: regardless of key volume, the same bounded-state discipline as the HLL
#: register and CMS counter tables above.
BLOOM_BITS = 4096
BLOOM_HASHES = 4


def bloom_bit_cols(
    value: Column, *, hashes: int = BLOOM_HASHES, bits: int = BLOOM_BITS
) -> list[Column]:
    """The ``hashes`` bit positions of ``value`` (salts 0..hashes-1)."""
    return [md5_position(value, j, bits) for j in range(hashes)]


def bloom_bits(
    df: DataFrame, value_col: str, *, hashes: int = BLOOM_HASHES,
    bits: int = BLOOM_BITS,
) -> DataFrame:
    """Build the filter: one row per DISTINCT set bit (column ``bit``).

    The explode is map-side (×hashes rows, no shuffle); the distinct's
    partial aggregation collapses each partition to ≤ ``bits`` rows
    before the exchange — the shuffle moves filter-sized state. The
    result broadcasts to any probe side, which is the operational point:
    membership pre-filtering a 100 TB scan against a key set built
    elsewhere costs one broadcast, no key-set shuffle.
    """
    cols = bloom_bit_cols(F.col(value_col), hashes=hashes, bits=bits)
    return df.select(F.explode(F.array(*cols)).alias("bit")).distinct()


def bloom_probe(
    bloom: DataFrame, keys: DataFrame, value_col: str, *,
    hashes: int = BLOOM_HASHES, bits: int = BLOOM_BITS,
) -> DataFrame:
    """Probe keys against the filter: ``maybe_present`` iff ALL
    ``hashes`` bit positions are set (the one-sided Bloom contract — no
    false negatives, tunable false positives ≈ (bits_set/m)^k).

    Probe keys explode into (key, bit) rows, LEFT-join the broadcast
    bit table, and re-group requiring EVERY probed bit to have matched
    (``min(_hit) == 1``). The min formulation — not ``sum == hashes`` —
    keeps the no-false-negative contract when the probe side contains
    duplicate rows (a scan with repeated keys pools d duplicates into
    one group with d×hashes exploded rows; a sum would see d×hashes ≠
    hashes and wrongly report absent) and when two hash functions
    collide on one bit position.
    """
    others = [c for c in keys.columns if c != value_col]
    cols = bloom_bit_cols(F.col(value_col), hashes=hashes, bits=bits)
    probes = keys.select("*", F.explode(F.array(*cols)).alias("bit"))
    marked = bloom.select("bit", F.lit(1).alias("_hit"))
    return (
        probes.join(F.broadcast(marked), "bit", "left")
        .groupBy(value_col, *others)
        .agg(
            (F.min(F.coalesce(F.col("_hit"), F.lit(0))) == 1).alias(
                "maybe_present"
            )
        )
    )
