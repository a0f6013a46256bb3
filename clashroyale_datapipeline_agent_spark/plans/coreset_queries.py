"""Round-9 wave 2: selection geometry & affinity — the ops a 100 TB
curation pass runs when "which documents" stops being a per-row filter
and becomes a SET question:

- **k-center coreset** (Gonzalez farthest-first traversal): the classic
  2-approximation coverage coreset — pick the point farthest from
  everything picked so far.  k linear scans, no pair join; the covering
  radius sequence it emits is the stopping diagnostic ("radius stopped
  shrinking → the set is covered").
- **MMR diversified top-k** (Carbonell & Goldstein 1998): relevance
  minus redundancy re-ranking over a bounded retrieval pool — the
  standard fix for near-duplicate retrieval results feeding dedup'd
  training batches.
- **Kneser-Ney bigram perplexity per source** (the smoothing KenLM
  actually ships): continuation-count interpolation, not add-one — the
  cheap-LM fluency gate CCNet-style pipelines threshold on.
- **Adamic-Adar co-purchase affinity**: link-prediction over the
  bipartite customer-part graph — inverse-log-degree-weighted common
  neighbors, the textbook "related items" candidate generator.
- **Frequent 3-sequence mining** (PrefixSpan's bread-and-butter grain):
  consecutive event-type triples per user with distinct-user support —
  the sequence analog of the Markov-transition table.
- **Pareto quality front** (size vs lexical diversity): the
  non-dominated document set, computed at the DISTINCT-x grain (hash
  agg → tiny suffix-max window → semi-join back) instead of a
  quadratic dominance join.
- **Covariance participation ratio** (effective rank): the
  embedding-collapse diagnostic tr(C)²/tr(C²), computed from EXACT
  integer Gram sums so the spectral readout is engine-free.

House determinism discipline (SCALE.md "Float-ROUND ledger"):

- k-center distances are EXACT BIGINT sums of squared 1e6-quantized
  component deltas (max 64·(2e6)² ≈ 2.6e14 « 2⁶³) — the argmax orders
  by (mind2 DESC, vec_id), total and engine-free; the farthest-first
  recursion therefore never touches a float.
- MMR is run on 1e6-scaled INTEGER cosines (one IEEE division+sqrt of
  exact ints in fixed expression order, then ROUND): the greedy
  objective 7·rel6 − 3·max(sim6) is pure int64 arithmetic, so the
  entire selection path is exact.
- Kneser-Ney probabilities are a SINGLE division of two exact integer
  products (discount D=3/4 cleared to integers: P = ((4c₁₂−3)·B +
  3·N1p(w₁)·Ncont(w₂)) / (4c(w₁)·B)); the per-bigram surprisal is
  1e9-quantized to int64 and weight-summed in decimal(38,0)/HUGEINT.
- Adamic-Adar weights are 1e9-quantized inverse-log-degrees summed as
  BIGINT; top-k orders by (aa9 DESC, part_a, part_b).

Scale shape: k-center is k bounded-literal scans (k×dim carrier, as in
``kmeans_lloyd_iter``); MMR touches only a top-20 pool after one
TakeOrderedAndProject scan; Kneser-Ney scores the DISTINCT-bigram grain
(multiplicity-weighted, corpus tokenized once — the
``docs_bigram_lm_surprisal_by_source`` shape); Adamic-Adar prunes to
2 ≤ degree ≤ 40 baskets before the c-keyed self-join (the documented
fan-out ceiling: production recsys caps neighbor lists exactly here),
and the pair agg is a map-side-combinable hash agg on (part_a, part_b).

No reference counterpart (``/root/reference/src`` has no embedding,
retrieval, or graph surface); these serve the 100 TB training-data
story alongside selection_queries.py / audit_queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.operators.text import tokens_col
from clashroyale_datapipeline_agent_spark.plans.star_queries import _t, register

#: house tokenizer, DuckDB side (≡ operators/text.tokens_col)
_TOKS = (
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),"
    " x -> x != '')"
)

_DIM = 64          #: embedding dimensionality (TESTDATA.md)
_KC_K = 8          #: k-center coreset size
_MMR_POOL = 20     #: MMR candidate pool (top-k by query cosine)
_MMR_K = 5         #: MMR selections
_AA_MIN_DEG = 2    #: Adamic-Adar: drop single-part customers (ln 1 = 0)
_AA_MAX_DEG = 40   #: Adamic-Adar basket cap (quadratic fan-out ceiling)


# ---------------------------------------------------------------------------
# shared exact-integer vector helpers
# ---------------------------------------------------------------------------

def _vq_col() -> Column:
    """1e6-quantized integer component array of ``embedding``."""
    return F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * 1000000.0).cast("bigint"),
    )


def _least(cols: list[Column]) -> Column:
    return cols[0] if len(cols) == 1 else F.least(*cols)


def _greatest(cols: list[Column]) -> Column:
    return cols[0] if len(cols) == 1 else F.greatest(*cols)


def _d2_to_lit(vq: Column, pick: list[int]) -> Column:
    """Exact squared distance from ``vq`` to a literal quantized vector."""
    lit = F.array(*[F.lit(int(x)) for x in pick])
    return F.aggregate(
        F.zip_with(vq, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sim6_to_lit(vq: Column, na2: Column, pick: list[int], pn2: int) -> Column:
    """1e6-scaled integer cosine between ``vq`` and a literal vector.

    One IEEE division + sqrt of exact integers in fixed expression
    order — both engines materialize the identical double, then ROUND
    lands on the identical int64."""
    lit = F.array(*[F.lit(int(x)) for x in pick])
    cr = F.aggregate(
        F.zip_with(vq, lit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.round(
        F.lit(1000000.0)
        * cr.cast("double")
        / F.sqrt(na2.cast("double") * F.lit(float(pn2)))
    ).cast("bigint")


# ---------------------------------------------------------------------------
# k-center coreset (Gonzalez farthest-first traversal)
# ---------------------------------------------------------------------------

def _kcenter_sql() -> str:
    d2 = (
        "list_sum(list_transform(generate_series(1, 64),"
        " j -> (v.vq[j] - s.vq[j]) * (v.vq[j] - s.vq[j])))"
    )
    ctes = [
        "v AS (SELECT vec_id, label,"
        " list_transform(CAST(embedding AS DOUBLE[]),"
        " x -> CAST(ROUND(x * 1000000.0) AS BIGINT)) AS vq"
        " FROM embeddings)",
        "s1 AS (SELECT vec_id, 1 AS step, CAST(0 AS BIGINT) AS mind2, vq"
        " FROM v WHERE vec_id = 0)",
    ]
    for n in range(1, _KC_K):
        ctes.append(
            f"m{n} AS (SELECT v.vec_id,"
            f" CAST(MIN({d2}) AS BIGINT) AS mind2"
            f" FROM v, s{n} s"
            f" WHERE v.vec_id NOT IN (SELECT vec_id FROM s{n})"
            f" GROUP BY v.vec_id)"
        )
        ctes.append(
            f"p{n + 1} AS (SELECT v.vec_id, {n + 1} AS step, m.mind2, v.vq"
            f" FROM m{n} m JOIN v USING (vec_id)"
            f" ORDER BY m.mind2 DESC, v.vec_id ASC LIMIT 1)"
        )
        ctes.append(
            f"s{n + 1} AS (SELECT * FROM s{n}"
            f" UNION ALL SELECT * FROM p{n + 1})"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT CAST(s.step AS BIGINT) AS step,
           CAST(s.vec_id AS BIGINT) AS vec_id,
           CAST(v.label AS BIGINT) AS label,
           s.mind2
    FROM s{_KC_K} s JOIN v USING (vec_id)
    ORDER BY step
    """
    )


@register("embeddings_kcenter_coreset", _kcenter_sql())
def embeddings_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez farthest-first k-center coreset (k=8, seed = vec_id 0):
    each round picks the vector maximizing its distance to the selected
    set — the classic 2-approximate coverage coreset for embedding-space
    data selection, and ``mind2`` per step is the covering-radius
    sequence a curator reads to choose k. All distances are exact BIGINT
    sums over 1e6-quantized components, so the greedy recursion is
    engine-free; ties break on vec_id. Scale: k−1 linear scans, each an
    in-row ``least`` over ≤k literal vectors (k×dim bounded carrier, as in
    ``kmeans_lloyd_iter``) feeding one TakeOrderedAndProject — no
    pair join, no quadratic term anywhere."""
    from clashroyale_datapipeline_agent_spark.sources.readers import (
        spread_if_narrow,
    )

    # the k−1 greedy rounds and the final readout each rescan the
    # ground set: materialize the quantized projection ONCE (round-13,
    # guide §5 localCheckpoint-to-cut-lineage) instead of re-reading
    # parquet and re-deriving the 64-dim quantization 9 times
    v = spread_if_narrow(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", _vq_col().alias("vq")
    ).localCheckpoint(eager=True)
    seed = v.filter(F.col("vec_id") == 0).select("vq").collect()[0][0]
    picks: list[tuple[int, list[int]]] = [(0, [int(x) for x in seed])]
    for _ in range(_KC_K - 1):
        cand = v.filter(
            ~F.col("vec_id").isin([p[0] for p in picks])
        ).select(
            "vec_id",
            _least(
                [_d2_to_lit(F.col("vq"), p[1]) for p in picks]
            ).alias("mind2"),
            "vq",
        )
        row = (
            cand.orderBy(F.desc("mind2"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        picks.append((int(row["vec_id"]), [int(x) for x in row["vq"]]))

    step_expr = F.lit(None).cast("bigint")
    mind2_expr = F.lit(None).cast("bigint")
    for i, (vid, _) in enumerate(picks):
        step_expr = F.when(
            F.col("vec_id") == vid, F.lit(i + 1).cast("bigint")
        ).otherwise(step_expr)
        prior = [p[1] for p in picks[:i]]
        md = (
            F.lit(0).cast("bigint")
            if not prior
            else _least([_d2_to_lit(F.col("vq"), p) for p in prior])
        )
        mind2_expr = F.when(F.col("vec_id") == vid, md).otherwise(mind2_expr)
    return (
        v.filter(F.col("vec_id").isin([p[0] for p in picks]))
        .select(
            step_expr.alias("step"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("label").cast("bigint").alias("label"),
            mind2_expr.alias("mind2"),
        )
        .orderBy("step")
    )


# ---------------------------------------------------------------------------
# MMR diversified top-k
# ---------------------------------------------------------------------------

def _mmr_sql() -> str:
    gs = "generate_series(1, 64)"
    sim6 = (
        "CAST(ROUND(1000000.0 * CAST(list_sum(list_transform("
        f"{gs}, j -> p.vq[j] * g.vq[j])) AS DOUBLE)"
        " / sqrt(CAST(p.na2 AS DOUBLE) * CAST(g.na2 AS DOUBLE)))"
        " AS BIGINT)"
    )
    ctes = [
        "v AS (SELECT vec_id,"
        " list_transform(CAST(embedding AS DOUBLE[]),"
        " x -> CAST(ROUND(x * 1000000.0) AS BIGINT)) AS vq"
        " FROM embeddings)",
        "n2 AS (SELECT vec_id, vq,"
        " CAST(list_sum(list_transform(vq, x -> x * x)) AS BIGINT) AS na2"
        " FROM v)",
        "q AS (SELECT vq AS qv, na2 AS qn2 FROM n2 WHERE vec_id = 0)",
        "scored AS (SELECT e.vec_id, e.vq, e.na2,"
        " CAST(ROUND(1000000.0 * CAST(list_sum(list_transform("
        f"{gs}, j -> e.vq[j] * q.qv[j])) AS DOUBLE)"
        " / sqrt(CAST(e.na2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)))"
        " AS BIGINT) AS rel6"
        " FROM n2 e, q WHERE e.vec_id <> 0)",
        f"pool AS (SELECT * FROM scored"
        f" ORDER BY rel6 DESC, vec_id ASC LIMIT {_MMR_POOL})",
        "g1 AS (SELECT vec_id, vq, na2, rel6,"
        " CAST(7 * rel6 AS BIGINT) AS mmr6, 1 AS step FROM pool"
        " ORDER BY rel6 DESC, vec_id ASC LIMIT 1)",
    ]
    for n in range(1, _MMR_K):
        ctes.append(
            f"c{n} AS (SELECT p.vec_id, p.vq, p.na2, p.rel6,"
            f" MAX({sim6}) AS msim6"
            f" FROM pool p, g{n} g"
            f" WHERE p.vec_id NOT IN (SELECT vec_id FROM g{n})"
            f" GROUP BY p.vec_id, p.vq, p.na2, p.rel6)"
        )
        ctes.append(
            f"t{n + 1} AS (SELECT vec_id, vq, na2, rel6,"
            f" CAST(7 * rel6 - 3 * msim6 AS BIGINT) AS mmr6,"
            f" {n + 1} AS step FROM c{n}"
            f" ORDER BY mmr6 DESC, vec_id ASC LIMIT 1)"
        )
        ctes.append(
            f"g{n + 1} AS (SELECT * FROM g{n}"
            f" UNION ALL SELECT * FROM t{n + 1})"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT CAST(step AS BIGINT) AS step,
           CAST(vec_id AS BIGINT) AS vec_id,
           rel6, mmr6
    FROM g{_MMR_K}
    ORDER BY step
    """
    )


@register("embeddings_mmr_diverse_topk", _mmr_sql())
def embeddings_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (λ=0.7) of the top-20
    cosine pool for the vec_id=0 query: greedily pick argmax of
    0.7·sim(q,d) − 0.3·max_{s∈S} sim(d,s) — the standard
    redundancy-suppressing selector for retrieval results feeding
    training batches (Carbonell & Goldstein 1998). Run entirely on
    1e6-scaled INTEGER cosines (×10: 7·rel6 − 3·msim6), so the greedy
    path is exact int64 arithmetic with vec_id tiebreaks. Scale: one
    full scan ends at TakeOrderedAndProject(pool=20); the k−1 greedy
    rounds touch only the 20-row pool against ≤k literal picks — the
    re-rank cost is independent of corpus size."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _vq_col().alias("vq")
    )
    n2 = e.select(
        "vec_id",
        "vq",
        F.aggregate(
            F.transform(F.col("vq"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("na2"),
    )
    qrow = n2.filter(F.col("vec_id") == 0).select("vq", "na2").collect()[0]
    qv, qn2 = [int(x) for x in qrow["vq"]], int(qrow["na2"])
    pool = (
        n2.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "vq",
            "na2",
            _sim6_to_lit(F.col("vq"), F.col("na2"), qv, qn2).alias("rel6"),
        )
        .orderBy(F.desc("rel6"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .localCheckpoint(eager=True)  # 20 rows; spares the greedy rounds
        # the corpus-wide top-k rescan (the one real win measured here)
    )
    first = pool.orderBy(F.desc("rel6"), F.asc("vec_id")).limit(1).collect()[0]
    picks = [
        (int(first["vec_id"]), [int(x) for x in first["vq"]], int(first["na2"]))
    ]
    for _ in range(_MMR_K - 1):
        msim = _greatest(
            [
                _sim6_to_lit(F.col("vq"), F.col("na2"), p[1], p[2])
                for p in picks
            ]
        )
        cand = pool.filter(
            ~F.col("vec_id").isin([p[0] for p in picks])
        ).select(
            "vec_id",
            "vq",
            "na2",
            (7 * F.col("rel6") - 3 * msim).alias("mmr6"),
        )
        row = (
            cand.orderBy(F.desc("mmr6"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        picks.append(
            (int(row["vec_id"]), [int(x) for x in row["vq"]], int(row["na2"]))
        )

    step_expr = F.lit(None).cast("bigint")
    mmr_expr = F.lit(None).cast("bigint")
    for i, (vid, _, _) in enumerate(picks):
        step_expr = F.when(
            F.col("vec_id") == vid, F.lit(i + 1).cast("bigint")
        ).otherwise(step_expr)
        prior = picks[:i]
        if not prior:
            m = (7 * F.col("rel6")).cast("bigint")
        else:
            ms = _greatest(
                [
                    _sim6_to_lit(F.col("vq"), F.col("na2"), p[1], p[2])
                    for p in prior
                ]
            )
            m = (7 * F.col("rel6") - 3 * ms).cast("bigint")
        mmr_expr = F.when(F.col("vec_id") == vid, m).otherwise(mmr_expr)
    return (
        pool.filter(F.col("vec_id").isin([p[0] for p in picks]))
        .select(
            step_expr.alias("step"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            "rel6",
            mmr_expr.alias("mmr6"),
        )
        .orderBy("step")
    )


# ---------------------------------------------------------------------------
# Kneser-Ney bigram perplexity per source
# ---------------------------------------------------------------------------

_KN_SQL = f"""
    WITH base AS (
        SELECT source, {_TOKS} AS ts FROM documents
    ), big AS (
        SELECT source,
               unnest(ts[:len(ts) - 1]) AS w1,
               unnest(ts[2:]) AS w2
        FROM base WHERE len(ts) >= 2
    ), k AS (
        SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
        FROM big GROUP BY source, w1, w2
    ), c12 AS (
        SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c12 FROM k GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n1p
        FROM c12 GROUP BY w1
    ), cont AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont FROM c12 GROUP BY w2
    ), nbt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS b FROM c12
    ), scored AS (
        SELECT k.source, k.k,
               CAST(ROUND(-ln(
                   CAST((4 * c12.c12 - 3) * CAST(nbt.b AS HUGEINT)
                        + 3 * CAST(c1.n1p AS HUGEINT) * cont.ncont
                        AS DOUBLE)
                   / CAST(4 * CAST(c1.c1 AS HUGEINT) * nbt.b AS DOUBLE)
               ) * 1000000000.0) AS BIGINT) AS s9
        FROM k
        JOIN c12 ON k.w1 = c12.w1 AND k.w2 = c12.w2
        JOIN c1 ON k.w1 = c1.w1
        JOIN cont ON k.w2 = cont.w2
        CROSS JOIN nbt
    )
    SELECT source,
           CAST(SUM(k) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(CAST(k AS HUGEINT) * s9) AS DOUBLE)
                 / (CAST(SUM(k) AS DOUBLE) * 1000000000.0), 4)
               AS avg_kn_surprisal,
           ROUND(exp(ROUND(CAST(SUM(CAST(k AS HUGEINT) * s9) AS DOUBLE)
                 / (CAST(SUM(k) AS DOUBLE) * 1000000000.0), 4)), 2)
               AS perplexity
    FROM scored
    GROUP BY source
    ORDER BY source
"""


@register("docs_kneser_ney_bigram_ppl_by_source", _KN_SQL)
def docs_kneser_ney_bigram_ppl_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mean surprisal and perplexity per source under an INTERPOLATED
    KNESER-NEY bigram LM (absolute discount D=3/4) trained on the
    corpus itself — the smoothing KenLM actually ships, and the upgrade
    over ``docs_bigram_lm_surprisal_by_source``'s add-one baseline:
    P(w₂|w₁) = (c(w₁w₂)−D)/c(w₁) + D·N1p(w₁)/c(w₁) · Ncont(w₂)/B,
    with N1p(w₁) = distinct continuations of w₁, Ncont(w₂) = distinct
    contexts of w₂, B = distinct bigram types. Every scored bigram is
    seen (c₁₂ ≥ 1 > D), so the discounted term never clips.

    Determinism: D=3/4 clears to a SINGLE division of two exact integer
    products — P = ((4c₁₂−3)·B + 3·N1p·Ncont) / (4c(w₁)·B) — computed
    in decimal(38,0)/HUGEINT (c₁₂, B ≤ ~1e12 at 100 TB keeps products
    under 38 digits); the per-bigram −ln is 1e9-quantized to int64 and
    multiplicity-weighted in exact arithmetic, so both engines
    materialize bit-identical readouts. Scale: scored grain is DISTINCT
    (source, w₁, w₂) with multiplicity — the corpus is tokenized once,
    and the three count tables re-aggregate that grain; B is a 1-row
    broadcast scalar."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("source", tokens_col(F.lower(F.col("text"))).alias("ts"))
    n = F.size("ts")
    big = (
        base.filter(n >= 2)
        .select(
            "source",
            F.explode(
                F.zip_with(
                    F.slice(F.col("ts"), 1, n - 1),
                    F.slice(F.col("ts"), 2, n - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg"),
        )
        .select("source", "bg.w1", "bg.w2")
    )
    k = big.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    c12 = k.groupBy("w1", "w2").agg(F.sum("k").cast("bigint").alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1p"),
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("ncont")
    )
    nbt = c12.agg(F.count(F.lit(1)).cast("bigint").alias("b"))
    dec = "decimal(38,0)"
    num = (
        (4 * F.col("c12") - 3).cast(dec) * F.col("b").cast(dec)
        + F.lit(3).cast(dec) * F.col("n1p").cast(dec) * F.col("ncont").cast(dec)
    ).cast("double")
    den = (
        F.lit(4).cast(dec) * F.col("c1").cast(dec) * F.col("b").cast(dec)
    ).cast("double")
    scored = (
        k.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(nbt))
        .select(
            "source",
            "k",
            F.round(-F.ln(num / den) * 1000000000.0)
            .cast("bigint")
            .alias("s9"),
        )
    )
    mean = F.sum(F.col("k").cast(dec) * F.col("s9")).cast("double") / (
        F.sum("k").cast("double") * 1000000000.0
    )
    return (
        scored.groupBy("source")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.round(mean, 4).alias("avg_kn_surprisal"),
            F.round(F.exp(F.round(mean, 4)), 2).alias("perplexity"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Adamic-Adar co-purchase affinity
# ---------------------------------------------------------------------------

_AA_SQL = f"""
    WITH cp AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), deg AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM cp GROUP BY c
    ), w AS (
        SELECT c,
               CAST(ROUND(1000000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT)
                   AS w9
        FROM deg WHERE d BETWEEN {_AA_MIN_DEG} AND {_AA_MAX_DEG}
    ), pairs AS (
        SELECT a.p AS part_a, b.p AS part_b, w.w9
        FROM cp a
        JOIN cp b ON a.c = b.c AND a.p < b.p
        JOIN w ON a.c = w.c
    )
    SELECT CAST(part_a AS BIGINT) AS part_a,
           CAST(part_b AS BIGINT) AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(SUM(w9) AS BIGINT) AS aa9
    FROM pairs
    GROUP BY part_a, part_b
    ORDER BY aa9 DESC, part_a ASC, part_b ASC
    LIMIT 20
"""


@register("orders_adamic_adar_topk", _AA_SQL)
def orders_adamic_adar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the bipartite customer-part
    co-purchase graph: for each part pair, sum 1/ln(degree) over shared
    customers — the inverse-log-degree weighting that discounts
    promiscuous hubs, the textbook "related items" candidate generator.
    Weights are 1e9-quantized int64 per customer, so the pair score is
    an exact BIGINT sum with (part_a, part_b) tiebreaks under LIMIT.
    Scale: the quadratic term is the per-customer basket pairing,
    pruned to 2 ≤ degree ≤ 40 (``_AA_MIN_DEG``/``_AA_MAX_DEG``) BEFORE the
    self-join (the documented fan-out ceiling — production recsys caps
    neighbor lists exactly here; the cap census is one cheap agg);
    both cp legs and w share the c-key partitioning so AQE plans one
    shuffle family, and the (part_a, part_b) agg is map-side
    combinable into TakeOrderedAndProject."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("c")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    # cp feeds deg AND both self-join legs; checkpoint so the
    # orders-lineitem join + distinct runs once, not three times (at
    # cluster scale: persist/stage the deduped edge list the same way)
    cp = o.join(li, "ok").select("c", "p").distinct().localCheckpoint(
        eager=True
    )
    deg = cp.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    # the banded per-customer weight table is tiny by construction
    # (degree ≤ 40 cap, two narrow columns); materialize it ONCE
    # (round-14, closing the r13 bench regression): lineage-on-
    # checkpoint re-derived this agg of the cp checkpoint on BOTH
    # pairing legs — two extra full-edge-list aggregations per run.
    # The checkpoint is one bounded job and both legs' joins read it
    # (broadcast-sized, AQE turns them into broadcast hash joins).
    w = (
        deg.filter(
            (F.col("d") >= _AA_MIN_DEG) & (F.col("d") <= _AA_MAX_DEG)
        )
        .select(
            "c",
            F.round(F.lit(1000000000.0) / F.log(F.col("d").cast("double")))
            .cast("bigint")
            .alias("w9"),
        )
        .localCheckpoint(eager=True)
    )
    # prune to the degree band BEFORE the quadratic self-join (round-13:
    # the weight join ran after the pairing, so out-of-band hub
    # customers still fanned out m² pairs only to be dropped — the
    # opposite of the documented cap discipline); w9 rides leg a, so
    # the post-pairing weight join disappears entirely. The banded edge
    # list itself stays lineage-on-checkpoint (cp scan ⋈ w): eagerly
    # materializing cpw too was measured in round 13 as a net loss —
    # the extra serial job barrier costs more than the saved join.
    cpw = cp.join(w, "c")
    a = cpw.select("c", F.col("p").alias("part_a"), "w9")
    b = cpw.select("c", F.col("p").alias("part_b"))
    pairs = a.join(b, "c").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("w9").cast("bigint").alias("aa9"),
        )
        .select(
            F.col("part_a").cast("bigint").alias("part_a"),
            F.col("part_b").cast("bigint").alias("part_b"),
            "n_common",
            "aa9",
        )
        .orderBy(F.desc("aa9"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# frequent 3-sequence mining over user event streams
# ---------------------------------------------------------------------------

_SEQ3_SQL = """
    WITH seq AS (
        SELECT user_id, event_type AS t1,
               lead(event_type, 1) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS t2,
               lead(event_type, 2) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS t3
        FROM events
    )
    SELECT t1, t2, t3,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM seq
    WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY n_users DESC, n_occurrences DESC, t1, t2, t3
    LIMIT 20
"""


@register("events_freq_3seq_topk", _SEQ3_SQL)
def events_freq_3seq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent consecutive event-type 3-sequences with distinct-user
    support — the working grain of sequential-pattern mining
    (PrefixSpan/GSP's contiguous special case) and the length-3 upgrade
    of ``events_markov_transitions``: support = how many users ever
    produce the triple, not just how often it occurs. Sequence order is
    the house total order (ts, event_id). Scale: one shuffle on
    user_id, two lead() columns inside the same window pass, then a
    hash agg whose key space is |event_types|³ — bounded and map-side
    combinable; the distinct-user count is a partial-agg on
    (triple, user) first, never a row explosion."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        seq.groupBy("t1", "t2", "t3")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .orderBy(
            F.desc("n_users"),
            F.desc("n_occurrences"),
            "t1",
            "t2",
            "t3",
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Pareto quality front: document size vs lexical diversity
# ---------------------------------------------------------------------------

_PARETO_SQL = f"""
    WITH m AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS x,
               CAST(ROUND(1000000.0
                    * CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                    / CAST(len({_TOKS}) AS DOUBLE)) AS BIGINT) AS y
        FROM documents
        WHERE len({_TOKS}) > 0
    ), g AS (
        SELECT x, MAX(y) AS ymax FROM m GROUP BY x
    ), f AS (
        SELECT x, ymax,
               COALESCE(MAX(ymax) OVER (
                   ORDER BY x ASC
                   RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ), -1) AS sufmax
        FROM g
    )
    SELECT m.doc_id, m.x AS n_tokens, m.y AS ttr6
    FROM m JOIN f ON m.x = f.x AND m.y = f.ymax
    WHERE f.ymax > f.sufmax
    ORDER BY n_tokens DESC, doc_id ASC
"""


@register("docs_pareto_quality_front", _PARETO_SQL)
def docs_pareto_quality_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto-optimal document set on (token count, type-token
    ratio): a doc is on the front iff no other doc is at least as long
    AND at least as lexically diverse with one strict — the
    non-dominated "biggest and cleanest" candidates a budgeted
    selection pass keeps first. NOT a quadratic dominance join: metrics
    reduce to the DISTINCT-x grain (one hash agg, key space bounded by
    max document length), the front test is a suffix-max window over
    that tiny grain (keep x iff ymax(x) > max of ymax over all larger
    x — strict, so equal-(x,y) duplicates all survive, matching strict
    dominance), and front membership semi-joins back to doc grain.
    ttr6 is 1e6-scaled from one IEEE division of exact ints."""
    d = _t(spark, sf_dir, "documents")
    ts = tokens_col(F.lower(F.col("text")))
    m = d.select(
        "doc_id",
        F.size(ts).cast("bigint").alias("x"),
        F.round(
            F.lit(1000000.0)
            * F.size(F.array_distinct(ts)).cast("double")
            / F.size(ts).cast("double")
        )
        .cast("bigint")
        .alias("y"),
    ).filter(F.col("x") > 0)
    g = m.groupBy("x").agg(F.max("y").alias("ymax"))
    w = Window.orderBy(F.asc("x")).rangeBetween(1, Window.unboundedFollowing)
    f = (
        g.select(
            F.col("x").alias("fx"),
            F.col("ymax").alias("fy"),
            F.coalesce(F.max("ymax").over(w), F.lit(-1)).alias("sufmax"),
        )
        .filter(F.col("fy") > F.col("sufmax"))
        .select("fx", "fy")
    )
    return (
        m.join(
            F.broadcast(f),
            (F.col("x") == F.col("fx")) & (F.col("y") == F.col("fy")),
        )
        .select(
            "doc_id",
            F.col("x").alias("n_tokens"),
            F.col("y").alias("ttr6"),
        )
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    )


# ---------------------------------------------------------------------------
# covariance participation ratio (effective rank)
# ---------------------------------------------------------------------------

_PR_SQL = f"""
    WITH dims AS (
        SELECT unnest(generate_series(1, {_DIM})) AS i
    ), pe AS (
        SELECT vec_id, dims.i,
               CAST(ROUND(CAST(embedding[dims.i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS vq
        FROM embeddings, dims
    ), s1 AS (
        SELECT i, SUM(vq) AS s, COUNT(*) AS n FROM pe GROUP BY i
    ), gram AS (
        SELECT a.i AS i, b.i AS j,
               SUM(CAST(a.vq AS HUGEINT) * b.vq) AS sij
        FROM pe a JOIN pe b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ), c AS (
        SELECT g.i, g.j,
               g.sij * (SELECT MAX(n) FROM s1)
                   - CAST(sa.s AS HUGEINT) * sb.s AS cij
        FROM gram g
        JOIN s1 sa ON g.i = sa.i
        JOIN s1 sb ON g.j = sb.i
    )
    SELECT CAST((SELECT MAX(n) FROM s1) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(CASE WHEN i = j THEN cij ELSE 0 END) AS DOUBLE)
                     * CAST(SUM(CASE WHEN i = j THEN cij ELSE 0 END)
                            AS DOUBLE)
                 / CAST(SUM(cij * cij) AS DOUBLE), 4) AS eff_rank,
           ROUND(CAST(SUM(CASE WHEN i = j THEN cij ELSE 0 END) AS DOUBLE)
                     * CAST(SUM(CASE WHEN i = j THEN cij ELSE 0 END)
                            AS DOUBLE)
                 / (CAST(SUM(cij * cij) AS DOUBLE) * {_DIM}), 4)
               AS eff_rank_frac
    FROM c
"""


@register("embeddings_effective_rank_stats", _PR_SQL)
def embeddings_effective_rank_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Participation ratio of the embedding covariance — the standard
    representation-collapse diagnostic: eff_rank = tr(C)² / tr(C²)
    (≈1 when variance collapses to one direction, ≈dim when isotropic;
    the Frobenius/spectral readout behind "dimensional collapse" audits
    of contrastive encoders). Scale factors cancel in the ratio, so it
    is computed on UNNORMALIZED integer moments: with 1e6-quantized
    components, c_ij = n·S_ij − s_i·s_j over exact Gram sums S_ij and
    component sums s_i — decimal(38,0)/HUGEINT end to end. Exactness
    bound: worst-case |c_ij| ≤ 2n²·1e12, so c_ij² ≤ 4n⁴·1e24 fits 38
    digits only while n_vectors ≲ 2.2k — beyond that the required path
    is SCALE.md's "uniform sample or per-shard Gram + merged moments"
    guidance (SCALE.md, effective-rank entry): the sufficient
    statistics are additive, so shard-level Grams on bounded slices
    merge exactly. One IEEE division at the very end. Scale: the
    quadratic term is
    per-vector dim² product pairs feeding ONE hash agg with a FIXED
    dim²=4096-key space (map-side combinable, state independent of
    corpus size); everything after the Gram agg is driver-trivial."""
    e = _t(spark, sf_dir, "embeddings")
    pe = e.select(
        "vec_id", F.posexplode(_vq_col()).alias("pos", "vq")
    ).select("vec_id", (F.col("pos") + 1).alias("i"), "vq")
    s1 = pe.groupBy("i").agg(
        F.sum("vq").alias("s"), F.count(F.lit(1)).alias("n")
    )
    dec = "decimal(38,0)"
    gram = (
        pe.alias("a")
        .join(pe.alias("b"), "vec_id")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.sum(F.col("a.vq").cast(dec) * F.col("b.vq").cast(dec)).alias(
                "sij"
            )
        )
    )
    nrow = s1.agg(F.max("n").alias("n"))
    c = (
        gram.join(
            F.broadcast(s1.select(F.col("i"), F.col("s").alias("sa"))), "i"
        )
        .join(
            F.broadcast(
                s1.select(F.col("i").alias("j"), F.col("s").alias("sb"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(nrow))
        .select(
            "i",
            "j",
            "n",
            (
                F.col("sij") * F.col("n").cast(dec)
                - F.col("sa").cast(dec) * F.col("sb").cast(dec)
            ).alias("cij"),
        )
    )
    tr = F.sum(F.when(F.col("i") == F.col("j"), F.col("cij")).otherwise(0))
    fro2 = F.sum(F.col("cij") * F.col("cij"))
    return c.groupBy().agg(
        F.max("n").cast("bigint").alias("n_vectors"),
        F.round(
            tr.cast("double") * tr.cast("double") / fro2.cast("double"), 4
        ).alias("eff_rank"),
        F.round(
            tr.cast("double")
            * tr.cast("double")
            / (fro2.cast("double") * _DIM),
            4,
        ).alias("eff_rank_frac"),
    )


# ---------------------------------------------------------------------------
# linear CKA between embedding halves (representation-redundancy audit)
# ---------------------------------------------------------------------------

_CKA_SQL = f"""
    WITH dims AS (
        SELECT unnest(generate_series(1, {_DIM})) AS i
    ), pe AS (
        SELECT vec_id, dims.i,
               CAST(ROUND(CAST(embedding[dims.i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS vq
        FROM embeddings, dims
    ), s1 AS (
        SELECT i, SUM(vq) AS s, COUNT(*) AS n FROM pe GROUP BY i
    ), gram AS (
        SELECT a.i AS i, b.i AS j,
               SUM(CAST(a.vq AS HUGEINT) * b.vq) AS sij
        FROM pe a JOIN pe b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ), c AS (
        SELECT g.i, g.j,
               g.sij * (SELECT MAX(n) FROM s1)
                   - CAST(sa.s AS HUGEINT) * sb.s AS cij
        FROM gram g
        JOIN s1 sa ON g.i = sa.i
        JOIN s1 sb ON g.j = sb.i
    ), fro AS (
        SELECT
            SUM(CASE WHEN i <= {_DIM // 2} AND j > {_DIM // 2}
                     THEN cij * cij ELSE 0 END) AS fxy,
            SUM(CASE WHEN i <= {_DIM // 2} AND j <= {_DIM // 2}
                     THEN cij * cij ELSE 0 END) AS fxx,
            SUM(CASE WHEN i > {_DIM // 2} AND j > {_DIM // 2}
                     THEN cij * cij ELSE 0 END) AS fyy
        FROM c
    )
    SELECT CAST((SELECT MAX(n) FROM s1) AS BIGINT) AS n_vectors,
           ROUND(CAST(fxy AS DOUBLE)
                 / (sqrt(CAST(fxx AS DOUBLE)) * sqrt(CAST(fyy AS DOUBLE))),
                 4) AS cka
    FROM fro
"""


@register("embeddings_cka_halves", _CKA_SQL)
def embeddings_cka_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear CKA (centered kernel alignment, Kornblith et al. 2019)
    between the first and last 32 embedding dimensions:
    ‖C_XY‖²_F / (‖C_XX‖_F·‖C_YY‖_F) over the centered cross- and
    auto-covariance blocks — the representation-similarity score that
    answers "do the two halves encode the same information" BEFORE a
    truncation decision (`embeddings_truncation_fidelity` measures the
    damage after; this predicts it). CKA ≈ 1 → halves are redundant,
    truncate freely; ≈ 0 → they carry disjoint structure.

    Shares the exact-integer machinery of
    ``embeddings_effective_rank_stats``: c_ij = n·S_ij − s_i·s_j over
    exact Gram/component sums, centering and scale factors cancel in
    the ratio, Frobenius block sums stay decimal(38,0)/HUGEINT (same
    n_vectors ≲ 2.2k exactness bound as the effective-rank audit —
    past it, sample or shard-and-merge per SCALE.md), and
    the two sqrt's are taken SEPARATELY (fxx·fyy would overflow 38
    digits) in fixed order — identical doubles in both engines.
    Scale: the same fixed dim²-key Gram agg (map-side combinable,
    state independent of corpus size); additive sufficient statistics
    merge exactly across shards."""
    e = _t(spark, sf_dir, "embeddings")
    pe = e.select(
        "vec_id", F.posexplode(_vq_col()).alias("pos", "vq")
    ).select("vec_id", (F.col("pos") + 1).alias("i"), "vq")
    s1 = pe.groupBy("i").agg(
        F.sum("vq").alias("s"), F.count(F.lit(1)).alias("n")
    )
    dec = "decimal(38,0)"
    gram = (
        pe.alias("a")
        .join(pe.alias("b"), "vec_id")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.sum(F.col("a.vq").cast(dec) * F.col("b.vq").cast(dec)).alias(
                "sij"
            )
        )
    )
    nrow = s1.agg(F.max("n").alias("n"))
    half = _DIM // 2
    c = (
        gram.join(
            F.broadcast(s1.select(F.col("i"), F.col("s").alias("sa"))), "i"
        )
        .join(
            F.broadcast(
                s1.select(F.col("i").alias("j"), F.col("s").alias("sb"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(nrow))
        .select(
            "i",
            "j",
            "n",
            (
                F.col("sij") * F.col("n").cast(dec)
                - F.col("sa").cast(dec) * F.col("sb").cast(dec)
            ).alias("cij"),
        )
    )
    c2 = F.col("cij") * F.col("cij")
    zero = F.lit(0).cast(dec)
    fro = c.groupBy().agg(
        F.max("n").alias("n"),
        F.sum(
            F.when((F.col("i") <= half) & (F.col("j") > half), c2).otherwise(
                zero
            )
        ).alias("fxy"),
        F.sum(
            F.when((F.col("i") <= half) & (F.col("j") <= half), c2).otherwise(
                zero
            )
        ).alias("fxx"),
        F.sum(
            F.when((F.col("i") > half) & (F.col("j") > half), c2).otherwise(
                zero
            )
        ).alias("fyy"),
    )
    return fro.select(
        F.col("n").cast("bigint").alias("n_vectors"),
        F.round(
            F.col("fxy").cast("double")
            / (
                F.sqrt(F.col("fxx").cast("double"))
                * F.sqrt(F.col("fyy").cast("double"))
            ),
            4,
        ).alias("cka"),
    )


# ---------------------------------------------------------------------------
# LSH (bands x rows) parameter calibration against an observed
# similarity histogram
# ---------------------------------------------------------------------------

_LSH_SAMPLE = 100   #: calibration sample (doc_id < sample), C(n,2) pairs
_LSH_R = [1, 2, 4, 8]      #: rows per band (powers of two: exact squaring)
_LSH_B = [4, 8, 16, 32]    #: bands


def _sq_sql(expr: str, n: int) -> str:
    """``expr`` raised to the power-of-two ``n`` by repeated squaring —
    pure IEEE multiplications, identical in both engines (no libm pow)."""
    while n > 1:
        expr = f"({expr} * {expr})"
        n //= 2
    return expr


def _lsh_param_sql() -> str:
    # the shared house tokenizer (with trim) — keep textually aligned
    # with operators/dedup.shingles_col (ADVICE r9)
    toks = _TOKS
    sh = (
        "list_distinct(list_transform("
        f" generate_series(1, greatest(len({toks}) - 2, 0)),"
        f" i -> concat_ws(' ', {toks}[i], {toks}[i+1], {toks}[i+2])))"
    )
    sr_case = " ".join(
        f"WHEN {r} THEN {_sq_sql('s', r)}" for r in _LSH_R
    )
    xb_case = " ".join(
        f"WHEN {b} THEN {_sq_sql('x', b)}" for b in _LSH_B
    )
    return f"""
    WITH sh AS (
        SELECT doc_id, {sh} AS shingles
        FROM documents WHERE doc_id < {_LSH_SAMPLE}
    ), sz AS (
        SELECT doc_id, len(shingles) AS sz FROM sh
    ), post AS (
        SELECT doc_id, unnest(shingles) AS g FROM sh
    ), inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(COUNT(*) AS BIGINT) AS i
        FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), binned AS (
        SELECT LEAST(20 * i.i // (sa.sz + sb.sz - i.i), 19) + 1 AS bin,
               CAST(COUNT(*) AS BIGINT) AS h
        FROM inter i
        JOIN sz sa ON i.d1 = sa.doc_id
        JOIN sz sb ON i.d2 = sb.doc_id
        GROUP BY 1
    ), nstat AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM sh
    ), hist AS (
        SELECT spine.k AS bin,
               COALESCE(b.h, 0)
               + CASE WHEN spine.k = 1
                      THEN (SELECT ns * (ns - 1) // 2 FROM nstat)
                           - (SELECT COALESCE(SUM(h), 0) FROM binned)
                      ELSE 0 END AS h
        FROM (SELECT unnest(generate_series(1, 20)) AS k) spine
        LEFT JOIN binned b ON b.bin = spine.k
    ), grid AS (
        SELECT rr.r, bb.b
        FROM (SELECT unnest([{", ".join(map(str, _LSH_R))}]) AS r) rr,
             (SELECT unnest([{", ".join(map(str, _LSH_B))}]) AS b) bb
    ), c1 AS (
        SELECT g.r, g.b, h.bin, h.h,
               CAST(2 * h.bin - 1 AS DOUBLE) / 40.0 AS s
        FROM grid g, hist h
    ), c2 AS (
        SELECT *, CASE r {sr_case} END AS sr FROM c1
    ), c3 AS (
        SELECT *, 1.0 - sr AS x FROM c2
    ), c4 AS (
        SELECT r, b, bin, h,
               CAST(ROUND((1.0 - CASE b {xb_case} END)
                          * 1000000000.0) AS BIGINT) AS p9
        FROM c3
    )
    SELECT CAST(r AS BIGINT) AS r, CAST(b AS BIGINT) AS b,
           CAST(SUM(CASE WHEN bin >= 11 THEN h ELSE 0 END) AS BIGINT)
               AS n_dup_pairs,
           ROUND(CASE WHEN SUM(CASE WHEN bin >= 11 THEN h ELSE 0 END) = 0
                 THEN NULL
                 ELSE CAST(SUM(CASE WHEN bin >= 11 THEN h * p9
                               ELSE 0 END) AS DOUBLE)
                      / (CAST(SUM(CASE WHEN bin >= 11 THEN h
                                  ELSE 0 END) AS DOUBLE)
                         * 1000000000.0) END, 4) AS est_recall,
           ROUND(CAST(SUM(CASE WHEN bin <= 10 THEN h * p9
                          ELSE 0 END) AS DOUBLE) / 1000000000.0, 4)
               AS est_fp_pairs
    FROM c4
    GROUP BY r, b
    ORDER BY r, b
    """


def _sq_col(c: Column, n: int) -> Column:
    while n > 1:
        c = c * c
        n //= 2
    return c


@register("dedup_lsh_param_calibration", _lsh_param_sql())
def dedup_lsh_param_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash-LSH (bands × rows) parameter planner calibrated against
    the corpus's OWN similarity profile: exact word-3-gram Jaccard on a
    bounded doc sample (C(100, 2) pairs at ``_LSH_SAMPLE`` = 100,
    zero-overlap pairs
    counted arithmetically) is binned into 20 exact integer-division
    buckets, then for every (r, b) config the collision s-curve
    p(s) = 1 − (1 − sʳ)ᵇ is evaluated at bin midpoints and integrated
    against the histogram: expected recall over true near-dups
    (J ≥ 0.5) and expected false-positive pair volume below the
    threshold. This is the table a curator reads before spending a
    corpus pass on ``dedup_shingle_minhash``/``dedup_lsh_band_sweep``
    — the sweep MEASURES two configs end-to-end, this PREDICTS all 16
    from one bounded census.

    Determinism: r and b are powers of two, so sʳ and (1−sʳ)ᵇ are
    REPEATED IEEE SQUARINGS (no libm pow anywhere); midpoints are
    exact-ratio doubles; p is 1e9-quantized to int64 and integrated as
    exact h·p9 integer sums. Jaccard bins are pure integer division
    (20·∩ div ∪). Scale: the pair census touches only the bounded
    sample (the dial); everything downstream is a 20×16-row epilogue."""
    from clashroyale_datapipeline_agent_spark.operators.dedup import shingles_col

    d = _t(spark, sf_dir, "documents")
    # checkpoint the bounded shingle projection: without it Catalyst
    # pushes the whole shingle expression into BOTH self-join legs'
    # scan filters (the N-traversal recompute pathology the round's
    # LSH operator fix addressed) — 6 recomputes of the tokenizer per
    # row instead of one pass over <=100 rows
    sh = (
        d.filter(F.col("doc_id") < _LSH_SAMPLE)
        .select("doc_id", shingles_col(F.col("text"), 3).alias("shingles"))
        .localCheckpoint(eager=True)
    )
    sz = sh.select("doc_id", F.size("shingles").alias("sz"))
    post = sh.select("doc_id", F.explode("shingles").alias("g"))
    inter = (
        post.alias("a")
        .join(post.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    binned = (
        inter.join(F.broadcast(sz.withColumnRenamed("doc_id", "d1")
                               .withColumnRenamed("sz", "sza")), "d1")
        .join(F.broadcast(sz.withColumnRenamed("doc_id", "d2")
                          .withColumnRenamed("sz", "szb")), "d2")
        .select(
            (
                F.least(
                    F.expr("(20 * i) div (sza + szb - i)"), F.lit(19)
                )
                + 1
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("h"))
    )
    scal = sh.agg(
        F.count(F.lit(1)).cast("bigint").alias("ns")
    ).crossJoin(
        F.broadcast(
            binned.agg(
                F.coalesce(F.sum("h"), F.lit(0)).cast("bigint").alias("np")
            )
        )
    ).select(
        ((F.col("ns") * (F.col("ns") - 1)) / 2 - F.col("np"))
        .cast("bigint")
        .alias("zero_pairs")
    )
    spine = spark.range(1, 21).select(F.col("id").alias("bin"))
    hist = (
        spine.join(binned, "bin", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "bin",
            (
                F.coalesce(F.col("h"), F.lit(0))
                + F.when(F.col("bin") == 1, F.col("zero_pairs")).otherwise(0)
            ).alias("h"),
        )
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), F.lit(b).alias("b")
                    )
                    for r in _LSH_R
                    for b in _LSH_B
                ]
            )
        ).alias("g")
    ).select("g.r", "g.b")
    c1 = F.broadcast(grid).crossJoin(hist).select(
        "r",
        "b",
        "bin",
        "h",
        ((2 * F.col("bin") - 1).cast("double") / 40.0).alias("s"),
    )
    sr = F.when(F.col("r") == _LSH_R[0], _sq_col(F.col("s"), _LSH_R[0]))
    for r in _LSH_R[1:]:
        sr = sr.when(F.col("r") == r, _sq_col(F.col("s"), r))
    c2 = c1.withColumn("sr", sr)
    c3 = c2.withColumn("x", F.lit(1.0) - F.col("sr"))
    xb = F.when(F.col("b") == _LSH_B[0], _sq_col(F.col("x"), _LSH_B[0]))
    for b in _LSH_B[1:]:
        xb = xb.when(F.col("b") == b, _sq_col(F.col("x"), b))
    c4 = c3.select(
        "r",
        "b",
        "bin",
        "h",
        F.round((F.lit(1.0) - xb) * 1000000000.0)
        .cast("bigint")
        .alias("p9"),
    )
    dup_h = F.sum(F.when(F.col("bin") >= 11, F.col("h")).otherwise(0))
    dup_hp = F.sum(
        F.when(F.col("bin") >= 11, F.col("h") * F.col("p9")).otherwise(0)
    )
    fp_hp = F.sum(
        F.when(F.col("bin") <= 10, F.col("h") * F.col("p9")).otherwise(0)
    )
    return (
        c4.groupBy("r", "b")
        .agg(
            dup_h.cast("bigint").alias("n_dup_pairs"),
            F.round(
                F.when(
                    dup_h == 0, F.lit(None).cast("double")
                ).otherwise(
                    dup_hp.cast("double")
                    / (dup_h.cast("double") * 1000000000.0)
                ),
                4,
            ).alias("est_recall"),
            F.round(fp_hp.cast("double") / 1000000000.0, 4).alias(
                "est_fp_pairs"
            ),
        )
        .select(
            F.col("r").cast("bigint").alias("r"),
            F.col("b").cast("bigint").alias("b"),
            "n_dup_pairs",
            "est_recall",
            "est_fp_pairs",
        )
        .orderBy("r", "b")
    )
