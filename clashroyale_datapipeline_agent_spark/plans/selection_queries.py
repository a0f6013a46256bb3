"""Round-8 wave: data-SELECTION instruments for the 100 TB curation
story — the published quality-rule batteries (Gopher / MassiveText,
Rae et al. 2021; C4, Raffel et al. 2020), DSIR-style importance
weighting (Xie et al. 2023), cross-document span dedup (the C4
three-sentence rule re-expressed at token-window grain), deterministic
uncertainty quantification (Poisson bootstrap — Chamandy et al. 2012,
"Estimating Uncertainty for Massive Data Streams"; delete-one-block
jackknife), and a curriculum ordering plan.

Selection is the step between dedup and training: the dedup wave
(operators/dedup.py) decides what is REDUNDANT, this wave decides what
is GOOD and HOW MUCH of it to take. Every query is a per-row
expression + bounded hash-agg — the shapes that survive 100 TB.

House determinism discipline (SCALE.md "Float-ROUND ledger"):

- every ratio threshold is compared as an INTEGER cross-multiplication
  (``sumlen < 3*n`` not ``sumlen/n < 3``) — no float enters a flag;
- per-doc float scores are quantized to 1e6-scaled BIGINTs before any
  cross-row aggregation, so every SUM/AVG is exact (decimal(38,0) in
  Spark, HUGEINT in DuckDB where squares can pass int64);
- the only RNG is md5 — identical lowercase hex in both engines — and
  the Poisson(1) bootstrap weights come from comparing md5 hex
  substrings against PRECOMPUTED inverse-CDF hex thresholds, so the
  "random" weights are pure deterministic per-row expressions;
- ln appears only in DSIR's 256-entry bucket table, where the scaled
  value has ≥5 orders of headroom over a 1-ulp libm-vs-JVM wiggle.

No reference counterpart: the reference pipeline (``/root/reference/
src``) fetches and aggregates battles; it has no corpus-curation
surface. These exist for the 100 TB training-data story (brief:
"operations a large-scale training-data pipeline would need").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.operators.text import tokens_col
from clashroyale_datapipeline_agent_spark.plans.star_queries import _t, register

#: house tokenizer, DuckDB side (≡ operators/text.tokens_col — regex \s+)
_TOKS = (
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),"
    " x -> x != '')"
)

#: English stopword list shared by the Gopher rule battery (mirrors
#: operators/text.STOPWORDS['en'])
_STOPS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
_STOPS_SQL = ", ".join(f"'{w}'" for w in _STOPS)


def _toks(text: Column) -> Column:
    return tokens_col(F.lower(text))


# ---------------------------------------------------------------------------
# Gopher rule battery (Rae et al. 2021, Table A1) per source
# ---------------------------------------------------------------------------

_GOPHER_SQL = f"""
    WITH t AS (
        SELECT source, {_TOKS} AS ts FROM documents
    ), m AS (
        SELECT source,
               len(ts) AS n,
               COALESCE(list_sum(list_transform(ts, x -> len(x))), 0)
                   AS sumlen,
               len(list_filter(list_distinct(ts),
                               x -> list_contains([{_STOPS_SQL}], x)))
                   AS stop_hits,
               len(list_filter(ts, x -> regexp_matches(x, '[a-z]')))
                   AS alpha_ok
        FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n = 0 OR sumlen < 3 * n OR sumlen > 10 * n
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
           CAST(SUM(CASE WHEN n < 25 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fail_short,
           CAST(SUM(CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fail_stop,
           CAST(SUM(CASE WHEN n = 0 OR alpha_ok * 10 < n * 8
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
           CAST(SUM(CASE WHEN NOT (n = 0 OR sumlen < 3 * n OR sumlen > 10 * n)
                          AND n >= 25 AND stop_hits >= 2
                          AND alpha_ok * 10 >= n * 8
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM m GROUP BY source ORDER BY source
"""


@register("docs_gopher_rule_flags", _GOPHER_SQL)
def docs_gopher_rule_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText quality-rule battery per source: mean word
    length in [3, 10], minimum document length, >= 2 distinct English
    stopwords present ("stop word" rule), and >= 80% of tokens
    containing an alphabetic character. Each rule is a pure per-row
    column expression over the token array — one scan, one
    bounded-cardinality (source) hash agg, zero shuffles beyond it; at
    100 TB this is the canonical map-side-combine shape. Every ratio
    threshold compares INTEGERS via cross-multiplication (sumlen < 3n,
    alpha*10 < n*8), so no float is ever compared cross-engine."""
    d = _t(spark, sf_dir, "documents")
    ts = _toks(F.col("text"))
    n = F.size(ts)
    sumlen = F.aggregate(
        ts, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(ts), F.array(*[F.lit(w) for w in _STOPS])
        )
    )
    alpha_ok = F.size(F.filter(ts, lambda x: x.rlike("[a-z]")))
    m = d.select(
        "source",
        n.alias("n"),
        sumlen.alias("sumlen"),
        stop_hits.alias("stop_hits"),
        alpha_ok.alias("alpha_ok"),
    )
    fail_wl = (F.col("n") == 0) | (F.col("sumlen") < 3 * F.col("n")) | (
        F.col("sumlen") > 10 * F.col("n")
    )
    fail_short = F.col("n") < 25
    fail_stop = F.col("stop_hits") < 2
    fail_alpha = (F.col("n") == 0) | (
        F.col("alpha_ok") * 10 < F.col("n") * 8
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            one(fail_wl).alias("n_fail_wordlen"),
            one(fail_short).alias("n_fail_short"),
            one(fail_stop).alias("n_fail_stop"),
            one(fail_alpha).alias("n_fail_alpha"),
            one(~fail_wl & ~fail_short & ~fail_stop & ~fail_alpha).alias(
                "n_pass"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules: duplicate token-window fraction (dup-line analog)
# ---------------------------------------------------------------------------

_DUPWIN_SQL = f"""
    WITH t AS (
        SELECT source, {_TOKS} AS ts FROM documents
    ), w AS (
        SELECT source,
               len(ts) // 5 AS nw,
               list_transform(range(0, len(ts) // 5),
                   i -> array_to_string(list_slice(ts, i*5 + 1, i*5 + 5), ' '))
                   AS wins
        FROM t
    ), per_doc AS (
        SELECT source, nw, nw - len(list_distinct(wins)) AS dup
        FROM w
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nw) AS BIGINT) AS n_windows,
           CAST(SUM(dup) AS BIGINT) AS n_dup_windows,
           ROUND(SUM(dup) * 1.0 / SUM(nw), 4) AS dup_frac,
           CAST(SUM(CASE WHEN dup * 10 > nw * 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM per_doc GROUP BY source ORDER BY source
"""


@register("docs_dup_window_fraction", _DUPWIN_SQL)
def docs_dup_window_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher "duplicate line fraction" re-expressed for a corpus with
    no line structure: each doc is cut into NON-OVERLAPPING 5-token
    windows (pseudo-lines) and the duplicated-window fraction is
    windows minus distinct windows, entirely INSIDE the token array
    (transform over an index sequence + array_distinct) — no explode,
    no shuffle, the per-doc dup count never leaves the row. The only
    aggregation is the bounded (source) rollup of exact ints; the one
    division (corpus dup_frac) happens on exact sums. Flag threshold
    dup/nw > 0.3 compares ints (dup*10 > nw*3)."""
    d = _t(spark, sf_dir, "documents")
    ts = _toks(F.col("text"))
    nw = F.floor(F.size(ts) / 5).cast("long")
    wins = F.when(
        nw > 0,
        F.transform(
            F.sequence(F.lit(0), (nw - 1).cast("int")),
            lambda i: F.array_join(F.slice(ts, i * 5 + 1, 5), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = d.select(
        "source",
        nw.alias("nw"),
        (nw - F.size(F.array_distinct(wins))).alias("dup"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nw").cast("bigint").alias("n_windows"),
            F.sum("dup").cast("bigint").alias("n_dup_windows"),
            F.round(F.sum("dup") * 1.0 / F.sum("nw"), 4).alias("dup_frac"),
            F.sum(
                F.when(F.col("dup") * 10 > F.col("nw") * 3, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules: top-bigram character coverage (rep-2)
# ---------------------------------------------------------------------------

_TOPNGRAM_SQL = f"""
    WITH t AS (
        SELECT doc_id, source, {_TOKS} AS ts FROM documents
    ), base AS (
        SELECT doc_id, source,
               len(ts) AS n,
               COALESCE(list_sum(list_transform(ts, x -> len(x))), 0)
                   AS doc_chars,
               list_transform(range(0, GREATEST(len(ts) - 1, 0)),
                   i -> ts[i + 1] || ' ' || ts[i + 2]) AS bgs
        FROM t
    ), bg AS (
        SELECT doc_id, source, doc_chars, unnest(bgs) AS b FROM base
    ), bc AS (
        SELECT doc_id, source, doc_chars, b,
               COUNT(*) AS c,
               len(b) - 1 AS bchars
        FROM bg GROUP BY 1, 2, 3, 4
    ), per_doc AS (
        SELECT doc_id, source, doc_chars, MAX(c * bchars) AS max_cover
        FROM bc GROUP BY 1, 2, 3
    ), scored AS (
        SELECT source, doc_chars, max_cover,
               CAST(ROUND(max_cover * 1000000.0 / doc_chars) AS BIGINT)
                   AS frac_scaled
        FROM per_doc WHERE doc_chars > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(frac_scaled) * 1.0 / (COUNT(*) * 1000000.0), 4)
               AS avg_top_bigram_frac,
           CAST(SUM(CASE WHEN max_cover * 5 > doc_chars THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM scored GROUP BY source ORDER BY source
"""


@register("docs_top_ngram_char_fraction", _TOPNGRAM_SQL)
def docs_top_ngram_char_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rep-2: the fraction of a document's characters covered by
    its single most frequent BIGRAM (count x bigram-chars / doc-chars;
    separator excluded so the metric is token-mass, not join-char
    artifact). The bigram stream is built in-row (arrays_zip of two
    zipped slices, as (w1, w2) structs — no per-index element_at, no
    string concat); the explode is bounded by token count — the same
    width every other token-grain query already shuffles. MAX(c *
    bchars) avoids an argmax tiebreak entirely (pure int max). Per-doc
    fractions are 1e6-quantized BIGINTs before the per-source mean, so
    the rollup is an exact integer sum with ONE trailing division;
    the >0.2 flag compares ints (cover*5 > chars)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", _toks(F.col("text")).alias("ts")
    )
    nn = F.size("ts")
    dc = F.aggregate(
        F.col("ts"), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    base = toks.select(
        "doc_id", "source", dc.alias("doc_chars"), "ts"
    )
    # bigrams as (w1, w2) STRUCTS via zipped slices: no per-index
    # element_at, no string concat — the index-transform builder this
    # replaced ran 20s at sf0.1; the shipped query benches 0.5s
    # (BENCH_local.json), and the separator-free bchars is just
    # len(w1)+len(w2)
    bi = (
        base.where(nn >= 2)
        .select(
            "doc_id",
            "source",
            "doc_chars",
            F.explode(
                F.arrays_zip(
                    F.slice("ts", 1, nn - 1).alias("w1"),
                    F.slice("ts", 2, nn - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            "source",
            "doc_chars",
            F.col("p.w1").alias("w1"),
            F.col("p.w2").alias("w2"),
        )
    )
    bc = bi.groupBy("doc_id", "source", "doc_chars", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = bc.groupBy("doc_id", "source", "doc_chars").agg(
        F.max(
            F.col("c") * (F.length("w1") + F.length("w2"))
        ).alias("max_cover")
    )
    scored = per_doc.where(F.col("doc_chars") > 0).select(
        "source",
        "doc_chars",
        "max_cover",
        F.round(F.col("max_cover") * 1000000.0 / F.col("doc_chars"))
        .cast("bigint")
        .alias("frac_scaled"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum("frac_scaled") * 1.0
                / (F.count(F.lit(1)) * 1000000.0),
                4,
            ).alias("avg_top_bigram_frac"),
            F.sum(
                F.when(
                    F.col("max_cover") * 5 > F.col("doc_chars"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# C4-style cross-document span dedup census (10-token windows, md5 keyed)
# ---------------------------------------------------------------------------

_SPAN_SQL = f"""
    WITH t AS (
        SELECT doc_id, source, {_TOKS} AS ts FROM documents
    ), w AS (
        SELECT doc_id, source,
               unnest(list_transform(range(0, len(ts) // 10),
                   i -> md5(array_to_string(
                            list_slice(ts, i*10 + 1, i*10 + 10), ' '))))
                   AS h
        FROM t
    ), hs AS (
        SELECT h, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY h
    )
    SELECT w.source,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN hs.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_windows,
           ROUND(SUM(CASE WHEN hs.nd >= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS shared_frac
    FROM w JOIN hs USING (h)
    GROUP BY w.source ORDER BY w.source
"""


@register("docs_span_dedup_census", _SPAN_SQL)
def docs_span_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's three-sentence dedup rule re-expressed at 10-token-window
    grain for a corpus with no sentence structure: every non-overlapping
    window is md5-fingerprinted IN-ROW, then a corpus-wide census counts
    windows whose fingerprint occurs in >= 2 distinct documents — the
    decision input for span-level deletion. Plan: windows never carry
    text past the row (only 32-char fingerprints are exploded), the
    census groupBy and the join back both key on the fingerprint — at
    100 TB both land on the same hash partitioning, and writing the
    fingerprint store bucketed (sources/sinks.write_bucketed_table
    pattern) makes the second an exchange-free bucket join. Counts are
    exact ints; the one division per source is on exact sums."""
    d = _t(spark, sf_dir, "documents")
    ts = _toks(F.col("text"))
    nw = F.floor(F.size(ts) / 10).cast("long")
    hashes = F.when(
        nw > 0,
        F.transform(
            F.sequence(F.lit(0), (nw - 1).cast("int")),
            lambda i: F.md5(F.array_join(F.slice(ts, i * 10 + 1, 10), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    w = d.select(
        "doc_id", "source", F.explode(hashes).alias("h")
    )
    hs = w.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        w.join(hs, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_windows"),
            F.round(
                F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)) * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("shared_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR importance weighting (hashed unigram features, target vs raw)
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"
#: 2 hex chars of md5 -> 256 feature buckets, identical in both engines
_BUCKET_SQL = (
    f"(instr('{_HEX}', substr(md5(w), 1, 1)) - 1) * 16"
    f" + (instr('{_HEX}', substr(md5(w), 2, 1)) - 1)"
)

_DSIR_SQL = f"""
    WITH tok AS (
        SELECT doc_id, source,
               source IN ('src0', 'src1', 'src2') AS is_target,
               unnest({_TOKS}) AS w
        FROM documents
    ), feat AS (
        SELECT doc_id, source, is_target, {_BUCKET_SQL} AS b FROM tok
    ), bucket AS (
        SELECT b,
               CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
                   AS tc,
               CAST(COUNT(*) AS BIGINT) AS rc
        FROM feat GROUP BY b
    ), tot AS (
        SELECT SUM(tc) AS t_tot, SUM(rc) AS r_tot FROM bucket
    ), ratio AS (
        SELECT b,
               CAST(ROUND(1000000.0 * (
                   ln((tc + 0.5) / (t_tot + 128.0))
                   - ln((rc + 0.5) / (r_tot + 128.0)))) AS BIGINT) AS lq
        FROM bucket, tot
    ), per_doc AS (
        SELECT f.doc_id, f.source, SUM(r.lq) AS score
        FROM feat f JOIN ratio r USING (b)
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(score) / (COUNT(*) * 1000000.0), 4)
               AS avg_log_importance,
           CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_selected
    FROM per_doc GROUP BY source ORDER BY source
"""


@register("docs_dsir_importance_by_source", _DSIR_SQL)
def docs_dsir_importance_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023)
    with hashed unigram features: 256 md5-derived buckets, add-0.5
    smoothed bucket frequencies under the TARGET distribution (here
    sources src0-2 stand in for the high-quality slice) vs the RAW
    corpus, per-document importance = sum of per-token log frequency
    ratios. The bucket table is 256 rows — broadcast back to the token
    stream, so the whole query is two token-width hash aggs and one
    broadcast join; at 100 TB the feature table stays driver-sized no
    matter the corpus. Determinism: the only floats are the 256 ln
    ratios, each quantized to a 1e6-scaled BIGINT the moment it is
    computed (>= 5 orders of headroom over a 1-ulp ln wiggle — ledger
    class B); per-doc scores and the source rollup are exact integer
    sums with one trailing division."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.col("source").isin("src0", "src1", "src2").alias("is_target"),
        F.explode(_toks(F.col("text"))).alias("w"),
    )
    feat = tok.select(
        "doc_id",
        "source",
        "is_target",
        F.conv(F.substring(F.md5("w"), 1, 2), 16, 10)
        .cast("int")
        .alias("b"),
    )
    bucket = feat.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("bigint")
        .alias("tc"),
        F.count(F.lit(1)).cast("bigint").alias("rc"),
    )
    tot = bucket.agg(
        F.sum("tc").alias("t_tot"), F.sum("rc").alias("r_tot")
    )
    ratio = bucket.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            1000000.0
            * (
                F.log((F.col("tc") + 0.5) / (F.col("t_tot") + 128.0))
                - F.log((F.col("rc") + 0.5) / (F.col("r_tot") + 128.0))
            )
        )
        .cast("bigint")
        .alias("lq"),
    )
    per_doc = (
        feat.join(F.broadcast(ratio), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum("lq").alias("score"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum("score") / (F.count(F.lit(1)) * 1000000.0), 4
            ).alias("avg_log_importance"),
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_selected"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap SE (Chamandy et al. 2012) — md5-driven, deterministic
# ---------------------------------------------------------------------------

#: inverse-CDF thresholds for Poisson(1) on a 16-bit md5 substring:
#: floor(65536 * cumP(k)) rendered as 4 lowercase hex chars
_POIS_HEX = ["5e2d", "bc5a", "eb71", "fb23", "ff10"]

_BOOT_B = 32

_BOOT_SQL = f"""
    WITH reps AS (
        SELECT d.source, d.n_chars, r.b,
               substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                          || CAST(r.b AS VARCHAR)), 1, 4) AS h4
        FROM documents d, (SELECT unnest(range(0, {_BOOT_B})) AS b) r
    ), weighted AS (
        SELECT source, b, n_chars,
               CASE WHEN h4 < '{_POIS_HEX[0]}' THEN 0
                    WHEN h4 < '{_POIS_HEX[1]}' THEN 1
                    WHEN h4 < '{_POIS_HEX[2]}' THEN 2
                    WHEN h4 < '{_POIS_HEX[3]}' THEN 3
                    WHEN h4 < '{_POIS_HEX[4]}' THEN 4
                    ELSE 5 END AS wt
        FROM reps
    ), rep_means AS (
        SELECT source, b,
               CAST(ROUND(1000000.0 * SUM(wt * n_chars) / SUM(wt))
                    AS BIGINT) AS m
        FROM weighted GROUP BY source, b HAVING SUM(wt) > 0
    ), se AS (
        SELECT source, COUNT(*) AS nb,
               SUM(CAST(m AS HUGEINT)) AS sm,
               SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS sm2
        FROM rep_means GROUP BY source
    ), base AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               SUM(n_chars) AS sc
        FROM documents GROUP BY source
    )
    SELECT base.source, base.n_docs,
           ROUND(base.sc * 1.0 / base.n_docs, 4) AS mean_chars,
           ROUND(sqrt(CAST(se.nb * se.sm2 - se.sm * se.sm AS DOUBLE)
                      / (se.nb * (se.nb - 1))) / 1000000.0, 4)
               AS boot_se_chars
    FROM base JOIN se USING (source) ORDER BY base.source
"""


@register("docs_poisson_bootstrap_se", _BOOT_SQL)
def docs_poisson_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap standard error of per-source mean document
    length — the single-pass bootstrap for data too large to resample
    by index (Chamandy et al. 2012): each (doc, replicate) draws a
    Poisson(1) weight, so all B=32 replicates stream through ONE scan
    with a B-way in-row fan-out (explode of a literal range — no extra
    scan, no shuffle growth beyond xB rows into a bounded (source, b)
    agg). The "draws" are md5(doc_id:b) 16-bit substrings compared
    against precomputed inverse-CDF HEX THRESHOLDS — pure string
    compares, so both engines draw byte-identical weights (no RNG).
    Replicate means quantize to 1e6-scaled BIGINTs; the SE uses the
    exact integer identity (B*sum(m^2) - sum(m)^2) computed in
    decimal(38,0) / HUGEINT (m^2 ~ 1e17 x B passes int64), with the
    single sqrt/division at the end."""
    d = _t(spark, sf_dir, "documents")
    reps = d.select(
        "source",
        "n_chars",
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(_BOOT_B - 1))
        ).alias("b"),
    ).select(
        "source",
        "n_chars",
        "b",
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            4,
        ).alias("h4"),
    )
    wt = (
        F.when(F.col("h4") < _POIS_HEX[0], 0)
        .when(F.col("h4") < _POIS_HEX[1], 1)
        .when(F.col("h4") < _POIS_HEX[2], 2)
        .when(F.col("h4") < _POIS_HEX[3], 3)
        .when(F.col("h4") < _POIS_HEX[4], 4)
        .otherwise(5)
    )
    rep_means = (
        reps.select("source", "b", "n_chars", wt.alias("wt"))
        .groupBy("source", "b")
        .agg(
            F.sum(F.col("wt") * F.col("n_chars")).alias("swc"),
            F.sum("wt").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select(
            "source",
            F.round(1000000.0 * F.col("swc") / F.col("sw"))
            .cast("bigint")
            .alias("m"),
        )
    )
    m_dec = F.col("m").cast("decimal(18,0)")
    se = rep_means.groupBy("source").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(m_dec).alias("sm"),
        F.sum(m_dec * m_dec).alias("sm2"),
    )
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").alias("sc"),
    )
    return (
        base.join(se, "source")
        .select(
            "source",
            "n_docs",
            F.round(F.col("sc") * 1.0 / F.col("n_docs"), 4).alias(
                "mean_chars"
            ),
            F.round(
                F.sqrt(
                    (
                        F.col("nb") * F.col("sm2")
                        - F.col("sm") * F.col("sm")
                    ).cast("double")
                    / (F.col("nb") * (F.col("nb") - 1))
                )
                / 1000000.0,
                4,
            ).alias("boot_se_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Delete-one-day jackknife SE for the mean event value
# ---------------------------------------------------------------------------

_JACK_SQL = """
    WITH q AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(ROUND(value * 100) AS BIGINT) AS vq
        FROM events
    ), daily AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS nd, SUM(vq) AS sd
        FROM q GROUP BY d
    ), tot AS (
        SELECT SUM(nd) AS n, SUM(sd) AS s, COUNT(*) AS days FROM daily
    ), loo AS (
        SELECT CAST(ROUND(1000000.0 * (s - sd) / ((n - nd) * 100.0))
                    AS BIGINT) AS m
        FROM daily, tot
    ), agg AS (
        SELECT COUNT(*) AS dd,
               SUM(CAST(m AS HUGEINT)) AS sm,
               SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS sm2
        FROM loo
    )
    SELECT CAST(tot.days AS BIGINT) AS n_days,
           CAST(tot.n AS BIGINT) AS n_events,
           ROUND(tot.s / (tot.n * 100.0), 4) AS mean_value,
           ROUND(sqrt((agg.dd - 1)
                      * CAST(agg.dd * agg.sm2 - agg.sm * agg.sm AS DOUBLE))
                 / (agg.dd * 1000000.0), 6) AS jackknife_se
    FROM tot, agg
"""


@register("events_jackknife_daily_se", _JACK_SQL)
def events_jackknife_daily_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-BLOCK jackknife SE for the global mean event value,
    blocked by day — the block jackknife is the uncertainty tool that
    respects within-day correlation, and its sufficient statistics are
    exactly the per-day (count, sum) pairs a 100 TB pipeline already
    maintains: one day-grain agg, a 1-row total, and a days-sized
    epilogue (calendar-bounded, so the "loop over folds" costs one
    broadcast of one row). Values quantize to cents on scan (the ledger
    rule for the DOUBLE value column), leave-one-out means quantize to
    1e6-scaled BIGINTs, and the variance uses the exact integer
    identity (D*sum(m^2) - sum(m)^2) in decimal/HUGEINT with one
    trailing sqrt/division: se = sqrt((D-1) * (D*Sm2 - Sm^2)) / (D*1e6).
    """
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("vq"),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nd"),
            F.sum("vq").alias("sd"),
        )
        .localCheckpoint(eager=True)  # day-grain; feeds tot AND loo
    )
    tot = daily.agg(
        F.sum("nd").alias("n"),
        F.sum("sd").alias("s"),
        F.count(F.lit(1)).alias("days"),
    )
    loo = daily.crossJoin(F.broadcast(tot)).select(
        F.round(
            1000000.0
            * (F.col("s") - F.col("sd"))
            / ((F.col("n") - F.col("nd")) * 100.0)
        )
        .cast("bigint")
        .alias("m")
    )
    m_dec = F.col("m").cast("decimal(18,0)")
    agg = loo.agg(
        F.count(F.lit(1)).alias("dd"),
        F.sum(m_dec).alias("sm"),
        F.sum(m_dec * m_dec).alias("sm2"),
    )
    return tot.crossJoin(F.broadcast(agg)).select(
        F.col("days").cast("bigint").alias("n_days"),
        F.col("n").cast("bigint").alias("n_events"),
        F.round(F.col("s") / (F.col("n") * 100.0), 4).alias("mean_value"),
        F.round(
            F.sqrt(
                (F.col("dd") - 1)
                * (
                    F.col("dd") * F.col("sm2") - F.col("sm") * F.col("sm")
                ).cast("double")
            )
            / (F.col("dd") * 1000000.0),
            6,
        ).alias("jackknife_se"),
    )


# ---------------------------------------------------------------------------
# Curriculum ordering plan (easy -> hard by mean word length)
# ---------------------------------------------------------------------------

_CURR_SQL = f"""
    WITH t AS (
        SELECT source, {_TOKS} AS ts FROM documents
    ), m AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(ts)) AS BIGINT) AS n_tokens,
               CAST(SUM(COALESCE(list_sum(list_transform(ts, x -> len(x))),
                                 0)) AS BIGINT) AS sumlen
        FROM t GROUP BY source
    ), scored AS (
        SELECT source, n_docs, n_tokens,
               CAST(ROUND(1000000.0 * sumlen / n_tokens) AS BIGINT)
                   AS diff_scaled
        FROM m
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY diff_scaled, source)
                AS BIGINT) AS phase,
           source, n_docs, n_tokens,
           ROUND(diff_scaled / 1000000.0, 4) AS difficulty,
           CAST(SUM(n_tokens) OVER (ORDER BY diff_scaled, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_tokens
    FROM scored
    ORDER BY phase
"""


@register("docs_curriculum_plan", _CURR_SQL)
def docs_curriculum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training plan: sources ranked easy -> hard by mean
    word length (the classic readability proxy), with the running token
    budget a data loader would consume phase by phase. The difficulty
    score is an exact-int ratio quantized to a BIGINT BEFORE it becomes
    the window ordering key, so the phase order is integer-total-ordered
    (tiebreak on source) — no float ever decides rank. One bounded
    (source) agg + one window over |sources| rows; the running sum is an
    ordered-frame window aggregate (order-fixed by construction)."""
    d = _t(spark, sf_dir, "documents")
    ts = _toks(F.col("text"))
    m = (
        d.select(
            "source",
            F.size(ts).alias("n"),
            F.aggregate(
                ts, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).alias("sumlen"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.sum("sumlen").cast("bigint").alias("sumlen"),
        )
    )
    scored = m.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(1000000.0 * F.col("sumlen") / F.col("n_tokens"))
        .cast("bigint")
        .alias("diff_scaled"),
    )
    w = Window.orderBy("diff_scaled", "source")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        scored.select(
            F.row_number().over(w).cast("bigint").alias("phase"),
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("diff_scaled") / 1000000.0, 4).alias(
                "difficulty"
            ),
            F.sum("n_tokens").over(wsum).cast("bigint").alias("cum_tokens"),
        )
        .orderBy("phase")
    )


# ---------------------------------------------------------------------------
# Canary-string contamination audit
# ---------------------------------------------------------------------------

#: known canary phrases whose presence in training data must be audited
#: (eval-set markers, watermark phrases). Fixture-realistic phrases so
#: the audit exercises hits AND misses at every sf.
_CANARIES = [
    "batch batch batch",
    "slow slow",
    "canary-4f2a9c never-in-corpus",
]
_CANARY_VALUES = ", ".join(f"('{c}')" for c in _CANARIES)

_CANARY_SQL = f"""
    WITH canaries(canary) AS (VALUES {_CANARY_VALUES}),
    hits AS (
        SELECT c.canary, d.doc_id, d.source
        FROM documents d CROSS JOIN canaries c
        WHERE instr(d.text, c.canary) > 0
    )
    SELECT c.canary,
           CAST(COALESCE(COUNT(h.doc_id), 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(COUNT(DISTINCT h.source), 0) AS BIGINT)
               AS n_sources,
           MIN(h.doc_id) AS first_doc_id
    FROM canaries c LEFT JOIN hits h ON c.canary = h.canary
    GROUP BY c.canary ORDER BY c.canary
"""


@register("docs_canary_contamination", _CANARY_SQL)
def docs_canary_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canary-string contamination audit — the EXACT-match leg of
    decontamination (complementing ``decontaminate_ngram_overlap``'s
    fuzzy leg): count documents and sources containing each known
    canary phrase (eval markers, watermarks, secret strings planted to
    prove a model trained on leaked data). One scan with a broadcast
    literal canary table and a substring test per (doc, canary) — the
    |canaries| factor is a constant, so cost is linear in the corpus
    whatever the canary list; at 100 TB the same shape serves thousands
    of canaries (broadcast stays driver-sized). Counts are exact ints;
    the never-present canary pins the zero row's shape."""
    d = _t(spark, sf_dir, "documents")
    canaries = spark.createDataFrame(
        [(c,) for c in _CANARIES], "canary string"
    )
    hits = (
        d.crossJoin(F.broadcast(canaries))
        .where(F.instr(F.col("text"), F.col("canary")) > 0)
        .select("canary", "doc_id", "source")
    )
    return (
        canaries.join(hits, "canary", "left")
        .groupBy("canary")
        .agg(
            F.coalesce(F.count("doc_id"), F.lit(0))
            .cast("bigint")
            .alias("n_docs"),
            F.coalesce(F.count_distinct("source"), F.lit(0))
            .cast("bigint")
            .alias("n_sources"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .orderBy("canary")
    )


# ---------------------------------------------------------------------------
# Simpson diversity of the vocabulary per source
# ---------------------------------------------------------------------------

_SIMPSON_SQL = f"""
    WITH tok AS (
        SELECT source, unnest({_TOKS}) AS w FROM documents
    ), wc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, w
    ), agg AS (
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_vocab,
               SUM(CAST(c AS HUGEINT) * (c - 1)) AS pairs
        FROM wc GROUP BY source
    )
    SELECT source, n_tokens, n_vocab,
           ROUND(CAST(pairs AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6)
               AS simpson_index,
           ROUND(CAST(n_tokens AS DOUBLE) * (n_tokens - 1)
                 / CAST(pairs AS DOUBLE), 4) AS inv_simpson
    FROM agg WHERE n_tokens > 1 AND pairs > 0
    ORDER BY source
"""


@register("docs_simpson_diversity", _SIMPSON_SQL)
def docs_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of each source's vocabulary: the probability
    two tokens drawn without replacement are the SAME word,
    D = sum c(c-1) / (N(N-1)), and its inverse (the "effective
    vocabulary size") — the collision-probability companion to the
    entropy/Gini diversity queries, and the one diversity index whose
    estimator is EXACT integer arithmetic (no logs): sum c(c-1) in
    HUGEINT/decimal (c^2 passes int64 for billion-token sources), one
    division at the end. Token-width agg to (source, word), bounded
    rollup — the standard vocabulary-query shape."""
    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select("source", F.explode(_toks(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    c_dec = F.col("c").cast("decimal(18,0)")
    agg = wc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.sum(c_dec * (c_dec - 1)).alias("pairs"),
    )
    return (
        agg.where((F.col("n_tokens") > 1) & (F.col("pairs") > 0))
        .select(
            "source",
            "n_tokens",
            "n_vocab",
            F.round(
                F.col("pairs").cast("double")
                / (
                    F.col("n_tokens").cast("double")
                    * (F.col("n_tokens") - 1)
                ),
                6,
            ).alias("simpson_index"),
            F.round(
                F.col("n_tokens").cast("double")
                * (F.col("n_tokens") - 1)
                / F.col("pairs").cast("double"),
                4,
            ).alias("inv_simpson"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DoReMi-style mixture reweighting from excess surprisal
# ---------------------------------------------------------------------------

_DOREMI_SQL = f"""
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
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
    ), vocab AS (
        SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
        FROM (SELECT unnest(ts) AS w FROM base)
    ), scored AS (
        SELECT k.source, k.k,
               CAST(ROUND((ln(CAST(c1.c1 + vocab.v AS DOUBLE))
                           - ln(CAST(c12.c12 + 1 AS DOUBLE)))
                          * 1000000000.0) AS BIGINT) AS s9
        FROM k
        JOIN c12 ON k.w1 = c12.w1 AND k.w2 = c12.w2
        JOIN c1 ON k.w1 = c1.w1
        CROSS JOIN vocab
    ), per_src AS (
        SELECT source,
               CAST(SUM(k) AS BIGINT) AS n_bigrams,
               CAST((2 * SUM(CAST(k AS HUGEINT) * s9)
                     + SUM(CAST(k AS HUGEINT)) * 1000)
                    // (2 * SUM(CAST(k AS HUGEINT)) * 1000)
                    AS BIGINT) AS ls
        FROM scored GROUP BY source
    ), ref AS (
        SELECT CAST((2 * SUM(CAST(k AS HUGEINT) * s9)
                     + SUM(CAST(k AS HUGEINT)) * 1000)
                    // (2 * SUM(CAST(k AS HUGEINT)) * 1000)
                    AS BIGINT) AS lref,
               CAST(SUM(k) AS BIGINT) AS n_total
        FROM scored
    ), expw AS (
        SELECT p.source, p.n_bigrams,
               p.ls, r.lref,
               CAST(ROUND(1000000.0 * (p.n_bigrams * 1.0 / r.n_total)
                          * exp(GREATEST(p.ls - r.lref, 0) / 1000000.0))
                    AS BIGINT) AS ew
        FROM per_src p, ref r
    ), tot AS (
        SELECT SUM(ew) AS te FROM expw
    )
    SELECT e.source, e.n_bigrams,
           ROUND(e.ls / 1000000.0, 4) AS avg_surprisal,
           ROUND(GREATEST(e.ls - e.lref, 0) / 1000000.0, 4) AS excess,
           ROUND(e.ew * 1.0 / tot.te, 4) AS mixture_weight
    FROM expw e, tot ORDER BY e.source
"""


@register("docs_doremi_mixture_weights", _DOREMI_SQL)
def docs_doremi_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain mixture reweighting (Xie et al. 2023,
    "Doremi: Optimizing Data Mixtures") collapsed to its one-shot
    relational core: a domain's mixture weight is its baseline share
    UP-WEIGHTED by exp(excess loss), where loss is mean bigram-LM
    surprisal (the same distinct-bigram-grain add-one LM as
    ``docs_bigram_lm_surprisal_by_source``) and excess is clamped at
    the corpus-wide reference — domains the cheap LM finds HARD get
    more sampling mass, the full-training EG update replaced by one
    exponentiated step (eta = 1). Everything reduces on the distinct
    (source, w1, w2) grain, so the corpus tokenizes once; per-source
    and reference surprisals quantize to 1e6-scaled BIGINTs (exact
    k-weighted integer sums up front), the exp term is quantized the
    moment it is computed (a 1-ulp exp wiggle sits 4 orders below the
    quantum), and the normalizing sum is an exact integer sum with one
    trailing division — mixture weights sum to ~1 by construction."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("source", _toks(F.col("text")).alias("ts"))
    n = F.size("ts")
    big = (
        base.where(n >= 2)
        .select(
            "source",
            F.explode(
                F.arrays_zip(
                    F.slice("ts", 1, n - 1).alias("w1"),
                    F.slice("ts", 2, n - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    k = big.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    c12 = k.groupBy("w1", "w2").agg(F.sum("k").cast("bigint").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    vocab = base.select(F.explode("ts").alias("w")).agg(
        F.count_distinct("w").cast("bigint").alias("v")
    )
    s9 = (
        F.round(
            (
                F.log((F.col("c1") + F.col("v")).cast("double"))
                - F.log((F.col("c12") + 1).cast("double"))
            )
            * 1000000000.0
        )
        .cast("bigint")
        .alias("s9")
    )
    scored = (
        k.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("source", "k", s9)
        .localCheckpoint(eager=True)  # feeds per-source AND reference
    )
    k_dec = F.col("k").cast("decimal(18,0)")
    # round-half-up(a/b) = (2a + b) div (2b) for a, b >= 0 — the whole
    # k-weighted mean stays in decimal(38,0)/int128-class arithmetic, so
    # ls is EXACT however large sum(k*s9) grows (it passes 2^53 around
    # 1e13 corpus tokens, the 100 TB regime; the double path would not
    # round-trip there and the plain-BIGINT oracle product would overflow).
    _half_up = (
        "(2 * a9 + kd * 1000) div (2 * kd * 1000)"
    )
    per_src = (
        scored.groupBy("source")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.sum(k_dec * F.col("s9")).alias("a9"),
            F.sum(k_dec).alias("kd"),
        )
        .select(
            "source",
            "n_bigrams",
            F.expr(_half_up).cast("bigint").alias("ls"),
        )
    )
    ref = scored.agg(
        F.sum(k_dec * F.col("s9")).alias("a9"),
        F.sum(k_dec).alias("kd"),
        F.sum("k").cast("bigint").alias("n_total"),
    ).select(
        F.expr(_half_up).cast("bigint").alias("lref"),
        "n_total",
    )
    expw = per_src.crossJoin(F.broadcast(ref)).select(
        "source",
        "n_bigrams",
        "ls",
        "lref",
        F.round(
            1000000.0
            * (F.col("n_bigrams") * 1.0 / F.col("n_total"))
            * F.exp(
                F.greatest(F.col("ls") - F.col("lref"), F.lit(0))
                / 1000000.0
            )
        )
        .cast("bigint")
        .alias("ew"),
    )
    tot = expw.agg(F.sum("ew").alias("te"))
    return (
        expw.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_bigrams",
            F.round(F.col("ls") / 1000000.0, 4).alias("avg_surprisal"),
            F.round(
                F.greatest(F.col("ls") - F.col("lref"), F.lit(0))
                / 1000000.0,
                4,
            ).alias("excess"),
            F.round(F.col("ew") * 1.0 / F.col("te"), 4).alias(
                "mixture_weight"
            ),
        )
        .orderBy("source")
    )
