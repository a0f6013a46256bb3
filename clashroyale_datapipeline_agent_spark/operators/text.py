"""Text-analysis operators for training-data pipelines (BASELINE.json north
star; SURVEY.md §7.3 M7). All native column expressions — these run over the
``documents`` table at 100 TB, so nothing here leaves the JVM.

Operators: tokenization, TF-IDF / BM25 / n-gram statistics, unigram LM
scoring, content fingerprinting (md5), chunking, PII scrubbing and the
filter funnel. ``STOPWORDS`` feeds the registry's stopword language
scorers (``plans/text_queries.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword language
#: heuristic. Deliberately minimal + public-knowledge words; the operator is
#: about the *shape* (vectorized membership scoring), not lexicography.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "para", "que"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization: split on runs of whitespace, drop empties.

    ``split`` + ``filter`` stays in codegen; at 100 TB this is the cheap
    path vs any UDF tokenizer.
    """
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def tf_idf(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-(doc, term) TF-IDF over whitespace tokens, fully relational.

    tf = term count / doc token count; idf = ln(N / df). Shapes:
    token explode → (doc, term) count (one shuffle on the pair), document
    frequency is a re-agg of that same table keyed by term (word-count
    shape — no skew beyond natural term frequency), and the corpus size N
    joins in as a broadcast 1-row aggregate, never a driver-side collect.
    Everything stays in codegen; at 100 TB the (doc, term) shuffle is the
    cost, which is the floor for exact TF-IDF.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens_col(F.lower(F.col(text_col)))).alias("term")
    )
    term_counts = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf_count"))
    doc_len = term_counts.groupBy(id_col).agg(F.sum("tf_count").alias("n_tokens"))
    df_counts = term_counts.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        term_counts.join(doc_len, id_col)
        .join(df_counts, "term")
        .join(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            F.col("tf_count").cast("bigint").alias("tf_count"),
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            (
                (F.col("tf_count").cast("double") / F.col("n_tokens").cast("double"))
                * F.log(F.col("n_docs").cast("double") / F.col("doc_freq").cast("double"))
            ).alias("tf_idf"),
        )
    )


def top_ngram_stats(
    docs: DataFrame,
    *,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc repetition signal à la Gopher's "fraction of characters in
    the most common n-gram": (doc, n_ngrams, top_ngram_frac) where
    top_ngram_frac = occurrences of the doc's most frequent word n-gram /
    total n-grams. High values mark boilerplate/spam.

    Relational shape: explode all (non-distinct) n-grams, count per
    (doc, gram), then a per-doc max/sum re-agg — two word-count-shaped
    shuffles keyed by (doc, gram) and doc.
    """
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != "")
    k = F.size(toks) - (n - 1)
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    per_gram = (
        docs.select(F.col(id_col), F.explode(grams).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return per_gram.groupBy(id_col).agg(
        F.sum("cnt").cast("bigint").alias("n_ngrams"),
        (F.max("cnt").cast("double") / F.sum("cnt").cast("double")).alias(
            "top_ngram_frac"
        ),
    )


def md5_fingerprint_col(text: Column, *, normalize: bool = True) -> Column:
    """MD5 hex fingerprint — identical in Spark and DuckDB, used by the
    oracle-checked dedup queries."""
    t = F.regexp_replace(F.lower(text), r"\s+", " ") if normalize else text
    return F.md5(t)


def unigram_logprob_scores(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    term_counts: DataFrame | None = None,
) -> DataFrame:
    """Perplexity-style quality score from a corpus unigram LM
    (CCNet/Gopher-family filtering: drop documents whose tokens are
    improbable under the corpus distribution — gibberish scores high,
    boilerplate scores low).

    score(doc) = -(1/|doc|) * sum_t count_t(doc) * ln p(t),
    p(t) = corpus count of t / corpus token total.

    Shapes (same floor as exact TF-IDF): (doc, term) counts shuffle once
    on the pair; the corpus term table is a re-agg of that same table (no
    second scan); the 1-row corpus total joins in as a broadcast — no
    driver collect. Every expression is codegen; at 100 TB the (doc,
    term) shuffle is the cost. ``term_counts`` optionally injects a
    precomputed :func:`term_count_table` (columns renamed internally) so
    several scorers share one word-count shuffle.
    """
    if term_counts is None:
        term_counts = term_count_table(
            docs, text_col=text_col, id_col=id_col
        ).withColumnRenamed("tf", "cnt")
    else:
        term_counts = term_counts.withColumnRenamed("tf", "cnt")
    corpus_counts = term_counts.groupBy("term").agg(
        F.sum("cnt").alias("corpus_cnt")
    )
    total = corpus_counts.agg(F.sum("corpus_cnt").alias("corpus_total"))
    return (
        term_counts.join(corpus_counts, "term")
        .join(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            (
                -F.sum(
                    F.col("cnt").cast("double")
                    * F.log(
                        F.col("corpus_cnt").cast("double")
                        / F.col("corpus_total").cast("double")
                    )
                )
                / F.sum("cnt").cast("double")
            ).alias("mean_neg_logprob"),
        )
    )


def term_count_table(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The (doc, term, tf) table every lexical scorer re-aggregates from
    — compute it ONCE (and ``localCheckpoint`` it) when feeding several
    scorers, e.g. the BM25 + unigram-LM pair behind
    ``docs_hybrid_rrf_topk``: the word-count shuffle is the dominant
    cost and it is identical across them."""
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("term"),
    )
    return toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    term_counts: DataFrame | None = None,
) -> DataFrame:
    """BM25 retrieval scoring against a fixed term list (the retrieval
    step of a RAG data pipeline, as a relational plan).

    score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b*dl/avgdl)),
    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)   (Robertson/Lucene form).

    Shapes: (doc, term) counts once (word-count shuffle), document
    frequency re-aggregated from that table, N and avgdl broadcast as a
    1-row aggregate; the query term list is a literal filter BEFORE the
    scoring join, so only |query| terms' postings ever move. Docs
    matching no query term score 0 and are omitted (retrieval
    convention).

    ``term_counts`` optionally injects a precomputed
    :func:`term_count_table` so several scorers share one word-count
    shuffle.
    """
    if term_counts is None:
        term_counts = term_count_table(docs, text_col=text_col, id_col=id_col)
    doc_len = term_counts.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = doc_len.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    q = [t.lower() for t in query_terms]
    postings = term_counts.filter(F.col("term").isin(*q))
    df_counts = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf = F.col("tf").cast("double")
    denom = tf + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
    return (
        postings.join(doc_len, id_col)
        .join(F.broadcast(df_counts), "term")
        .join(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(idf * tf * (k1 + 1.0) / denom).alias("bm25"))
    )


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG document chunking: fixed token windows with overlap, as a pure
    relational plan (sequence + explode + slice — no UDF).

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk starts at the final
    stride position < max(n - overlap, 1), so every token lands in at
    least one chunk and trailing fragments shorter than the overlap don't
    spawn a redundant chunk. Output grain: one row per (doc, chunk) with
    the chunk text rebuilt from the token slice.

    Scale: explode fans out ~n/stride rows per doc with NO shuffle (the
    aggregate-free pipeline stays map-side); downstream embedding/indexing
    sees chunk-grain rows immediately.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    base = docs.select(
        F.col(id_col),
        tokens_col(F.col(text_col)).alias("_toks"),
    ).select(
        F.col(id_col), "_toks", F.size("_toks").alias("n_tokens")
    )
    n = F.col("n_tokens")
    n_chunks = (
        F.greatest(n - overlap - 1, F.lit(0)) / stride
    ).cast("int") + 1
    return base.select(
        F.col(id_col),
        "n_tokens",
        "_toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).select(
        F.col(id_col),
        "n_tokens",
        "chunk_idx",
        (F.col("chunk_idx") * stride).alias("start_tok"),
        F.concat_ws(
            " ",
            F.slice(F.col("_toks"), F.col("chunk_idx") * stride + 1, chunk_tokens),
        ).alias("chunk_text"),
    )


#: Default scrub patterns (PII-shaped): long digit runs (phone/account/ID
#: numbers) and email-like tokens. Kept to RE2-and-Java-compatible syntax
#: (no lookaround, no backrefs) so the same pattern means the same thing
#: in Spark, DuckDB, and any downstream engine.
SCRUB_PATTERNS: list[tuple[str, str]] = [
    (r"[0-9]{4,}", "<NUM>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
]


def scrub_col(text: Column, patterns: list[tuple[str, str]] | None = None) -> Column:
    """PII scrubbing as chained ``regexp_replace`` — pure codegen, no UDF.

    Applies each (pattern, replacement) in order; order matters when
    patterns overlap (emails contain digit runs, so the digit rule runs
    first here and the email rule sees ``<NUM>``-mangled addresses —
    callers wanting email-first reorder the list).
    """
    out = text
    for pat, rep in patterns or SCRUB_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def cosine_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 50,
    min_df: int = 2,
) -> DataFrame:
    """Sparse cosine similarity for every doc pair sharing a rare term.

    The posting-list self-join: (doc, term, tf) postings meet through the
    term equi-join — pairs are generated only where vocabulary overlaps,
    never as a cross product. The DF ceiling is the scale lever: a term
    appearing in d documents contributes O(d²) pairs, so dropping terms
    with ``df > max_df`` bounds the join fan-out (stopword-like terms
    carry no similarity signal anyway); ``df >= min_df`` prunes
    singleton terms that cannot pair at all. TF-IDF weighting plugs into
    the same join shape (see :func:`tf_idf`); raw term-count weights are
    used here because the dot product is then an exact BIGINT sum and
    the norms single correctly-rounded sqrts — the whole measure is
    bit-reproducible across engines, with no libm ``ln`` in the path.

    Returns (id_a, id_b, n_shared_terms, dot, cosine), id_a < id_b,
    cosine over the pruned vocabulary.
    """
    tc = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(tokens_col(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfc = (
        tc.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .select("term")
    )
    kept = tc.join(dfc, "term")
    norms = kept.groupBy("id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("norm")
    )
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
            F.sum(F.col("a.tf") * F.col("b.tf")).cast("bigint").alias("dot"),
        )
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("norm").alias("norm_b"))
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared_terms",
            "dot",
            (F.col("dot").cast("double") / (F.col("norm_a") * F.col("norm_b"))).alias(
                "cosine"
            ),
        )
    )


def logodds_discriminative_terms(
    docs: DataFrame,
    group_col: str,
    *,
    text_col: str = "text",
    alpha: float = 0.01,
) -> DataFrame:
    """Per-group discriminative terms via Dirichlet-prior log-odds
    (Monroe/Colaresi/Quinn 2008, "Fightin' Words"): for each (group,
    term), the z-scored log-odds delta of the term's rate in the group
    vs the rest of the corpus, with a symmetric Dirichlet prior that
    keeps rare terms from dominating. Output: (group, term, z).

    Scale shape: ONE (group, term) count shuffle; every other input —
    per-term corpus totals, per-group token totals, vocabulary size —
    re-aggregates from it and joins back bounded (vocab-sized or
    group-sized), so z is computed map-side on the counts table. No
    libm beyond ln/sqrt, both ROUND-stable cross-engine.
    """
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.filter(F.split(F.lower(F.trim(F.col(text_col))), " "), lambda t: t != "")
        ).alias("term"),
    )
    gt = toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("y_iw"))
    tw = gt.groupBy("term").agg(F.sum("y_iw").alias("y_w"))
    gn = gt.groupBy("grp").agg(F.sum("y_iw").alias("n_i"))
    tot = gt.agg(
        F.sum("y_iw").alias("n"), F.count_distinct("term").alias("v")
    )
    a = F.lit(alpha)
    a0 = F.col("v") * a
    cells = (
        gt.join(F.broadcast(tw), "term")
        .join(F.broadcast(gn), "grp")
        .crossJoin(F.broadcast(tot))
    )
    rest = F.col("y_w") - F.col("y_iw")
    delta = F.log(
        (F.col("y_iw") + a) / (F.col("n_i") + a0 - F.col("y_iw") - a)
    ) - F.log((rest + a) / (F.col("n") - F.col("n_i") + a0 - rest - a))
    var = 1.0 / (F.col("y_iw") + a) + 1.0 / (rest + a)
    return cells.select(
        F.col("grp"),
        "term",
        (delta / F.sqrt(var)).alias("z"),
    )


def filter_funnel(
    docs: DataFrame, stages: list[tuple[str, Column]]
) -> DataFrame:
    """Multi-stage curation-filter attrition report (the C4/Gopher/CCNet
    cleaning-pipeline readout: how many documents each successive filter
    costs).

    ``stages`` is an ORDERED list of ``(name, boolean Column)``; a
    document survives stage *i* iff predicates ``1..i`` all hold
    (sequential-filter semantics). One scan evaluates every predicate,
    ONE hash aggregation produces the full cumulative-survivor vector
    (``len(stages)+1`` sums on a single row), and an inline ``stack``
    melts it to one row per stage — no per-stage rescan, no driver loop,
    so at 100 TB the report costs exactly one pass over the corpus.

    Returns ``(stage_idx, stage, n_in, n_out)`` with ``n_in`` = survivors
    of the previous stage (stage 1's ``n_in`` is the corpus size).
    """
    flags = docs.select(
        *[p.cast("boolean").alias(f"_f{i}") for i, (_, p) in enumerate(stages)]
    )
    aggs = [F.count(F.lit(1)).alias("_n0")]
    cum: Column | None = None
    for i in range(len(stages)):
        cum = F.col(f"_f{i}") if cum is None else (cum & F.col(f"_f{i}"))
        aggs.append(
            F.sum(F.coalesce(cum, F.lit(False)).cast("long")).alias(f"_n{i + 1}")
        )
    row = flags.agg(*aggs)
    parts: list[str] = []
    for i, (name, _) in enumerate(stages):
        parts += [f"{i + 1}", f"'{name}'", f"_n{i}", f"_n{i + 1}"]
    return row.selectExpr(
        f"stack({len(stages)}, {', '.join(parts)})"
        " as (stage_idx, stage, n_in, n_out)"
    )
