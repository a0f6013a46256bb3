"""Invariant tests for the scale-tooling batch: count-min sketch,
HLL register merge, single-scan constraint suite, SCD2 intervals,
equi-depth histogram, and the adaptive events-timestamp reader."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.operators.profile import check_constraints
from clashroyale_datapipeline_agent_spark.operators.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    cms_counters,
    cms_estimate,
)
from clashroyale_datapipeline_agent_spark.plans import scale_queries
from clashroyale_datapipeline_agent_spark.sources.readers import load_star_table
from tests.conftest import SF_DIR


def test_cms_one_sided_and_bounded_state(spark):
    ev = load_star_table(spark, SF_DIR, "events")
    counters = cms_counters(ev, "user_id")
    assert counters.count() <= CMS_DEPTH * CMS_WIDTH
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), F.asc("user_id")).limit(10)
    est = cms_estimate(counters, probes, "user_id")
    rows = est.collect()
    assert len(rows) == 10
    # CMS guarantee is one-sided: never an undercount.
    assert all(r.cms_estimate >= r.exact_cnt for r in rows)


def test_cms_total_mass_per_row(spark):
    # Each hash row sees every input once: per-row counter sums == N.
    ev = load_star_table(spark, SF_DIR, "events")
    n = ev.count()
    sums = (
        cms_counters(ev, "user_id")
        .groupBy("row_id")
        .agg(F.sum("cnt").alias("mass"))
        .collect()
    )
    assert len(sums) == CMS_DEPTH
    assert all(r.mass == n for r in sums)


def test_hll_merge_equals_direct(spark):
    out = scale_queries.events_hll_merge_daily(spark, SF_DIR).collect()
    assert out and all(r.merge_exact for r in out)
    assert all(r.n_days >= 1 for r in out)


def test_check_constraints_single_scan(spark):
    o = load_star_table(spark, SF_DIR, "orders")
    n = F.count(F.lit(1))
    df = check_constraints(
        o,
        [
            ("row_count_min", n, n >= 10),
            ("nonneg_price", F.min("o_totalprice"), F.min("o_totalprice") >= 0.0),
        ],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    rows = {r.check: r for r in df.collect()}
    assert rows["row_count_min"].passed and rows["nonneg_price"].passed


def test_quality_checks_all_pass(spark):
    rows = scale_queries.orders_quality_checks(spark, SF_DIR).collect()
    assert len(rows) == 6
    assert all(r.passed for r in rows)


def test_equidepth_partitions_everything(spark):
    d = load_star_table(spark, SF_DIR, "documents")
    total = d.count()
    rows = scale_queries.docs_equidepth_histogram(spark, SF_DIR).collect()
    assert sum(r.n_docs for r in rows) == total
    assert all(0 <= r.bucket <= 9 for r in rows)
    # Bucket value ranges are disjoint and ordered.
    ordered = sorted(rows, key=lambda r: r.bucket)
    for a, b in zip(ordered, ordered[1:]):
        assert a.max_chars <= b.min_chars


def test_scd2_interval_counts_bounded(spark):
    ev = load_star_table(spark, SF_DIR, "events")
    n_events = ev.count()
    rows = scale_queries.events_scd2_intervals(spark, SF_DIR).collect()
    assert rows
    assert sum(r.n_intervals for r in rows) <= n_events
    # Open intervals: exactly one per user (the last state has no LEAD).
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_open for r in rows) == n_users
    assert all(
        r.avg_duration_s is None or r.avg_duration_s > 0 for r in rows
    )


def test_events_reader_adapts_to_micros_fixture(spark):
    # Round-3 fixtures store ts as TIMESTAMP(MICROS); the footer-sniffing
    # reader must land on the real 2024 axis, not a 1000x-compressed one.
    ev = load_star_table(spark, SF_DIR, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    assert lo.year >= 2000, f"time axis corrupted: {lo}"
    assert (hi - lo).days >= 1


def test_merge_changes_semantics(spark):
    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    ch = spark.createDataFrame(
        [(2, "B", "U"), (3, None, "D"), (4, "d", "I"), (5, "e", "U"), (9, None, "D")],
        ["k", "v", "op"],
    )
    from clashroyale_datapipeline_agent_spark.operators.dim_maintenance import (
        merge_changes,
    )

    out = {r.k: r.v for r in merge_changes(snap, ch, ["k"]).collect()}
    # untouched, updated, deleted-gone, inserted, upserted-absent, D-absent noop
    assert out == {1: "a", 2: "B", 4: "d", 5: "e"}


def test_merge_changes_malformed_ops_cannot_mutate_snapshot(spark):
    # NULL or unrecognized op must leave the snapshot row untouched for an
    # existing key and insert nothing for an absent key — a malformed
    # changeset never silently deletes or overwrites.
    snap = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    ch = spark.createDataFrame(
        [(1, "X", None), (2, "Y", "Z"), (7, "q", None), (8, "r", "??")],
        ["k", "v", "op"],
    )
    from clashroyale_datapipeline_agent_spark.operators.dim_maintenance import (
        merge_changes,
    )

    out = {r.k: r.v for r in merge_changes(snap, ch, ["k"]).collect()}
    assert out == {1: "a", 2: "b"}


def test_cms_estimate_unseen_key_is_zero(spark):
    # A probe key absent from the data must surface with estimate 0 (its
    # MIN over depth rows hits at least one never-incremented cell on
    # these fixtures), not vanish from the output — the left-join +
    # coalesce(0) contract.
    data = spark.createDataFrame([(k,) for k in range(5)], ["user_id"])
    counters = cms_counters(data, "user_id")
    unseen = spark.range(1).select(
        F.lit(-987654321).cast("long").alias("user_id")
    )
    rows = cms_estimate(counters, unseen, "user_id").collect()
    assert len(rows) == 1
    assert rows[0].cms_estimate == 0


def test_zvalue_locality(spark):
    from clashroyale_datapipeline_agent_spark.operators.layout import z_value

    df = spark.range(0, 1024).select(
        (F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y")
    )
    z = df.select("x", "y", z_value(F.col("x"), F.col("y"), 5).alias("z")).collect()
    # Morton code is a bijection on the 32x32 grid
    assert len({r.z for r in z}) == 1024
    assert all(0 <= r.z < 1024 for r in z)
    # interleave of (x, y) = (1, 0) -> 1, (0, 1) -> 2, (3, 3) -> 15
    m = {(r.x, r.y): r.z for r in z}
    assert m[(1, 0)] == 1 and m[(0, 1)] == 2 and m[(3, 3)] == 15


def test_zorder_prunes_better_than_natural(spark):
    rows = {
        r.layout: r
        for r in scale_queries.orders_zorder_locality(spark, SF_DIR).collect()
    }
    assert rows["zorder"].rows_scanned <= rows["natural"].rows_scanned
    assert rows["zorder"].buckets_scanned < rows["natural"].buckets_scanned


def test_bpe_pairs_weighted_by_word_freq(spark):
    rows = scale_queries.docs_bpe_first_merges(spark, SF_DIR).collect()
    assert len(rows) == 10
    # descending, deterministic tiebreak
    ns = [r.n_occurrences for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert all(len(r.pair) == 2 for r in rows)


def test_oov_rate_bounds(spark):
    rows = scale_queries.docs_oov_rate_by_lang(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.avg_oov_rate <= r.max_oov_rate <= 1.0


def test_corr_in_range(spark):
    rows = scale_queries.docs_length_diversity_corr(spark, SF_DIR).collect()
    assert rows
    assert all(-1.0 <= r.length_diversity_corr <= 1.0 for r in rows)


def test_fk_audit_clean_fixture(spark):
    rows = scale_queries.fk_integrity_audit(spark, SF_DIR).collect()
    assert len(rows) == 4
    # driver fixtures are referentially clean; the audit must agree
    assert all(r.n_orphans == 0 for r in rows)
    assert all(r.n_child_rows > 0 for r in rows)


def test_chi2_nonnegative(spark):
    rows = scale_queries.docs_lang_source_chi2(spark, SF_DIR).collect()
    assert rows
    assert all(r.chi2_contrib >= 0.0 for r in rows)


def test_lsh_band_sweep_monotone(spark):
    rows = {r.config: r for r in scale_queries.dedup_lsh_band_sweep(spark, SF_DIR).collect()}
    # more bands of fewer rows = more permissive = at least as many candidates
    if "b2r8" in rows and "b8r2" in rows:
        assert rows["b8r2"].n_candidates >= rows["b2r8"].n_candidates
    for r in rows.values():
        assert 0 <= r.n_true_pairs <= r.n_candidates
        assert 0.0 <= r.precision_at_05 <= 1.0


def test_lsh_band_sweep_xx_full_corpus_invariants(spark):
    # Round-12 flip: the xxhash64 production twin now SELF-CHECKS its
    # full-corpus invariants (configs complete, nested-band
    # monotonicity, bounds, exact-dup floor, full >= md5 quarter-slice)
    # and exports them as oracle-pinned booleans alongside the md5-slice
    # census it must stay consistent with.
    out = {
        r.config: r
        for r in scale_queries.dedup_lsh_band_sweep_xx(spark, SF_DIR).collect()
    }
    md5 = {
        r.config: r
        for r in scale_queries.dedup_lsh_band_sweep(spark, SF_DIR).collect()
    }
    assert set(out) == {"b2r8", "b4r4", "b8r2"}  # 3 rows by construction
    for cfg, r in out.items():
        assert r.xx_nested_monotone and r.xx_bounds_ok
        assert r.xx_ge_exact_dup_pairs
        assert r.full_exact_dup_pairs >= 0
        # the embedded census IS the md5 sweep's output, column for column
        assert r.md5_slice_candidates == md5[cfg].n_candidates
        assert r.md5_slice_true_pairs == md5[cfg].n_true_pairs
        assert r.md5_slice_precision == md5[cfg].precision_at_05
    # the EMPIRICAL full-vs-slice law lives here (hash-family-dependent,
    # so it is pytest-pinned at the standard fixtures, never
    # oracle-pinned on arbitrary corpora): the xx full-corpus sweep has
    # at least the md5 quarter-slice's candidate volume per config
    def _mh_xx(seed):
        return F.array_min(
            F.transform("shingles", lambda s: F.xxhash64(s, F.lit(seed)))
        ).cast("string")

    xx_raw = {
        r.config: r
        for r in scale_queries._lsh_sweep(
            spark, SF_DIR,
            F.array(*[_mh_xx(i) for i in range(scale_queries._LSH_N_HASHES)]),
            F.lit(True),
        ).collect()
    }
    for cfg in out:
        assert xx_raw[cfg].n_candidates >= md5[cfg].n_candidates


def test_weighted_sample_favors_long_docs(spark):
    d = load_star_table(spark, SF_DIR, "documents").filter(F.col("n_chars") > 0)
    overall_avg = d.agg(F.avg("n_chars")).first()[0]
    rows = scale_queries.docs_weighted_sample_counts(spark, SF_DIR).collect()
    n = sum(r.n_sampled for r in rows)
    assert n == min(100, d.count())
    sampled_avg = sum(r.avg_chars_sampled * r.n_sampled for r in rows) / n
    # weight ∝ length ⇒ the sample skews long
    assert sampled_avg > overall_avg


def test_incremental_dedup_statuses(spark):
    from clashroyale_datapipeline_agent_spark.operators.dedup import dedup_incremental

    batch = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "ccc")], ["doc_id", "text"]
    )
    store = spark.createDataFrame([("ccc",), ("zzz",)], ["text"]).select(
        F.md5("text").alias("fp")
    )
    out = {r.doc_id: r.status for r in dedup_incremental(batch, store).collect()}
    assert out == {1: "kept", 2: "kept", 3: "dup_batch", 4: "dup_history"}


def test_fightin_words_symmetric_fixture(spark):
    from clashroyale_datapipeline_agent_spark.operators.text import (
        logodds_discriminative_terms,
    )

    docs = spark.createDataFrame(
        [
            ("a", "apple apple apple shared shared"),
            ("b", "banana banana banana shared shared"),
        ],
        ["source", "text"],
    )
    z = {
        (r.grp, r.term): r.z
        for r in logodds_discriminative_terms(docs, "source").collect()
    }
    # each source's marker term scores positive for it (sparse form:
    # only observed (group, term) cells are emitted)
    assert z[("a", "apple")] > 0
    assert z[("b", "banana")] > 0
    # a term both groups share equally is antisymmetric across two
    # equal-size groups, and less discriminative than the markers
    assert abs(z[("a", "shared")] + z[("b", "shared")]) < 1e-9
    assert abs(z[("a", "shared")]) < z[("a", "apple")]


def test_grouped_equidepth_partitions_each_source(spark):
    d = load_star_table(spark, SF_DIR, "documents")
    per_source = {r.source: r.n for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    rows = scale_queries.docs_equidepth_by_source(spark, SF_DIR).collect()
    got = {}
    for r in rows:
        got[r.source] = got.get(r.source, 0) + r.n_docs
        assert 0 <= r.bucket <= 3
    assert got == per_source


def test_truncation_fidelity_monotone(spark):
    rows = {r.k: r for r in scale_queries.embeddings_truncation_fidelity(spark, SF_DIR).collect()}
    ks = sorted(rows)
    # more dims kept -> less cosine distortion
    for a, b in zip(ks, ks[1:]):
        assert rows[a].avg_abs_cos_delta >= rows[b].avg_abs_cos_delta
    assert all(r.avg_abs_cos_delta <= r.max_abs_cos_delta for r in rows.values())


def test_date_spine_covers_range_exactly(spark):
    o = load_star_table(spark, SF_DIR, "orders")
    lo, hi = o.agg(F.min(F.to_date("o_orderdate")), F.max(F.to_date("o_orderdate"))).first()
    r = scale_queries.orders_date_spine_fill(spark, SF_DIR).first()
    assert r.n_days == (hi - lo).days + 1
    assert 0 <= r.n_gap_days < r.n_days
    assert r.max_daily_orders > 0


def test_dup_concentration_bounds(spark):
    import math

    rows = scale_queries.docs_dup_concentration(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.dup_rate < 1.0
        # entropy of n_unique clusters is bounded by ln(n_unique);
        # the stored value is ROUND(.,4), so allow rounding slack
        assert 0.0 <= r.cluster_entropy <= math.log(r.n_unique_texts) + 5e-5


def test_hll_intersection_sane(spark):
    from tests.conftest import SF_DIR_ORACLE

    # algebraic invariants hold at any SF
    r = scale_queries.events_hll_intersection(spark, SF_DIR).first()
    assert r.est_union <= r.est_a + r.est_b + 1e-9
    assert r.est_intersection == pytest.approx(
        round(r.est_a + r.est_b - r.est_union, 2), abs=1e-9
    )
    # No accuracy assertion: every fixture SF has < 3·m distinct users
    # (15 at sf0.001, 150 at sf0.01 vs m = 256 registers), i.e. inside
    # the small-range regime whose ln-correction is deliberately omitted
    # for cross-engine determinism — raw estimates are biased HIGH there
    # by construction, which is why the query ships the exact overlap
    # beside the estimate instead of hiding it. Pin that documented bias
    # direction at sf0.01:
    r = scale_queries.events_hll_intersection(spark, SF_DIR_ORACLE).first()
    assert r.exact_intersection > 0
    assert r.est_intersection >= r.exact_intersection


# ---------------------------------------------------------------------------
# LSH per-bucket cap (mega-duplicate-cluster guard)
# ---------------------------------------------------------------------------

def _mega_docs(spark, m=12, distinct=6):
    """m byte-identical docs (one mega LSH bucket per band) + distinct docs."""
    mega = [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(m)]
    uniq = [
        (100 + j, f"completely different document number {j} with words {j*7} {j*13} unique")
        for j in range(distinct)
    ]
    return spark.createDataFrame(mega + uniq, "doc_id long, text string")


def test_lsh_bucket_cap_star_divert(spark):
    from clashroyale_datapipeline_agent_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_lsh_dedup,
    )

    docs = _mega_docs(spark, m=12)
    kw = dict(num_hashes=16, bands=8)
    uncapped = lsh_candidate_pairs(docs, **kw)
    capped = lsh_candidate_pairs(docs, max_bucket=4, **kw)
    n_un, n_cap = uncapped.count(), capped.count()
    # clique: C(12,2)=66 mega pairs (plus any distinct-doc collisions);
    # star: 11 edges to the representative.
    assert n_un >= 66
    assert n_cap < n_un
    mega_capped = capped.filter((F.col("id_a") < 100) & (F.col("id_b") < 100))
    rows = mega_capped.collect()
    assert len(rows) == 11
    assert all(r.id_a == 0 for r in rows)  # star centre = min id
    # cluster membership is preserved: the dedup keeps exactly one of the
    # mega cluster either way, and the same survivor set overall.
    kept_un = {r.doc_id for r in minhash_lsh_dedup(docs, threshold=0.8, **kw).collect()}
    kept_cap = {
        r.doc_id
        for r in minhash_lsh_dedup(docs, threshold=0.8, max_bucket=4, **kw).collect()
    }
    assert kept_un == kept_cap
    assert len(kept_cap & set(range(12))) == 1


def test_lsh_bucket_cap_none_is_identity(spark):
    from clashroyale_datapipeline_agent_spark.operators.dedup import lsh_candidate_pairs

    docs = _mega_docs(spark, m=5)
    kw = dict(num_hashes=16, bands=8)
    a = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(docs, **kw).collect()}
    b = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(docs, max_bucket=None, **kw).collect()}
    assert a == b


def test_lsh_bucket_cap_audit_matches_operator(spark):
    """The census formula (C(n,2) vs star n-1) matches the real operator
    output on the synthetic mega-cluster, per band-bucket arithmetic."""
    from clashroyale_datapipeline_agent_spark.operators.dedup import lsh_candidate_pairs

    docs = _mega_docs(spark, m=10, distinct=4)
    capped = lsh_candidate_pairs(docs, max_bucket=4, num_hashes=16, bands=8)
    mega = capped.filter((F.col("id_a") < 100) & (F.col("id_b") < 100))
    assert mega.count() == 9  # n-1 star edges, dedup'd across all 8 bands


def test_lsh_bucket_cap_audit_query(spark):
    out = scale_queries.dedup_lsh_bucket_cap_audit(spark, SF_DIR)
    rows = out.collect()
    assert [r.cap for r in rows] == [8, 32, 128]
    for r in rows:
        assert r.pairs_capped <= r.pairs_uncapped
        assert r.oversize_buckets >= 0
    # monotone: a looser cap diverts fewer buckets, emits >= as many pairs
    assert rows[0].pairs_capped <= rows[1].pairs_capped <= rows[2].pairs_capped
    assert rows[0].oversize_buckets >= rows[1].oversize_buckets >= rows[2].oversize_buckets
