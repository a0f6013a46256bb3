"""Dedup / similarity / text / multimodal operator tests (BASELINE.json
north-star surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clashroyale_datapipeline_agent_spark.operators import dedup as D
from clashroyale_datapipeline_agent_spark.operators import text as T
from clashroyale_datapipeline_agent_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup of 1
        (4, "completely different words entirely here now friends"),
        (5, "der hund ist nicht auf der couch und das ist gut"),
        (6, ""),  # empty text edge
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = {r["keeper_id"]: r["copies"] for r in D.exact_dedup_groups(docs).collect()}
    assert groups[1] == 2  # docs 1+2 identical
    assert groups[3] == 1
    assert set(groups) == {1, 3, 4, 5, 6}  # doc 2 is never a keeper


def test_shingles_and_minhash(docs):
    sh = docs.select(
        "doc_id", D.shingles_col(F.col("text"), 3).alias("sh")
    ).collect()
    by_id = {r["doc_id"]: list(r["sh"]) for r in sh}
    assert "the quick brown" in by_id[1]
    assert by_id[6] == []
    sig = docs.select(
        "doc_id", D.minhash_signature(D.shingles_col(F.col("text"), 3), 16).alias("sig")
    ).collect()
    sigs = {r["doc_id"]: list(r["sig"]) for r in sig}
    assert sigs[1] == sigs[2]  # identical docs -> identical signatures
    # docs 1/3 share 4 of 10 distinct shingles (J=0.4) -> expect ~40% of
    # minhash components to agree; require at least a few
    same = sum(1 for a, b in zip(sigs[1], sigs[3]) if a == b)
    assert same >= 3


def test_lsh_candidates_and_jaccard(docs):
    # bands=16/r=1: a single shared minhash surfaces the pair, so the
    # 0.4-jaccard near-dup (1,3) collides with probability 1-(0.6)^16
    # under INDEPENDENT hash functions. (The old bands=8/r=2 expectation
    # was calibrated against a closure bug that salted by array index —
    # at r=2 a 0.4 pair is only a ~75% collision and correctly missed.)
    cands = D.lsh_candidate_pairs(docs, num_hashes=16, bands=16)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    verified = D.ngram_jaccard_pairs(docs, cands, threshold=0.35).collect()
    vm = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified}
    assert vm[(1, 2)] == pytest.approx(1.0)
    assert vm[(1, 3)] == pytest.approx(0.4)  # 4 shared / 10 union shingles
    deduped = D.minhash_lsh_dedup(docs, threshold=0.35, num_hashes=16, bands=16)
    kept = {r["doc_id"] for r in deduped.collect()}
    assert 2 not in kept and 3 not in kept and 1 in kept
    # dissimilar docs must NOT be surfaced even at the permissive setting
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash(docs):
    hashed = docs.select(
        F.col("doc_id").alias("id"), D.simhash_md5_col(F.col("text")).alias("h")
    )
    pairs = D.hamming_candidate_pairs(hashed, bits=32, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got[(1, 2)] == 0  # identical
    sh = {r["id"]: r["h"] for r in hashed.collect()}
    assert sh[1] == sh[2]
    assert bin(sh[1] ^ sh[3]).count("1") <= 8  # near dup close in hamming


def test_cosine_topk(spark, sf_dir):
    from clashroyale_datapipeline_agent_spark.plans.text_queries import ann_cosine_topk

    top = ann_cosine_topk(spark, sf_dir).collect()
    assert len(top) == 10 and 0 not in {r["vec_id"] for r in top}
    cosines = [r["cosine"] for r in top]
    assert cosines == sorted(cosines, reverse=True)
    assert all(-1.0001 <= c <= 1.0001 for c in cosines)


def test_fingerprints(docs):
    fp = docs.select(
        "doc_id", T.md5_fingerprint_col(F.col("text")).alias("md5")
    ).collect()
    m = {r["doc_id"]: r for r in fp}
    assert m[1]["md5"] == m[2]["md5"]
    assert m[1]["md5"] != m[3]["md5"]
    import hashlib

    assert m[4]["md5"] == hashlib.md5(
        "completely different words entirely here now friends".encode()
    ).hexdigest()


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, "image", bytearray(b"\x89PNG" + b"x" * 100), {"w": "64", "h": "64"}),
        (2, "audio", bytearray(b"RIFF" + b"y" * 400), {"sr": "16000"}),
        (3, "video", bytearray(b"\x00\x00ftyp" + b"z" * 900), {"n_frames": "95"}),
        (4, "image", None, {}),  # missing payload -> error path
    ]
    from clashroyale_datapipeline_agent_spark.schemas import MEDIA_ASSET

    return spark.createDataFrame(rows, MEDIA_ASSET)


def test_extract_features_shapes_and_errors(assets):
    out = {r["asset_id"]: r for r in extract_features(assets).collect()}
    assert len(out) == 4
    for aid, r in out.items():
        assert len(r["feature"]) == FEATURE_DIM
    assert out[1]["status"] == "ok" and out[1]["n_bytes"] == 104
    assert out[4]["status"].startswith("error:NotImplementedError")
    assert out[4]["n_bytes"] == 0
    # determinism: same payload -> same features
    again = {r["asset_id"]: r for r in extract_features(assets).collect()}
    assert [float(x) for x in again[2]["feature"]] == [float(x) for x in out[2]["feature"]]


def test_ngram_contamination_includes_clean_docs(spark):
    from clashroyale_datapipeline_agent_spark.operators.dedup import (
        ngram_contamination,
    )

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(10, "alpha beta gamma nine"), (11, "zz yy xx ww")],
        "doc_id long, text string",
    )
    rows = {r["eval_id"]: r for r in ngram_contamination(train, ev, n=3).collect()}
    assert rows[10]["n_contaminated_train_docs"] == 1  # shares 'alpha beta gamma'
    assert rows[10]["n_shared_ngrams"] == 1
    assert rows[11]["n_contaminated_train_docs"] == 0  # clean doc still gets a row
    # df cap drops the hot gram entirely
    capped = {
        r["eval_id"]: r
        for r in ngram_contamination(train, ev, n=3, max_train_df=0).collect()
    }
    assert capped[10]["n_shared_ngrams"] == 0


def test_cap_per_group_deterministic(spark):
    import pyspark.sql.functions as F

    from clashroyale_datapipeline_agent_spark.operators.sampling import cap_per_group

    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("lang")
    )
    kept = cap_per_group(df, group_col="lang", cap=40, id_col="doc_id")
    counts = {r["lang"]: r["count"] for r in kept.groupBy("lang").count().collect()}
    assert all(c == 40 for c in counts.values())
    ids = sorted(r["doc_id"] for r in kept.collect())
    again = sorted(
        r["doc_id"]
        for r in cap_per_group(
            df.repartition(7), group_col="lang", cap=40, id_col="doc_id"
        ).collect()
    )
    assert again == ids  # survivor SET is partitioning-independent


def test_chunk_documents_covers_every_token(spark):
    import pyspark.sql.functions as F

    from clashroyale_datapipeline_agent_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(100))),  # 100 toks -> 2 chunks
            (2, " ".join(f"t{i}" for i in range(10))),   # short -> 1 chunk
            (3, ""),                                      # empty -> 1 empty chunk
        ],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=64, overlap=16).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 2 and len(by_doc[2]) == 1 and len(by_doc[3]) == 1
    # chunk 1 of doc 1 starts at stride 48 => its first token is t48 (16
    # tokens of overlap with chunk 0, which ends at t63)
    c1 = next(r for r in by_doc[1] if r["chunk_idx"] == 1)
    toks = c1["chunk_text"].split(" ")
    assert toks[0] == "t48" and toks[-1] == "t99" and len(toks) == 52
    c0 = next(r for r in by_doc[1] if r["chunk_idx"] == 0)
    assert c0["chunk_text"].split(" ")[-1] == "t63"
    # union of chunk tokens covers every token
    covered = set()
    for r in by_doc[1]:
        covered.update(r["chunk_text"].split(" "))
    assert covered == {f"t{i}" for i in range(100)}


def test_scrub_col_order_and_patterns(spark):
    import pyspark.sql.functions as F

    from clashroyale_datapipeline_agent_spark.operators.text import scrub_col

    df = spark.createDataFrame(
        [("call 12345678 or mail bob@example.com now",)], "t string"
    )
    out = df.select(scrub_col(F.col("t")).alias("c")).collect()[0]["c"]
    assert "<NUM>" in out and "<EMAIL>" in out
    assert "12345678" not in out and "bob@example.com" not in out


def _tiny_png(width=4, height=3, shade=200) -> bytes:
    """Minimal valid 8-bit grayscale PNG via stdlib only (no PIL needed to
    GENERATE; PIL is only needed to DECODE)."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # gray, 8-bit
    raw = b"".join(b"\x00" + bytes([shade]) * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_pil_decoder_real_png(spark):
    """Skip-if-unavailable: with Pillow installed, the real decoder seam
    decodes a generated PNG end-to-end through the same mapInPandas
    plumbing the stub uses; corrupt payloads still land in status."""
    pytest.importorskip("PIL")
    from clashroyale_datapipeline_agent_spark.operators.multimodal import (
        pil_image_features,
    )
    from clashroyale_datapipeline_agent_spark.schemas import MEDIA_ASSET

    rows = [
        (1, "image", bytearray(_tiny_png(4, 3, 200)), {}),
        (2, "image", bytearray(b"not a png at all"), {}),
        (3, "image", None, {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_ASSET)
    out = {
        r["asset_id"]: r
        for r in extract_features(df, decoder=pil_image_features).collect()
    }
    good = [float(x) for x in out[1]["feature"]]
    # width, height, bands, mean luma, first/last occupied bin, n bins, bytes
    assert good[:3] == [4.0, 3.0, 1.0]
    assert good[3] == 200.0 and good[4] == 200.0 and good[5] == 200.0
    assert good[6] == 1.0
    assert out[1]["status"] == "ok"
    assert out[2]["status"].startswith("error:")
    assert out[3]["status"].startswith("error:NotImplementedError")


def test_pil_decoder_contract_without_spark():
    """The decoder callable itself honors the stub contract (None ->
    NotImplementedError) — checked driver-side when PIL is present."""
    pytest.importorskip("PIL")
    from clashroyale_datapipeline_agent_spark.operators.multimodal import (
        pil_image_features,
    )

    with pytest.raises(NotImplementedError):
        pil_image_features(None, "image")
    feats = pil_image_features(_tiny_png(5, 2, 17), "image")
    assert feats[:3] == [5.0, 2.0, 1.0] and len(feats) == 8
