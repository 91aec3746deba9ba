"""Tests for dedup / similarity / text / multimodal operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
    simhash_near_pairs,
)
from stakehouse_etl_spark.operators.multimodal import (
    attach_payload,
    byte_features,
    fake_decode,
)
from stakehouse_etl_spark.operators.similarity import ann_lsh_pairs, cosine_topk
from stakehouse_etl_spark.operators.text import quality_features


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalization(spark):
    df = docs_df(
        spark,
        [(1, "Hello  World"), (2, "hello world"), (3, "different doc")],
    )
    out = {r["canonical_id"]: r["n_dups"] for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_jaccard_identical_and_disjoint(spark):
    df = docs_df(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),  # identical → jaccard 1.0
            (3, "z y x w v u t s"),  # disjoint
        ],
    )
    out = jaccard_pairs(df, threshold_pct=20).collect()
    assert len(out) == 1
    assert out[0]["id_a"] == 1 and out[0]["id_b"] == 2
    assert out[0]["jaccard"] == 1.0


def test_minhash_lsh_finds_near_dups_vs_exact(spark, sf_dir):
    """LSH candidates must recover the exact-Jaccard pairs at the
    operating threshold (recall check on the real corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, threshold_pct=20).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold_pct=20).collect()
    }
    assert lsh <= exact  # LSH verifies candidates exactly → no false positives
    recall = len(lsh) / len(exact) if exact else 1.0
    assert recall >= 0.9, f"LSH recall too low: {recall} ({len(lsh)}/{len(exact)})"


def test_simhash_near_pairs_close_docs(spark):
    df = docs_df(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again today"),
            (3, "completely unrelated text about spark query engines and shuffles"),
        ],
    )
    sk = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert bin(sk[1] ^ sk[2]).count("1") < bin(sk[1] ^ sk[3]).count("1")
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_pairs(df, max_hamming=6).collect()}
    assert (1, 2) in pairs


def test_quality_features_ranges(spark):
    df = docs_df(spark, [(1, "the cat sat on the mat with it"), (2, "@@ ## !!")])
    out = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert 0.0 <= out[1]["quality_score"] <= 1.0
    assert out[1]["quality_score"] > out[2]["quality_score"]
    assert out[1]["stopword_ratio"] == pytest.approx(4 / 8)  # the×2, with, it


def test_cosine_topk_self_similar(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),  # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(df, query_ids=[0], k=3).collect()
    ranked = [r["cand_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 1 and ranked[-1] == 3


def test_ann_lsh_no_false_positives_and_exact_cosine(spark, sf_dir):
    """Bucketed pairs are a subset of brute-force threshold pairs, with
    identical cosine values (quantized-integer math)."""
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    got = ann_lsh_pairs(emb, min_cosine=0.25).collect()
    for r in got:
        assert r["cos_sim"] >= 0.25
    # every returned pair must agree with a direct computation
    import numpy as np

    vecs = {r["vec_id"]: np.round(np.array(r["embedding"]) * 1000).astype("int64")
            for r in emb.collect()}
    for r in got:
        a, b = vecs[r["id_a"]], vecs[r["id_b"]]
        cos = float(a @ b) / (np.sqrt(float(a @ a)) * np.sqrt(float(b @ b)))
        assert r["cos_sim"] == pytest.approx(cos, abs=1e-12)


def test_multimodal_byte_features_and_frames(spark):
    df = docs_df(spark, [(1, "abcd" * 32), (2, "xy")])
    media = attach_payload(df)
    feats = {r["media_id"]: r for r in byte_features(media).collect()}
    assert feats[1]["n_bytes"] == 128
    assert feats[2]["byte_sum"] == ord("x") + ord("y")
    frames = fake_decode(media, frame_bytes=64).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[1]) == 2  # 128 bytes → two 64-byte frames
    assert len(by_id[2]) == 1


def test_byte_features_empty_and_mixed_payloads(spark):
    # The reduceat offset path must survive empty payloads anywhere in
    # the batch (zero-length segments are excluded from the offsets).
    from pyspark.sql import functions as F

    media = spark.createDataFrame(
        [(1, b""), (2, b"\x05\x01"), (3, b""), (4, b"\xff")],
        "media_id long, payload binary",
    ).repartition(1)
    feats = {r["media_id"]: r for r in byte_features(media).collect()}
    assert (feats[1]["n_bytes"], feats[1]["byte_sum"]) == (0, 0)
    assert (feats[2]["byte_sum"], feats[2]["byte_min"], feats[2]["byte_max"]) == (6, 1, 5)
    assert (feats[3]["n_bytes"], feats[3]["byte_sum"]) == (0, 0)
    assert (feats[4]["byte_min"], feats[4]["byte_max"]) == (255, 255)


def test_url_normalize_kernel(spark):
    from stakehouse_etl_spark.operators.text import url_domain, url_normalize

    cases = [
        # tracking params dropped, rest sorted, fragment dropped,
        # www + default port + case collapse, trailing slash trimmed
        ("HTTPS://WWW.Ex.COM:443/A/b/?utm_source=x&b=2&a=1#f",
         "https://ex.com/A/b?a=1&b=2", "ex.com"),
        ("http://ex.com:80/", "http://ex.com", "ex.com"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p", "ex.com:8080"),
        ("https://sub.ex.com/p?ref=abc&gclid=1", "https://sub.ex.com/p", "sub.ex.com"),
        ("https://ex.com", "https://ex.com", "ex.com"),
        # 'referrer=' must NOT be treated as the 'ref' tracking param
        ("https://ex.com/p?referrer=x", "https://ex.com/p?referrer=x", "ex.com"),
        # ports are default only FOR THEIR scheme — :443 on http is a
        # real distinct resource and must survive canonicalization
        ("http://ex.com:443/p", "http://ex.com:443/p", "ex.com:443"),
        ("https://ex.com:80/p", "https://ex.com:80/p", "ex.com:80"),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], "url string")
    out = df.select(
        "url",
        url_normalize(F.col("url")).alias("norm"),
        url_domain(F.col("url")).alias("dom"),
    ).collect()
    got = {r.url: (r.norm, r.dom) for r in out}
    for u, want_norm, want_dom in cases:
        assert got[u] == (want_norm, want_dom), (u, got[u])


def test_chunk_docs_overlap_and_coverage(spark):
    from stakehouse_etl_spark.operators.text import chunk_docs

    words = " ".join(f"w{i}" for i in range(100))  # 100 tokens
    df = docs_df(spark, [(1, words), (2, "a b"), (3, "")])
    out = chunk_docs(df, chunk_tokens=10, overlap=4)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.token_start, r.n_chunk_tokens, r.chunk_text)
         for r in out.collect())
    )
    d1 = [r for r in rows if r[0] == 1]
    # stride 6: ceil((100-4)/6) = 16 chunks; starts 0,6,12,...,90
    assert len(d1) == 16
    assert [r[2] for r in d1] == list(range(0, 96, 6))
    assert d1[0][4].split() == [f"w{i}" for i in range(10)]
    # consecutive chunks share exactly `overlap` tokens
    assert d1[0][4].split()[-4:] == d1[1][4].split()[:4]
    # final chunk truncated at doc end, every token covered
    assert d1[-1][3] == 10 and d1[-1][4].split()[-1] == "w99"
    covered = set()
    for _, _, start, n, _ in d1:
        covered.update(range(start, start + n))
    assert covered == set(range(100))
    # short doc → one chunk; empty doc → one empty-ish chunk row
    assert [(r[1], r[3]) for r in rows if r[0] == 2] == [(0, 2)]
    assert len([r for r in rows if r[0] == 3]) == 1


def test_winnowing_shared_run_shares_fingerprint(spark):
    from stakehouse_etl_spark.operators.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w+k-1
    df = docs_df(
        spark,
        [
            (1, "left context words " + shared),
            (2, shared + " totally different tail here"),
            (3, "nothing in common with those two documents at all"),
        ],
    )
    fps = {}
    for r in winnow_fingerprints(df, k=3, w=4).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    # The winnowing guarantee: a shared run of >= w+k-1 tokens yields
    # at least one common fingerprint.
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3] and fps[2] & fps[3])
    # short doc (< k tokens) emits nothing
    short = docs_df(spark, [(9, "one two")])
    assert winnow_fingerprints(short).count() == 0
