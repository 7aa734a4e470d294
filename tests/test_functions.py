"""Function-library tests: dedup family recall, similarity, tokens,
multimodal plumbing — the non-SQL-expressible operators get their
correctness story here instead of in oracle_sql()."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.functions import (
    dedupe as dd,
    multimodal as mm,
    similarity as sim,
    text as tx,
    tokens as tk,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_minhash_lsh_recall_vs_exact_jaccard(spark, docs):
    """Every high-Jaccard pair must be an LSH candidate (recall at the
    banding threshold); estimates must correlate with exact values."""
    exact = {
        (r.a, r.b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    cand = {(r.a, r.b) for r in dd.minhash_lsh_candidates(docs, k=32, bands=8).collect()}
    missed = [p for p in exact if p not in cand]
    # with 8 bands x 4 rows, P(candidate | J=0.7) = 1-(1-0.7^4)^8 ~ 0.90;
    # J>=0.85 pairs are ~99.9% caught. Allow a small miss rate overall.
    assert len(missed) <= max(1, len(exact) // 10), (
        f"LSH missed {len(missed)}/{len(exact)} high-jaccard pairs"
    )
    strong = {p for p, j in exact.items() if j >= 0.9}
    assert strong <= cand, "J>=0.9 pairs must all be candidates"


def test_minhash_estimate_tracks_exact(spark, docs):
    cand = dd.minhash_lsh_candidates(docs, k=32, bands=8)
    est = {
        (r.a, r.b): r.jaccard_est
        for r in dd.minhash_jaccard_estimate(docs, cand, k=32).collect()
    }
    exact = {
        (r.a, r.b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    both = [(est[p], exact[p]) for p in exact if p in est]
    assert both, "need common pairs to compare"
    err = sum(abs(e - x) for e, x in both) / len(both)
    assert err < 0.25, f"mean |estimate - exact| too high: {err}"


def test_simhash_deterministic_and_self_similar(spark, docs):
    a = docs.select("doc_id", dd.simhash64("text").alias("sh")).collect()
    b = docs.select("doc_id", dd.simhash64("text").alias("sh")).collect()
    assert a == b
    # identical texts share identical simhash: duplicate a row
    two = docs.limit(1).union(docs.limit(1))
    shs = [r.sh for r in two.select(dd.simhash64("text").alias("sh")).collect()]
    assert shs[0] == shs[1]


def test_lsh_topk_finds_planted_near_dups(spark, emb, tmp_path):
    """Random synthetic embeddings are near-orthogonal, so recall is only
    meaningful on PLANTED near-duplicates: inject perturbed copies of the
    query and require the LSH probe to surface them."""
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    planted = [
        (100000 + i, [float(x) * (1.0 + 0.002 * i) + (0.001 * i) for x in qv], 0)
        for i in range(1, 4)
    ]
    rest = emb.filter(F.col("vec_id") != 0).union(
        spark.createDataFrame(planted, emb.schema)
    )
    idx = str(tmp_path / "lsh")
    sim.build_lsh_index(rest, idx, n_bits=12)
    approx = sim.lsh_index_topk(spark, idx, qv, k=5, probe_hamming=3).collect()
    approx_ids = {r.vec_id for r in approx}
    assert {100001, 100002, 100003} <= approx_ids, (
        f"planted near-dups not found: {approx_ids}"
    )
    scores = [r.cos_sim for r in approx]
    assert scores == sorted(scores, reverse=True)


def test_batch_topk_matches_brute_force(spark, emb):
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    rest = emb.filter(F.col("vec_id") != 0)
    brute = [r.vec_id for r in sim.brute_force_topk(rest, qv, k=5).collect()]
    batch = sim.batch_topk_pandas(rest, [qv], k=5)
    got = [r.vec_id for r in batch.orderBy(F.desc("cos_sim")).collect()]
    assert got == brute


def test_embedding_near_dup_pairs_runs(spark, emb):
    pairs = sim.embedding_near_dup_pairs(emb.limit(200), threshold=0.9, n_bits=8)
    rows = pairs.collect()
    for r in rows:
        assert r.a < r.b and r.cos_sim >= 0.9


def test_pack_sequences_invariants(spark, docs):
    toks = docs.select(
        "doc_id",
        F.transform(
            tx.words("text"), lambda w: F.pmod(F.xxhash64(w), F.lit(50257)).cast("int")
        ).alias("tokens"),
    )
    packs = tk.pack_sequences(toks, max_len=128, key="doc_id").collect()
    assert packs, "packing must produce rows"
    total_in = toks.select(F.sum(F.size("tokens"))).collect()[0][0]
    total_out = sum(p.n_tok for p in packs)
    assert total_out == total_in, "packing must conserve tokens"
    assert all(p.n_tok <= 128 or p.n_docs == 1 for p in packs)
    # deterministic
    packs2 = tk.pack_sequences(toks, max_len=128, key="doc_id").collect()
    assert sorted((p.pack_bucket, p.pack_id, tuple(p.tokens)) for p in packs) == sorted(
        (p.pack_bucket, p.pack_id, tuple(p.tokens)) for p in packs2
    )


def test_tokens_rolling_hash_vectorized(spark):
    df = spark.createDataFrame(
        [([1, 2, 3],), ([1, 2, 3],), ([3, 2, 1],), (None,)], ["tokens"]
    )
    rows = df.select(tk.tokens_rolling_hash("tokens").alias("h")).collect()
    assert rows[0].h == rows[1].h
    assert rows[0].h != rows[2].h
    assert rows[3].h == 0
    # cross-check against plain python
    from aws_serverless_elt_pipeline_enterprise_spark.functions.tokens import (
        ROLLING_HASH_M as M,
        ROLLING_HASH_P as P,
    )

    want = 0
    for t in [1, 2, 3]:
        want = (want * P + t + 1) % M
    assert rows[0].h == want


def test_tokens_dedupe_consecutive(spark):
    df = spark.createDataFrame([([1, 1, 2, 2, 2, 3, 1],)], ["tokens"])
    out = df.select(tk.tokens_dedupe_consecutive("tokens").alias("t")).collect()[0].t
    assert list(out) == [1, 2, 3, 1]


def test_multimodal_pipeline_checksums(spark, docs):
    media = mm.attach_binary_from_text(docs.limit(50))
    feats = mm.extract_features(media, fake=True, dim=8).collect()
    src = {r.doc_id: r.text for r in docs.limit(50).collect()}
    for f in feats:
        doc_id = int(f.media_id[2:])
        raw = src[doc_id].encode("utf-8")
        assert f.n_bytes == len(raw)
        assert f.checksum == hashlib.sha256(raw).hexdigest()
        assert len(f.features) == 8


def test_multimodal_real_decode_is_stubbed(spark, docs):
    media = mm.attach_binary_from_text(docs.limit(5))
    with pytest.raises(Exception) as exc_info:
        mm.extract_features(media, fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [("m1", "video", None, ("video/mp4", 10, None, None, 3000))],
        mm.MEDIA_SCHEMA,
    )
    plan = mm.frame_sample_plan(df, every_ms=1000).collect()[0]
    assert plan.frame_ts_ms == [0, 1000, 2000, 3000]


def test_token_array_hash_equality_invariant(spark):
    df = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", [1, 2, 3]), ("c", [1, 2])],
        ["doc_id", "tokens"],
    )
    h = df.select("doc_id", tk.token_array_hash("tokens").alias("h")).collect()
    hs = {r.doc_id: r.h for r in h}
    assert hs["a"] == hs["b"] != hs["c"]


def test_chunk_sequences_semantics(spark):
    df = spark.createDataFrame(
        [("a", list(range(10))), ("b", [7]), ("c", []), ("d", None)],
        "doc_id string, tokens array<int>",
    )
    # disjoint cover (default stride = max_len)
    rows = {
        (r.doc_id, r.chunk_id): (list(r.tokens), r.n_tok)
        for r in tk.chunk_sequences(df, max_len=4).collect()
    }
    assert rows == {
        ("a", 0): ([0, 1, 2, 3], 4),
        ("a", 1): ([4, 5, 6, 7], 4),
        ("a", 2): ([8, 9], 2),
        ("b", 0): ([7], 1),
    }  # empty/null docs dropped; disjoint chunks conserve tokens
    # sliding window: stride < max_len overlaps, every window starts at
    # chunk_id*stride and the full array is covered
    s = tk.chunk_sequences(df, max_len=4, stride=2).collect()
    a = sorted((r.chunk_id, tuple(r.tokens)) for r in s if r.doc_id == "a")
    assert a == [
        (0, (0, 1, 2, 3)),
        (1, (2, 3, 4, 5)),
        (2, (4, 5, 6, 7)),
        (3, (6, 7, 8, 9)),
        (4, (8, 9)),
    ]
    # map-only: no exchange anywhere in the plan
    plan = tk.chunk_sequences(df, max_len=4)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        tk.chunk_sequences(df, max_len=0)
