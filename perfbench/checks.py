"""Correctness checks. Each compares the engine's output with an
independent computation over the generated inputs, never with numbers
recorded from an earlier run of the same code.

A check returns ``None`` when it passes and a one-line reason otherwise.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inputs import VALID_OPS


def fingerprint(df: DataFrame) -> tuple[int, str]:
    """(rows, sum of per-row hashes) over (doc_id, token content). Written
    here rather than taken from the package so the check shares no code
    with the engine it checks."""
    h = F.xxhash64(F.col("doc_id"), F.array_join(F.col("tokens").cast("array<string>"), ","))
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")
    ).first()
    return int(row["n"]), str(row["h"])


def lww_state(spark, paths: list[str]) -> DataFrame:
    """Plain last-writer-wins over the raw log: per doc_id the envelope
    with the highest seq; keys whose winner is a delete are absent;
    malformed envelopes (unknown op, null key, live op without payload)
    never count."""
    by_parent: dict[str, list[str]] = {}
    for p in paths:
        by_parent.setdefault(os.path.dirname(p), []).append(p)
    # one read per schema variant (the log's parts), not one per batch
    frames = [
        spark.read.parquet(*ps).select("op", "doc_id", "seq", "tokens") for ps in by_parent.values()
    ]
    log = frames[0]
    for f in frames[1:]:
        log = log.unionByName(f)
    valid = (
        F.col("op").isin(*VALID_OPS)
        & F.col("doc_id").isNotNull()
        & (F.col("seq") >= 0)
        & ((F.col("op") == "delete") | F.col("tokens").isNotNull())
    )
    win = (
        log.filter(valid)
        .groupBy("doc_id")
        .agg(F.max_by(F.struct("op", "tokens"), "seq").alias("w"))
    )
    return win.filter(F.col("w.op") != "delete").select("doc_id", F.col("w.tokens").alias("tokens"))


def same_state(label: str, got: DataFrame, want: DataFrame) -> str | None:
    g, w = fingerprint(got), fingerprint(want)
    return None if g == w else f"{label}: state {g} != independent LWW {w}"


def ntok_repaired(state: DataFrame) -> str | None:
    bad = state.filter(F.col("n_tok") != F.size("tokens")).count()
    return None if bad == 0 else f"{bad} rows keep a corrupt n_tok"


def equal(label: str, got, want) -> str | None:
    return None if got == want else f"{label}: got {got}, want {want}"


# ---------------------------------------------------------------- curate

ROLLING_M = (1 << 31) - 1
ROLLING_P = 1_000_003


def rolling_hash_ref(tokens) -> int:
    """Python-integer polynomial hash, h = sum((t_j + 1) * P^(n-1-j)) mod M."""
    h = 0
    for t in tokens:
        h = (h * ROLLING_P + int(t) + 1) % ROLLING_M
    return h


def rolling_hashes(sample: list) -> str | None:
    """``sample`` rows carry ``tokens`` and the engine's hash ``h``."""
    bad = [r for r in sample if rolling_hash_ref(np.asarray(r["tokens"])) != r["h"]]
    return None if not bad else f"rolling hash differs on {len(bad)}/{len(sample)} rows"


def packing(packed: DataFrame, source: DataFrame, max_len: int) -> str | None:
    got = packed.agg(
        F.sum("n_tok").alias("tok"),
        F.max("n_tok").alias("longest"),
        F.count_if(F.size("tokens") != F.col("n_tok")).alias("miscounted"),
    ).first()
    want = source.agg(F.sum(F.least(F.size("tokens"), F.lit(max_len))).alias("tok")).first()
    if got["tok"] != want["tok"]:
        return f"packing moved tokens: {got['tok']} packed vs {want['tok']} in"
    if got["longest"] > max_len or got["miscounted"]:
        return f"pack longer than {max_len} ({got['longest']}) or miscounted ({got['miscounted']})"
    return None


def cosine_pairs(pairs: DataFrame, vecs: DataFrame, threshold: float) -> str | None:
    """Recompute every pair's cosine in the JVM from the raw vectors."""
    a = vecs.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = vecs.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")), F.lit(0.0), lambda s, x: s + x
    )
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda s, x: s + x.cast("double") * x.cast("double")))  # noqa: E731
    row = (
        pairs.join(a, "a").join(b, "b")
        .withColumn("cos", dot / (norm(F.col("va")) * norm(F.col("vb"))))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("cos") < threshold - 1e-6).alias("below"),
            F.count_if(F.abs(F.col("cos") - F.col("cos_sim")) > 1e-6).alias("wrong"),
        )
        .first()
    )
    if row["n"] == 0:
        return "no embedding near-dup pairs found"
    if row["below"] or row["wrong"]:
        return f"embedding pairs: {row['below']} below threshold, {row['wrong']} mis-scored of {row['n']}"
    return None


def hamming_pairs(pairs: DataFrame, docs: DataFrame, max_hamming: int) -> str | None:
    """Recompute each pair's 63-bit SimHash distance in the JVM from the
    distinct words of both texts (xxhash64 word hashes, majority vote per
    bit)."""
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.trim("text"), "[ \t\n\r]+"))).alias("w")
    ).filter(F.col("w") != "")
    bits = words.select(
        "doc_id",
        F.posexplode(F.array([F.shiftright(F.xxhash64("w"), i).bitwiseAND(1) for i in range(63)])).alias(
            "bit", "v"
        ),
    )
    sig = (
        bits.groupBy("doc_id", "bit")
        .agg((F.sum(F.col("v") * 2 - 1) > 0).cast("long").alias("on"))
        .groupBy("doc_id")
        .agg(F.sum(F.expr("shiftleft(on, bit)")).alias("sh"))
    )
    sa = sig.select(F.col("doc_id").alias("a"), F.col("sh").alias("sa"))
    sb = sig.select(F.col("doc_id").alias("b"), F.col("sh").alias("sb"))
    row = (
        pairs.join(sa, "a").join(sb, "b")
        .withColumn("d", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("d") > max_hamming).alias("far"),
            F.count_if(F.col("d") != F.col("hamming")).alias("wrong"),
        )
        .first()
    )
    if row["n"] == 0:
        return "no simhash near-dup pairs found"
    if row["far"] or row["wrong"]:
        return f"simhash pairs: {row['far']} beyond {max_hamming} bits, {row['wrong']} mis-scored of {row['n']}"
    return None


def planted_recall(pairs: DataFrame, planted: list, floor: float) -> str | None:
    found = {(int(r["a"]), int(r["b"])) for r in pairs.select("a", "b").collect()}
    hit = sum(1 for a, b in planted if (min(a, b), max(a, b)) in found)
    share = hit / len(planted) if planted else 1.0
    return None if share >= floor else f"minhash found {hit}/{len(planted)} planted near-dup pairs"


def clusters(labels: DataFrame, pairs: DataFrame) -> str | None:
    """Both ends of every pair share a label, and a label is the smallest
    id of its component, so it never exceeds the id it labels."""
    la = labels.select(F.col("doc_id").alias("a"), F.col("cluster").alias("ca"))
    lb = labels.select(F.col("doc_id").alias("b"), F.col("cluster").alias("cb"))
    split = pairs.join(la, "a").join(lb, "b").filter(F.col("ca") != F.col("cb")).count()
    above = labels.filter(F.col("cluster") > F.col("doc_id")).count()
    return None if split == 0 and above == 0 else f"dup_clusters: {split} split pairs, {above} labels above id"


def topk(got: list, vecs: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int) -> str | None:
    """Brute-force numpy top-k with the same (desc cosine, asc id) order."""
    m = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = m @ q.T
    for qi in range(len(queries)):
        order = sorted(range(len(ids)), key=lambda j: (-sims[j, qi], ids[j]))[:k]
        want = [int(ids[j]) for j in order]
        have = [int(r["vec_id"]) for r in sorted(got, key=lambda r: (-r["cos_sim"], r["vec_id"])) if r["query_id"] == qi]
        if have != want:
            return f"top-{k} of query {qi}: {have[:3]}... != {want[:3]}..."
    return None


def media(meta: DataFrame, feats: DataFrame, media_df: DataFrame, n: int) -> str | None:
    decoded = meta.filter(F.col("mime").isNotNull()).count()
    sums = media_df.select("media_id", F.sha2("payload", 256).alias("want"))
    wrong = feats.join(sums, "media_id").filter(F.col("checksum") != F.col("want")).count()
    featured = feats.filter(F.col("feat_dim") > 0).count()
    if decoded != n or featured != n or wrong:
        return f"media: {decoded}/{n} decoded, {featured}/{n} featured, {wrong} bad checksums"
    return None
