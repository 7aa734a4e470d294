"""Seeded input generation. The same (seed, size) always gives the same
inputs; the engine only ever sees what is generated here.

* change logs come from the package's own ``ChangelogSpec`` generator with
  every anomaly the engine must survive (duplicates, late arrivals, hot
  keys, deletes, corrupt ``n_tok``, malformed envelopes, schema evolution);
* the curation corpora (token sequences, text documents with planted near
  duplicates, embeddings with planted near duplicates) are written once as
  plain parquet, so the snapshot layer stays idle while they are read.

Each generator writes ``meta.json`` next to its data with the counts the
workloads and checks need.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
    ChangelogSpec,
    changelog_df,
)

VALID_OPS = ("insert", "update", "delete")


def write_meta(path: str, meta: dict) -> None:
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def cdc_spec(seed: int, batch_events: int, n_batches: int, evolve_at: int) -> ChangelogSpec:
    """Every anomaly the engine must survive: 5% duplicates, 10% late
    arrivals, 20% of events on 4 hot keys, 5% deletes, corrupt ``n_tok``
    values (repaired on apply), malformed envelopes (quarantined) and an
    additive schema change with an int widening at ``evolve_at``."""
    return ChangelogSpec(
        n_events=batch_events * n_batches,
        n_keys=max(100, batch_events * n_batches // 8),
        n_batches=n_batches,
        seed=seed,
        dup_rate=0.05,
        late_rate=0.10,
        hot_rate=0.20,
        n_hot=4,
        delete_rate=0.05,
        corrupt_ntok_rate=0.002,
        malformed_rate=0.001,
        evolve_at_batch=evolve_at,
    )


def cdc_log(spark, path: str, spec: ChangelogSpec) -> None:
    """The log as ``log/<part>/batch_id=<n>`` parquet dirs, one per arrival
    batch: part ``a`` holds the batches before the schema change, written
    with the narrow schema (``n_tok`` int32, no ``quality_score``), part
    ``b`` the rest. Two write jobs instead of one per batch."""
    from pyspark.sql import functions as F

    df = changelog_df(spark, spec).cache()
    log = os.path.join(path, "log")
    pre = df.filter(F.col("batch_id") < spec.evolve_at_batch).drop("quality_score")
    pre = pre.withColumn("n_tok", F.col("n_tok").cast("int"))
    post = df.filter(F.col("batch_id") >= spec.evolve_at_batch)
    for part, frame in (("a", pre), ("b", post)):
        frame.repartition("batch_id").write.partitionBy("batch_id").parquet(os.path.join(log, part))
    rows = (
        df.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(~F.col("op").isin(*VALID_OPS)).alias("bad"),
        )
        .collect()
    )
    df.unpersist()
    counts = {r["batch_id"]: (r["n"], r["bad"]) for r in rows}
    write_meta(
        path,
        {
            "spec": spec.__dict__,
            "batch_events": [counts.get(b, (0, 0))[0] for b in range(spec.n_batches)],
            "batch_malformed": [counts.get(b, (0, 0))[1] for b in range(spec.n_batches)],
        },
    )


def batch_dir(path: str, spec: dict, b: int) -> str:
    part = "a" if b < spec["evolve_at_batch"] else "b"
    return os.path.join(path, "log", part, f"batch_id={b}")


# ---------------------------------------------------------------- curate

_WORDS = (
    "the a data spark stream batch table row column key value query join "
    "group sort hash scan filter merge window order part line customer "
    "vector agg fast slow big small lake file commit epoch token model "
    "train shard index cache log delta snapshot view"
).split()


def _near_dup_words(words: list[str], rng: np.random.Generator) -> list[str]:
    out = list(words)
    for _ in range(max(1, len(out) // 25)):
        out[int(rng.integers(len(out)))] = _WORDS[int(rng.integers(len(_WORDS)))]
    return out


def documents(path: str, seed: int, n_docs: int, dup_share: float = 0.05) -> list[tuple[int, int]]:
    """Text documents; ``dup_share`` of them are near copies (one word in
    25 replaced) of an earlier document. Returns the planted pairs."""
    rng = np.random.default_rng([seed, 1])
    texts, planted = [], []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            src = int(rng.integers(i))
            texts.append(" ".join(_near_dup_words(texts[src].split(), rng)))
            planted.append((src, i))
        else:
            n = int(rng.integers(30, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(len(_WORDS), size=n)))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "source": pa.array([f"src{i % 8}" for i in range(n_docs)]),
        }
    )
    pq.write_table(table, os.path.join(path, "documents.parquet"), row_group_size=max(1, n_docs // 4))
    return planted


def embeddings(path: str, seed: int, n_vec: int, dim: int, dup_share: float = 0.05) -> None:
    """Gaussian vectors; ``dup_share`` of them are an earlier vector plus
    small noise (cosine > 0.99)."""
    rng = np.random.default_rng([seed, 2])
    m = rng.standard_normal((n_vec, dim)).astype(np.float32)
    for i in range(10, n_vec):
        if rng.random() < dup_share:
            src = int(rng.integers(i))
            m[i] = m[src] + 0.01 * rng.standard_normal(dim).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, os.path.join(path, "embeddings.parquet"), row_group_size=max(1, n_vec // 4))


def token_corpus(spark, path: str, seed: int, n_docs: int) -> int:
    """Token sequences from the change-log generator: the live (insert or
    update) envelopes of one log, as (doc_id, tokens)."""
    from pyspark.sql import functions as F

    spec = ChangelogSpec(n_events=n_docs, n_keys=n_docs * 4, n_batches=1, seed=seed)
    df = (
        changelog_df(spark, spec)
        .filter(F.col("op").isin("insert", "update"))
        .dropDuplicates(["doc_id"])
        .select("doc_id", "tokens")
    )
    out = os.path.join(path, "tokens")
    df.repartition(4).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def curate(spark, path: str, seed: int, n_tok_docs: int, n_docs: int, n_vec: int, dim: int) -> None:
    n_tok = token_corpus(spark, path, seed, n_tok_docs)
    planted = documents(path, seed, n_docs)
    embeddings(path, seed, n_vec, dim)
    write_meta(
        path,
        {"token_docs": n_tok, "text_docs": n_docs, "vectors": n_vec, "planted_doc_pairs": planted},
    )
