"""Round-6 optimization-equivalence tests.

Every r6 rewrite must be output-identical to the formulation it
replaced; these tests pin the non-obvious equivalences (the obvious
ones — minhash signatures, repetition metrics, oracle parity — are
already covered by test_functions / test_curation / the entry
contract).
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as D
from aws_serverless_elt_pipeline_enterprise_spark.functions import similarity as S
from aws_serverless_elt_pipeline_enterprise_spark.functions.parallel import (
    spread_small_input,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _bits(x: float) -> str:
    return struct.pack("<d", x).hex()


# ---------------------------------------------------------------- simhash


def test_simhash_first_match_block_dedup_exact_dups(spark):
    """Exact duplicates share ALL FOUR block hashes — the old .distinct()
    collapsed the four join hits; the first-matching-block filter must
    emit exactly one row per pair too (hamming 0)."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "alpha beta gamma delta"), (4, "totally different words here")],
        ["doc_id", "text"],
    )
    rows = D.simhash_near_dup_pairs(df, max_hamming=3).collect()
    got = sorted((r.a, r.b, r.hamming) for r in rows)
    assert got == [(1, 2, 0), (1, 3, 0), (2, 3, 0)], got


def test_simhash_pairs_match_distinct_reference(spark, docs):
    """The join-free dedup (first matching block) reproduces the
    reference distinct-based candidate set exactly on a real corpus."""
    sh = docs.filter(F.size(D.words("text")) > 0).select(
        "doc_id", D.simhash64("text").alias("sh")
    )
    blocks = sh.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright("sh", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bh"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sh", "b.blk", "b.bh")
    a = blocks.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha"), "blk", "bh")
    b = blocks.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb"), "blk", "bh")
    ref = (
        a.join(b, ["blk", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sha", "shb")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))).cast("int"),
        )
        .filter(F.col("hamming") <= 3)
        .select("a", "b", "hamming")
    )
    got = set(map(tuple, D.simhash_near_dup_pairs(docs, max_hamming=3).collect()))
    want = set(map(tuple, ref.collect()))
    assert got == want


# ------------------------------------------------- quantized numpy verify


def test_quantized_near_dup_matches_jvm_join_bit_exact(spark, emb):
    """The per-bucket numpy Gram verify must reproduce the JVM pair-join
    formulation bit for bit (scores compared on their IEEE-754 bytes)."""
    e = emb.filter(F.col("embedding").isNotNull()).limit(400)
    dim = len(e.select("embedding").first()[0])
    scale = 16384
    sigs = e.select(
        "vec_id",
        "embedding",
        S.quantized_hyperplane_signature("embedding", dim, 4, 42, scale).alias(
            "sig"
        ),
    )
    qd = sigs.select(
        "vec_id", F.expr(S._quantize("embedding", scale)).alias("qv"), "sig"
    ).withColumn("n", S._qnorm(F.col("qv"))).filter(F.col("n") > 0)
    a = qd.select(
        F.col("vec_id").alias("a"), F.col("qv").alias("va"), F.col("n").alias("na"), "sig"
    )
    b = qd.select(
        F.col("vec_id").alias("b"), F.col("qv").alias("vb"), F.col("n").alias("nb"), "sig"
    )
    ref = (
        a.join(b, "sig")
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cos_sim",
            S._qdot(F.col("va"), F.col("vb")).cast("double")
            / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cos_sim") >= 0.2)
        .select("a", "b", "cos_sim")
    )
    got = S.embedding_near_dup_pairs(
        e, threshold=0.2, n_bits=4, seed=42, sig_mode="portable"
    )
    want = sorted((r.a, r.b, _bits(r.cos_sim)) for r in ref.collect())
    have = sorted((r.a, r.b, _bits(r.cos_sim)) for r in got.collect())
    assert have == want
    assert len(have) > 0, "fixture produced no pairs; threshold too high"


def test_quantized_near_dup_drops_null_and_zero_vectors(spark):
    dim = 4
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, None),
        (4, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: cosine undefined -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = S.embedding_near_dup_pairs(
        df, threshold=0.5, n_bits=4, seed=42, sig_mode="portable"
    ).collect()
    assert {(r.a, r.b) for r in got} == {(1, 2)}
    assert all(abs(r.cos_sim - 1.0) < 1e-12 for r in got)


# ------------------------------------------------- single-pass CDF diff


def test_changes_single_pass_matches_state_diff(spark, tmp_path):
    """For a MOR-only span the single-pass two-version resolve must
    report exactly the diff of the two visible states (computed
    independently here via state())."""
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    t = SnapshotTable(
        spark, str(tmp_path / "t"), key_col="k", n_buckets=4, mode="mor"
    )
    rows1 = [("update", str(i), i, float(i)) for i in range(40)]
    rows2 = (
        [("update", str(i), 100 + i, float(i) * 2) for i in range(0, 10)]
        + [("delete", str(i), 100 + i, None) for i in range(10, 15)]
        + [("update", str(i), 100 + i, float(i)) for i in range(40, 50)]
    )
    schema = "op string, k string, seq long, v double"
    t.merge_reduced(spark.createDataFrame(rows1, schema), "e1")
    v1 = t.current_version()
    t.merge_reduced(spark.createDataFrame(rows2, schema), "e2")
    v2 = t.current_version()

    # expected: diff the two resolved VISIBLE row sets directly; the
    # classifier keys updates off the resolved _seq (a same-payload
    # rewrite at a later seq IS an update), so compare (v, _seq)
    def vis(ver):
        return {
            r.k: (r.v, r._seq)
            for r in t.read(version=ver)
            .filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
            .collect()
        }

    s1, s2 = vis(v1), vis(v2)
    want = {}
    for k in set(s1) | set(s2):
        if k not in s1:
            want[k] = "insert"
        elif k not in s2:
            want[k] = "delete"
        elif s1[k][1] != s2[k][1]:
            want[k] = "update"
    got = {
        r.k: r._change_type
        for r in t.changes(v1, v2).select("k", "_change_type").collect()
    }
    assert got == want
    # and the plan actually took the single-pass branch: a MOR-only,
    # schema-stable span must not plan the two-resolve full-outer join
    plan = t.changes(v1, v2)._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" not in plan, "single-pass gate did not fire"


def test_changes_falls_back_after_compaction(spark, tmp_path):
    """Compaction rewrites bucket commit lists -> the single-pass gate
    must NOT fire across that span, and the fallback still reports the
    correct diff."""
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    t = SnapshotTable(
        spark, str(tmp_path / "t2"), key_col="k", n_buckets=4, mode="mor"
    )
    schema = "op string, k string, seq long, v double"
    t.merge_reduced(
        spark.createDataFrame([("update", str(i), i, 1.0) for i in range(20)], schema),
        "e1",
    )
    v1 = t.current_version()
    t.compact()
    t.merge_reduced(
        spark.createDataFrame([("update", "5", 100, 9.0)], schema), "e2"
    )
    v2 = t.current_version()
    got = {
        (r.k, r._change_type)
        for r in t.changes(v1, v2).select("k", "_change_type").collect()
    }
    assert got == {("5", "update")}


# ------------------------------------------------------- spread guard


def test_spread_small_input_is_conditional(spark):
    df = spark.range(0, 10000).withColumnRenamed("id", "k")
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # in-memory range: input size unknown -> spreads on partition count
    out = spread_small_input(df, "k")
    if df.rdd.getNumPartitions() < target:
        assert out.rdd.getNumPartitions() == target
    # already-parallel input: no-op (returns the same frame, no exchange)
    wide = df.repartition(target + 8, "k")
    assert spread_small_input(wide, "k") is wide


def test_spread_small_input_respects_min_bytes(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the sf0.001 corpus is far below the floor: must be returned as-is
    assert spread_small_input(d, "doc_id", min_bytes=1 << 30) is d


def test_spread_small_input_non_file_frame_spreads_on_partition_count(spark, monkeypatch):
    """A source that is not a file scan has no input size: a one-partition
    in-memory frame far below the byte floor still spreads, and the probe
    reads the plan only (no filesystem call)."""
    import os

    def no_fs(path):
        raise AssertionError(f"filesystem size probe: {path}")

    monkeypatch.setattr(os.path, "getsize", no_fs)
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for df in (
        spark.range(0, 100, 1, 1),
        spark.createDataFrame([(i,) for i in range(100)], "id long").coalesce(1),
    ):
        out = spread_small_input(df, "id", min_bytes=1 << 30)
        assert out.rdd.getNumPartitions() == target
