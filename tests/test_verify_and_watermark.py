"""T4 replay-then-verify fingerprints + watermark state-eviction safety."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.quality.verify import (
    state_fingerprint,
    states_equal,
)
from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
    list_batches,
)
from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
    apply_epoch,
    run_replay,
    run_replay_streaming,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable

SPEC = ChangelogSpec(n_events=8_000, n_keys=600, n_batches=6, seed=31)


def test_fingerprint_detects_any_divergence(spark, tmp_path):
    import os

    log = str(tmp_path / "log")
    generate_changelog(spark, log, SPEC)
    a = SnapshotTable(spark, str(tmp_path / "a"), n_buckets=8, mode="mor")
    run_replay(spark, log, a)
    # scrambled order replay, folded into bucketed base files ->
    # identical fingerprint
    b = SnapshotTable(spark, str(tmp_path / "b"), n_buckets=8)
    for p in list_batches(log)[::-1]:
        apply_epoch(b, spark.read.parquet(p), os.path.basename(p))
    b.compact()
    assert states_equal(a.state(), b.state())
    # a single-token mutation flips it
    mutated = a.state().withColumn(
        "tokens",
        F.when(
            F.col("doc_id") == a.state().select("doc_id").first()[0],
            F.concat(F.col("tokens"), F.array(F.lit(1))),
        ).otherwise(F.col("tokens")),
    )
    assert not states_equal(a.state(), mutated)
    fp = state_fingerprint(a.state())
    assert fp["rows"] > 0 and fp["hash_sum"] is not None


def test_watermark_eviction_is_safe(spark, tmp_path):
    """With a tiny dedup-state TTL, duplicate envelopes arriving after
    state eviction pass the streaming dedup — and the seq-guarded merge
    still makes them no-ops: final state equals the batch oracle
    (SURVEY §7.4: cross-horizon dedup is delegated to MERGE semantics)."""
    log = str(tmp_path / "log")
    # late_rate high -> duplicates spread across distant batches
    spec = ChangelogSpec(
        n_events=8_000, n_keys=600, n_batches=6, seed=33, dup_rate=0.15, late_rate=0.3
    )
    generate_changelog(spark, log, spec)
    t_stream = SnapshotTable(spark, str(tmp_path / "s"), n_buckets=8, mode="mor")
    run_replay_streaming(
        spark,
        log,
        t_stream,
        checkpoint_dir=str(tmp_path / "ck"),
        watermark_ttl="1 second",  # evicts essentially all dedup state
    )
    t_batch = SnapshotTable(spark, str(tmp_path / "b"), n_buckets=8, mode="mor")
    run_replay(spark, log, t_batch)
    assert states_equal(t_stream.state(), t_batch.state())
