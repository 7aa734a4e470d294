"""Ops-workflow operators: DQ gate abort (T5), windowed replay (T1/T2),
quarantine redrive (T3), lineage/metrics surface (A3/P6), and the served
tail epoch's filesystem footprint."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_serverless_elt_pipeline_enterprise_spark.operators.incremental_agg import (
    MaterializedAggregate,
)
from aws_serverless_elt_pipeline_enterprise_spark.operators.secondary_index import (
    SecondaryIndex,
)
from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
)
from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
    apply_epoch,
    redrive_quarantine,
    refresh_views,
    run_replay,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable

ENVELOPE = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)


def test_dq_gate_aborts_commit_transactionally(spark, tmp_path):
    """A batch with corrupt n_tok fails the strict gate AND leaves the
    table untouched: no manifest, no committed epoch (the write happened
    but is an unreferenced orphan)."""
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    bad = spark.createDataFrame(
        [("insert", "a", 1, [1, 2, 3], 99, "web")], ENVELOPE  # n_tok wrong
    )
    with pytest.raises(ValueError, match="DQ gate failed"):
        apply_epoch(table, bad, "e1", dq_fail_on_corrupt=True)
    assert table.manifest() is None
    assert not table.has_epoch("e1")
    # default mode repairs instead: commit succeeds with n_tok fixed
    apply_epoch(table, bad, "e1", dq_fail_on_corrupt=False)
    row = table.state().collect()[0]
    assert row.n_tok == 3


def test_served_tail_epoch_renames_nothing_onto_an_existing_file(
    spark, tmp_path, monkeypatch
):
    """A served tail epoch (apply_epoch -> refresh_views -> maybe_compact
    -> expire_snapshots) commits by exclusive manifest links only: no
    ``os.replace``/``os.rename`` lands on an existing file (on ext4 such
    a rename flushes the new file's data and costs tens of ms)."""
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    qdir = str(tmp_path / "q")

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE)

    apply_epoch(table, batch([("insert", "a", 1, [1], 1, "web")]), "e0", qdir)
    agg = MaterializedAggregate(
        spark, table, str(tmp_path / "agg"), ["source"], sums={"n": "n_tok"}
    )
    idx = SecondaryIndex(spark, table, str(tmp_path / "idx"), "source", n_buckets=4)
    refresh_views([agg, idx])  # bootstrap both views
    apply_epoch(table, batch([("insert", "b", 2, [1, 2], 2, "api")]), "e1", qdir)
    refresh_views([agg, idx])

    calls, onto_existing = [], []
    for name in ("replace", "rename"):
        real = getattr(os, name)

        def spy(src, dst, *a, _real=real, _name=name, **kw):
            calls.append((_name, str(dst)))
            if os.path.exists(dst):
                onto_existing.append((_name, str(dst)))
            return _real(src, dst, *a, **kw)

        monkeypatch.setattr(os, name, spy)
    tail = batch(
        [
            ("update", "a", 3, [3, 3, 3], 3, "api"),
            ("frobnicate", "c", 4, [4], 1, "web"),  # quarantined
        ]
    )
    assert apply_epoch(table, tail, "e2", qdir) is not None
    refresh_views([agg, idx])
    assert table.maybe_compact(max_deltas=2) is not None  # compaction ran
    table.expire_snapshots(keep_last=2)
    monkeypatch.undo()

    assert calls, "the spy saw no rename at all (quarantine publish expected)"
    assert onto_existing == []
    v = table.current_version()
    assert agg.cdf_bookmark() == idx.cdf_bookmark() == v - 1  # compaction is v
    assert {(r["source"], r["cnt"], r["n"]) for r in agg.result().collect()} == {
        ("api", 2, 5)
    }
    assert {r["doc_id"] for r in idx.lookup(["api"]).collect()} == {"a", "b"}


def test_replay_range_fills_gaps(spark, tmp_path):
    spec = ChangelogSpec(n_events=5_000, n_keys=400, n_batches=5, seed=3)
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8, mode="mor")
    # apply only a middle window first
    r1 = run_replay(spark, log, table, start_batch=2, end_batch=3)
    assert len(r1.epochs_applied) == 2
    # full-range replay fills the gaps, skips the applied window
    r2 = run_replay(spark, log, table)
    assert len(r2.epochs_applied) == 3 and len(r2.epochs_skipped) == 2
    # equivalent to a straight full replay
    table2 = SnapshotTable(spark, str(tmp_path / "t2"), n_buckets=8, mode="mor")
    run_replay(spark, log, table2)
    a = [tuple(r) for r in table.state().orderBy("doc_id").collect()]
    b = [tuple(r) for r in table2.state().orderBy("doc_id").collect()]
    assert a == b


def test_quarantine_redrive(spark, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    qdir = str(tmp_path / "q")
    batch = spark.createDataFrame(
        [
            ("insert", "good", 1, [1], 1, "web"),
            ("frobnicate", "fixable", 2, [2, 2], 2, "web"),  # bad op
        ],
        ENVELOPE,
    )
    apply_epoch(table, batch, "e1", quarantine_dir=qdir)
    assert {r.doc_id for r in table.state().collect()} == {"good"}

    # redrive with a fix that maps unknown ops to insert
    def fix(df):
        return df.withColumn(
            "op",
            F.when(F.col("op").isin("insert", "update", "delete"), F.col("op"))
            .otherwise(F.lit("insert")),
        )

    lineage = redrive_quarantine(spark, qdir, table, fix=fix)
    assert lineage is not None
    assert {r.doc_id for r in table.state().collect()} == {"good", "fixable"}


def test_lineage_metrics_surface(spark, tmp_path):
    spec = ChangelogSpec(n_events=4_000, n_keys=300, n_batches=4, seed=5)
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8, mode="mor")
    run_replay(spark, log, table)
    lin = table.lineage()
    assert len(lin) == 4
    assert [x["epoch_id"] for x in lin] == [f"batch_{i:05d}" for i in range(4)]
    assert all(x["rows_in_batch"] > 0 for x in lin)
    assert all("delta_dir" in x for x in lin)
    # metrics rows queryable as a DataFrame (A3: per-epoch counters)
    mdf = spark.createDataFrame(lin)
    total = mdf.agg(F.sum("rows_in_batch")).collect()[0][0]
    assert total == spec.n_events


def test_auto_compaction_policy(spark, tmp_path):
    spec = ChangelogSpec(n_events=3_000, n_keys=200, n_batches=6, seed=9)
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8, mode="mor")
    run_replay(spark, log, table, compact_every=3)
    m = table.manifest()
    # the chain was folded along the way: never more than 3 pending deltas
    assert len(m["global_deltas"]) < 3
    # and the state still matches a clean full replay
    t2 = SnapshotTable(spark, str(tmp_path / "t2"), n_buckets=8, mode="mor")
    run_replay(spark, log, t2)
    a = [tuple(r) for r in table.state().orderBy("doc_id").collect()]
    b = [tuple(r) for r in t2.state().orderBy("doc_id").collect()]
    assert a == b


def test_streaming_lineage_listener(spark, tmp_path):
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.metrics import (
        LineageListener,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        run_replay_streaming,
    )

    spec = ChangelogSpec(n_events=3_000, n_keys=200, n_batches=3, seed=13)
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    listener = LineageListener()
    spark.streams.addListener(listener)
    try:
        table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8, mode="mor")
        run_replay_streaming(spark, log, table, checkpoint_dir=str(tmp_path / "ck"))
    finally:
        spark.streams.removeListener(listener)
    rows = [p for p in listener.progress if p["num_input_rows"] > 0]
    assert rows, "listener must capture micro-batch progress"
    assert sum(p["num_input_rows"] for p in rows) == spec.n_events
    df = listener.to_df(spark)
    assert df is not None and "end_offset" in df.columns
