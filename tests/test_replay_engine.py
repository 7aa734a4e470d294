"""Incremental engine tests: epoch merge, exactly-once, resume, evolution.

Ports of the reference's golden properties:
  * verify-idempotency (Makefile:344-359): same input twice -> second skips.
  * test_ingest.py:79-130: duplicate object -> cached/skip, no double count.
  * test_transform.py:6-21: poisoned record -> quarantine, good ones commit.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
)
from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
    run_replay,
    run_replay_streaming,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable

SPEC = ChangelogSpec(n_events=20_000, n_keys=1_500, n_batches=8, seed=7)


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cdc_log"))
    generate_changelog(spark, d, SPEC)
    return d


def oracle_rows(log_glob: str) -> list[tuple]:
    con = duckdb.connect()
    rows = con.sql(
        f"""
        WITH dedup AS (
          SELECT DISTINCT ON (doc_id, seq) * FROM read_parquet('{log_glob}')
          ORDER BY doc_id, seq
        ), latest AS (
          SELECT doc_id, arg_max(op, seq) op, arg_max(tokens, seq) tokens,
                 arg_max(source, seq) source, max(seq) seq
          FROM dedup GROUP BY doc_id
        )
        SELECT doc_id, tokens, source FROM latest
        WHERE op != 'delete' ORDER BY doc_id
        """
    ).fetchall()
    con.close()
    return rows


def table_rows(table: SnapshotTable) -> list[tuple]:
    return [
        (r.doc_id, r.tokens, r.source)
        for r in table.state().select("doc_id", "tokens", "source").orderBy("doc_id").collect()
    ]


@pytest.mark.parametrize("mode", ["mor"])
def test_replay_matches_oracle_and_is_idempotent(spark, log_dir, tmp_path, mode):
    table = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=16, mode=mode)
    r1 = run_replay(spark, log_dir, table, quarantine_dir=str(tmp_path / "q"))
    assert len(r1.epochs_applied) == SPEC.n_batches
    want = oracle_rows(f"{log_dir}/batch_*/*.parquet")
    got = table_rows(table)
    assert len(got) == len(want)
    assert got == want, "final state must match the order-independent oracle"

    v_before = table.current_version()
    # golden property: replay the identical log again -> every epoch skips,
    # zero new versions, bit-identical state
    r2 = run_replay(spark, log_dir, table, quarantine_dir=str(tmp_path / "q"))
    assert r2.epochs_applied == []
    assert len(r2.epochs_skipped) == SPEC.n_batches
    assert table.current_version() == v_before
    assert table_rows(table) == want


def test_merge_on_read_is_the_only_write_strategy(spark, tmp_path):
    with pytest.raises(ValueError, match="mode must be 'mor'"):
        SnapshotTable(spark, str(tmp_path / "tbl"), mode="cow")
    assert not (tmp_path / "tbl").exists(), "a refused table writes nothing"


def test_equal_seq_conflicts_resolve_to_one_winner(spark, tmp_path):
    """Conflicting same-key rows at an EQUAL seq pick one winner, whatever
    their order, their split across epochs, and before or after
    compaction (the tie breaks on a payload hash, not arrival order)."""
    from pyspark.sql import Row

    rows = [
        Row(op="update", doc_id="a", seq=5, text="x", n=1),
        Row(op="update", doc_id="a", seq=5, text="y", n=2),
        Row(op="update", doc_id="a", seq=5, text="z", n=3),
    ]
    winners = set()
    for i, order in enumerate([rows, rows[::-1], [rows[1], rows[2], rows[0]]]):
        t = SnapshotTable(spark, str(tmp_path / f"t{i}"), n_buckets=2)
        t.merge_reduced(spark.createDataFrame(order[:1]), "e0")
        t.merge_reduced(spark.createDataFrame(order[1:]), "e1")
        for _ in range(2):
            (r,) = t.state().collect()
            winners.add((r.text, r.n))
            t.compact()
    assert len(winners) == 1, winners


def test_resume_from_partial_run(spark, log_dir, tmp_path):
    """Kill mid-run at an epoch boundary and resume -> same final state."""
    table = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=16)
    run_replay(spark, log_dir, table, end_batch=2)
    assert len(table.committed_epochs()) == 3
    run_replay(spark, log_dir, table)
    assert table_rows(table) == oracle_rows(f"{log_dir}/batch_*/*.parquet")


def test_out_of_order_epoch_application_converges(spark, log_dir, tmp_path):
    """Applying epochs in a scrambled order yields the same state: merge is
    order-independent because LWW compares stored _seq."""
    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import list_batches
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import apply_epoch
    import os

    table = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=16)
    batches = list_batches(log_dir)
    order = batches[::2] + batches[1::2][::-1]
    for p in order:
        apply_epoch(table, spark.read.parquet(p), os.path.basename(p))
    assert table_rows(table) == oracle_rows(f"{log_dir}/batch_*/*.parquet")


@pytest.mark.parametrize("mode", ["mor"])
def test_deletes_remove_rows(spark, tmp_path, mode):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("source", T.StringType()),
        ]
    )
    table = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=4, mode=mode)
    b1 = spark.createDataFrame(
        [("insert", "a", 1, [1, 2], 2, "web"), ("insert", "b", 2, [3], 1, "web")],
        schema,
    )
    table.merge_reduced(b1, "e1")
    b2 = spark.createDataFrame(
        [("delete", "a", 3, None, None, None), ("update", "b", 4, [9, 9], 2, "web")],
        schema,
    )
    table.merge_reduced(b2, "e2")
    rows = {r.doc_id: r for r in table.state().collect()}
    assert set(rows) == {"b"}
    assert rows["b"].tokens == [9, 9]
    # stale replay of e1 content under a NEW epoch id must not resurrect 'a'
    table.merge_reduced(b1, "e3")
    assert {r.doc_id for r in table.state().collect()} == {"b"}
    assert {r.tokens[0] for r in table.state().collect()} == {9}


def test_quarantine_split(spark, tmp_path, log_dir):
    """Poisoned envelopes divert; good ones commit (test_transform port)."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("source", T.StringType()),
        ]
    )
    bad_batch = spark.createDataFrame(
        [
            ("insert", "ok1", 1, [1], 1, "web"),
            ("frobnicate", "ok2", 2, [1], 1, "web"),  # unknown op
            ("insert", None, 3, [1], 1, "web"),  # null key
            ("insert", "ok3", -1, [1], 1, "web"),  # bad seq
            ("insert", "ok4", 4, None, None, "web"),  # empty payload
        ],
        schema,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import apply_epoch

    table = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=4)
    qdir = str(tmp_path / "quarantine")
    apply_epoch(table, bad_batch, "e1", quarantine_dir=qdir)
    assert {r.doc_id for r in table.state().collect()} == {"ok1"}
    q = spark.read.parquet(f"{qdir}/epoch=e1")
    assert q.count() == 4
    reasons = {r._reject_reason for r in q.collect()}
    assert reasons == {"unknown_op", "null_doc_id", "bad_seq", "empty_payload"}


def test_schema_evolution_additive_and_widening(spark, tmp_path):
    """Mid-log: quality_score double appears, n_tok widens int32->int64."""
    d = str(tmp_path / "log")
    spec = ChangelogSpec(
        n_events=8_000, n_keys=600, n_batches=6, seed=11, evolve_at_batch=3
    )
    generate_changelog(spark, d, spec)
    # physical schemas really differ pre/post evolution
    pre = spark.read.parquet(f"{d}/batch_00000").schema
    post = spark.read.parquet(f"{d}/batch_00005").schema
    assert "quality_score" not in pre.names and "quality_score" in post.names
    assert pre["n_tok"].dataType.simpleString() == "int"
    assert post["n_tok"].dataType.simpleString() == "bigint"

    table = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=8)
    run_replay(spark, d, table)
    st = table.state()
    assert st.schema["n_tok"].dataType.simpleString() == "bigint"
    assert "quality_score" in st.columns
    # oracle: duckdb unions by name with widening
    con = duckdb.connect()
    want = con.sql(
        f"""
        WITH raw AS (
          SELECT * FROM read_parquet('{d}/batch_*/*.parquet',
                                     union_by_name=true)
        ), dedup AS (
          SELECT DISTINCT ON (doc_id, seq) * FROM raw ORDER BY doc_id, seq
        ), latest AS (
          SELECT doc_id, arg_max(op, seq) op, arg_max(tokens, seq) tokens,
                 arg_max(quality_score, seq) quality_score
          FROM dedup GROUP BY doc_id
        )
        SELECT doc_id, tokens, quality_score FROM latest
        WHERE op != 'delete' ORDER BY doc_id
        """
    ).fetchall()
    con.close()
    got = [
        (r.doc_id, r.tokens, r.quality_score)
        for r in st.select("doc_id", "tokens", "quality_score").orderBy("doc_id").collect()
    ]
    assert got == want


@pytest.mark.parametrize("mode", ["mor"])
def test_time_travel_and_compaction(spark, log_dir, tmp_path, mode):
    table = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=8, mode=mode)
    run_replay(spark, log_dir, table, end_batch=1)
    v2 = table.current_version()
    rows_v2 = table.state().count()
    run_replay(spark, log_dir, table)
    assert table.state(version=v2).count() == rows_v2  # VERSION AS OF
    # unresolved global deltas exist before compaction
    assert len(table.manifest()["global_deltas"]) == SPEC.n_batches
    before = table_rows(table)
    table.compact()
    assert table_rows(table) == before
    # after compaction: no deltas, every bucket -> the one compacted commit
    m = table.manifest()
    assert m["global_deltas"] == []
    assert {len(dirs) for dirs in m["buckets"].values()} == {1}
    assert len({dirs[0] for dirs in m["buckets"].values()}) == 1
    removed = table.expire_orphans()
    assert removed, "old commit dirs should be vacuumed"
    assert table_rows(table) == before


def test_streaming_replay_matches_batch(spark, log_dir, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "tbl_s"), n_buckets=8)
    run_replay_streaming(
        spark, log_dir, table, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert table_rows(table) == oracle_rows(f"{log_dir}/batch_*/*.parquet")
