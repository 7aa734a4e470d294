"""Round-3 fixes: redrive digest covers payload content, df_cap
pre-aggregation bound, stateful LWW deterministic tie-break."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as dd
from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
    redrive_quarantine,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
    SnapshotTable,
    _buckets,
    _deltas,
    _schema_of,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
    ]
)


def test_redrive_corrected_payload_fix_gets_new_epoch(spark, tmp_path):
    """A second fix that repairs ONLY the payload (tokens/n_tok — the
    empty_payload quarantine class) must produce a DIFFERENT epoch id than
    the first, buggy fix, so the corrected redrive actually applies."""
    qdir = tmp_path / "q"
    qdir.mkdir()
    bad = spark.createDataFrame(
        [("frobnicate", "k1", 5, None, None)], EVENT_SCHEMA
    ).withColumn("_reject_reason", F.lit("unknown_op"))
    bad.write.parquet(str(qdir / "epoch=b0"))
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")

    def buggy_fix(df):  # repairs the op but leaves the payload empty
        return df.withColumn("op", F.lit("insert"))

    def corrected_fix(df):  # same envelope, repaired payload
        return (
            df.withColumn("op", F.lit("insert"))
            .withColumn("tokens", F.array(F.lit(7)))
            .withColumn("n_tok", F.lit(1))
        )

    r1 = redrive_quarantine(spark, str(qdir), table, fix=buggy_fix)
    assert r1 is not None and not r1.get("skipped")
    r2 = redrive_quarantine(spark, str(qdir), table, fix=corrected_fix)
    assert r2 is not None and not r2.get("skipped"), (
        "payload-only correction must yield a new epoch id (envelope-only "
        "digests alias it to the buggy fix and skip it)"
    )
    assert r2["epoch_id"] != r1["epoch_id"]
    # the corrected row won (same seq, batch side wins on replay tie)
    row = table.state().filter(F.col("doc_id") == "k1").first()
    assert row["tokens"] == [7] and row["n_tok"] == 1


def test_df_cap_bounds_aggregation_input(spark):
    """The df-cap semi-join must drop hot shingles BEFORE collect_list:
    no posting list larger than df_cap may reach the aggregate. Checked
    semantically (identical pairs to the post-hoc-filter formulation) and
    structurally (the plan contains a LeftSemi join)."""
    rows = [(f"d{i}", "common phrase here plus unique " + ("x%d " % i) * 5)
            for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dd.ngram_jaccard_pairs(df, threshold=0.1, df_cap=5)
    plan = pairs._jdf.queryExecution().toString()
    assert "LeftSemi" in plan, "df_cap must pre-filter via semi-join"
    # the hot shingle ('common phrase here' in 20 docs > cap 5) contributes
    # nothing; unique fillers share nothing -> zero pairs
    assert pairs.count() == 0


class _FakeState:
    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def setTimeoutTimestamp(self, ts):
        self.ts = ts

    def getCurrentWatermarkMs(self):
        return 0

    def remove(self):
        self.exists = False


def test_stateful_lww_equal_seq_tiebreak_is_order_independent():
    """Equal-seq conflicting events must pick the same winner regardless
    of Arrow batch row order (idxmax first-occurrence was order-dependent)."""
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.stateful import (
        _update_fn,
    )

    rows = [
        {"doc_id": "k", "seq": 9, "op": "update", "n_tok": 1},
        {"doc_id": "k", "seq": 9, "op": "delete", "n_tok": None},
        {"doc_id": "k", "seq": 9, "op": "insert", "n_tok": 3},
    ]
    winners = []
    for perm in ([0, 1, 2], [2, 1, 0], [1, 2, 0]):
        pdf = pd.DataFrame([rows[i] for i in perm]).reset_index(drop=True)
        state = _FakeState()
        out = list(_update_fn(1000)(("k",), iter([pdf]), state))
        assert len(out) == 1
        winners.append(tuple(out[0].iloc[0][["seq", "op"]]))
    assert len(set(winners)) == 1, f"order-dependent winners: {winners}"


def test_gate_failure_notification_row_and_callback(spark, tmp_path):
    """T5 parity: a gate failure appends a notifications.jsonl row (the
    reference publishes SNS on quarantine) and fires the user callback;
    a crashing callback must not mask the gate failure and surfaces as
    a RuntimeWarning naming the epoch."""
    import json
    import os

    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        apply_epoch,
    )

    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    bad = spark.createDataFrame([("insert", "a", 1, [1, 2], 99)], EVENT_SCHEMA)
    called = []
    with pytest.raises(ValueError, match="DQ gate failed"):
        apply_epoch(
            table, bad, "ep-0", dq_fail_on_corrupt=True,
            notify=lambda e, f, m: called.append((e, f, m)),
        )
    assert called and called[0][0] == "ep-0"
    npath = os.path.join(table.root, "notifications.jsonl")
    rows = [json.loads(line) for line in open(npath)]
    assert rows[0]["epoch_id"] == "ep-0"
    assert rows[0]["event"] == "dq_gate_failed"
    assert rows[0]["metrics"]["ntok_mismatch"] == 1
    with pytest.raises(ValueError, match="DQ gate failed"), pytest.warns(
        RuntimeWarning, match="ep-1.*ZeroDivisionError"
    ):
        apply_epoch(
            table, bad, "ep-1", dq_fail_on_corrupt=True,
            notify=lambda e, f, m: 1 / 0,
        )
    assert len([json.loads(line) for line in open(npath)]) == 2


def test_streaming_dq_gate_aborts_then_resumes(spark, tmp_path):
    """Streaming twin of the transactional batch gate test: a corrupt
    micro-batch aborts WITHOUT committing (verdict + notification written),
    and a restart from the same checkpoint replays it cleanly."""
    import json
    import os

    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        run_replay,
        run_replay_streaming,
    )

    spec = ChangelogSpec(
        n_events=4_000, n_keys=300, n_batches=2, seed=7, corrupt_ntok_rate=0.02
    )
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    ck = str(tmp_path / "ck")
    notes = []
    with pytest.raises(Exception, match="DQ gate failed"):
        run_replay_streaming(
            spark, log, table, ck, dq_fail_on_corrupt=True,
            notify=lambda e, f, m: notes.append(e),
        )
    assert table.state().count() == 0, "failed micro-batch must not commit"
    assert notes, "notify callback fired"
    assert os.path.exists(os.path.join(table.root, "notifications.jsonl"))
    vdir = os.path.join(table.root, "verdicts")
    assert os.listdir(vdir), "verdict artifact written for the aborted epoch"
    # restart from the SAME checkpoint with the strict gate off: the same
    # files are re-read, repair_ntok fixes the counters, the epoch commits
    run_replay_streaming(spark, log, table, ck, dq_fail_on_corrupt=False)
    got = {
        (r["doc_id"], r["_seq"])
        for r in table.read().filter("NOT coalesce(_deleted, false)")
        .select("doc_id", "_seq").collect()
    }
    # batch-path oracle over the same log
    t2 = SnapshotTable(spark, str(tmp_path / "t2"), n_buckets=4, mode="mor")
    run_replay(spark, log, t2)
    want = {
        (r["doc_id"], r["_seq"])
        for r in t2.read().filter("NOT coalesce(_deleted, false)")
        .select("doc_id", "_seq").collect()
    }
    assert got == want and len(got) > 0


def test_tailing_stream_mid_stream_schema_evolution(spark, tmp_path):
    """Continuous tail (processingTime trigger, NOT availableNow): a
    column added + int widened AFTER the stream started must flow through
    — the per-micro-batch schema guard fails the batch uncommitted, the
    loop restarts with the wider schema, and the final state matches the
    batch-path oracle over the full log."""
    import os
    import shutil
    import time

    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        run_replay,
        run_replay_streaming,
    )

    spec = ChangelogSpec(
        n_events=4_000, n_keys=300, n_batches=4, seed=11, evolve_at_batch=2
    )
    staging = str(tmp_path / "staging")
    generate_changelog(spark, staging, spec)
    # batch-path oracle over the FULL log, computed up front
    t2 = SnapshotTable(spark, str(tmp_path / "t2"), n_buckets=4, mode="mor")
    run_replay(spark, staging, t2)
    want_rows = t2.read().filter("NOT coalesce(_deleted, false)")
    want = {
        (r["doc_id"], r["_seq"], r["quality_score"])
        for r in want_rows.select("doc_id", "_seq", "quality_score").collect()
    }

    log = tmp_path / "log"
    log.mkdir()
    for b in ("batch_00000", "batch_00001"):  # narrow prefix visible at start
        shutil.move(os.path.join(staging, b), str(log / b))
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    phase = {"v": 0}
    deadline = time.monotonic() + 240

    def driver():
        assert time.monotonic() < deadline, "tail did not converge in time"
        if phase["v"] == 0 and table.current_version() is not None:
            # the stream is live and has committed the narrow prefix:
            # NOW the log evolves under it
            for b in ("batch_00002", "batch_00003"):
                shutil.move(os.path.join(staging, b), str(log / b))
            phase["v"] = 1
            return False
        if phase["v"] == 1:
            sch = table.schema()
            if sch is None or "quality_score" not in [f.name for f in sch.fields]:
                return False
            got_rows = table.read().filter("NOT coalesce(_deleted, false)")
            return got_rows.count() == len(want)
        return False

    run_replay_streaming(
        spark, str(log), table, str(tmp_path / "ck"),
        poll_interval_sec=0.5, stop_when=driver,
    )
    got = {
        (r["doc_id"], r["_seq"], r["quality_score"])
        for r in table.read().filter("NOT coalesce(_deleted, false)")
        .select("doc_id", "_seq", "quality_score").collect()
    }
    assert got == want and len(got) > 0
    # widening flowed through too
    ntok_type = [
        f.dataType.simpleString() for f in table.schema().fields
        if f.name == "n_tok"
    ]
    assert ntok_type == ["bigint"]


def test_unified_log_schema_cache_avoids_footer_rereads(spark, tmp_path):
    """The checkpoint-dir schema cache must make repeat calls O(new
    batches): gutting an already-cached batch dir's files (a footer
    re-read would crash) must not affect the result, while a NEW batch
    dir is read and cached."""
    import json
    import os
    import shutil

    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        unified_log_schema,
    )

    spec = ChangelogSpec(n_events=1_000, n_keys=100, n_batches=2, seed=3)
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    ck = str(tmp_path / "ck")
    s1 = unified_log_schema(spark, log, cache_dir=ck)
    cache = json.load(open(os.path.join(ck, "_schema_cache.json")))
    assert set(cache) == {"batch_00000", "batch_00001"}
    # cached dir's files vanish -> only the cache can supply its schema
    b0 = os.path.join(log, "batch_00000")
    for f in os.listdir(b0):
        os.remove(os.path.join(b0, f))
    assert unified_log_schema(spark, log, cache_dir=ck) == s1
    # a NEW batch dir is footer-read exactly once and joins the cache
    shutil.copytree(os.path.join(log, "batch_00001"), os.path.join(log, "batch_00002"))
    assert unified_log_schema(spark, log, cache_dir=ck) == s1
    cache = json.load(open(os.path.join(ck, "_schema_cache.json")))
    assert "batch_00002" in cache


def _manifest_only_commit(table: SnapshotTable, epoch_id: str) -> dict:
    """Commit ``epoch_id`` with the snapshot carried forward unchanged:
    a new version that writes only its manifest (no data, no Spark job)."""

    def build(snap):
        return _schema_of(snap), _buckets(snap), _deltas(snap), {"epoch_id": epoch_id}

    return table._commit_loop(epoch_id, build)


def test_expire_snapshots_bounds_metadata_across_1000_epochs(spark, tmp_path):
    """One manifest per version must not accumulate forever: after 10^3
    epochs with periodic expiry the manifest count is bounded by
    keep_last, LATEST still reads the full state, time travel works
    within the horizon and fails loudly beyond it."""
    import os

    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        apply_epoch,
    )

    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4)
    seed = spark.createDataFrame(
        [("insert", f"k{i}", i + 1, [i], 1) for i in range(20)], EVENT_SCHEMA
    )
    apply_epoch(table, seed, "seed")
    want = table.state().count()
    mdir = os.path.join(table.root, "manifests")
    removed_total = 0
    for i in range(1000):  # manifest-only commits: no Spark job each
        _manifest_only_commit(table, f"e-{i}")
        if i % 200 == 199:
            r = table.expire_snapshots(keep_last=5)
            removed_total += len(r["removed_manifests"])
            assert len(os.listdir(mdir)) == 5
    assert removed_total == 1001 - 5, "old manifests actually deleted"
    assert len(os.listdir(mdir)) == 5
    assert table.state().count() == want, "LATEST still reads after expiry"
    cur = table.current_version()
    # time travel inside the horizon
    assert table.read(version=cur - 4).count() >= 0
    # beyond the horizon: loud failure, not silent wrong answer
    with pytest.raises(FileNotFoundError):
        table.manifest(version=cur - 5)
    # the data of the seed epoch survives (still referenced by kept
    # manifests through delta-chain carry-forward)
    assert table.state().count() == want
    # epoch ledger still exact: replaying any old epoch skips
    assert table.has_epoch("e-3") and table.has_epoch("seed")


def test_stateful_lww_equal_seq_tiebreak_across_chunks_and_state():
    """A large group arrives as MULTIPLE Arrow chunks; equal-seq winners
    must not depend on which chunk a row landed in, nor on carried state
    from an earlier micro-batch."""
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.stateful import (
        _update_fn,
    )

    r_lo = {"doc_id": "k", "seq": 9, "op": "insert", "n_tok": 3}
    r_hi = {"doc_id": "k", "seq": 9, "op": "update", "n_tok": 1}  # update > insert
    winners = []
    for order in ([r_lo, r_hi], [r_hi, r_lo]):
        state = _FakeState()
        chunks = [pd.DataFrame([r]) for r in order]  # one row per chunk
        out = list(_update_fn(1000)(("k",), iter(chunks), state))
        winners.append(state.get)
    assert winners[0] == winners[1] == (9, "update", 1), winners
    # cross-micro-batch: state carries the loser; the later batch's
    # equal-seq higher-rank event must still win
    state = _FakeState()
    list(_update_fn(1000)(("k",), iter([pd.DataFrame([r_lo])]), state))
    out = list(_update_fn(1000)(("k",), iter([pd.DataFrame([r_hi])]), state))
    assert state.get == (9, "update", 1)
    assert len(out) == 1  # winner advanced -> emitted


def test_ivf_topk_small_table_centroid_residue(spark, tmp_path):
    """Tables smaller than ~2*n_centroids derive centroid_mod == 1; the
    residue must then select EVERY vector (exact search) instead of the
    empty class id % 1 == 1 — which silently diverged from the oracle."""
    from aws_serverless_elt_pipeline_enterprise_spark.functions import (
        similarity as sim,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = list(e.filter(F.col("vec_id") == 0).first()["embedding"])
    small = e.filter((F.col("vec_id") > 0) & (F.col("vec_id") <= 40))
    idx = str(tmp_path / "ivf")
    sim.build_ivf_index(small, idx, n_centroids=32)
    rows = sim.ivf_index_topk(spark, idx, qv, k=5, nprobe=4).collect()
    # every vector is its own single-member centroid list, so nprobe
    # bounds the candidate count: 4 rows, NOT zero (the old residue
    # selected an empty centroid set and silently brute-forced)
    assert len(rows) == 4
    # the top probed centroid IS the true nearest neighbour
    exact = sim.quantized_cosine_topk(small, qv, k=1).collect()[0]
    assert rows[0]["vec_id"] == exact["vec_id"]


def test_redrive_null_shift_payload_gets_new_epoch(spark, tmp_path):
    """xxhash64 skips null inputs in its seed chain, so (tokens=[1],
    n_tok=null) and (tokens=null, n_tok=1) hash identically over bare
    columns (verified). The digest must disambiguate via to_json(struct)
    or a corrected fix that moves a value across a null boundary is
    silently skipped."""
    qdir = tmp_path / "q"
    qdir.mkdir()
    bad = spark.createDataFrame(
        [("frobnicate", "k1", 5, None, None)], EVENT_SCHEMA
    ).withColumn("_reject_reason", F.lit("empty_payload"))
    bad.write.parquet(str(qdir / "epoch=b0"))
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")

    def buggy_fix(df):  # repairs n_tok only, tokens stays null
        return df.withColumn("op", F.lit("insert")).withColumn(
            "n_tok", F.lit(1)
        )

    def corrected_fix(df):  # value moves to tokens, n_tok stays null
        return df.withColumn("op", F.lit("insert")).withColumn(
            "tokens", F.array(F.lit(1))
        )

    r1 = redrive_quarantine(spark, str(qdir), table, fix=buggy_fix)
    r2 = redrive_quarantine(spark, str(qdir), table, fix=corrected_fix)
    assert r1 is not None and r2 is not None and not r2.get("skipped")
    assert r2["epoch_id"] != r1["epoch_id"], "null-shift must change the digest"


def test_redrive_reads_schema_evolved_quarantine(spark, tmp_path):
    """Quarantine dirs written before and after a schema evolution have
    different footers; the redrive must unify them (narrow inference
    either crashes on the wide files or silently drops the new column)."""
    qdir = tmp_path / "q"
    qdir.mkdir()
    narrow = spark.createDataFrame(
        [("frobnicate", "k1", 1, [1], 1)], EVENT_SCHEMA
    ).withColumn("_reject_reason", F.lit("unknown_op"))
    narrow.write.parquet(str(qdir / "epoch=a0"))
    wide_schema = T.StructType(
        list(EVENT_SCHEMA.fields)
        + [T.StructField("quality_score", T.DoubleType())]
    )
    wide = spark.createDataFrame(
        [("frobnicate", "k2", 2, [2], 1, 0.75)], wide_schema
    ).withColumn("n_tok", F.col("n_tok").cast("long")).withColumn(
        "_reject_reason", F.lit("unknown_op")
    )
    wide.write.parquet(str(qdir / "epoch=b0"))
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    r = redrive_quarantine(
        spark, str(qdir), table, fix=lambda d: d.withColumn("op", F.lit("insert"))
    )
    assert r is not None and not r.get("skipped")
    rows = {r_["doc_id"]: r_ for r_ in table.state().collect()}
    assert set(rows) == {"k1", "k2"}
    assert rows["k2"]["quality_score"] == 0.75, "evolved column survived redrive"
    assert rows["k1"]["quality_score"] is None


def test_lineage_tolerates_crash_orphaned_tmp_manifest(spark, tmp_path):
    import os

    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        apply_epoch,
    )

    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    df = spark.createDataFrame([("insert", "a", 1, [1], 1)], EVENT_SCHEMA)
    apply_epoch(table, df, "e0")
    # crash window artifact: partial manifest tmp
    with open(os.path.join(table.root, "manifests", "v000001.json.tmpdead"), "w") as f:
        f.write('{"partial')
    rows = table.lineage()
    assert len(rows) == 1 and rows[0]["epoch_id"] == "e0"


def test_mor_empty_epoch_does_not_grow_delta_chain(spark, tmp_path):
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        apply_epoch,
    )

    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    df = spark.createDataFrame([("insert", "a", 1, [1], 1)], EVENT_SCHEMA)
    apply_epoch(table, df, "e0")
    all_bad = spark.createDataFrame(
        [("frobnicate", "b", 2, None, None)], EVENT_SCHEMA
    )
    apply_epoch(table, all_bad, "e1", quarantine_dir=str(tmp_path / "q"))
    m = table.manifest()
    assert len(m["global_deltas"]) == 1, "empty epoch must not append a delta"
    assert table.has_epoch("e1"), "but the epoch id IS committed (idempotency)"
    assert table.state().count() == 1


def test_clean_epoch_writes_no_quarantine_dir(spark, tmp_path):
    import os

    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        apply_epoch,
    )

    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    clean = spark.createDataFrame([("insert", "a", 1, [1], 1)], EVENT_SCHEMA)
    qdir = tmp_path / "q"
    qdir.mkdir()
    apply_epoch(table, clean, "e0", quarantine_dir=str(qdir))
    assert os.listdir(qdir) == [], "no empty epoch dirs for clean batches"


def test_run_replay_dq_gate_passthrough(spark, tmp_path):
    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        run_replay,
    )

    spec = ChangelogSpec(
        n_events=2_000, n_keys=200, n_batches=2, seed=5, corrupt_ntok_rate=0.05
    )
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    with pytest.raises(ValueError, match="DQ gate failed"):
        run_replay(spark, log, table, dq_fail_on_corrupt=True)
    assert table.state().count() == 0


def test_zero_norm_vectors_never_rank_in_topk(spark, tmp_path):
    """0/0 cosine is IEEE NaN and Spark sorts NaN ABOVE every double, so
    an all-zeros padding vector would occupy rank 1 in every similarity
    entry point. Zero-norm rows must be excluded / sink to the bottom."""
    from aws_serverless_elt_pipeline_enterprise_spark.functions import (
        similarity as sim,
    )

    rows = [(0, [1.0, 0.0, 1.0]), (1, [0.5, 0.5, 0.0]),
            (2, [0.0, 0.0, 0.0]), (3, [1.0, 1.0, 1.0])]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    df = spark.createDataFrame(rows, schema)
    q = [1.0, 0.0, 1.0]
    for fn in (sim.brute_force_topk, sim.quantized_cosine_topk):
        got = [r.vec_id for r in fn(df, q, k=3).collect()]
        assert 2 not in got, f"{fn.__name__} ranked the zero vector: {got}"
        assert got[0] == 0
    idx = str(tmp_path / "ivf")
    sim.build_ivf_index(df, idx, n_centroids=4)
    got = [r.vec_id for r in sim.ivf_index_topk(spark, idx, q, k=3).collect()]
    assert 2 not in got
    # batched path: zero-norm AND null rows sink to -inf, never crash
    rows_n = rows + [(4, None)]
    dfn = spark.createDataFrame(rows_n, schema)
    got = {
        (r.query_id, r.vec_id)
        for r in sim.batch_topk_pandas(dfn, [q], k=3).collect()
    }
    assert (0, 2) not in got and (0, 4) not in got
    with pytest.raises(ValueError, match="zero-norm query"):
        sim.quantized_cosine_topk(df, [0.0, 0.0, 0.0], k=3)


def test_words_whitespace_and_empty_semantics(spark):
    """Tab/newline-separated words must tokenize (split was space-only:
    multi-line docs got n_words=1 and wrong shingles); empty text counts
    0 tokens, not the phantom ['']."""
    from aws_serverless_elt_pipeline_enterprise_spark.functions import text as tx

    df = spark.createDataFrame(
        [(1, "the\nquick\tfox"), (2, ""), (3, "   "), (4, "one two")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: (r.w, r.n) for r in df.select(
        "doc_id", tx.words("text").alias("w"),
        tx.ws_token_count("text").alias("n")).collect()}
    assert got[1] == (["the", "quick", "fox"], 3)
    assert got[2] == ([], 0)
    assert got[3] == ([], 0)
    assert got[4] == (["one", "two"], 2)


def test_exact_dup_groups_ignores_null_text(spark):
    rows = [(1, None), (2, None), (3, "same"), (4, "same")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = dd.exact_dup_groups(df).collect()
    assert len(got) == 1 and got[0]["keeper"] == 3, (
        "NULL-text docs must not group as duplicates of each other"
    )


def test_banded_rejects_indivisible_k(spark):
    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="not divisible"):
        dd.minhash_lsh_candidates(df, k=32, bands=5).collect()


def test_null_op_quarantine_reason(spark):
    from aws_serverless_elt_pipeline_enterprise_spark.operators.normalize import (
        split_quarantine,
    )

    df = spark.createDataFrame([(None, "d1", 5, [1], 1)], EVENT_SCHEMA)
    good, bad = split_quarantine(df)
    assert good.count() == 0
    assert bad.first()["_reject_reason"] == "null_op", (
        "null op must not be triaged as a payload problem"
    )


def test_dq_gate_counts_null_ntok_with_tokens_present(spark, tmp_path):
    from aws_serverless_elt_pipeline_enterprise_spark.quality.gates import (
        run_dq_gate,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        apply_epoch,
    )

    df = spark.createDataFrame([("insert", "a", 1, [1, 2, 3], None)], EVENT_SCHEMA)
    res = run_dq_gate(df)
    assert not res.ok and res.metrics["ntok_mismatch"] == 1, (
        "NULL n_tok with tokens present violates the invariant; a bare "
        "!= predicate NULL-skips it"
    )
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    with pytest.raises(ValueError, match="DQ gate failed"):
        apply_epoch(table, df, "e0", dq_fail_on_corrupt=True)


def test_asof_join_deterministic_on_equal_timestamps(spark):
    """Two versioned rows at the same (key, t): the carried payload must
    be the same on every run (payload-hash tiebreaker), not shuffle
    arrival order."""
    from aws_serverless_elt_pipeline_enterprise_spark.operators.asof import (
        asof_join,
    )

    probes = spark.createDataFrame([("k1", 200)], ["user_id", "t"])
    outs = set()
    for seed_order in range(4):
        rows = [("k1", 100, "A"), ("k1", 100, "B")]
        if seed_order % 2:
            rows = rows[::-1]
        versions = spark.createDataFrame(
            rows, ["user_id", "t", "val"]
        ).repartition(4 if seed_order < 2 else 2)
        got = asof_join(
            probes, versions, key="user_id", on="t", value_cols=["val"]
        ).first()["asof_val"]
        outs.add(got)
    assert len(outs) == 1, f"nondeterministic asof payload on ties: {outs}"


def test_stateful_lww_null_payload_tie_consistent_across_chunking():
    """A null-n_tok row tying a non-null row at max seq must lose BOTH
    within a chunk and across chunks (na_position='first' inverted the
    within-chunk order); TTL re-arms on duplicate traffic; null op stays
    None; all-null-seq chunks don't crash."""
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.stateful import (
        _update_fn,
    )

    r_null = {"doc_id": "k", "seq": 9, "op": "update", "n_tok": None}
    r_val = {"doc_id": "k", "seq": 9, "op": "update", "n_tok": 5}
    winners = []
    for chunks in (
        [pd.DataFrame([r_null, r_val])],          # one chunk, null first
        [pd.DataFrame([r_val, r_null])],          # one chunk, null last
        [pd.DataFrame([r_null]), pd.DataFrame([r_val])],  # split chunks
        [pd.DataFrame([r_val]), pd.DataFrame([r_null])],
    ):
        state = _FakeState()
        list(_update_fn(1000)(("k",), iter(chunks), state))
        winners.append(state.get)
    assert set(winners) == {(9, "update", 5)}, winners
    # TTL re-arm on non-advancing traffic
    state = _FakeState()
    list(_update_fn(1000)(("k",), iter([pd.DataFrame([r_val])]), state))
    armed = state.ts
    state.getCurrentWatermarkMs = lambda: 500
    list(_update_fn(1000)(("k",), iter([pd.DataFrame([r_val])]), state))
    assert state.ts == 1500 and state.ts != armed, (
        "duplicate traffic must re-arm the TTL (eviction mid-traffic "
        "lets a stale duplicate regress the served state)"
    )
    # null op must not become the string 'None'
    state = _FakeState()
    list(_update_fn(1000)(
        ("k",), iter([pd.DataFrame([{"doc_id": "k", "seq": 1, "op": None,
                                     "n_tok": 1}])]), state))
    assert state.get[1] is None
    # all-null-seq chunk: ignored, no IndexError
    state = _FakeState()
    out = list(_update_fn(1000)(
        ("k",), iter([pd.DataFrame([{"doc_id": "k", "seq": None, "op": "x",
                                     "n_tok": 1}])]), state))
    assert out == [] and not state.exists


def test_plan_check_helpers_handle_nested_types(spark, tmp_path):
    from aws_serverless_elt_pipeline_enterprise_spark.plans import checks as C

    df = spark.createDataFrame(
        [("a", [1, 2], 3, "x")],
        "doc_id string, tokens array<int>, seq long, op string",
    )
    p = str(tmp_path / "t.parquet")
    df.write.parquet(p)
    r = spark.read.parquet(p)
    scan = r.filter(F.col("op").isin("insert", "update")).select(
        "doc_id", "tokens", "seq"
    )
    cols = C.read_schema_columns(scan)
    assert any(set(c) >= {"doc_id", "tokens", "seq"} for c in cols), (
        f"array<> column must not truncate the ReadSchema parse: {cols}"
    )
    pf = C.pushed_filters(scan)
    assert any(f.startswith("In(op") and "update" in f for f in pf), (
        f"In(...) filter must stay whole: {pf}"
    )
    # broadcast joins contribute zero SHUFFLE exchanges
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        small = spark.createDataFrame([("a", 1)], "doc_id string, v int")
        j = r.join(F.broadcast(small), "doc_id")
        assert C.exchange_count(j) == 0, "BroadcastExchange is not a shuffle"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_asof_ignores_null_timestamp_versions(spark):
    from aws_serverless_elt_pipeline_enterprise_spark.operators.asof import (
        asof_join,
    )

    probes = spark.createDataFrame([("k1", 100)], ["user_id", "t"])
    versions = spark.createDataFrame(
        [("k1", None, "ghost"), ("k1", 200, "late")],
        "user_id string, t int, val string",
    )
    got = asof_join(
        probes, versions, key="user_id", on="t", value_cols=["val"]
    ).first()
    assert got["asof_val"] is None, (
        "a NULL-timestamp version must never match (DuckDB ASOF never "
        "matches NULL; nulls-first sort was carrying its payload)"
    )


def test_multimodal_feat_dim_matches_features_len(spark):
    from aws_serverless_elt_pipeline_enterprise_spark.functions import (
        multimodal as mm,
    )

    d = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
    media = mm.attach_binary_from_text(d)
    out = mm.extract_features(media, fake=True, dim=64).first()
    assert out["feat_dim"] == 64 == len(out["features"]), (
        "sha256 truncation made feat_dim lie for dim > 32"
    )


def test_silver_partitions_carry_per_type_schemas(spark, tmp_path):
    """Each record_type partition holds EXACTLY its declared columns
    (reference schemas.py:30-33, one-table-per-type): the union-schema
    write polluted every type's partition with every other type's
    columns as nulls."""
    import json

    from aws_serverless_elt_pipeline_enterprise_spark.sources import jsonl as J

    bronze = tmp_path / "bronze.jsonl"
    bronze.write_text(
        json.dumps({"record_type": "shipments", "event_time": "2024-03-01T10:00:00Z",
                    "shipment_id": "s1", "origin": "A", "destination": "B",
                    "carrier": "UPS", "weight_kg": 1.5}) + "\n" +
        json.dumps({"record_type": "invoice_lines", "event_time": "2024-03-01T10:00:00Z",
                    "invoice_id": "i1", "sku": "k", "quantity": 2,
                    "unit_price": 3.0, "line_total": 6.0}) + "\n"
    )
    silver = str(tmp_path / "silver")
    J.ingest_bronze_to_silver(spark, str(bronze), silver)
    ship = J.read_silver(spark, silver, "shipments")
    assert "invoice_id" not in ship.columns and "shipment_id" in ship.columns
    inv = J.read_silver(spark, silver, "invoice_lines")
    assert "shipment_id" not in inv.columns and inv.first()["line_total"] == 6.0


def test_unparseable_timestamp_does_not_crash_ingest(spark, tmp_path):
    """ANSI mode makes to_timestamp THROW on bad strings; the fallback
    chain (keep raw -> substring dt -> default) must actually run."""
    import json

    from aws_serverless_elt_pipeline_enterprise_spark.sources import jsonl as J

    bronze = tmp_path / "bronze.jsonl"
    bronze.write_text(
        json.dumps({"record_type": "shipments",
                    "event_time": "03/01/2024 10:00",  # unparseable
                    "shipment_id": "s1", "origin": "A", "destination": "B",
                    "carrier": "UPS", "weight_kg": 1.0}) + "\n"
    )
    silver = str(tmp_path / "silver")
    counters = J.ingest_bronze_to_silver(spark, str(bronze), silver)
    assert counters["records"] == 1
    row = J.read_silver(spark, silver, "shipments").first()
    assert row["event_time"] == "03/01/2024 10:00", "raw value passes through"
    # reference fallback is the raw slice event_time[:10] (schemas.py:90-96)
    assert str(row["dt"]) == "03/01/2024"


def test_read_silver_missing_type_returns_empty_declared_schema(spark, tmp_path):
    import json

    from aws_serverless_elt_pipeline_enterprise_spark.sources import jsonl as J

    bronze = tmp_path / "bronze.jsonl"
    bronze.write_text(
        json.dumps({"record_type": "shipments", "event_time": "2024-03-01T10:00:00Z",
                    "shipment_id": "s1", "origin": "A", "destination": "B",
                    "carrier": "UPS", "weight_kg": 1.5}) + "\n"
    )
    silver = str(tmp_path / "silver")
    J.ingest_bronze_to_silver(spark, str(bronze), silver)
    te = J.read_silver(spark, silver, "tracking_events")  # never ingested
    assert te.count() == 0
    assert "status" in te.columns and "dt" in te.columns, (
        "empty per-type read must carry the declared schema, not raise "
        "PATH_NOT_FOUND"
    )


def test_stateful_lww_accepts_negative_first_seq():
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.stateful import (
        _update_fn,
    )

    state = _FakeState()
    out = list(_update_fn(1000)(
        ("k",), iter([pd.DataFrame([{"doc_id": "k", "seq": -1, "op": None,
                                     "n_tok": None}])]), state))
    assert state.exists and state.get == (-1, None, None), (
        "a first event at seq=-1 with null payload ranked equal to the "
        "old in-band sentinel and vanished"
    )
    assert len(out) == 1
