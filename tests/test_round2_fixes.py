"""Round-2 fixes: epoch ledger compaction, bucket-spec adoption, short-doc
shingles, df_cap hot-shingle guard, event-time replay, streaming schema
evolution, redrive determinism, gate verdict artifacts."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as dd
from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
)
from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
    apply_epoch,
    redrive_quarantine,
    run_replay,
    run_replay_streaming,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
    EpochLedger,
    SnapshotTable,
    _partition_rows,
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


# ------------------------------------------------------------- EpochLedger


def test_epoch_ledger_exact_and_compact():
    led = EpochLedger()
    for i in range(10_000):
        led.add(f"stream-abc-{i}")
    led.add("redrive-deadbeef")
    led.add("stream-abc-10002")  # gap: 10001 missing
    js = led.to_json()
    # O(1) representation: one watermark + one extra + one other
    assert js["watermarks"] == {"stream-abc": 9999}
    assert js["extras"] == {"stream-abc": [10002]}
    assert js["other"] == ["redrive-deadbeef"]
    assert len(json.dumps(js)) < 200, "manifest entry must not grow with epochs"
    # exact membership
    assert "stream-abc-0" in led and "stream-abc-9999" in led
    assert "stream-abc-10001" not in led and "stream-abc-10002" in led
    assert "redrive-deadbeef" in led and "redrive-cafe" not in led
    assert len(led) == 10_002
    # round-trips through JSON
    led2 = EpochLedger(js)
    assert "stream-abc-5000" in led2 and "stream-abc-10001" not in led2
    # gap closes when the missing epoch lands
    led2.add("stream-abc-10000")
    led2.add("stream-abc-10001")
    assert led2.to_json()["watermarks"] == {"stream-abc": 10002}
    assert led2.to_json()["extras"] == {}


def test_epoch_ledger_no_leading_zero_collision_and_legacy_list():
    led = EpochLedger(["e-7", "plain"])  # legacy list format
    assert "e-7" in led and "plain" in led
    led.add("e-07")
    assert "e-07" in led
    # 'e-07' must not alias 'e-7': both distinct, plus no false 'e-0'
    assert "e-0" not in led


def test_manifest_stays_small_across_many_epochs(spark, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    df = spark.createDataFrame([("insert", "a", 1, [1], 1)], EVENT_SCHEMA)
    sizes = []
    for i in range(12):
        table.merge_reduced(df.withColumn("seq", F.lit(i + 1)), f"ep-{i}")
        mpath = os.path.join(
            str(tmp_path / "t"), "manifests", f"v{table.current_version():06d}.json"
        )
        m = json.load(open(mpath))
        sizes.append(len(json.dumps(m["committed_epochs"])))
    # O(1) in epoch count (length may wobble by digits of the watermark)
    assert sizes[-1] <= sizes[2] + 2, "epoch set must be O(1) for monotone ids"
    assert table.has_epoch("ep-11") and not table.has_epoch("ep-12")


# -------------------------------------------------- bucket-spec adoption


def test_reopen_adopts_manifest_bucket_spec(spark, tmp_path):
    root = str(tmp_path / "t")
    t1 = SnapshotTable(spark, root, n_buckets=16)
    df = spark.createDataFrame(
        [("insert", f"d{i}", i, [i], 1) for i in range(20)], EVENT_SCHEMA
    )
    t1.merge_reduced(df, "e-0")
    # reopen with the WRONG constructor args: manifest wins
    t2 = SnapshotTable(spark, root, key_col="tokens", n_buckets=4)
    assert t2.n_buckets == 16 and t2.key_col == "doc_id"
    # a second merge against the reopened handle must not duplicate keys
    t2.merge_reduced(
        df.withColumn("seq", F.col("seq") + 100).withColumn(
            "tokens", F.array(F.lit(7))
        ),
        "e-1",
    )
    rows = t2.state().collect()
    assert len(rows) == 20
    assert all(r.tokens == [7] for r in rows), "updates must hit stored rows"
    # bucket-pruned probes hash with the adopted spec, before and after
    # the chain is folded into bucketed base files
    keys = [f"d{i}" for i in range(20)]
    assert t2.lookup(keys).count() == 20
    t2.compact()
    assert sorted(r.tokens for r in t2.lookup(keys).collect()) == [[7]] * 20


# ------------------------------------------------------- dedupe guards


def test_word_shingles_short_docs_no_crash(spark):
    df = spark.createDataFrame(
        [("a", "only two"), ("b", "one"), ("c", ""), ("d", "three word doc here")],
        "doc_id string, text string",
    )
    out = df.select("doc_id", dd.word_shingles("text", 3).alias("sh")).collect()
    by_id = {r.doc_id: r.sh for r in out}
    assert by_id["a"] == [] and by_id["b"] == [] and by_id["c"] == []
    assert by_id["d"] == ["three word doc", "word doc here"]
    # minhash drops shingle-less docs instead of emitting degenerate sigs
    sigs = dd.minhash_signatures(df, k=8)
    assert {r.doc_id for r in sigs.collect()} == {"d"}


def test_ngram_jaccard_df_cap_equivalence_under_hot_shingle(spark):
    """A stop-phrase shingle shared by every doc must not change the
    reported near-dup pairs once capped: true near-dups share many rare
    shingles, the hot shingle carries no signal (and at scale would
    produce an all-pairs join)."""
    hot = "the quick brown"
    rows = []
    # 40 unrelated docs that all contain the hot shingle
    for i in range(40):
        rows.append((f"u{i:02d}", f"the quick brown unique{i} alpha{i} beta{i} gamma{i}"))
    # one true near-dup pair sharing rare shingles
    rows.append(("x1", "the quick brown zeta eta theta iota kappa"))
    rows.append(("x2", "the quick brown zeta eta theta iota kappa lambda"))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    uncapped = {
        (r.a, r.b)
        for r in dd.ngram_jaccard_pairs(df, threshold=0.5, df_cap=None).collect()
    }
    capped = {
        (r.a, r.b)
        for r in dd.ngram_jaccard_pairs(df, threshold=0.5, df_cap=10).collect()
    }
    assert ("x1", "x2") in capped
    assert capped == uncapped, (hot, capped, uncapped)


def test_portable_hash_mode_matches_duckdb_md5():
    import duckdb
    import hashlib

    h = int(hashlib.md5(b"hello").hexdigest()[:15], 16)
    assert (
        duckdb.sql(
            "select CAST(concat('0x', substr(md5('hello'),1,15)) AS BIGINT)"
        ).fetchone()[0]
        == h
    )


# ------------------------------------------------- event-time replay


def test_replay_range_event_time_window(spark, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # no late shifting -> batch b holds exactly event_times for seq in
    # [1000b, 1000b+999]; event_time = 1_700_000_000 + seq (UTC)
    spec = ChangelogSpec(
        n_events=4_000, n_keys=300, n_batches=4, seed=7, late_rate=0.0,
        dup_rate=0.0,
    )
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    r = run_replay(
        spark,
        log,
        table,
        start_time="2023-11-14 22:30:00",  # seq 1000
        end_time="2023-11-14 22:47:00",  # seq 2020
    )
    # batch 0 ends before the window; batch 3 starts after it
    assert r.epochs_applied == ["batch_00001", "batch_00002"]
    assert set(r.epochs_skipped) == {"batch_00000", "batch_00003"}
    # replaying the full log afterwards converges (idempotent skips)
    r2 = run_replay(spark, log, table)
    assert set(r2.epochs_skipped) >= set(r.epochs_applied)
    assert table.state().count() > 0


# ------------------------------------- streaming schema evolution


def test_streaming_replay_handles_mid_log_schema_evolution(spark, tmp_path):
    spec = ChangelogSpec(
        n_events=6_000, n_keys=400, n_batches=6, seed=11, evolve_at_batch=3
    )
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    # batch oracle: the proven evolution-aware path
    t_batch = SnapshotTable(spark, str(tmp_path / "tb"), n_buckets=4, mode="mor")
    run_replay(spark, log, t_batch)
    # streaming path over the same evolving log
    t_stream = SnapshotTable(spark, str(tmp_path / "ts"), n_buckets=4, mode="mor")
    run_replay_streaming(spark, log, t_stream, str(tmp_path / "ckpt"))
    a = t_batch.state().orderBy("doc_id")
    b = t_stream.state().orderBy("doc_id")
    assert sorted(a.columns) == sorted(b.columns)
    assert "quality_score" in b.columns, "evolved column must survive streaming"
    cols = sorted(a.columns)
    ra = [tuple(r) for r in a.select(*cols).collect()]
    rb = [tuple(r) for r in b.select(*cols).collect()]
    assert ra == rb


def test_stream_instance_survives_checkpoint_but_not_deletion(spark, tmp_path):
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        _stream_instance,
    )

    ck = str(tmp_path / "ck")
    a = _stream_instance(ck)
    assert _stream_instance(ck) == a, "stable for the checkpoint's lifetime"
    import shutil

    shutil.rmtree(ck)
    assert _stream_instance(ck) != a, "fresh namespace after checkpoint loss"


# ------------------------------------------- redrive + gate verdicts


def test_redrive_is_idempotent_and_content_addressed(spark, tmp_path):
    spec = ChangelogSpec(
        n_events=4_000, n_keys=300, n_batches=2, seed=13, malformed_rate=0.05
    )
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    qdir = str(tmp_path / "q")
    run_replay(spark, log, table, quarantine_dir=qdir)
    before = table.state().count()

    def fix(df):
        return df.withColumn("op", F.lit("insert"))

    r1 = redrive_quarantine(spark, qdir, table, fix=fix)
    assert r1 is not None and not r1.get("skipped")
    after = table.state().count()
    assert after >= before
    # same quarantine content -> same epoch id -> second redrive skips
    r2 = redrive_quarantine(spark, qdir, table, fix=fix)
    assert r2 is None or r2 == {"epoch_id": r1["epoch_id"], "skipped": True} or (
        isinstance(r2, dict) and r2.get("skipped")
    )
    assert table.state().count() == after


def test_redrive_ignores_orphaned_tmp_dirs(spark, tmp_path):
    qdir = tmp_path / "q"
    qdir.mkdir()
    good = spark.createDataFrame(
        [("frobnicate", "a", 1, [1], 1)], EVENT_SCHEMA
    ).withColumn("_reject_reason", F.lit("unknown_op"))
    good.write.parquet(str(qdir / "epoch=b0"))
    # crash leftover: partial staging dir (would fail or double-feed a read)
    (qdir / ".tmp-epoch=b1").mkdir()
    (qdir / ".tmp-epoch=b1" / "_started").write_text("")
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    r = redrive_quarantine(
        spark, str(qdir), table, fix=lambda d: d.withColumn("op", F.lit("insert"))
    )
    assert r is not None
    assert table.state().count() == 1


def test_gate_failure_writes_verdict_artifact(spark, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    bad = spark.createDataFrame(
        [("insert", "a", 1, [1, 2], 99)], EVENT_SCHEMA  # n_tok mismatch
    )
    with pytest.raises(ValueError, match="DQ gate failed"):
        apply_epoch(table, bad, "ep-0", dq_fail_on_corrupt=True)
    vpath = os.path.join(str(tmp_path / "t"), "verdicts", "epoch=ep-0.json")
    assert os.path.exists(vpath), "ops must see WHY the epoch is absent"
    v = json.load(open(vpath))
    assert v["status"] == "aborted" and v["metrics"]["ntok_mismatch"] == 1
    assert not table.has_epoch("ep-0"), "aborted epoch stays uncommitted"


# ------------------------------------------------------------ masking


def test_mask_terms_counts_and_replaces(spark):
    from aws_serverless_elt_pipeline_enterprise_spark.functions import text as tx

    df = spark.createDataFrame(
        [("table scan row tablecloth",)], "text string"
    )
    masked, n = tx.mask_terms("text")
    r = df.select(masked.alias("m"), n.alias("n")).first()
    # word boundaries: 'tablecloth' untouched
    assert r.m == "<MASK> <MASK> <MASK> tablecloth"
    assert r.n == 3


def test_ivf_topk_recall_vs_exact(spark, tmp_path):
    """IVF probing nprobe=4 of 12 centroids (a third of the lists) must
    recover most of the exact top-k (probing a fraction of the table is
    the point; recall is the price, bounded here)."""
    from aws_serverless_elt_pipeline_enterprise_spark.functions import (
        similarity as sim,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = list(e.filter(F.col("vec_id") == 0).first()["embedding"])
    rest = e.filter(F.col("vec_id") != 0)
    exact = {
        r.vec_id
        for r in sim.quantized_cosine_topk(rest, qv, k=10).collect()
    }
    idx = str(tmp_path / "ivf")
    sim.build_ivf_index(rest, idx, n_centroids=12)
    approx = {
        r.vec_id for r in sim.ivf_index_topk(spark, idx, qv, k=10, nprobe=4).collect()
    }
    assert len(exact & approx) >= 5, (exact, approx)


# ------------------------------------------------ minor compaction


def test_minor_compaction_preserves_state_without_base_rewrite(spark, tmp_path):
    """compact_minor collapses the delta chain into one delta; the
    resolved state is unchanged (LWW is associative) and base commits are
    untouched. Tombstones survive so late lower-seq updates still lose."""
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    df = spark.createDataFrame(
        [("insert", f"d{i}", i + 1, [i], 1) for i in range(30)], EVENT_SCHEMA
    )
    table.merge_reduced(df, "ep-0")
    table.compact()  # establish base files
    base_dirs = {
        d for dirs in table.manifest()["buckets"].values() for d in dirs
    }
    # several deltas incl. an update chain and a delete
    table.merge_reduced(
        spark.createDataFrame(
            [("update", "d0", 100, [99], 1), ("delete", "d1", 101, None, None)],
            EVENT_SCHEMA,
        ),
        "ep-1",
    )
    table.merge_reduced(
        spark.createDataFrame([("update", "d0", 102, [77], 1)], EVENT_SCHEMA),
        "ep-2",
    )
    table.merge_reduced(
        spark.createDataFrame([("insert", "zz", 103, [1], 1)], EVENT_SCHEMA),
        "ep-3",
    )
    before = {
        r.doc_id: r.tokens for r in table.state().collect()
    }
    assert len(table.manifest()["global_deltas"]) == 3
    lineage = table.compact_minor()
    assert lineage["deltas_merged"] == 3
    m = table.manifest()
    assert len(m["global_deltas"]) == 1
    assert {d for dirs in m["buckets"].values() for d in dirs} == base_dirs
    after = {r.doc_id: r.tokens for r in table.state().collect()}
    assert after == before
    assert after["d0"] == [77] and "d1" not in after and after["zz"] == [1]
    # a late lower-seq update for the deleted key must still lose
    table.merge_reduced(
        spark.createDataFrame([("update", "d1", 50, [5], 1)], EVENT_SCHEMA),
        "ep-4",
    )
    assert "d1" not in {r.doc_id for r in table.state().collect()}
    # epoch ledger intact across the minor compaction
    for e in ("ep-0", "ep-1", "ep-2", "ep-3", "ep-4"):
        assert table.has_epoch(e)


# ------------------------------------------------------- as-of join


def test_asof_join_inclusive_ties_and_null_payload(spark):
    from aws_serverless_elt_pipeline_enterprise_spark.operators.asof import (
        asof_join,
    )

    probes = spark.createDataFrame(
        [("k", 5), ("k", 10), ("k", 2), ("j", 1)], "user_id string, t bigint"
    )
    versions = spark.createDataFrame(
        [("k", 3, 30.0), ("k", 5, None), ("k", 9, 90.0)],
        "user_id string, t bigint, value double",
    )
    out = {
        (r.user_id, r.t): (r.v_t, r.v_value)
        for r in asof_join(
            probes, versions, key="user_id", on="t",
            value_cols=["t", "value"], prefix="v_",
        ).collect()
    }
    # t=5 probe matches the t=5 version INCLUSIVELY, and its NULL value is
    # returned as-is (not skipped back to t=3)
    assert out[("k", 5)] == (5, None)
    assert out[("k", 10)] == (9, 90.0)
    assert out[("k", 2)] == (None, None)  # nothing at or before
    assert out[("j", 1)] == (None, None)  # key never versioned


def test_sessionize_gap_boundaries(spark):
    from aws_serverless_elt_pipeline_enterprise_spark.operators.sessions import (
        sessionize,
    )

    rows = [
        ("u", 1, "2024-01-01 00:00:00"),
        ("u", 2, "2024-01-01 00:30:00"),   # 30 min: same session
        ("u", 3, "2024-01-01 01:30:00"),   # exactly 3600s: same (> is strict)
        ("u", 4, "2024-01-01 03:00:00"),   # 90 min: new session
        ("v", 5, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r.event_id: r.session_id
        for r in sessionize(df, gap_seconds=3600).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1}


def test_sessionize_single_sort_in_plan(spark, sf_dir):
    """Both windows (lag + running sum) must share one shuffle+sort."""
    from aws_serverless_elt_pipeline_enterprise_spark.operators.sessions import (
        sessionize,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.plans import checks as C

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = sessionize(ev).select("user_id", "event_id", "session_id")
    assert C.exchange_count(df) <= 1, C.explain_str(df, "simple")


def test_lineage_records_per_partition_rows(spark, tmp_path):
    """North-rule lineage surface: every commit's lineage carries
    per-output-partition row counts (from parquet footers) that sum to
    the batch size."""
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    df = spark.createDataFrame(
        [("insert", f"d{i}", i + 1, [i], 1) for i in range(40)], EVENT_SCHEMA
    )
    lin = table.merge_reduced(df, "ep-0")
    pr = json.loads(lin["partition_rows"])
    assert pr["total_rows"] == 40
    assert pr["n_files"] >= 1
    assert sum(pr["per_partition"].values()) == 40
    # a bucketed dir (compact()'s output): keys carry the bucket dir
    t2 = SnapshotTable(spark, str(tmp_path / "t2"), n_buckets=4)
    t2.merge_reduced(df, "ep-0")
    t2.compact()
    (base,) = {d for dirs in t2.manifest()["buckets"].values() for d in dirs}
    pr2 = _partition_rows(os.path.join(t2.root, base))
    assert pr2["total_rows"] == 40
    assert all(k.startswith("_bucket=") for k in pr2["per_partition"])
    # persisted in the manifest, and flat enough for the metrics DF surface
    m_pr = json.loads(table.manifest()["lineage"]["partition_rows"])
    assert m_pr["total_rows"] == 40
    assert spark.createDataFrame(table.lineage()).count() == 1


# -------------------------------------------- review-pass regressions


def test_epoch_ledger_rejects_non_ascii_digits():
    led = EpochLedger()
    led.add("x-٤")  # Arabic-Indic four: must NOT alias 'x-4'
    led.add("ep-²")  # superscript two: isdigit() but not int()-able
    assert "x-4" not in led and "x-٤" in led
    assert "ep-²" in led and "ep-2" not in led


def test_mask_terms_escapes_metacharacters(spark):
    from aws_serverless_elt_pipeline_enterprise_spark.functions import text as tx

    df = spark.createDataFrame(
        [("reach 192.168.0.1 not 192x168y0z1 and c++ here",)], "text string"
    )
    masked, n = tx.mask_terms("text", terms=("192.168.0.1", "c++"))
    r = df.select(masked.alias("m"), n.alias("n")).first()
    # the IP matched exactly once; the unescaped '.' would also have
    # matched 192x168y0z1, and unescaped 'c++' would have thrown
    assert r.n == 1
    assert "192x168y0z1" in r.m, "dot must not match arbitrary chars"
    assert "<MASK>" in r.m
    # ('c++' itself is unmatched: \b cannot sit between '+' and space —
    # word-boundary semantics, inherent to the \b formulation)


def test_ivf_topk_falls_back_when_no_centroids(spark, tmp_path):
    from aws_serverless_elt_pipeline_enterprise_spark.functions import (
        similarity as sim,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = list(e.filter(F.col("vec_id") == 0).first()["embedding"])
    # centroid_mod larger than every vec_id: the residue class is
    # id == 1 alone, so dropping id 1 leaves no centroids
    rest = e.filter(~F.col("vec_id").isin(0, 1))
    idx = str(tmp_path / "ivf")
    assert sim.build_ivf_index(rest, idx, centroid_mod=10**9)["degenerate"]
    out = sim.ivf_index_topk(spark, idx, qv, k=5, nprobe=4)
    assert out.count() == 5, "must degrade to brute force, not empty"


def test_gate_verdict_removed_after_successful_retry(spark, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    bad = spark.createDataFrame([("insert", "a", 1, [1, 2], 99)], EVENT_SCHEMA)
    with pytest.raises(ValueError):
        apply_epoch(table, bad, "ep-0", dq_fail_on_corrupt=True)
    vpath = os.path.join(str(tmp_path / "t"), "verdicts", "epoch=ep-0.json")
    assert os.path.exists(vpath)
    # upstream fixed: same epoch retried and committed -> verdict cleared
    good = spark.createDataFrame([("insert", "a", 1, [1, 2], 2)], EVENT_SCHEMA)
    apply_epoch(table, good, "ep-0", dq_fail_on_corrupt=True)
    assert table.has_epoch("ep-0")
    assert not os.path.exists(vpath), "stale 'aborted' verdict must clear"


def test_lookup_with_non_string_key_col(spark, tmp_path):
    """Bucket pruning must hash probe keys AS the table's key type:
    xxhash64('42') != xxhash64(42L), so a string-typed probe against a
    bigint key_col scanned the wrong buckets and returned nothing."""
    sch = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
        ]
    )
    t = SnapshotTable(spark, str(tmp_path / "t"), key_col="doc_id", n_buckets=8)
    t.merge_reduced(
        spark.createDataFrame([("insert", i, i, [i]) for i in range(30)], sch),
        "e-0",
    )
    rows = t.lookup([7, 23]).orderBy("doc_id").collect()
    assert [(r.doc_id, r.tokens) for r in rows] == [(7, [7]), (23, [23])]


def test_streaming_replay_quarantines_malformed(spark, tmp_path):
    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )

    spec = ChangelogSpec(
        n_events=4_000, n_keys=300, n_batches=2, seed=13, malformed_rate=0.05
    )
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    n_bad = (
        spark.read.parquet(f"{log}/batch_*")
        .filter(F.col("op") == "frobnicate")
        .count()
    )
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    qdir = str(tmp_path / "q")
    run_replay_streaming(
        spark, log, table, str(tmp_path / "ck"), quarantine_dir=qdir
    )
    q = spark.read.parquet(f"{qdir}/epoch=*")
    # streaming dedup (doc_id, seq) runs BEFORE the split, so duplicate
    # malformed envelopes are collapsed — the DLQ holds the deduped set
    n_q = q.count()
    assert 0 < n_q <= n_bad
    assert {r._reject_reason for r in q.collect()} == {"unknown_op"}
