"""Incremental aggregate maintenance: changes(images='both') and
MaterializedAggregate (operators/incremental_agg.py)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.operators.incremental_agg import (
    MaterializedAggregate,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "op string, doc_id string, seq long, grp string, val long"
    )


def _mk(spark, tmp_path, n_buckets=8):
    return SnapshotTable(
        spark, str(tmp_path / "src"), key_col="doc_id", n_buckets=n_buckets, mode="mor"
    )


def _recompute(t: SnapshotTable):
    """Ground truth: full recompute over the current visible state."""
    return {
        (r["grp"],): (r["cnt"], r["sum_val"])
        for r in t.state()
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("val").alias("sum_val"),
        )
        .collect()
    }


def _materialized(ma: MaterializedAggregate):
    return {
        (r["grp"],): (r["cnt"], r["sum_val"]) for r in ma.result().collect()
    }


# ---------------------------------------------------------------- images=both


def test_changes_images_both_two_row_update_encoding(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, "a", i * 10) for i in range(1, 4)]),
        "e0",
    )
    v1 = t.current_version()
    t.merge_reduced(
        _batch(
            spark,
            [
                ("update", "k1", 100, "b", 111),  # group move a -> b
                ("delete", "k2", 101, None, None),
                ("insert", "k9", 102, "a", 90),
            ],
        ),
        "e1",
    )
    rows = sorted(
        (r["doc_id"], r["_change_type"], r["grp"], r["val"], r["_seq"])
        for r in t.changes(v1, images="both").collect()
    )
    assert rows == [
        ("k1", "update_postimage", "b", 111, 100),
        ("k1", "update_preimage", "a", 10, 1),
        ("k2", "delete", "a", 20, 2),
        ("k9", "insert", "a", 90, 102),
    ]
    # post-mode and both-mode agree on the changed-key set
    assert {r["doc_id"] for r in t.changes(v1).collect()} == {"k1", "k2", "k9"}
    with pytest.raises(ValueError):
        t.changes(v1, images="full")


# ------------------------------------------------------- maintenance parity


def test_incremental_refresh_matches_full_recompute(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["grp"], sums={"sum_val": "val"}
    )
    # epoch 0: bootstrap
    t.merge_reduced(
        _batch(
            spark,
            [("insert", f"k{i}", i, "abc"[i % 3], i) for i in range(12)]
            + [("insert", "knull", 50, "a", None)],  # null sum contribution
        ),
        "e0",
    )
    info = ma.refresh()
    assert info["bootstrapped"] is True
    assert _materialized(ma) == _recompute(t)

    # epoch 1: updates (incl. group move), deletes, inserts, null flips
    t.merge_reduced(
        _batch(
            spark,
            [
                ("update", "k0", 100, "c", 1000),  # a -> c
                ("delete", "k1", 101, None, None),
                ("insert", "k20", 102, "d", 7),  # brand-new group
                ("update", "knull", 103, "a", 5),  # null -> non-null
                ("update", "k3", 104, "a", None),  # non-null -> null
            ],
        ),
        "e1",
    )
    info = ma.refresh()
    assert info["bootstrapped"] is False and "touched_buckets" in info
    assert _materialized(ma) == _recompute(t)

    # epoch 2: empty a group entirely -> tombstoned out of the result
    t.merge_reduced(
        _batch(spark, [("delete", "k20", 200, None, None)]), "e2"
    )
    ma.refresh()
    got = _materialized(ma)
    assert ("d",) not in got
    assert got == _recompute(t)


def test_sum_null_semantics_all_null_group(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["grp"], sums={"sum_val": "val"}
    )
    t.merge_reduced(
        _batch(spark, [("insert", "x", 1, "g", None), ("insert", "y", 2, "g", None)]),
        "e0",
    )
    ma.refresh()
    [r] = ma.result().collect()
    assert (r["grp"], r["cnt"], r["sum_val"]) == ("g", 2, None)  # SUM() of nulls
    # one non-null arrives incrementally -> SUM becomes defined
    t.merge_reduced(_batch(spark, [("update", "x", 10, "g", 42)]), "e1")
    ma.refresh()
    [r] = ma.result().collect()
    assert (r["cnt"], r["sum_val"]) == (2, 42)


def test_null_group_key_is_its_own_group(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["grp"], sums={"sum_val": "val"}
    )
    t.merge_reduced(
        _batch(spark, [("insert", "a", 1, None, 5), ("insert", "b", 2, None, 6)]),
        "e0",
    )
    ma.refresh()
    t.merge_reduced(_batch(spark, [("update", "a", 10, None, 7)]), "e1")
    ma.refresh()
    got = {r["grp"]: (r["cnt"], r["sum_val"]) for r in ma.result().collect()}
    assert got == {None: (2, 13)}


# ------------------------------------------------------ exactly-once refresh


def test_refresh_noop_when_caught_up(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(spark, t, str(tmp_path / "mv"), ["grp"])
    t.merge_reduced(_batch(spark, [("insert", "a", 1, "g", 1)]), "e0")
    ma.refresh()
    v = ma.agg.current_version()
    info = ma.refresh()
    assert info.get("noop") is True
    assert ma.agg.current_version() == v  # no new agg commit


def test_stale_bookmark_source_unchanged_no_double_apply(spark, tmp_path):
    """A rewound legacy ``bookmark.json`` (what an older writer left on a
    crash between agg commit and bookmark write), source NOT advanced: the
    bookmark comes from the agg ledger, so the re-run is a no-op."""
    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["grp"], sums={"sum_val": "val"}
    )
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, "g", 1) for i in range(4)]), "e0"
    )
    ma.refresh()
    bm1 = ma.cdf_bookmark()
    t.merge_reduced(_batch(spark, [("insert", "k9", 100, "g", 1)]), "e1")
    ma.refresh()
    # the legacy bookmark file, rewound to the pre-refresh value
    with open(os.path.join(ma.path, "bookmark.json"), "w") as f:
        json.dump({"last_version": bm1}, f)
    assert ma.cdf_bookmark() == t.current_version()
    ma.refresh()
    assert _materialized(ma) == _recompute(t) == {("g",): (5, 5)}


def test_stale_bookmark_source_advanced_ledger_fastforward(spark, tmp_path):
    """A rewound legacy ``bookmark.json``, then MORE source commits
    before the re-run: diffing from the stale file would double-apply the
    committed span under a new epoch id. The bookmark derived from the
    agg ledger resumes from the true (committed) version."""
    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["grp"], sums={"sum_val": "val"}
    )
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, "g", 1) for i in range(4)]), "e0"
    )
    ma.refresh()
    bm1 = ma.cdf_bookmark()
    t.merge_reduced(_batch(spark, [("insert", "k9", 100, "g", 1)]), "e1")
    ma.refresh()  # commits epoch cdf-<bm1>-<v2>
    with open(os.path.join(ma.path, "bookmark.json"), "w") as f:
        json.dump({"last_version": bm1}, f)
    # source advances AFTER the crash
    t.merge_reduced(_batch(spark, [("insert", "k10", 200, "g", 1)]), "e2")
    ma.refresh()
    assert _materialized(ma) == _recompute(t) == {("g",): (6, 6)}


def test_expired_horizon_bootstraps_rebuild(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["grp"], sums={"sum_val": "val"}
    )
    t.merge_reduced(_batch(spark, [("insert", "a", 1, "g", 1)]), "e0")
    ma.refresh()
    for i in range(12):
        t.merge_reduced(
            _batch(spark, [("update", "a", 10 + i, "g", i)]), f"e{i+1}"
        )
    t.compact()
    t.expire_snapshots(keep_last=2)
    info = ma.refresh()
    assert info["bootstrapped"] is True
    assert _materialized(ma) == _recompute(t)


# ------------------------------------------------------------- scale shape


def test_small_refresh_touches_few_buckets(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["grp"], sums={"sum_val": "val"},
        n_buckets=16,
    )
    t.merge_reduced(
        _batch(
            spark,
            [("insert", f"k{i}", i, f"g{i % 64}", 1) for i in range(256)],
        ),
        "e0",
    )
    ma.refresh()
    # one key's update touches exactly one group -> at most 1 agg bucket
    t.merge_reduced(_batch(spark, [("update", "k0", 1000, "g0", 9)]), "e1")
    info = ma.refresh()
    assert len(info["touched_buckets"]) == 1
    assert _materialized(ma)[("g0",)] == _recompute(t)[("g0",)]
    # an update that changes NO maintained aggregate (same group, same
    # value) nets a zero delta -> nothing read, nothing written
    t.merge_reduced(_batch(spark, [("update", "k1", 2000, "g1", 1)]), "e2")
    info = ma.refresh()
    assert info["touched_buckets"] == []
    assert _materialized(ma) == _recompute(t)


def test_composite_group_and_reserved_name_guard(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["grp", "doc_id"]
    )
    t.merge_reduced(
        _batch(spark, [("insert", "a", 1, "g", 1), ("insert", "b", 2, "g", 2)]),
        "e0",
    )
    ma.refresh()
    got = {(r["grp"], r["doc_id"]): r["cnt"] for r in ma.result().collect()}
    assert got == {("g", "a"): 1, ("g", "b"): 1}
    with pytest.raises(ValueError):
        MaterializedAggregate(spark, t, str(tmp_path / "mv2"), ["_group_key"])
    with pytest.raises(ValueError):
        MaterializedAggregate(spark, t, str(tmp_path / "mv3"), [])


# ------------------------------------------------------- replay integration


def test_run_replay_maintains_views_in_lockstep(spark, tmp_path):
    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        run_replay,
    )

    log = str(tmp_path / "log")
    generate_changelog(
        spark, log, ChangelogSpec(n_events=4000, n_keys=300, n_batches=4)
    )
    t = SnapshotTable(
        spark, str(tmp_path / "tbl"), key_col="doc_id", n_buckets=8, mode="mor"
    )
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["source"], sums={"tok_total": "n_tok"}
    )
    run_replay(spark, log, t, maintain=[ma], compact_every=2)
    expect = {
        r["source"]: (r["cnt"], r["tok"])
        for r in t.state()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("n_tok").alias("tok"))
        .collect()
    }
    got = {
        r["source"]: (r["cnt"], r["tok_total"]) for r in ma.result().collect()
    }
    assert got == expect and len(got) > 1
    # idempotent rerun: all epochs skip, the catch-up refresh is a no-op
    v = ma.agg.current_version()
    res2 = run_replay(spark, log, t, maintain=[ma])
    assert not res2.epochs_applied
    assert ma.agg.current_version() == v
    assert {
        r["source"]: (r["cnt"], r["tok_total"]) for r in ma.result().collect()
    } == expect
    # a view ATTACHED after the fact catches up via the end-of-run pass
    ma2 = MaterializedAggregate(spark, t, str(tmp_path / "mv2"), ["source"])
    run_replay(spark, log, t, maintain=[ma2])
    assert {r["source"]: r["cnt"] for r in ma2.result().collect()} == {
        s: c for s, (c, _) in expect.items()
    }


def test_run_replay_maintain_every_cadence(spark, tmp_path):
    """maintain_every=K folds K epochs into one span refresh: fewer view
    commits, identical final state (bookmarks are span-based)."""
    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        run_replay,
    )

    log = str(tmp_path / "log")
    generate_changelog(
        spark, log, ChangelogSpec(n_events=6000, n_keys=400, n_batches=6)
    )

    def run(k: int, tag: str):
        t = SnapshotTable(
            spark, str(tmp_path / f"tbl{tag}"), key_col="doc_id",
            n_buckets=8, mode="mor",
        )
        ma = MaterializedAggregate(spark, t, str(tmp_path / f"mv{tag}"), ["source"])
        run_replay(spark, log, t, maintain=[ma], maintain_every=k)
        return t, ma

    t1, m1 = run(1, "a")
    t3, m3 = run(3, "b")
    want = {r["source"]: r["cnt"] for r in t1.state().groupBy("source").count().withColumnRenamed("count", "cnt").collect()}
    assert {r["source"]: r["cnt"] for r in m1.result().collect()} == want
    assert {r["source"]: r["cnt"] for r in m3.result().collect()} == want
    # K=3 over 6 epochs: 2 in-loop refreshes + final no-op catch-up;
    # K=1: 6 in-loop refreshes. The agg table's version count shows it.
    assert m3.agg.current_version() < m1.agg.current_version()


def _source_counts(t: SnapshotTable) -> dict:
    """Ground truth for a ``["source"]`` aggregate summing ``n_tok``."""
    return {
        r["source"]: (r["cnt"], r["tok"])
        for r in t.state()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("n_tok").alias("tok"))
        .collect()
    }


def test_windowed_run_replay_maintains_views_and_compacts(spark, tmp_path):
    """An event-time window rides the same loop as a plain replay: views
    stay in lockstep and ``compact_every`` applies to the window too."""
    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        run_replay,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # no late shifting: batch b holds event_time 1_700_000_000 + seq for
    # seq in [1000b, 1000b+999]
    spec = ChangelogSpec(
        n_events=4_000, n_keys=300, n_batches=4, seed=7, late_rate=0.0,
        dup_rate=0.0,
    )
    log = str(tmp_path / "log")
    generate_changelog(spark, log, spec)
    t = SnapshotTable(
        spark, str(tmp_path / "tbl"), key_col="doc_id", n_buckets=8, mode="mor"
    )
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["source"], sums={"tok_total": "n_tok"}
    )
    r = run_replay(
        spark, log, t,
        start_time="2023-11-14 22:30:00",  # seq 1000
        end_time="2023-11-14 22:47:00",  # seq 2020
        maintain=[ma], compact_every=2,
    )
    assert r.epochs_applied == ["batch_00001", "batch_00002"]
    # the two window deltas were folded into one by the minor compaction
    assert len(t.manifest()["global_deltas"]) == 1
    got = {r["source"]: (r["cnt"], r["tok_total"]) for r in ma.result().collect()}
    assert got == _source_counts(t) and len(got) > 1


def test_continuous_stream_leaves_views_current(spark, tmp_path):
    """A processingTime tail with maintain_every=K returns with its views
    current, however many micro-batches it ran (not up to K-1 behind)."""
    import time

    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        run_replay,
        run_replay_streaming,
    )

    log = str(tmp_path / "log")
    generate_changelog(
        spark, log, ChangelogSpec(n_events=3000, n_keys=200, n_batches=3)
    )
    oracle = SnapshotTable(spark, str(tmp_path / "oracle"), n_buckets=4, mode="mor")
    run_replay(spark, log, oracle)
    live = "NOT coalesce(_deleted, false)"
    want = {tuple(r) for r in oracle.read().filter(live).select("doc_id", "_seq").collect()}
    t = SnapshotTable(
        spark, str(tmp_path / "tbl"), key_col="doc_id", n_buckets=8, mode="mor"
    )
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["source"], sums={"tok_total": "n_tok"}
    )
    deadline = time.monotonic() + 240

    def caught_up() -> bool:
        assert time.monotonic() < deadline, "tail did not converge in time"
        if t.current_version() is None:
            return False
        got = t.read().filter(live).select("doc_id", "_seq").collect()
        return {tuple(r) for r in got} == want

    run_replay_streaming(
        spark, log, t, str(tmp_path / "ck"),
        poll_interval_sec=0.5, stop_when=caught_up,
        maintain=[ma], maintain_every=3,
    )
    assert ma.cdf_bookmark() == t.current_version()
    got = {r["source"]: (r["cnt"], r["tok_total"]) for r in ma.result().collect()}
    assert got == _source_counts(t) and len(got) > 1


# ------------------------------------------- one-aggregate refresh: old winner


def _index_rows(ix, values):
    return {(r["grp"], r["doc_id"]) for r in ix.lookup(values).collect()}


def _state_rows(t, values):
    return {
        (r["grp"], r["doc_id"]) for r in t.state().collect() if r["grp"] in values
    }


def test_refresh_old_winner_edge_cases(spark, tmp_path):
    """Each span is checked against a recompute over state(): a group
    tombstoned in one span and refilled in a later one (the old winner
    is a tombstone), a group netting to zero beside a real change, NULL
    group values, and the shared-diff path with an index beside the
    aggregate."""
    from aws_serverless_elt_pipeline_enterprise_spark.operators.secondary_index import (
        SecondaryIndex,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        refresh_views,
    )

    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["grp"], sums={"sum_val": "val"}
    )
    ix = SecondaryIndex(spark, t, str(tmp_path / "ix"), "grp", n_buckets=8)
    t.merge_reduced(
        _batch(
            spark,
            [("insert", f"k{i}", i, "abc"[i % 3], i) for i in range(9)]
            + [("insert", "solo", 20, "d", 4), ("insert", "n1", 21, None, 3)],
        ),
        "e0",
    )
    refresh_views([ma, ix])  # bootstrap
    spans = [
        # empty group d: its agg row becomes a tombstone
        [("delete", "solo", 100, None, None), ("insert", "n2", 101, None, None)],
        # refill d (old winner = the tombstone); k0 moves a -> NULL group
        [("insert", "solo2", 200, "d", 6), ("update", "k0", 201, None, 8)],
        # k1 nets to zero (same group, same value) beside a real change
        [("update", "k1", 300, "b", 1), ("update", "k2", 301, "c", 50)],
        # NULL group emptied of its sum contributions, then a move out of it
        [("update", "n1", 400, None, None), ("update", "k0", 401, "a", 9)],
    ]
    for i, rows in enumerate(spans, start=1):
        t.merge_reduced(_batch(spark, rows), f"e{i}")
        refresh_views([ma, ix])
        assert ma.cdf_bookmark() == ix.cdf_bookmark() == t.current_version()
        assert _materialized(ma) == _recompute(t), i
        values = ["a", "b", "c", "d", None]
        assert _index_rows(ix, values) == _state_rows(t, values), i
    assert _materialized(ma)[("d",)] == (1, 6)
    # the zero-net span wrote only the group that changed
    t.merge_reduced(
        _batch(spark, [("update", "k4", 500, "b", 4), ("update", "k5", 501, "c", 99)]),
        "e5",
    )
    info = ma.refresh()
    assert info["touched_buckets"] == ma.agg.buckets_for(["c"])
    assert _materialized(ma) == _recompute(t)


# ------------------------------------------------ manifests without a record


def _strip_bucket_records(t: SnapshotTable, dirs=None) -> SnapshotTable:
    """Rewrite every manifest of ``t`` without the per-delta bucket record
    (only ``dirs``' entries when given), as an older writer left them, and
    reopen the table."""
    mdir = os.path.join(t.root, "manifests")
    for name in os.listdir(mdir):
        path = os.path.join(mdir, name)
        with open(path) as f:
            m = json.load(f)
        rec = m.pop("dir_buckets", {})
        if dirs is not None:
            m["dir_buckets"] = {d: b for d, b in rec.items() if d not in dirs}
        with open(path, "w") as f:
            json.dump(m, f)
    return SnapshotTable(t.spark, t.root, key_col=t.key_col)


def _rows_of(df):
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


def _deltas_of(t):
    return list(t.manifest()["global_deltas"])


def test_legacy_manifests_without_bucket_record(spark, tmp_path):
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        spark_xxhash64,
    )

    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["grp"], sums={"sum_val": "val"}
    )
    n = 3000
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, "abc"[i % 3], i) for i in range(n)]),
        "e0",
    )
    ma.refresh()
    t.compact()
    v0 = t.current_version()
    t.merge_reduced(
        _batch(spark, [("update", "k1", 10**4, "c", 5), ("delete", "k2", 10**4 + 1, None, None)]),
        "e1",
    )
    t.merge_reduced(
        _batch(spark, [("insert", "k_new", 10**4 + 2, "a", 1), ("update", "k4", 10**4 + 3, "b", 2)]),
        "e2",
    )
    v2 = t.current_version()
    # a large delta confined to buckets 0 and 1: its record is two buckets
    low = [f"k{i}" for i in range(n) if spark_xxhash64(f"k{i}") % 8 < 2][:800]
    t.merge_reduced(
        _batch(spark, [("update", k, 2 * 10**4 + j, "b", j) for j, k in enumerate(low)]),
        "e3",
    )
    v3 = t.current_version()
    assert t._delta_buckets(t.manifest(), _deltas_of(t)[-1:]) == {0, 1}
    # the candidate-bucket paths: the small deltas narrow the diff through
    # a key IN list, or through a key semi-join with the IN-list cap forced
    # down; the large delta (over 1/8 of the table) does not narrow
    spans = [(v0, v2), (v0 + 1, v2), (v2, v3), (None, v3)]
    recorded = {}
    for cap in (SnapshotTable.NARROW_INLIST_MAX, 1):
        t.NARROW_INLIST_MAX = cap
        for span in spans:
            for images in ("post", "both"):
                recorded[cap, span, images] = _rows_of(t.changes(*span, images=images))
    legacy = _strip_bucket_records(t)
    assert "dir_buckets" not in legacy.manifest()
    assert legacy._delta_buckets(legacy.manifest(), _deltas_of(legacy)) == set(range(8))
    for (cap, span, images), want in recorded.items():
        legacy.NARROW_INLIST_MAX = cap
        assert _rows_of(legacy.changes(*span, images=images)) == want, (cap, span, images)

    # a view over (and owning) unrecorded tables still equals a recompute
    ma.agg = _strip_bucket_records(ma.agg)
    ma.source = legacy
    ma.refresh()
    assert _materialized(ma) == _recompute(legacy)


def test_minor_compaction_bucket_record(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=16)
    for e in range(3):
        t.merge_reduced(
            _batch(spark, [("insert", f"k{e}_{i}", 10 * e + i, "g", i) for i in range(3)]),
            f"e{e}",
        )
    raw = t.read(resolve=False)
    held = {r[0] for r in raw.select("_bucket").distinct().collect()}
    assert t._delta_buckets(t.manifest(), _deltas_of(t)) == held
    assert len(held) < 16
    # every delta recorded: the merged delta records their union
    t.compact_minor()
    [merged] = _deltas_of(t)
    assert t._delta_buckets(t.manifest(), [merged]) == held
    # one unrecorded input: the merged delta counts as every bucket
    t.merge_reduced(_batch(spark, [("insert", "x", 100, "g", 1)]), "e3")
    t = _strip_bucket_records(t, dirs={merged})
    t.compact_minor()
    [merged2] = _deltas_of(t)
    assert t._delta_buckets(t.manifest(), [merged2]) == set(range(16))


def test_bucket_read_skips_deltas_recorded_elsewhere(spark, tmp_path):
    """``read(buckets=)`` does not scan a delta whose recorded bucket set
    misses every wanted bucket; a delta without a record is still read."""
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        spark_xxhash64,
    )

    t = _mk(spark, tmp_path)
    keys = [f"k{i}" for i in range(200)]
    low = [k for k in keys if spark_xxhash64(k) % 8 < 4][:30]
    high = [k for k in keys if spark_xxhash64(k) % 8 >= 4][:30]
    for e, ks in enumerate((low, high)):
        t.merge_reduced(
            _batch(spark, [("insert", k, 100 * e + j, "g", j) for j, k in enumerate(ks)]),
            f"e{e}",
        )
    d_low, d_high = _deltas_of(t)
    assert t._delta_buckets(t.manifest(), [d_low]) <= {0, 1, 2, 3}
    b = spark_xxhash64(low[0]) % 8

    def files_of(table, d):
        return [f for f in table.read(buckets=[b]).inputFiles() if f"/{d}/" in f]

    assert files_of(t, d_low) and not files_of(t, d_high)
    assert _rows_of(t.read(buckets=[b])) == _rows_of(t.read().filter(F.col("_bucket") == b))
    legacy = _strip_bucket_records(t)
    assert files_of(legacy, d_low) and files_of(legacy, d_high)
    assert _rows_of(legacy.read(buckets=[b])) == _rows_of(t.read(buckets=[b]))


# ------------------------------------------------------ bounded delta chains


def test_derived_delta_chains_stay_bounded(spark, tmp_path):
    """Every committed span appends one delta to each derived table; the
    refresh's maybe_compact keeps the chain short, and the compaction
    (a maintenance commit) keeps the bookmark."""
    from aws_serverless_elt_pipeline_enterprise_spark.operators.secondary_index import (
        SecondaryIndex,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        refresh_views,
    )

    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["grp"], sums={"sum_val": "val"}
    )
    ix = SecondaryIndex(spark, t, str(tmp_path / "ix"), "grp", n_buckets=4)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, "abc"[i % 3], i) for i in range(6)]), "e0"
    )
    refresh_views([ma, ix])
    for e in range(1, 22):
        t.merge_reduced(
            _batch(spark, [("update", f"k{e % 6}", 10 * e, "abcd"[e % 4], e)]),
            f"e{e}",
        )
        refresh_views([ma, ix])
        assert ma.cdf_bookmark() == ix.cdf_bookmark() == t.current_version()
    for d in (ma.agg, ix.idx):
        assert len(_deltas_of(d)) < 16
        assert any(rec.get("minor_compaction") for rec in d.lineage())
    assert _materialized(ma) == _recompute(t)
    values = ["a", "b", "c", "d"]
    assert _index_rows(ix, values) == _state_rows(t, values)
