"""Optimistic concurrency on SnapshotTable commits.

The manifest version file is claimed exclusively (hard-link create — the
local-FS analogue of a conditional PUT / catalog CAS): exactly one of two
racing writers wins a version. Merge deltas rebase automatically (a global
delta is position-independent under the LWW resolve) unless a rebucket
changed the hash in between; then ``CommitConflictError`` propagates with
the epoch uncommitted and the merge is safe to re-run. The claim is the
whole commit: ``current_version`` is the largest claimed manifest name, so
there is no pointer file to lag behind a commit, and a legacy ``LATEST``
file left by older writers is ignored.

Interleavings are made deterministic by wrapping one writer's
``_commit_manifest`` so that its FIRST commit attempt lets a twin handle
(a second SnapshotTable on the same root) commit first — producing a real
version collision on the real claim path.
"""

from __future__ import annotations

import os

import pytest

from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
    CommitConflictError,
    SnapshotTable,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "op string, doc_id string, seq long, v double")


def _mk(spark, tmp_path, name="t"):
    return SnapshotTable(spark, str(tmp_path / name), key_col="doc_id", n_buckets=4)


def _state(t):
    return {r["doc_id"]: r["v"] for r in t.state().collect()}


def _interpose(t, before_first_commit):
    """Run ``before_first_commit()`` immediately before t's first commit
    attempt (after its data files are written), then let the real commit
    proceed — the twin's commit claims the version first, so t's claim
    genuinely collides."""
    real = t._commit_manifest
    fired = {"done": False}

    def wrapper(*args, **kwargs):
        if not fired["done"]:
            fired["done"] = True
            before_first_commit()
        return real(*args, **kwargs)

    t._commit_manifest = wrapper
    return fired


def test_stale_latest_file_is_ignored(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    t.merge_reduced(_batch(spark, [("insert", "b", 2, 2.0)]), "e1")
    cur = t.current_version()
    latest = os.path.join(t.root, "LATEST")
    # a legacy pointer file naming an older version
    with open(latest, "w") as f:
        f.write("v000000")
    assert t.current_version() == cur
    assert _state(t) == {"a": 1.0, "b": 2.0}
    # a legacy pointer file naming a version that does not exist
    with open(latest, "w") as f:
        f.write("v000099")
    assert t.current_version() == cur
    assert _state(t) == {"a": 1.0, "b": 2.0}
    # commits advance the version and leave the legacy file untouched
    t.merge_reduced(_batch(spark, [("insert", "c", 3, 3.0)]), "e2")
    assert t.current_version() == cur + 1
    assert _state(t) == {"a": 1.0, "b": 2.0, "c": 3.0}
    with open(latest) as f:
        assert f.read() == "v000099"


def test_twin_handle_sees_commits_past_expired_versions(spark, tmp_path):
    a = _mk(spark, tmp_path)
    for i in range(3):
        a.merge_reduced(_batch(spark, [("insert", f"k{i}", i + 1, float(i))]), f"e{i}")
    assert a.current_version() == 2
    assert len(_state(a)) == 3  # A has read (and cached) v2
    b = SnapshotTable(spark, a.root, key_col="doc_id", n_buckets=4)
    for i in range(3, 21):
        b.merge_reduced(_batch(spark, [("insert", f"k{i}", i + 1, float(i))]), f"e{i}")
    b.expire_snapshots(keep_last=2)
    # v2, which A last read, is gone; A derives v20 from the listing
    assert not os.path.exists(os.path.join(a.root, "manifests", "v000002.json"))
    assert a.current_version() == 20
    want = {f"k{i}": float(i) for i in range(21)}
    assert _state(a) == want
    got = {r["doc_id"]: r["v"] for r in a.lookup(["k0", "k20"]).collect()}
    assert got == {"k0": 0.0, "k20": 20.0}


def test_mor_concurrent_writers_both_commit(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    twin = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=4, mode="mor")
    _interpose(
        t,
        lambda: twin.merge_reduced(
            _batch(spark, [("insert", "b", 2, 2.0)]), "twin-0"
        ),
    )
    lin = t.merge_reduced(_batch(spark, [("insert", "c", 3, 3.0)]), "e1")
    assert not lin.get("skipped")
    # t rebased past the twin's version: both commits are in the chain
    assert _state(t) == {"a": 1.0, "b": 2.0, "c": 3.0}
    assert t.has_epoch("twin-0") and t.has_epoch("e1")
    assert lin["version"] == t.current_version()
    # the chain is contiguous (no clobbered version)
    m = t.manifest()
    assert len(m["global_deltas"]) == 3


def test_mor_same_epoch_twin_wins_exactly_once(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    twin = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=4, mode="mor")
    _interpose(
        t,
        lambda: twin.merge_reduced(
            _batch(spark, [("update", "a", 2, 2.0)]), "e1"
        ),
    )
    lin = t.merge_reduced(_batch(spark, [("update", "a", 2, 2.0)]), "e1")
    assert lin == {"epoch_id": "e1", "skipped": True}
    assert _state(t) == {"a": 2.0}
    # exactly one delta for e1 in the chain (plus e0's)
    assert len(t.manifest()["global_deltas"]) == 2
    # the loser's attempt-unique data dir was removed; nothing dangles
    assert t.expire_orphans() == []


def test_mor_rebases_over_concurrent_compaction(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    t.merge_reduced(_batch(spark, [("update", "a", 2, 2.0)]), "e1")
    twin = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=4, mode="mor")
    _interpose(t, lambda: twin.compact())
    lin = t.merge_reduced(_batch(spark, [("insert", "b", 3, 3.0)]), "e2")
    assert not lin.get("skipped")
    # the delta landed ON TOP of the compacted base
    m = t.manifest()
    assert m["global_deltas"] == [lin["delta_dir"]]
    assert _state(t) == {"a": 2.0, "b": 3.0}


def test_two_replay_workers_on_one_table_converge(spark, tmp_path):
    """Two replay workers racing over the SAME change log and table (the
    double-scheduled-job scenario: an orchestrator fires a backfill while
    the regular run is still going). Every epoch must apply exactly once
    — whichever worker loses a commit race resolves through the ledger
    re-check inside the rebase loop — and the final state must equal a
    single-worker replay of the same log."""
    import threading

    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        run_replay,
    )

    log = str(tmp_path / "log")
    spec = ChangelogSpec(n_events=4000, n_keys=300, n_batches=6)
    generate_changelog(spark, log, spec)

    ref = SnapshotTable(spark, str(tmp_path / "ref"), n_buckets=4, mode="mor")
    run_replay(spark, log, ref)
    expect = {(r["doc_id"], r["n_tok"]) for r in ref.state().collect()}

    root = str(tmp_path / "t")
    workers = [
        SnapshotTable(spark, root, n_buckets=4, mode="mor") for _ in range(2)
    ]
    errs: list[Exception] = []

    def work(t):
        try:
            run_replay(spark, log, t)
        except Exception as e:  # propagate to the assert below
            errs.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in workers]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []

    t = SnapshotTable(spark, root, n_buckets=4, mode="mor")
    assert {(r["doc_id"], r["n_tok"]) for r in t.state().collect()} == expect
    # each epoch exactly once: the delta chain has one dir per NON-EMPTY
    # epoch no matter how the two workers interleaved
    assert len(t.manifest()["global_deltas"]) == len(ref.manifest()["global_deltas"])
    # version chain is contiguous from 0 (no clobbered/skipped version)
    vs = sorted(row["version"] for row in t.lineage())
    assert vs == list(range(len(vs)))


def test_compact_rebases_over_concurrent_append(spark, tmp_path):
    """A scheduled full compaction under a live MOR appender: the
    compaction folds the state as of its read version; an epoch
    committed meanwhile survives as a delta ON TOP of the compacted
    base (LWW is order-free, so the resolve is identical either way)."""
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    t.merge_reduced(_batch(spark, [("update", "a", 2, 2.0)]), "e1")
    twin = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=4, mode="mor")
    _interpose(
        t,
        lambda: twin.merge_reduced(
            _batch(spark, [("insert", "b", 3, 3.0)]), "live-0"
        ),
    )
    lin = t.compact(sort_within_buckets=True)
    assert not lin.get("skipped")
    m = t.manifest()
    # folded deltas (e0, e1) gone; the live appender's delta survives
    assert len(m["global_deltas"]) == 1
    assert t.has_epoch("live-0")
    assert _state(t) == {"a": 2.0, "b": 3.0}


def test_minor_compaction_rebases_over_concurrent_append(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for i, (k, v) in enumerate([("a", 1.0), ("b", 2.0), ("a", 3.0)]):
        t.merge_reduced(_batch(spark, [("insert", k, i + 1, v)]), f"e{i}")
    twin = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=4, mode="mor")
    _interpose(
        t,
        lambda: twin.merge_reduced(
            _batch(spark, [("insert", "c", 9, 9.0)]), "live-0"
        ),
    )
    lin = t.compact_minor()
    assert lin["deltas_merged"] == 3
    m = t.manifest()
    # merged delta + the live appender's surviving delta
    assert len(m["global_deltas"]) == 2
    assert _state(t) == {"a": 3.0, "b": 2.0, "c": 9.0}


def test_concurrent_compactions_conflict_and_rerun(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    t.merge_reduced(_batch(spark, [("update", "a", 2, 2.0)]), "e1")
    twin = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=4, mode="mor")
    _interpose(t, lambda: twin.compact())
    with pytest.raises(CommitConflictError):
        t.compact()  # the twin rewrote the bucket map first
    assert _state(t) == {"a": 2.0}  # the twin's compaction is intact
    lin = t.compact()  # re-run against fresh state converges
    assert not lin.get("skipped")
    assert _state(t) == {"a": 2.0}


def test_vacuum_retention_interval_protects_in_flight_commits(spark, tmp_path):
    """expire_orphans/expire_snapshots with older_than_s: a freshly
    written (possibly in-flight) commit dir survives the sweep; a stale
    orphan is still removed. The in-flight writer then commits fine."""
    import os
    import time

    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    t.merge_reduced(_batch(spark, [("update", "a", 2, 2.0)]), "e1")
    t.compact()  # e0/e1 delta dirs become unreferenced orphans
    cdir = os.path.join(t.root, "commits")
    orphans = {
        d
        for d in os.listdir(cdir)
        if "compact" not in d
    }
    assert orphans
    # age the real orphans; then simulate a writer mid-commit (data dir
    # written, manifest claim not yet made): a FRESH unreferenced dir
    old = time.time() - 10_000
    for d in orphans:
        os.utime(os.path.join(cdir, d), (old, old))
    inflight = os.path.join(cdir, "c_000099_inflight_abc123")
    os.makedirs(inflight)
    removed = t.expire_orphans(older_than_s=600)
    assert {os.path.basename(r) for r in removed} == orphans
    assert os.path.isdir(inflight)  # survived the guarded sweep
    os.rmdir(inflight)
    # zero interval keeps the single-operator semantics (sweeps everything)
    t.merge_reduced(_batch(spark, [("update", "a", 3, 3.0)]), "e2")
    t.compact()
    assert t.expire_orphans() != []
    assert _state(t) == {"a": 3.0}


def test_three_workers_with_inline_compaction_converge(spark, tmp_path):
    """Stress: THREE replay workers racing one table, each compacting
    inline every 2 deltas (maybe_compact -> compact_minor, the rebase
    path under real contention). Final state must equal a single-worker
    replay; every epoch applies exactly once."""
    import threading

    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        run_replay,
    )

    log = str(tmp_path / "log")
    generate_changelog(
        spark, log, ChangelogSpec(n_events=3000, n_keys=250, n_batches=5)
    )
    ref = SnapshotTable(spark, str(tmp_path / "ref"), n_buckets=4, mode="mor")
    run_replay(spark, log, ref)
    expect = {(r["doc_id"], r["n_tok"]) for r in ref.state().collect()}

    root = str(tmp_path / "t")
    errs: list[Exception] = []

    def work():
        t = SnapshotTable(spark, root, n_buckets=4, mode="mor")
        try:
            # maybe_compact swallows lost maintenance races by contract
            # (policy hook), so NO exception may escape a worker
            run_replay(spark, log, t, compact_every=2)
        except Exception as e:
            errs.append(e)

    threads = [threading.Thread(target=work) for _ in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []

    t = SnapshotTable(spark, root, n_buckets=4, mode="mor")
    assert {(r["doc_id"], r["n_tok"]) for r in t.state().collect()} == expect
    # every log epoch in the ledger, versions contiguous
    for e in [f"batch_{i:05d}" for i in range(5)]:
        assert t.has_epoch(e)
    vs = sorted(row["version"] for row in t.lineage())
    assert vs == list(range(vs[0], vs[0] + len(vs)))  # expire may trim head


# ---- rebase-validation fixes (round-5 self-review findings) ----


def test_mor_append_conflicts_with_concurrent_rebucket(spark, tmp_path):
    """A MOR delta hashed under the old bucket count must NOT rebase over
    a winning rebucket (its _bucket values would poison pruning): the
    merge raises, adopts the new count, and the re-run lands correctly."""
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    twin = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=4, mode="mor")
    _interpose(t, lambda: twin.rebucket(16))
    with pytest.raises(CommitConflictError, match="rebucketted"):
        t.merge_reduced(_batch(spark, [("insert", "b", 2, 2.0)]), "e1")
    assert t.n_buckets == 16  # adopted the evolved count
    assert not t.has_epoch("e1")
    lin = t.merge_reduced(_batch(spark, [("insert", "b", 2, 2.0)]), "e1")
    assert not lin.get("skipped")
    assert _state(t) == {"a": 1.0, "b": 2.0}
    # the probe hashes with the new count and still lands
    assert [r["v"] for r in t.lookup(["b"]).collect()] == [2.0]


def test_schema_evolution_survives_rebase(spark, tmp_path):
    """A loser rebasing over a schema-evolving winner must commit the
    UNIFIED schema — the winner's new column stays readable."""
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    twin = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=4, mode="mor")
    wide = spark.createDataFrame(
        [("insert", "w1", 2, 2.0, 42)],
        "op string, doc_id string, seq long, v double, extra long",
    )
    _interpose(t, lambda: twin.merge_reduced(wide, "twin-0"))
    t.merge_reduced(_batch(spark, [("insert", "c", 3, 3.0)]), "e1")
    # the rebased manifest's schema kept the winner's new column...
    assert "extra" in [f.name for f in t.schema().fields]
    # ...and its stored value is still visible
    rows = {r["doc_id"]: r["extra"] for r in t.state().collect()}
    assert rows == {"a": None, "w1": 42, "c": None}


def test_purge_compaction_conflicts_with_concurrent_minor(spark, tmp_path):
    """compact(purge_tombstones_below_seq=) losing to a concurrent minor
    compaction must RAISE, not rebase: the minor's merged delta still
    carries the tombstones the purge claims to remove (GDPR physical
    erasure would silently fail)."""
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    t.merge_reduced(_batch(spark, [("delete", "a", 2, 0.0)]), "e1")
    t.merge_reduced(_batch(spark, [("insert", "b", 3, 3.0)]), "e2")
    twin = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=4, mode="mor")
    _interpose(t, lambda: twin.compact_minor())
    with pytest.raises(CommitConflictError, match="folded"):
        t.compact(purge_tombstones_below_seq=10)
    # re-run against fresh state: tombstone physically gone
    t.compact(purge_tombstones_below_seq=10)
    raw = t.read(resolve=False)
    assert raw.filter("doc_id = 'a'").count() == 0
    assert _state(t) == {"b": 3.0}


def test_concurrent_minor_compactions_do_not_stack(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for i, (k, v) in enumerate([("a", 1.0), ("b", 2.0), ("c", 3.0)]):
        t.merge_reduced(_batch(spark, [("insert", k, i + 1, v)]), f"e{i}")
    twin = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=4, mode="mor")
    _interpose(t, lambda: twin.compact_minor())
    with pytest.raises(CommitConflictError, match="folded"):
        t.compact_minor()
    # exactly ONE merged delta in the chain — no duplicate span
    assert len(t.manifest()["global_deltas"]) == 1
    assert _state(t) == {"a": 1.0, "b": 2.0, "c": 3.0}


def test_expire_snapshots_guards_claim_markers(spark, tmp_path):
    import os
    import time

    t = _mk(spark, tmp_path)
    for i in range(12):
        t.merge_reduced(
            _batch(spark, [("insert", f"k{i}", i + 1, float(i))]), f"e{i}"
        )
    cur = t.current_version()
    t.expire_snapshots(keep_last=4)
    assert t.current_version() == cur
    assert t.manifest() is not None  # head manifest readable
    assert len(_state(t)) == 12
    # manifest retention: a fresh below-horizon manifest (a claim marker
    # a stalled writer may still target) survives when older_than_s is set
    t.merge_reduced(_batch(spark, [("insert", "z", 99, 9.0)]), "ez")
    mdir = os.path.join(t.root, "manifests")
    kept_before = set(os.listdir(mdir))
    out = t.expire_snapshots(keep_last=1, older_than_s=3600)
    assert out["removed_manifests"] == []  # all markers younger than 1h
    assert set(os.listdir(mdir)) == kept_before
