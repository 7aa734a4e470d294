"""The single optimistic-commit loop behind every SnapshotTable commit.

Every committed lineage record carries ``commit_attempts`` (1 when the
first claim wins, one more per lost race) and times itself: ``write_s``,
``footers_s`` and ``commit_s`` in seconds plus ``bytes_written``. A
commit that loses the version race ``_COMMIT_ATTEMPTS`` times in a row
gives up with ``CommitConflictError``, leaving the epoch uncommitted and
its data dir a vacuumable orphan.
"""

from __future__ import annotations

import os
import time

import pytest

from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
    _COMMIT_ATTEMPTS,
    CommitConflictError,
    SnapshotTable,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "op string, doc_id string, seq long, v double")


def _mk(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "t"), key_col="doc_id", n_buckets=4)


def test_commit_attempts_recorded_in_lineage(spark, tmp_path):
    t = _mk(spark, tmp_path)
    first = t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    assert first["commit_attempts"] == 1  # uncontended
    twin = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=4, mode="mor")
    real = t._commit_manifest
    calls = []

    def twin_commits_first(*args, **kwargs):
        # the twin claims the version t's first attempt targets, so t's
        # claim genuinely collides and t rebases onto the twin's commit
        if not calls:
            calls.append(
                twin.merge_reduced(_batch(spark, [("insert", "b", 2, 2.0)]), "twin-0")
            )
        return real(*args, **kwargs)

    t._commit_manifest = twin_commits_first
    lin = t.merge_reduced(_batch(spark, [("insert", "c", 3, 3.0)]), "e1")
    assert calls[0]["commit_attempts"] == 1
    assert lin["commit_attempts"] == 2
    # the record is what the manifest stores, not just the return value
    assert t.lineage()[-1] == lin
    assert [r["commit_attempts"] for r in t.lineage()] == [1, 1, 2]


PHASES = ("write_s", "footers_s", "commit_s")


@pytest.mark.parametrize("op", ["merge", "compact", "compact_minor", "rebucket"])
def test_lineage_times_each_commit(spark, tmp_path, op):
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0), ("insert", "b", 2, 2.0)]), "e0")
    t.merge_reduced(_batch(spark, [("update", "a", 3, 3.0), ("delete", "b", 4, None)]), "e1")
    commit = {
        "merge": lambda: t.merge_reduced(_batch(spark, [("insert", "c", 5, 5.0)]), "e2"),
        "compact": t.compact,
        "compact_minor": t.compact_minor,
        "rebucket": lambda: t.rebucket(8),
    }[op]
    before = t.manifest()
    t0 = time.perf_counter()
    rec = commit()
    wall = time.perf_counter() - t0
    assert t.lineage()[-1] == rec
    for name in PHASES:
        assert type(rec[name]) is float and rec[name] >= 0, (name, rec[name])
    assert rec["write_s"] > 0
    if op != "merge":
        assert rec["footers_s"] == 0.0  # only a merge reads its delta's footers
    assert sum(rec[name] for name in PHASES) <= wall
    after = t.manifest()
    (new_dir,) = set(after["dir_bytes"]) - set(before["dir_bytes"])
    assert type(rec["bytes_written"]) is int
    assert rec["bytes_written"] == after["dir_bytes"][new_dir] > 0


def test_merge_lineage_loads_as_a_dataframe(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for i in range(3):
        t.merge_reduced(_batch(spark, [("insert", f"k{i}", i, float(i))]), f"e{i}")
    df = spark.createDataFrame(t.lineage())
    types = dict(df.dtypes)
    assert {types[name] for name in PHASES} == {"double"}
    assert types["bytes_written"] == "bigint"
    assert [r.epoch_id for r in df.orderBy("version").collect()] == ["e0", "e1", "e2"]


def _mor_append(spark, t):
    t.merge_reduced(_batch(spark, [("insert", "b", 2, 2.0)]), "e1")


def _compact(spark, t):
    t.compact()


@pytest.mark.parametrize(
    "commit", [_mor_append, _compact], ids=["mor_append", "compact"]
)
def test_retry_exhaustion_leaves_epoch_uncommitted(spark, tmp_path, commit):
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    before = t.current_version()
    live = set(os.listdir(os.path.join(t.root, "commits")))
    attempts = []

    def always_lose(*args, **kwargs):
        attempts.append(1)
        raise CommitConflictError("version taken")

    t._commit_manifest = always_lose
    with pytest.raises(CommitConflictError, match="lost the version race"):
        commit(spark, t)
    assert len(attempts) == _COMMIT_ATTEMPTS == 16
    assert not t.has_epoch("e1")
    assert t.current_version() == before
    # the written dir is an unreferenced orphan, removed by the vacuum
    written = set(os.listdir(os.path.join(t.root, "commits"))) - live
    assert len(written) == 1
    removed = {os.path.basename(d) for d in t.expire_orphans()}
    assert written <= removed
    assert {r["doc_id"]: r["v"] for r in t.state().collect()} == {"a": 1.0}
