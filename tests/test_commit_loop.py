"""The single optimistic-commit loop behind every SnapshotTable commit.

Every committed lineage record carries ``commit_attempts`` (1 when the
first claim wins, one more per lost race), and a commit that loses the
version race ``_COMMIT_ATTEMPTS`` times in a row gives up with
``CommitConflictError``, leaving the epoch uncommitted and its data dir
a vacuumable orphan.
"""

from __future__ import annotations

import os

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
