"""Change-data-feed reader: SnapshotTable.changes(v_from, v_to)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable


def _batch(spark, rows):
    return spark.createDataFrame(rows, "op string, doc_id string, seq long, v double")


def _mk(spark, tmp_path, mode="mor", n_buckets=8):
    return SnapshotTable(
        spark, str(tmp_path / "t"), key_col="doc_id", n_buckets=n_buckets, mode=mode
    )


@pytest.mark.parametrize("mode", ["mor"])
def test_changes_classifies_insert_update_delete(spark, tmp_path, mode):
    t = _mk(spark, tmp_path / mode, mode=mode)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, float(i)) for i in range(1, 6)]), "e0"
    )
    v1 = t.current_version()
    t.merge_reduced(
        _batch(
            spark,
            [
                ("update", "k2", 100, 22.0),
                ("delete", "k3", 101, 0.0),
                ("insert", "k6", 102, 6.0),
            ],
        ),
        "e1",
    )
    v2 = t.current_version()

    got = {r["doc_id"]: r for r in t.changes(v1, v2).collect()}
    assert {k: r["_change_type"] for k, r in got.items()} == {
        "k2": "update",
        "k3": "delete",
        "k6": "insert",
    }
    assert got["k2"]["v"] == 22.0        # post-image
    assert got["k3"]["v"] == 3.0         # pre-image of the deleted row
    assert got["k6"]["v"] == 6.0
    # from-empty diff: everything visible at v1 is an insert
    base = t.changes(None, v1).collect()
    assert sorted(r["doc_id"] for r in base) == [f"k{i}" for i in range(1, 6)]
    assert all(r["_change_type"] == "insert" for r in base)
    # self-diff is empty
    assert t.changes(v1, v1).count() == 0
    # default v_to = latest
    assert t.changes(v1).count() == 3


def test_changes_pure_compaction_is_empty_and_replay_invisible(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, float(i)) for i in range(10)]), "e0"
    )
    v1 = t.current_version()
    t.compact()
    v2 = t.current_version()
    assert v2 > v1
    assert t.changes(v1, v2).count() == 0  # files moved, state identical
    # replaying an already-committed epoch changes nothing either
    t.merge_reduced(
        _batch(spark, [("insert", "k0", 0, 0.0)]), "e0"
    )
    assert t.changes(v2, t.current_version()).count() == 0


def test_changes_delete_then_reinsert_across_range(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    v1 = t.current_version()
    t.merge_reduced(_batch(spark, [("delete", "a", 2, 0.0)]), "e1")
    t.merge_reduced(_batch(spark, [("insert", "a", 3, 9.0)]), "e2")
    # net effect across the range: still visible, new seq -> one update
    got = t.changes(v1).collect()
    assert len(got) == 1
    assert got[0]["_change_type"] == "update" and got[0]["v"] == 9.0


def test_changes_bucket_pruning_covers_exactly_touched_buckets(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=32)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, float(i)) for i in range(64)]), "e0"
    )
    v1 = t.current_version()
    t.merge_reduced(_batch(spark, [("update", "k7", 1000, 77.0)]), "e1")
    v2 = t.current_version()
    out = t.changes(v1, v2)
    assert [(r["doc_id"], r["_change_type"], r["v"]) for r in out.collect()] == [
        ("k7", "update", 77.0)
    ]
    # the diff's scan is pruned: with one updated key, the candidate set
    # is the single delta's bucket, so far fewer rows than 2x64 enter the
    # join (read both sides of the plan via the scan row counts)
    touched = (
        t.read(v2, buckets=None, resolve=False)
        .filter(F.col("doc_id") == "k7")
        .select("_bucket")
        .first()[0]
    )
    before = t.read(v1, buckets=[touched]).count()
    assert before <= 8  # ~64/32 keys per bucket; the diff reads only these


def test_changes_missing_version_raises(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    with pytest.raises(ValueError):
        t.changes(999, None)
    with pytest.raises(ValueError):
        t.changes(None, 999)


def test_compact_sort_within_buckets(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    t = _mk(spark, tmp_path, n_buckets=4)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i:03d}", i, float(i)) for i in range(200)]),
        "e0",
    )
    t.compact(sort_within_buckets=True)
    # state unchanged by the sorted rewrite
    assert t.state().count() == 200
    # every data file is key-sorted -> its row-group min/max are disjoint
    files = glob.glob(str(tmp_path / "t" / "commits" / "*compact*" / "_bucket=*" / "*.parquet"))
    assert files
    for f in files:
        keys = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        assert keys == sorted(keys)
    # lookup still pushes the key filter to the scan (row-group skipping)
    plan = t.lookup(["k007"])._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "doc_id" in plan
    assert [r["v"] for r in t.lookup(["k007"]).collect()] == [7.0]


def test_changes_applied_to_before_state_reproduce_after_state(spark, tmp_path):
    """CDF soundness invariant: state(v1) patched with changes(v1, v2)
    equals state(v2), for random op sequences and every version pair."""
    import random

    rng = random.Random(42)
    t = _mk(spark, tmp_path, n_buckets=8)
    seq = 0
    for e in range(4):
        rows = []
        for _ in range(40):
            k = f"k{rng.randrange(25)}"
            op = rng.choice(["insert", "update", "update", "delete"])
            seq += 1
            rows.append((op, k, seq, float(seq)))
        t.merge_reduced(_batch(spark, rows), f"e{e}")
    versions = [None] + list(range(t.current_version() + 1))
    pairs = [(versions[1], versions[-1]), (None, versions[-1]), (versions[2], versions[3])]
    for v1, v2 in pairs:
        before = {r["doc_id"]: r["v"] for r in (
            t.state(v1).collect() if v1 is not None else []
        )}
        after = {r["doc_id"]: r["v"] for r in t.state(v2).collect()}
        patched = dict(before)
        for r in t.changes(v1, v2).collect():
            if r["_change_type"] == "delete":
                patched.pop(r["doc_id"])
            else:
                patched[r["doc_id"]] = r["v"]
        assert patched == after, (v1, v2)


def test_read_changes_since_bookmark_protocol(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, float(i)) for i in range(5)]), "e0"
    )
    # first call: bootstrap-shaped (None bookmark -> all inserts)
    ch, bm, boot = t.read_changes_since(None)
    assert ch.count() == 5 and bm == t.current_version() and boot is False
    # caught up: empty frame, same bookmark, changes() schema preserved
    ch2, bm2, boot2 = t.read_changes_since(bm)
    assert ch2.count() == 0 and bm2 == bm and boot2 is False
    assert ch2.columns == ch.columns
    # advance and consume incrementally
    t.merge_reduced(_batch(spark, [("update", "k1", 100, 11.0)]), "e1")
    ch3, bm3, _ = t.read_changes_since(bm)
    assert [(r["doc_id"], r["_change_type"]) for r in ch3.collect()] == [
        ("k1", "update")
    ]
    assert bm3 == t.current_version()


def test_read_changes_since_expired_bookmark_bootstraps(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    stale = t.current_version()
    for i in range(12):
        t.merge_reduced(_batch(spark, [("update", "a", 10 + i, float(i))]), f"e{i+1}")
    t.compact()
    t.expire_snapshots(keep_last=2)
    ch, bm, boot = t.read_changes_since(stale)
    assert boot is True and bm == t.current_version()
    rows = ch.collect()
    assert [(r["doc_id"], r["_change_type"]) for r in rows] == [("a", "insert")]
    assert rows[0]["v"] == 11.0  # current state, replace-not-patch


def test_changes_mor_only_span_narrows_to_delta_keys(spark, tmp_path):
    """For a span of MOR deltas (bucket lists unchanged) the diff is
    narrowed to the added deltas' keys: a small span becomes a literal
    key predicate pushed into the parquet scan; a larger one a
    pre-resolve LeftSemi on both sides. A compaction in the span
    disables narrowing entirely."""
    t = _mk(spark, tmp_path)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, float(i)) for i in range(500)]), "e0"
    )
    v1 = t.current_version()
    t.merge_reduced(_batch(spark, [("update", "k3", 100, 33.0)]), "e1")
    # small tier: one touched key -> IN-list predicate, no semi-join,
    # and the predicate reaches the scan (PushedFilters on doc_id)
    phys = t.changes(v1)._jdf.queryExecution().executedPlan().toString()
    opt = t.changes(v1)._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" not in opt
    assert "k3" in opt  # the literal key appears as a filter value
    assert "PushedFilters: [" in phys and "doc_id" in phys.split(
        "PushedFilters: ["
    )[1].split("]")[0]
    assert [(r["doc_id"], r["v"]) for r in t.changes(v1).collect()] == [
        ("k3", 33.0)
    ]
    # large tier: force the IN-list cap down -> pre-resolve semi-join
    t.NARROW_INLIST_MAX = 0
    opt2 = t.changes(v1)._jdf.queryExecution().optimizedPlan().toString()
    assert opt2.count("LeftSemi") == 2
    assert [(r["doc_id"], r["v"]) for r in t.changes(v1).collect()] == [
        ("k3", 33.0)
    ]
    del t.NARROW_INLIST_MAX
    # compaction rewrites bucket lists -> narrowing off, result identical
    t.compact()
    t.merge_reduced(_batch(spark, [("update", "k4", 101, 44.0)]), "e2")
    opt3 = t.changes(v1)._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" not in opt3 and "k3" not in opt3
    assert sorted(
        (r["doc_id"], r["v"]) for r in t.changes(v1).collect()
    ) == [("k3", 33.0), ("k4", 44.0)]
