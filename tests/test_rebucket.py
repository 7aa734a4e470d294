"""Online bucket-count evolution: SnapshotTable.rebucket."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable


def _batch(spark, rows):
    return spark.createDataFrame(rows, "op string, doc_id string, seq long, v double")


def _mk(spark, tmp_path, n_buckets=4, mode="mor"):
    return SnapshotTable(
        spark, str(tmp_path / "t"), key_col="doc_id", n_buckets=n_buckets, mode=mode
    )


@pytest.mark.parametrize("mode", ["mor"])
def test_rebucket_preserves_state_and_serves_lookups(spark, tmp_path, mode):
    t = _mk(spark, tmp_path / mode, n_buckets=4, mode=mode)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, float(i)) for i in range(100)]), "e0"
    )
    t.merge_reduced(_batch(spark, [("delete", "k5", 200, 0.0)]), "e1")
    before = {r["doc_id"]: r["v"] for r in t.state().collect()}
    info = t.rebucket(16)
    assert info["rebucket"] == {"from": 4, "to": 16}
    assert t.n_buckets == 16
    after = {r["doc_id"]: r["v"] for r in t.state().collect()}
    assert after == before
    # lookups hash with the NEW count and still land
    assert [r["v"] for r in t.lookup(["k7"]).collect()] == [7.0]
    assert t.lookup(["k5"]).count() == 0  # tombstone survived the rewrite
    # physical layout actually uses 16 buckets now
    cdir = os.path.join(str(tmp_path / mode / "t"), "commits")
    reb = [d for d in os.listdir(cdir) if "_rebucket_" in d]
    assert len(reb) == 1
    nb = len(
        [d for d in os.listdir(os.path.join(cdir, reb[0])) if d.startswith("_bucket=")]
    )
    assert 4 < nb <= 16


def test_rebucket_is_change_invisible_and_ledger_preserving(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, float(i)) for i in range(50)]), "e0"
    )
    v1 = t.current_version()
    t.rebucket(8)
    v2 = t.current_version()
    # pure rebucket: zero changes across the boundary (same-_seq filter)
    assert t.changes(v1, v2).count() == 0
    # replaying a committed epoch after the rebucket still skips
    assert t.merge_reduced(
        _batch(spark, [("insert", "k0", 0, 999.0)]), "e0"
    )["skipped"] is True
    assert t.state().filter("doc_id = 'k0'").first()["v"] == 0.0


def test_rebucket_time_travel_probes_old_layout_correctly(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=3)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, float(i)) for i in range(60)]), "e0"
    )
    v_old = t.current_version()
    t.rebucket(13)
    t.merge_reduced(_batch(spark, [("update", "k1", 100, 111.0)]), "e1")
    # probing the OLD snapshot must hash with the OLD bucket count
    assert t._n_buckets_at(v_old) == 3 and t.n_buckets == 13
    assert [r["v"] for r in t.lookup(["k1"], version=v_old).collect()] == [1.0]
    assert [r["v"] for r in t.lookup(["k1"]).collect()] == [111.0]


def test_merges_after_rebucket_use_new_bucketing(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=2)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, float(i)) for i in range(20)]), "e0"
    )
    t.rebucket(8)
    t.merge_reduced(
        _batch(spark, [("update", f"k{i}", 100 + i, float(i) * 2) for i in range(20)]),
        "e1",
    )
    t.compact()
    # every row's stored _bucket matches the NEW hash
    rows = t.read(resolve=False).select("doc_id", "_bucket").collect()
    for r in rows:
        want = (
            spark.range(1)
            .select(F.pmod(F.xxhash64(F.lit(r["doc_id"])), F.lit(8)).cast("int"))
            .first()[0]
        )
        assert r["_bucket"] == want, r
    assert {x["doc_id"]: x["v"] for x in t.state().collect()} == {
        f"k{i}": float(i) * 2 for i in range(20)
    }
    # a reopened handle adopts the evolved count from the manifest
    t2 = SnapshotTable(spark, t.root, key_col="doc_id", n_buckets=2, mode="mor")
    assert t2.n_buckets == 8


def test_rebucket_noop_and_validation(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=4)
    assert t.rebucket(9)["skipped"] is True  # nothing committed yet
    assert t.n_buckets == 9
    t.merge_reduced(_batch(spark, [("insert", "a", 1, 1.0)]), "e0")
    assert t.rebucket(9)["skipped"] is True  # same count
    with pytest.raises(ValueError):
        t.rebucket(0)


def test_bucket_col_type_evolution_rejected(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "t"), key_col="k", n_buckets=4, mode="mor"
    )
    t.merge_reduced(
        spark.createDataFrame(
            [("insert", 1, 1, 1.0)], "op string, k int, seq long, v double"
        ),
        "e0",
    )
    with pytest.raises(ValueError, match="bucket hash is type-sensitive"):
        t.merge_reduced(
            spark.createDataFrame(
                [("insert", 2**40, 2, 2.0)], "op string, k long, seq long, v double"
            ),
            "e1",
        )
