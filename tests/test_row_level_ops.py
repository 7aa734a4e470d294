"""Bulk row-level DELETE/UPDATE WHERE (Delta DELETE FROM / UPDATE
analogue) and their interplay with CDF, consumers, and compliance
purge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "op string, doc_id string, seq long, v double, cat string"
    )


def _mk(spark, tmp_path, mode="mor"):
    t = SnapshotTable(
        spark, str(tmp_path / "t"), key_col="doc_id", n_buckets=4, mode=mode
    )
    t.merge_reduced(
        _batch(
            spark,
            [("insert", f"k{i}", i, float(i), "red" if i % 3 == 0 else "blue")
             for i in range(30)],
        ),
        "e0",
    )
    return t


@pytest.mark.parametrize("mode", ["mor"])
def test_delete_where_tombstones_matches(spark, tmp_path, mode):
    t = _mk(spark, tmp_path / mode, mode=mode)
    v0 = t.current_version()
    r = t.delete_where(F.col("cat") == "red", "erase-red")
    assert not r.get("skipped")
    assert t.state().filter(F.col("cat") == "red").count() == 0
    assert t.state().count() == 20
    # idempotent under replay (ledger)
    assert t.delete_where(F.col("cat") == "red", "erase-red")["skipped"]
    # CDF reports the erasure as deletes
    ch = t.changes(v0).collect()
    assert len(ch) == 10 and all(r_["_change_type"] == "delete" for r_ in ch)
    # time travel still sees the pre-erasure rows until expiry
    assert t.state(v0).filter(F.col("cat") == "red").count() == 10
    # full compliance purge: tombstones + old versions + old bytes go
    t.compact(purge_tombstones_below_seq=t._next_seq())
    t.expire_snapshots(keep_last=1)
    raw = t.read(resolve=False)
    assert raw.filter(F.col("cat") == "red").count() == 0  # bytes gone
    assert t.state().count() == 20


def test_delete_where_late_lower_seq_update_cannot_resurrect(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where(F.col("doc_id") == "k1", "erase-k1")
    # a replayed/late event for k1 with an old seq must stay dead
    t.merge_reduced(
        _batch(spark, [("update", "k1", 5, 99.0, "blue")]), "late-e"
    )
    assert t.state().filter(F.col("doc_id") == "k1").count() == 0


def test_update_where_rewrites_matches_with_expressions(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v0 = t.current_version()
    t.update_where(
        F.col("cat") == "red",
        {"v": F.col("v") * 10, "cat": "crimson"},
        "bulk-up",
    )
    got = {r["doc_id"]: (r["v"], r["cat"]) for r in t.state().collect()}
    assert got["k0"] == (0.0, "crimson") and got["k3"] == (30.0, "crimson")
    assert got["k1"] == (1.0, "blue")  # non-matching untouched
    assert t.update_where(F.col("cat") == "x", {"v": 0.0}, "bulk-up")["skipped"]
    ch = t.changes(v0).collect()
    assert len(ch) == 10 and all(r_["_change_type"] == "update" for r_ in ch)
    with pytest.raises(ValueError, match="key/bucket"):
        t.update_where(F.lit(True), {"doc_id": "z"}, "bad")


def test_row_level_ops_flow_through_cdf_consumers(spark, tmp_path):
    from aws_serverless_elt_pipeline_enterprise_spark.operators.incremental_agg import (
        MaterializedAggregate,
    )

    t = _mk(spark, tmp_path)
    ma = MaterializedAggregate(
        spark, t, str(tmp_path / "mv"), ["cat"], sums={"sv": "seqish"}
    )
    # give the agg an integer sum column to retract
    t.update_where(F.lit(True), {"seqish": F.lit(1)}, "add-seqish")
    ma.refresh()
    before = {r["cat"]: r["cnt"] for r in ma.result().collect()}
    assert before == {"red": 10, "blue": 20}
    t.delete_where(F.col("cat") == "red", "erase-red")
    ma.refresh()  # O(epoch) retraction, not a rebuild
    after = {r["cat"]: r["cnt"] for r in ma.result().collect()}
    assert after == {"blue": 20}


def test_delete_keys_is_bucket_pruned(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "t"), key_col="doc_id", n_buckets=16, mode="mor"
    )
    t.merge_reduced(
        _batch(
            spark,
            [("insert", f"k{i}", i, float(i), "blue") for i in range(400)],
        ),
        "e0",
    )
    t.compact()  # all data in bucket files, no global deltas
    targets = ["k7", "k8"]
    bs = t.buckets_for(targets)
    # the probe reads only the targets' buckets (files-read assertion)
    probe = (
        t.read(buckets=bs)
        .filter(F.col("doc_id").isin(*targets))
        .select(F.input_file_name())
        .distinct()
        .collect()
    )
    files_read = {r[0] for r in probe}
    all_files = {
        r[0]
        for r in t.read().select(F.input_file_name()).distinct().collect()
    }
    assert files_read and len(files_read) < len(all_files)
    r = t.delete_keys(targets, "erase-k7k8")
    assert not r.get("skipped")
    assert t.state().filter(F.col("doc_id").isin(*targets)).count() == 0
    assert t.state().count() == 398
    # idempotent; and a late lower-seq event stays dead
    assert t.delete_keys(targets, "erase-k7k8")["skipped"]
    t.merge_reduced(_batch(spark, [("update", "k7", 3, 9.9, "red")]), "late")
    assert t.state().filter(F.col("doc_id") == "k7").count() == 0
    # a genuinely LATER event rightfully re-creates the key
    t.merge_reduced(
        _batch(spark, [("insert", "k7", 10_000, 1.0, "red")]), "rebirth"
    )
    assert t.state().filter(F.col("doc_id") == "k7").count() == 1
