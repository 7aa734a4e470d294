"""Value-clustered tables (bucket_col) and the CDF-maintained
SecondaryIndex (operators/secondary_index.py)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.operators.secondary_index import (
    SecondaryIndex,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "op string, doc_id string, seq long, color string, val long"
    )


def _src(spark, tmp_path, n_buckets=8):
    return SnapshotTable(
        spark, str(tmp_path / "src"), key_col="doc_id", n_buckets=n_buckets, mode="mor"
    )


def _expected(t):
    return {
        (r["color"], r["doc_id"]) for r in t.state().select("color", "doc_id").collect()
    }


# ----------------------------------------------------------- bucket_col core


def test_bucket_col_persisted_and_adopted(spark, tmp_path):
    t = SnapshotTable(
        spark,
        str(tmp_path / "t"),
        key_col="k",
        bucket_col="v",
        n_buckets=4,
        mode="mor",
    )
    t.merge_reduced(
        spark.createDataFrame(
            [("insert", "a", 1, "x"), ("insert", "b", 2, "y")],
            "op string, k string, seq long, v string",
        ),
        "e0",
    )
    # reopen WITHOUT bucket_col: adopted from the manifest
    t2 = SnapshotTable(spark, str(tmp_path / "t"), key_col="k", mode="mor")
    assert t2.bucket_col == "v"
    # rows landed in the bucket their VALUE hashes to
    for row in t2.read(resolve=False).select("v", "_bucket").collect():
        assert row["_bucket"] == (
            spark.range(1)
            .select(
                F.pmod(F.xxhash64(F.lit(row["v"])), F.lit(4)).cast("int")
            )
            .first()[0]
        )
    # key-probe lookup on a value-clustered table cannot bucket-prune,
    # but must still return the right rows (full-scan fallback)
    assert [r["v"] for r in t2.lookup(["a"]).collect()] == ["x"]


# ------------------------------------------------------------- index parity


def test_index_maintained_through_epochs_matches_state(spark, tmp_path):
    t = _src(spark, tmp_path)
    ix = SecondaryIndex(spark, t, str(tmp_path / "ix"), "color", n_buckets=8)
    t.merge_reduced(
        _batch(
            spark,
            [("insert", f"k{i}", i, ["red", "green", "blue"][i % 3], i) for i in range(12)],
        ),
        "e0",
    )
    ix.refresh()  # bootstrap
    got = {
        (r["color"], r["doc_id"]) for r in ix.lookup(["red", "green", "blue"]).collect()
    }
    assert got == _expected(t)

    # value change (moves index entry), delete, insert, value->NULL
    t.merge_reduced(
        _batch(
            spark,
            [
                ("update", "k0", 100, "blue", 5),   # red -> blue
                ("delete", "k1", 101, None, None),
                ("insert", "k20", 102, "red", 7),
                ("update", "k2", 103, None, 9),     # blue -> NULL
            ],
        ),
        "e1",
    )
    info = ix.refresh()
    assert info["bootstrapped"] is False
    got = {
        (r["color"], r["doc_id"])
        for r in ix.lookup(["red", "green", "blue", None]).collect()
    }
    assert got == _expected(t)
    # the moved doc is found under its NEW value only
    reds = {r["doc_id"] for r in ix.lookup(["red"]).collect()}
    assert "k0" not in reds and "k20" in reds
    blues = {r["doc_id"] for r in ix.lookup(["blue"]).collect()}
    assert "k0" in blues and "k2" not in blues
    # NULL probe finds the nulled doc
    assert {r["doc_id"] for r in ix.lookup([None]).collect()} == {"k2"}


def test_value_unchanged_update_keeps_entry(spark, tmp_path):
    """An update that changes OTHER columns but not the indexed value
    yields remove+add of the same entry in one span — add must win."""
    t = _src(spark, tmp_path)
    ix = SecondaryIndex(spark, t, str(tmp_path / "ix"), "color")
    t.merge_reduced(_batch(spark, [("insert", "a", 1, "red", 1)]), "e0")
    ix.refresh()
    t.merge_reduced(_batch(spark, [("update", "a", 2, "red", 99)]), "e1")
    ix.refresh()
    assert {r["doc_id"] for r in ix.lookup(["red"]).collect()} == {"a"}


def test_lookup_rows_end_to_end(spark, tmp_path):
    t = _src(spark, tmp_path)
    ix = SecondaryIndex(spark, t, str(tmp_path / "ix"), "color")
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, "red" if i < 3 else "blue", i * 10) for i in range(10)]),
        "e0",
    )
    ix.refresh()
    rows = {(r["doc_id"], r["val"]) for r in ix.lookup_rows(["red"]).collect()}
    assert rows == {("k0", 0), ("k1", 10), ("k2", 20)}
    # empty probe result -> empty frame with the source state schema
    assert ix.lookup_rows(["chartreuse"]).count() == 0


def test_index_lookup_is_bucket_pruned(spark, tmp_path):
    """The value probe must read only the probed value's bucket files."""
    t = _src(spark, tmp_path)
    ix = SecondaryIndex(spark, t, str(tmp_path / "ix"), "color", n_buckets=16)
    t.merge_reduced(
        _batch(
            spark,
            [("insert", f"k{i}", i, f"c{i % 50}", i) for i in range(400)],
        ),
        "e0",
    )
    ix.refresh()
    ix.idx.compact()  # one dir per bucket -> countable
    [b] = ix.idx.buckets_for(["c7"])
    files = glob.glob(str(tmp_path / "ix" / "idx" / "commits" / "*" / "_bucket=*" / "*.parquet"))
    probe_files = {
        f for f in files if f"_bucket={b}/" in f
    }
    assert probe_files and len(probe_files) < len(files)
    got = {r["doc_id"] for r in ix.lookup(["c7"]).collect()}
    assert got == {f"k{i}" for i in range(400) if i % 50 == 7}
    # files ACTUALLY read by the probe: only the probed bucket's
    # (input_file_name on the executed pruned scan — the r4 IVF pattern)
    probe = ix.idx.read(buckets=[b])
    files_read = {
        r[0].removeprefix("file://")
        for r in probe.select(F.input_file_name()).distinct().collect()
    }
    assert files_read and files_read <= probe_files


def test_index_exactly_once_stale_bookmark(spark, tmp_path):
    t = _src(spark, tmp_path)
    ix = SecondaryIndex(spark, t, str(tmp_path / "ix"), "color")
    t.merge_reduced(_batch(spark, [("insert", "a", 1, "red", 1)]), "e0")
    ix.refresh()
    bm1 = ix.cdf_bookmark()
    t.merge_reduced(_batch(spark, [("update", "a", 2, "blue", 1)]), "e1")
    ix.refresh()
    # a legacy bookmark file rewound (an older writer's crash), source
    # advances further: the ledger-derived bookmark ignores the file
    with open(os.path.join(ix.path, "bookmark.json"), "w") as f:
        json.dump({"last_version": bm1}, f)
    t.merge_reduced(_batch(spark, [("update", "a", 3, "green", 1)]), "e2")
    ix.refresh()
    assert {
        (r["color"], r["doc_id"])
        for r in ix.lookup(["red", "blue", "green"]).collect()
    } == {("green", "a")}


def test_index_on_key_column_rejected_and_empty_lookup(spark, tmp_path):
    t = _src(spark, tmp_path)
    with pytest.raises(ValueError):
        SecondaryIndex(spark, t, str(tmp_path / "ix"), "doc_id")
    ix = SecondaryIndex(spark, t, str(tmp_path / "ix2"), "color")
    assert ix.lookup(["red"]).count() == 0  # before any refresh
