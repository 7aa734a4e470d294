"""Shared CDF diffs across maintained views (refresh_views): views over
the same source, at the same bookmark, consuming the same images mode get
ONE read_changes_since per span — the diff's two bucket-pruned LWW
resolves are the dominant refresh cost, so lockstep maintenance of N
same-mode views must not pay it N times. Correctness: shared-path results
must equal solo-path results exactly; bootstrap / no-op / mixed-images
views fall back to their own refresh()."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.operators.cdf_export import CdfExporter
from aws_serverless_elt_pipeline_enterprise_spark.operators.incremental_agg import (
    MaterializedAggregate,
)
from aws_serverless_elt_pipeline_enterprise_spark.operators.secondary_index import (
    SecondaryIndex,
)
from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import refresh_views
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "op string, doc_id string, seq long, grp string, val long"
    )


def _mk(spark, tmp_path, name="src"):
    return SnapshotTable(
        spark, str(tmp_path / name), key_col="doc_id", n_buckets=8, mode="mor"
    )


def _count_diffs(t):
    """Wrap t.read_changes_since with a call counter."""
    calls = {"n": 0}
    real = t.read_changes_since

    def wrapped(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    t.read_changes_since = wrapped
    return calls


def _agg_rows(ma):
    return {(r["grp"],): (r["cnt"], r["sum_val"]) for r in ma.result().collect()}


def test_same_mode_views_share_one_diff(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, "ab"[i % 2], i * 10) for i in range(8)]),
        "e0",
    )
    agg = MaterializedAggregate(
        spark, t, str(tmp_path / "agg"), ["grp"], sums={"sum_val": "val"}
    )
    ix = SecondaryIndex(spark, t, str(tmp_path / "ix"), "grp", n_buckets=8)
    refresh_views([agg, ix])  # bootstrap: solo fallback per view

    t.merge_reduced(
        _batch(
            spark,
            [("update", "k1", 100, "b", 999), ("delete", "k2", 101, None, None)],
        ),
        "e1",
    )
    calls = _count_diffs(t)
    refresh_views([agg, ix])
    # ONE shared diff for the (source, bookmark, images='both') group —
    # the counter sees the group read; each view consumed the persisted
    # frame instead of re-deriving the span
    assert calls["n"] == 1

    # results identical to ground truth
    expect = {
        (r["grp"],): (r["cnt"], r["sum_val"])
        for r in t.state()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("val").alias("sum_val"))
        .collect()
    }
    assert _agg_rows(agg) == expect
    assert {r["doc_id"] for r in ix.lookup(["b"]).collect()} == {
        r["doc_id"] for r in t.state().filter(F.col("grp") == "b").collect()
    }


def test_shared_equals_solo(spark, tmp_path):
    # two identical sources; one maintained shared, one solo — every
    # derived artifact must match
    rows0 = [("insert", f"k{i}", i, "xy"[i % 2], i) for i in range(10)]
    rows1 = [("update", "k3", 50, "y", 777), ("delete", "k4", 51, None, None)]
    outs = {}
    for tag, shared in (("s", True), ("u", False)):
        t = _mk(spark, tmp_path, f"src_{tag}")
        t.merge_reduced(_batch(spark, rows0), "e0")
        agg = MaterializedAggregate(
            spark, t, str(tmp_path / f"agg_{tag}"), ["grp"], sums={"sum_val": "val"}
        )
        ix = SecondaryIndex(spark, t, str(tmp_path / f"ix_{tag}"), "grp", n_buckets=8)
        views = [agg, ix]
        refresh_views(views) if shared else [v.refresh() for v in views]
        t.merge_reduced(_batch(spark, rows1), "e1")
        refresh_views(views) if shared else [v.refresh() for v in views]
        outs[tag] = (
            _agg_rows(agg),
            {(r["_idx_val"], r["doc_id"]) for r in ix.idx.state().collect()},
        )
    assert outs["s"] == outs["u"]


def test_mixed_images_views_do_not_share(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_reduced(
        _batch(spark, [("insert", f"k{i}", i, "a", i) for i in range(4)]), "e0"
    )
    agg = MaterializedAggregate(spark, t, str(tmp_path / "agg"), ["grp"])
    exp = CdfExporter(spark, t, str(tmp_path / "out"), images="post")
    refresh_views([agg, exp])  # bootstrap both
    t.merge_reduced(_batch(spark, [("update", "k0", 10, "a", 42)]), "e1")
    calls = _count_diffs(t)
    refresh_views([agg, exp])
    # different images modes -> two diffs (a 'post' delete carries the
    # deleting seq, a 'both' delete the pre-delete row: not derivable)
    assert calls["n"] == 2
    # exporter still published exactly one incremental span for e1
    spans = sorted(
        d for d in __import__("os").listdir(str(tmp_path / "out"))
        if d.startswith("span=v")
    )
    assert len(spans) == 1


def test_lockstep_replay_uses_shared_diffs(spark, tmp_path):
    """End-to-end: run_replay(maintain=[agg, ix]) converges to ground
    truth with the shared-diff dispatcher in the loop."""
    from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
        ChangelogSpec,
        generate_changelog,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import run_replay

    log = str(tmp_path / "log")
    generate_changelog(
        spark, log, ChangelogSpec(n_events=3000, n_keys=200, n_batches=4)
    )
    t = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8, mode="mor")
    agg = MaterializedAggregate(
        spark, t, str(tmp_path / "agg"), ["source"], sums={"sum_tok": "n_tok"}
    )
    ix = SecondaryIndex(spark, t, str(tmp_path / "ix"), "source", n_buckets=8)
    run_replay(spark, log, t, maintain=[agg, ix])
    expect = {
        (r["source"],): (r["cnt"], r["sum_tok"])
        for r in t.state()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("n_tok").alias("sum_tok"))
        .collect()
    }
    got = {
        (r["source"],): (r["cnt"], r["sum_tok"]) for r in agg.result().collect()
    }
    assert got == expect
    src0 = t.state().select("source").first()["source"]
    assert {r["doc_id"] for r in ix.lookup([src0]).collect()} == {
        r["doc_id"]
        for r in t.state().filter(F.col("source") == src0).collect()
    }
