"""Driver cost. The served CDC path: lookup buckets hashed on the driver
(bit-equal to Spark's ``xxhash64``), a Py4J round-trip budget for one tail
``refresh_views`` and one ``lookup``, a Spark-job budget for one tail
refresh, and the SQL-text plans on column names that need quoting. The
near-dup curation steps and the exact embedding top-k: a Py4J
round-trip budget for building each plan."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as dd
from aws_serverless_elt_pipeline_enterprise_spark.functions import similarity as sim
from aws_serverless_elt_pipeline_enterprise_spark.operators.incremental_agg import (
    MaterializedAggregate,
)
from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
    ChangelogSpec,
    generate_changelog,
    list_batches,
)
from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
    apply_epoch,
    refresh_views,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
    SnapshotTable,
    spark_xxhash64,
)


def _spark_hashes(spark, values, dtype):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)],
        T.StructType([T.StructField("i", T.IntegerType()), T.StructField("v", dtype)]),
    )
    return [r.h for r in df.select("i", F.xxhash64("v").alias("h")).orderBy("i").collect()]


# ---------------------------------------------------------------- hash parity


def test_driver_hash_matches_spark_for_strings(spark):
    rng = random.Random(7)
    alphabet = "abcXYZ019 -_'\\é日本語☃\U0001f600"
    values = ["", "a", "héllo wörld", "日本語のテキスト", "x" * 32, "é" * 40, None]
    # every length 0..80 covers the 32-byte stripes and each tail step
    values += ["".join(rng.choice(alphabet) for _ in range(n)) for n in range(81)]
    values += [f"doc_{rng.randrange(10**8):08d}" for _ in range(200)]
    got = [spark_xxhash64(v) for v in values]
    assert got == _spark_hashes(spark, values, T.StringType())
    assert spark_xxhash64(None) == 42


def _spark_buckets(spark, values, vtype, nb):
    """The Spark-side bucket computation ``buckets_for`` used to run."""
    rows = spark.createDataFrame(
        [(None if v is None else str(v),) for v in values],
        T.StructType([T.StructField("v", T.StringType())]),
    ).select(F.pmod(F.xxhash64(F.col("v").cast(vtype)), F.lit(nb)).cast("int").alias("b"))
    return sorted({r.b for r in rows.collect()})


@pytest.mark.parametrize(
    "key_type,probes",
    [
        ("string", ["k1", "k22", "", "ключ", 17, None]),
        ("int", [1, -5, 2**31 - 1, "  42 ", "+7", "-2147483648", None]),
    ],
)
def test_buckets_for_matches_spark(spark, tmp_path, key_type, probes, py4j_calls):
    """A string bucket column hashes on the driver with no Py4J call; an
    int one runs the Spark hash. Both equal the Spark computation."""
    t = SnapshotTable(spark, str(tmp_path / "t"), key_col="k", n_buckets=13)
    k = "1" if key_type == "string" else 1
    t.merge_reduced(
        spark.createDataFrame(
            [("insert", 1, k, "a")], f"op string, seq long, k {key_type}, v string"
        ),
        "e0",
    )
    with py4j_calls() as calls:
        got = t.buckets_for(probes)
    assert (calls[0] == 0) == (key_type == "string")
    assert got == _spark_buckets(spark, probes, t.schema()["k"].dataType, 13)


# ------------------------------------------------------------ round-trip budget


def test_served_tail_round_trip_budget(spark, tmp_path, py4j_calls):
    """One tail epoch on a table with the change-log event schema: the
    view refresh and a 10-key lookup stay within a fixed Py4J budget
    (each pyspark Column call costs ~13-19 round trips, so building a
    plan one Column call per column blows it)."""
    log = str(tmp_path / "log")
    generate_changelog(spark, log, ChangelogSpec(n_events=4000, n_keys=500, n_batches=5))
    batches = list_batches(log)
    t = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8)
    for i, b in enumerate(batches[:4]):
        apply_epoch(t, spark.read.parquet(b), f"bulk-{i}")
    t.compact(sort_within_buckets=True)
    view = MaterializedAggregate(
        spark, t, str(tmp_path / "v"), ["source"], sums={"n_tok": "n_tok"}
    )
    refresh_views([view])
    apply_epoch(t, spark.read.parquet(batches[4]), "tail-0")
    with py4j_calls() as refresh:
        refresh_views([view])
    keys = [f"doc_{i:08d}" for i in range(0, 500, 50)]
    with py4j_calls() as lookup:
        rows = t.lookup(keys).select("doc_id", "tokens").collect()
    assert view.cdf_bookmark() == t.current_version()
    assert refresh[0] <= 1500, refresh[0]
    assert lookup[0] <= 300, lookup[0]
    want = t.state().filter(F.col("doc_id").isin(keys)).select("doc_id", "tokens")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect()))


def test_near_dup_build_round_trip_budget(spark, sf_dir, py4j_calls):
    """Building (not running) each near-dup step over a parquet corpus
    stays within a fixed Py4J budget. Plans built one pyspark Column call
    per operator cost about 12k round trips for simhash (63 conditional
    sums and a 63-term sum), 4k for minhash and 1.1k for the embedding
    step; built from SQL text they cost a few hundred."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    steps = [
        ("simhash_near_dup_pairs", lambda: dd.simhash_near_dup_pairs(docs), 1000),
        ("minhash_lsh_pairs", lambda: dd.minhash_lsh_pairs(docs), 1000),
        ("embedding_near_dup_pairs", lambda: sim.embedding_near_dup_pairs(vecs), 600),
    ]
    try:
        for name, build, budget in steps:
            build()  # the first call loads the JVM classes the plan needs
            with py4j_calls() as calls:
                build()
            assert calls[0] <= budget, (name, calls[0], budget)
    finally:
        spark.catalog.clearCache()


def test_brute_force_topk_build_round_trip_budget(spark, sf_dir, py4j_calls):
    """Building (not running) a 64-dim ``brute_force_topk`` takes a few
    dozen Py4J round trips: the query vector enters the plan as one SQL
    array literal. With a ``F.lit`` per component it took about 654."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rng = random.Random(11)
    query = [rng.uniform(-1.0, 1.0) for _ in range(64)]
    sim.brute_force_topk(vecs, query)  # loads the JVM classes the plan needs
    with py4j_calls() as calls:
        sim.brute_force_topk(vecs, query)
    assert calls[0] <= 50, calls[0]


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "op string, doc_id string, seq long, grp string, val long"
    )


def test_tail_refresh_spark_job_budget(spark, tmp_path, spark_jobs):
    """A tail view refresh over a one-epoch merge-on-read span is one
    query: the change feed plans its candidate buckets from the bucket
    sets the commits recorded (no job), and the view folds its group-by,
    old-value resolve and join into one aggregate (no collect or persist
    between stages)."""
    t = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8)
    t.merge_reduced(
        _rows(spark, [("insert", f"k{i}", i, f"g{i % 5}", i) for i in range(40)]), "e0"
    )
    view = MaterializedAggregate(
        spark, t, str(tmp_path / "v"), ["grp"], sums={"tot": "val"}
    )
    refresh_views([view])
    v1 = t.current_version()
    t.merge_reduced(
        _rows(
            spark,
            [("update", f"k{i}", 100 + i, f"g{i % 3}", 7 * i) for i in range(0, 40, 3)]
            + [("delete", "k1", 200, None, None), ("insert", "k99", 201, "g9", 5)],
        ),
        "e1",
    )
    v2 = t.current_version()
    with spark_jobs(spark) as planned:
        t.changes(v1, v2, images="both")
    assert planned == []
    with spark_jobs(spark) as refresh:
        refresh_views([view])
    assert len(refresh) <= 3, refresh
    assert view.cdf_bookmark() == v2
    got = {r["grp"]: (r["cnt"], r["tot"]) for r in view.result().collect()}
    want = {
        r["grp"]: (r["cnt"], r["tot"])
        for r in t.state()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("val").alias("tot"))
        .collect()
    }
    assert got == want


# ------------------------------------------------------------ awkward names

ODD = "a b'c"  # a payload column name with a space and a single quote


def _epoch(spark, rows, odd_type):
    return spark.createDataFrame(
        rows, f"op string, seq long, doc_id string, grp string, `{ODD}` {odd_type}"
    )


def _state(t, version=None):
    return {r["doc_id"]: (r["grp"], r[ODD]) for r in t.state(version).collect()}


def _diff(before, after):
    """(key, change_type, grp, value) rows the 'post' feed must hold."""
    out = set()
    for k in before.keys() | after.keys():
        if k not in before:
            out.add((k, "insert", *after[k]))
        elif k not in after:
            out.add((k, "delete", *before[k]))
        elif before[k] != after[k]:
            out.add((k, "update", *after[k]))
    return out


def _recompute_agg(t):
    return {
        r["grp"]: (r["cnt"], r["tot"])
        for r in t.state()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(F.col(f"`{ODD}`")).alias("tot"))
        .collect()
    }


def test_quoted_column_names_through_the_served_path(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4)
    view = MaterializedAggregate(
        spark, t, str(tmp_path / "v"), ["grp"], sums={"tot x": ODD}
    )
    epochs = [
        # int payload; a NULL group exercises the group key's NULL marker
        (
            [("insert", i, f"k{i}", "g" if i % 3 else None, i) for i in range(1, 13)],
            "int",
        ),
        # widened to bigint: updates (with values past the int range),
        # deletes and inserts
        (
            [("update", 20 + i, f"k{i}", "h", 2**40 + i) for i in range(1, 5)]
            + [("delete", 30 + i, f"k{i}", None, None) for i in range(5, 8)]
            + [("insert", 40 + i, f"k{i}", "g", -i) for i in range(13, 16)],
            "bigint",
        ),
        # same schema again: a merge-on-read-only span
        (
            [("update", 50 + i, f"k{i}", "g", 7 * i) for i in (2, 9, 13)]
            + [("insert", 60, "k5", "h", 5)],
            "bigint",
        ),
    ]
    versions = []
    for i, (rows, odd_type) in enumerate(epochs):
        t.merge_reduced(_epoch(spark, rows, odd_type), f"e{i}")
        versions.append(t.current_version())
        refresh_views([view])
        got = {
            r["grp"]: (r["cnt"], r["tot x"]) for r in view.result().collect()
        }
        assert got == _recompute_agg(t)
    assert t.schema()[ODD].dataType == T.LongType()

    for v_from, v_to in [(None, versions[0]), (versions[0], versions[1]),
                         (versions[1], versions[2]), (versions[0], versions[2])]:
        before = _state(t, v_from) if v_from is not None else {}
        after = _state(t, v_to)
        post = t.changes(v_from, v_to, images="post").collect()
        want = _diff(before, after)
        assert len(post) == len(want)
        assert {(r["doc_id"], r["_change_type"], r["grp"], r[ODD]) for r in post} == want
        both = t.changes(v_from, v_to, images="both").collect()
        for r in both:
            side = before if r["_change_type"] in ("delete", "update_preimage") else after
            assert side[r["doc_id"]] == (r["grp"], r[ODD])
        kinds = [r["_change_type"] for r in both]
        n_upd = sum(r["_change_type"] == "update" for r in post)
        assert kinds.count("update_preimage") == kinds.count("update_postimage") == n_upd
        assert len(both) == len(post) + n_upd

    keys = ["k1", "k5", "k6", "k13", "k99"]
    want = {k: v for k, v in _state(t).items() if k in keys}
    got = {r["doc_id"]: (r["grp"], r[ODD]) for r in t.lookup(keys).collect()}
    assert got == want

    state = _state(t)
    assert t.compact_minor().get("minor_compaction")
    assert _state(t) == state
    assert {r["doc_id"]: (r["grp"], r[ODD]) for r in t.lookup(keys).collect()} == want
