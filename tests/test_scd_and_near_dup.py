"""SCD Type-2 history (operators/scd.py), the portable quantized
embedding near-dup chain (functions/similarity.py) and near-dup
clusters: the connected components of ``dup_clusters``
(functions/dedupe.py)."""

from __future__ import annotations

import datetime as dt
import random
import warnings

from pyspark.sql import functions as F
from test_driver_chatter import spark_jobs

from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as dd
from aws_serverless_elt_pipeline_enterprise_spark.functions import similarity as sim
from aws_serverless_elt_pipeline_enterprise_spark.operators.scd import scd2_history


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, op string, v double"
    )


def test_scd2_versions_chain_and_current(spark):
    d = _ev(
        spark,
        [
            (1, 10, _ts(0), "u", 1.0),
            (1, 11, _ts(5), "u", 2.0),
            (1, 12, _ts(9), "u", 3.0),
            (2, 20, _ts(1), "u", 9.0),
        ],
    )
    out = {
        (r["user_id"], r["event_id"]): r
        for r in scd2_history(d, ts="ts").collect()
    }
    assert out[(1, 10)]["valid_from"] == _ts(0)
    assert out[(1, 10)]["valid_to"] == _ts(5)
    assert out[(1, 11)]["valid_to"] == _ts(9)
    assert not out[(1, 10)]["is_current"] and not out[(1, 11)]["is_current"]
    assert out[(1, 12)]["valid_to"] is None and out[(1, 12)]["is_current"]
    assert out[(2, 20)]["is_current"]


def test_scd2_tombstone_closes_interval_and_gaps(spark):
    d = _ev(
        spark,
        [
            (1, 10, _ts(0), "u", 1.0),
            (1, 11, _ts(5), "d", 0.0),   # delete: closes 10, emits nothing
            (1, 12, _ts(9), "u", 2.0),   # re-insert after a gap
            (2, 20, _ts(1), "u", 9.0),
            (2, 21, _ts(4), "d", 0.0),   # key 2 ends deleted: no current row
        ],
    )
    rows = scd2_history(d, ts="ts", delete_when=F.col("op") == "d").collect()
    got = {(r["user_id"], r["event_id"]): r for r in rows}
    assert set(got) == {(1, 10), (1, 12), (2, 20)}
    assert got[(1, 10)]["valid_to"] == _ts(5)      # closed by the tombstone
    assert got[(1, 12)]["valid_from"] == _ts(9)    # gap 0:05-0:09 = deleted
    assert got[(1, 12)]["is_current"]
    assert got[(2, 20)]["valid_to"] == _ts(4) and not got[(2, 20)]["is_current"]
    assert not any(r["user_id"] == 2 and r["is_current"] for r in rows)


def test_scd2_order_independent(spark):
    rows = [(1, i, _ts(i), "d" if i % 5 == 4 else "u", float(i)) for i in range(20)]
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    a = sorted(
        map(tuple, scd2_history(_ev(spark, rows), ts="ts",
                                delete_when=F.col("op") == "d").collect())
    )
    b = sorted(
        map(tuple, scd2_history(_ev(spark, shuffled), ts="ts",
                                delete_when=F.col("op") == "d").collect())
    )
    assert a == b and len(a) == 16


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_near_dup_portable_finds_planted_pair(spark):
    base = [1.0, 0.5, -0.25, 2.0]
    near = [1.01, 0.5, -0.25, 2.0]          # cos ~ 0.99997
    far = [-1.0, 2.0, 0.25, -0.5]
    d = _vecs(spark, [(1, base), (2, near), (3, far), (4, None)])
    got = sim.embedding_near_dup_pairs(
        d, threshold=0.95, n_bits=4, seed=42, sig_mode="portable"
    ).collect()
    assert [(r["a"], r["b"]) for r in got] == [(1, 2)]
    assert got[0]["cos_sim"] > 0.999


def test_near_dup_portable_drops_zero_norm_quantized(spark):
    # components < 1/16384 floor-quantize to 0 (positive) or -1 (negative);
    # use tiny positives so the quantized vector is all-zero -> excluded
    tiny = [1e-6, 2e-6, 1e-6, 3e-6]
    d = _vecs(spark, [(1, tiny), (2, tiny), (3, [1.0, 1.0, 1.0, 1.0])])
    got = sim.embedding_near_dup_pairs(
        d, threshold=0.0, n_bits=4, seed=42, sig_mode="portable"
    ).collect()
    assert got == []  # the tiny twins never reach the verify as NaN/garbage


def test_scd2_single_shuffle_plan(spark):
    d = _ev(spark, [(1, 10, _ts(0), "u", 1.0), (1, 11, _ts(5), "u", 2.0)])
    plan = scd2_history(d, ts="ts")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # one key shuffle feeds the window


def test_scd2_intervals_partition_timeline(spark):
    import random

    rng = random.Random(5)
    rows = []
    for i in range(60):
        rows.append((rng.randrange(6), 100 + i, _ts(i % 60),
                     "d" if rng.random() < 0.2 else "u", float(i)))
    out = scd2_history(
        _ev(spark, rows), ts="ts", delete_when=F.col("op") == "d"
    ).collect()
    by_key = {}
    for r in sorted(out, key=lambda r: (r["user_id"], r["event_id"])):
        by_key.setdefault(r["user_id"], []).append(r)
    for vs in by_key.values():
        # at most one open interval per key, and it is the last version
        opens = [v for v in vs if v["valid_to"] is None]
        assert len(opens) <= 1
        assert all(v["is_current"] == (v["valid_to"] is None) for v in vs)
        # valid_from never after valid_to
        assert all(
            v["valid_to"] is None or v["valid_from"] <= v["valid_to"] for v in vs
        )


# ------------------------------------------------------ near-dup clusters


def _union_find(pairs):
    """Reference components: node -> smallest node of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dup_clusters_min_label_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 8)], "a bigint, b bigint"
    )
    out = {r.doc_id: r.cluster for r in dd.dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 4: 4, 8: 4}


def test_dup_clusters_chain_needs_iterations(spark):
    # a path graph forces label propagation across multiple rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "a bigint, b bigint"
    )
    out = {r.doc_id: r.cluster for r in dd.dup_clusters(pairs).collect()}
    assert set(out.values()) == {0} and len(out) == 9


def test_dup_clusters_warns_on_max_iter_exhaustion(spark):
    # a path graph of diameter 3 cannot converge in one round
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["a", "b"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dd.dup_clusters(pairs, max_iter=1)
    assert any(
        "did not converge" in str(w.message) for w in caught
    ), "non-convergence must be signalled, not silently returned"
    # and with enough rounds the same graph converges silently
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = dd.dup_clusters(pairs, max_iter=10).collect()
    assert not [w for w in caught if "did not converge" in str(w.message)]
    assert {(r.doc_id, r.cluster) for r in out} == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a")
    }


def test_dup_clusters_no_false_warning_when_converging_on_last_round(spark):
    """diameter == max_iter converges ON the final round; the verify-only
    probe must suppress the warning (ops alerting keyed on it)."""
    pairs = spark.createDataFrame([("a", "b")], ["a", "b"])  # diameter 1
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = dd.dup_clusters(pairs, max_iter=1).collect()
    assert not [w for w in caught if "did not converge" in str(w.message)]
    assert {(r.doc_id, r.cluster) for r in out} == {("a", "a"), ("b", "a")}


def test_star_components_chain_converges_logarithmically(spark):
    """A diameter-100 chain: label propagation needs ~100 rounds; the
    alternating star algorithm must converge in O(log D) — measured 8
    rounds at D=100, 11 at D=1000 (each round = large-star +
    small-star)."""
    from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as D

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], ["a", "b"]
    )
    labels, rounds, converged = D._star_components(chain, max_iter=12)
    assert converged and rounds <= 9, (rounds, converged)
    got = {r.node: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(101)}


def test_dup_clusters_star_warns_on_truncation(spark):
    import warnings

    from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as D

    chain = spark.createDataFrame([(i, i + 1) for i in range(200)], ["a", "b"])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        D.dup_clusters(chain, max_iter=1).collect()
    assert any("did not converge" in str(x.message) for x in w)


def test_dup_clusters_deep_chain_exact_without_warning(spark):
    """A diameter-200 chain within the default round budget produces
    exact components, with no truncation warning."""
    import warnings

    from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as D

    chain = spark.createDataFrame([(i, i + 1) for i in range(200)], ["a", "b"])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = {r.doc_id: r.cluster for r in D.dup_clusters(chain).collect()}
    assert got == {i: 0 for i in range(201)}


def test_dup_clusters_matches_union_find(spark):
    """Clusters equal a plain union-find on a mixed fixture (clique,
    chain, triangle, self-loop) and on a seeded random graph with string
    ids, whose string order differs from their numeric order."""
    mixed = (
        [(i, j) for i in range(5) for j in range(i + 1, 5)]  # clique 0-4
        + [(10 + i, 10 + i + 1) for i in range(30)]  # chain 10..40
        + [(100, 101), (101, 102), (100, 102)]  # triangle
        + [(7, 7)]  # self-loop noise
    )
    rng = random.Random(11)
    ids = [f"doc-{i}" for i in range(300)]
    rand = [tuple(sorted(rng.sample(ids, 2))) for _ in range(220)]
    rand += [(i, i) for i in rng.sample(ids, 5)]  # singletons via self-loops
    for pairs, ddl in ((mixed, "a bigint, b bigint"), (rand, "a string, b string")):
        df = spark.createDataFrame(pairs, ddl)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = {r.doc_id: r.cluster for r in dd.dup_clusters(df).collect()}
        assert not [w for w in caught if "did not converge" in str(w.message)]
        assert got == _union_find(pairs)


def test_dup_clusters_spark_job_budget(spark):
    """A round's convergence signature is observed on the checkpoint
    that ends it, not computed by a query of its own. The
    propagation-then-star hybrid this replaced ran 25 Spark jobs on the
    cliques+pairs graph and 155 on the diameter-200 chain; this holds
    them to at most 60% and 50% of that."""
    cliques = [
        (c * 10 + i, c * 10 + j) for c in range(5) for i in range(5) for j in range(i + 1, 5)
    ] + [(1000 + 2 * i, 1001 + 2 * i) for i in range(20)]
    chain = [(i, i + 1) for i in range(200)]
    for pairs, budget in ((cliques, 15), (chain, 77)):
        df = spark.createDataFrame(pairs, "a bigint, b bigint")
        with spark_jobs(spark) as jobs:
            got = {r.doc_id: r.cluster for r in dd.dup_clusters(df).collect()}
        assert got == _union_find(pairs)
        assert len(jobs) <= budget, (len(jobs), budget)


def test_dup_clusters_empty_pairs(spark):
    """No pairs: an empty frame and no warning, also with a one-round
    budget (every observed signature is (0, NULL))."""
    df = spark.createDataFrame([], "a string, b string")
    for max_iter in (20, 1):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            out = dd.dup_clusters(df, max_iter=max_iter)
        assert not [w for w in caught if "did not converge" in str(w.message)]
        assert out.columns == ["doc_id", "cluster"] and out.collect() == []
