"""SCD Type-2 history (operators/scd.py), the portable quantized
embedding near-dup chain (functions/similarity.py), near-dup
clusters: the connected components of ``dup_clusters``
(functions/dedupe.py), and recorded golden outputs of the near-dup
functions in both hash modes."""

from __future__ import annotations

import datetime as dt
import random
import warnings

from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as dd
from aws_serverless_elt_pipeline_enterprise_spark.functions import similarity as sim
from aws_serverless_elt_pipeline_enterprise_spark.functions import text as tx
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


def test_dup_clusters_spark_job_budget(spark, spark_jobs):
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


# ------------------------------------------------------- golden outputs
# Recorded outputs of the near-dup functions on a small fixture, in both
# hash modes: the xxhash64 chains have no SQL oracle (DuckDB has no
# xxhash64), so these literals are what pins them bit for bit.


def _gtext(mul, off, mod, swaps=()):
    w = [f"w{(i * mul + off) % mod}" for i in range(24)]
    for i, s in swaps:
        w[i] = s
    return " ".join(w)


GOLDEN_TEXTS = [
    (1, _gtext(7, 3, 41)),
    (2, _gtext(7, 3, 41, [(10, "zz")])),
    (3, _gtext(7, 3, 41, [(20, "yy")])),
    (4, _gtext(7, 3, 41)),
    (5, _gtext(11, 5, 53)),
    (6, _gtext(11, 5, 53, [(3, "qq"), (17, "rr")])),
    (7, "one two"),
    (8, "one  two"),
    (9, ""),
    (10, " \t\n "),
    (11, None),
    (12, "\nleading newline doc with words here ok"),
    (13, _gtext(13, 1, 31)),
    (14, "x y x y x y"),
    (15, "a b\tc\n\nd  e"),
]


def _gvec(seed):
    return [((seed * 5 + j * 3) % 17 - 8) / 16 for j in range(8)]


GOLDEN_VECS = [
    (1, _gvec(1)),
    (2, [x + (1 / 16 if j == 2 else 0) for j, x in enumerate(_gvec(1))]),
    (3, [2 * x for x in _gvec(1)]),  # same direction as 1
    (4, _gvec(2)),
    (5, _gvec(2)),
    (6, _gvec(3)),
    (7, [x + (1 / 8 if j == 5 else 0) for j, x in enumerate(_gvec(3))]),
    (8, [0.0] * 8),  # zero norm
    (9, None),
    (10, _gvec(4)),
]


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_golden_words_and_shingles(spark):
    """``words`` and ``word_shingles``: recorded literals for the short
    and degenerate texts, and a plain Python tokenizer for every text."""
    d = spark.createDataFrame(GOLDEN_TEXTS, "doc_id bigint, text string")
    got_w = dict(_sorted_rows(d.select("doc_id", tx.words("text"))))
    got_sh = dict(_sorted_rows(d.select("doc_id", dd.word_shingles("text"))))
    assert {i: got_w[i] for i in range(7, 16) if i != 13} == {
        7: ["one", "two"], 8: ["one", "two"], 9: [], 10: [], 11: None,
        12: ["leading", "newline", "doc", "with", "words", "here", "ok"],
        14: ["x", "y", "x", "y", "x", "y"], 15: ["a", "b", "c", "d", "e"],
    }
    assert {i: got_sh[i] for i in range(7, 16) if i != 13} == {
        7: [], 8: [], 9: [], 10: [], 11: [],
        12: ["leading newline doc", "newline doc with", "doc with words",
             "with words here", "words here ok"],
        14: ["x y x", "y x y"], 15: ["a b c", "b c d", "c d e"],
    }
    for i, t in GOLDEN_TEXTS:
        w = None if t is None else t.split()
        assert got_w[i] == w
        grams = [" ".join(w[j:j + 3]) for j in range(len(w) - 2)] if w else []
        assert got_sh[i] == list(dict.fromkeys(grams))


GOLDEN_SIMHASH64 = {
    "xxhash64": [
        (1, 3579964884834875393), (2, 3578698213077841920), (3, 3580246359811569812),
        (4, 3579964884834875393), (5, 8199883237792964668), (6, 8199249988888617084),
        (7, 4904811439740556417), (8, 4904811439740556417), (9, 0), (10, 0), (11, None),
        (12, 6878019826385635575), (13, 1737917007194777760), (14, 1263286982824955969),
        (15, 2116760566179865438),
    ],
    "portable": [
        (1, 13306432135610916), (2, 13306466361119268), (3, 13235925818262052),
        (4, 13306432135610916), (5, 189228532666910640), (6, 193820196773479600),
        (7, 829371860452975793), (8, 829371860452975793), (9, 0), (10, 0), (11, None),
        (12, 56392498253938235), (13, 227191714874122786), (14, 5919796378484736),
        (15, 589467266665640827),
    ],
}
GOLDEN_SIMHASH_PAIRS = {
    ("xxhash64", 3): [(1, 4, 0), (7, 8, 0)],
    ("xxhash64", 12): [(1, 3, 6), (1, 4, 0), (3, 4, 6), (7, 8, 0)],
    ("portable", 3): [(1, 3, 3), (1, 4, 0), (3, 4, 3), (7, 8, 0)],
    ("portable", 12): [
        (1, 2, 4), (1, 3, 3), (1, 4, 0), (2, 3, 5), (2, 4, 4), (3, 4, 3), (7, 8, 0)
    ],
}
GOLDEN_MINHASH_PAIRS = {
    ("xxhash64", 32): [
        (1, 2, 0.71875), (1, 3, 0.78125), (1, 4, 1.0), (2, 4, 0.71875),
        (3, 4, 0.78125), (5, 6, 0.625),
    ],
    ("xxhash64", 12): [
        (1, 2, 11 / 12), (1, 3, 8 / 12), (1, 4, 1.0), (2, 3, 8 / 12),
        (2, 4, 11 / 12), (3, 4, 8 / 12), (5, 6, 8 / 12),
    ],
    ("portable", 32): [
        (1, 2, 0.75), (1, 3, 0.78125), (1, 4, 1.0), (2, 4, 0.75),
        (3, 4, 0.78125), (5, 6, 0.75),
    ],
    ("portable", 12): [
        (1, 2, 11 / 12), (1, 3, 6 / 12), (1, 4, 1.0), (2, 3, 5 / 12),
        (2, 4, 11 / 12), (3, 4, 6 / 12),
    ],
}
GOLDEN_CLUSTERS = [(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 7), (8, 7)]


def test_golden_text_near_dup_chains(spark):
    """``simhash64``, ``simhash_near_dup_pairs``, ``minhash_lsh_pairs``
    (k=32/8 bands and k=12/4 bands, seed 7) and ``dup_clusters`` over
    their union, in both hash modes. Empty, whitespace-only and NULL
    texts sign to 0/NULL and pair with nothing."""
    d = spark.createDataFrame(GOLDEN_TEXTS, "doc_id bigint, text string")
    for hm in ("xxhash64", "portable"):
        sigs = d.select("doc_id", dd.simhash64("text", hm))
        assert _sorted_rows(sigs) == GOLDEN_SIMHASH64[hm], hm
        for mh in (3, 12):
            got = _sorted_rows(dd.simhash_near_dup_pairs(d, max_hamming=mh, hash_mode=hm))
            assert got == GOLDEN_SIMHASH_PAIRS[(hm, mh)], (hm, mh)
        mh32 = dd.minhash_lsh_pairs(d, k=32, bands=8, hash_mode=hm)
        assert _sorted_rows(mh32) == GOLDEN_MINHASH_PAIRS[(hm, 32)], hm
        mh12 = dd.minhash_lsh_pairs(d, k=12, bands=4, seed=7, hash_mode=hm)
        assert _sorted_rows(mh12) == GOLDEN_MINHASH_PAIRS[(hm, 12)], hm
        sp = dd.simhash_near_dup_pairs(d, max_hamming=12, hash_mode=hm)
        pairs = mh32.select("a", "b").union(sp.select("a", "b"))
        assert _sorted_rows(dd.dup_clusters(pairs)) == GOLDEN_CLUSTERS, hm


GOLDEN_HYPERPLANE = {
    ("xxhash64", 16): [
        (1, 54468), (2, 54468), (3, 54468), (4, 15458), (5, 15458), (6, 49319),
        (7, 16551), (8, 0), (9, None), (10, 60312),
    ],
    ("xxhash64", 6): [
        (1, 61), (2, 61), (3, 61), (4, 28), (5, 28), (6, 50), (7, 0), (8, 0),
        (9, None), (10, 39),
    ],
    ("portable", 16): [
        (1, 44651), (2, 44651), (3, 44651), (4, 16292), (5, 16292), (6, 4500),
        (7, 4500), (8, 0), (9, None), (10, 49899),
    ],
    ("portable", 6): [
        (1, 56), (2, 58), (3, 56), (4, 37), (5, 37), (6, 21), (7, 23), (8, 0),
        (9, None), (10, 10),
    ],
}
_COS_12 = 0.9969657541302294
GOLDEN_EMB_PAIRS = {
    ("xxhash64", 16): [(1, 2, _COS_12), (1, 3, 1.0000000000000002), (2, 3, _COS_12), (4, 5, 1.0)],
    ("xxhash64", 4): [
        (1, 2, _COS_12), (1, 3, 1.0000000000000002), (2, 3, _COS_12), (4, 5, 1.0),
        (6, 7, 0.9932793493858211),
    ],
    ("portable", 16): [
        (1, 2, _COS_12), (1, 3, 1.0000000000000002), (2, 3, _COS_12), (4, 5, 1.0),
        (6, 7, 0.9932793493858211),
    ],
    ("portable", 4): [(1, 2, _COS_12), (1, 3, 1.0000000000000002), (2, 3, _COS_12), (4, 5, 1.0)],
}


def test_golden_embedding_signatures_and_pairs(spark):
    """``hyperplane_signature``, ``quantized_hyperplane_signature`` and
    ``embedding_near_dup_pairs`` (``cos_sim`` to the last bit) under both
    ``sig_mode``s, with a zero-norm and a NULL vector in the input."""
    v = spark.createDataFrame(GOLDEN_VECS, "vec_id bigint, embedding array<float>")
    sig_cols = {
        ("xxhash64", 16): sim.hyperplane_signature("embedding", 8),
        ("xxhash64", 6): sim.hyperplane_signature("embedding", 8, n_bits=6, seed=9),
        ("portable", 16): sim.quantized_hyperplane_signature("embedding", 8),
        ("portable", 6): sim.quantized_hyperplane_signature(
            "embedding", 8, n_bits=6, seed=9, scale=1000
        ),
    }
    for k, col in sig_cols.items():
        assert _sorted_rows(v.select("vec_id", col)) == GOLDEN_HYPERPLANE[k], k
    for mode in ("xxhash64", "portable"):
        got = sim.embedding_near_dup_pairs(v, threshold=0.9, sig_mode=mode)
        assert _sorted_rows(got) == GOLDEN_EMB_PAIRS[(mode, 16)], mode
        got = sim.embedding_near_dup_pairs(
            v, threshold=0.5, n_bits=4, seed=3, sig_mode=mode
        )
        assert _sorted_rows(got) == GOLDEN_EMB_PAIRS[(mode, 4)], mode
