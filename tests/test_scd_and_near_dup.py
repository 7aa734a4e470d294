"""SCD Type-2 history (operators/scd.py) and the portable quantized
embedding near-dup chain (functions/similarity.py)."""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

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
