"""Property-based tests (hypothesis): the engine's core invariant is
ORDER-INDEPENDENCE — any partition of any event multiset into any epoch
sequence converges to the same final state."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import apply_epoch
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable

ENVELOPE = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)

# a small universe of events: every field is a pure function of (key, seq)
# so duplicate (key, seq) pairs are exact copies — the envelope contract
def _event(key: int, seq: int):
    if (key + seq) % 5 == 0:
        return ("delete", f"k{key}", seq, None, None, None)
    op = "insert" if seq % 2 == 0 else "update"
    toks = [(key * 31 + seq * 17 + j) % 997 for j in range((key + seq) % 6 + 1)]
    return (op, f"k{key}", seq, toks, len(toks), "web")


def oracle_state(events):
    latest = {}
    for ev in events:
        op, k, seq = ev[0], ev[1], ev[2]
        if k not in latest or seq > latest[k][0]:
            latest[k] = (seq, op, ev[3])
    return {
        k: tuple(toks) for k, (seq, op, toks) in latest.items() if op != "delete"
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 30)), min_size=1, max_size=60
    ),
    n_epochs=st.integers(1, 4),
    seed=st.integers(0, 2**16),
)
def test_any_partition_any_order_converges(spark, tmp_path_factory, data, n_epochs, seed):
    events = [_event(k, s) for k, s in data]  # duplicates possible: exact copies
    # deterministic pseudo-random partition into epochs + epoch order
    epochs = [[] for _ in range(n_epochs)]
    for i, ev in enumerate(events):
        epochs[(i * 2654435761 + seed) % n_epochs].append(ev)
    order = sorted(range(n_epochs), key=lambda i: (i * 40503 + seed) % 65536)

    root = str(tmp_path_factory.mktemp("prop"))
    table = SnapshotTable(spark, root, n_buckets=4)
    for idx in order:
        if epochs[idx]:
            df = spark.createDataFrame(epochs[idx], ENVELOPE)
            apply_epoch(table, df, f"e{idx}")
    got = {
        r.doc_id: tuple(r.tokens)
        for r in table.state().select("doc_id", "tokens").collect()
    }
    assert got == oracle_state(events)


@given(
    st.lists(
        st.one_of(
            st.tuples(st.sampled_from(["a", "b", ""]), st.integers(0, 50)).map(
                lambda t: f"{t[0]}-{t[1]}" if t[0] else str(t[1])
            ),
            st.text(
                alphabet="abcdef-0", min_size=1, max_size=8
            ),
        ),
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_epoch_ledger_matches_reference_set(ids):
    """EpochLedger membership must be EXACTLY a set, for any id shapes —
    numeric suffixes, leading zeros, bare numbers, junk strings."""
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        EpochLedger,
    )

    led = EpochLedger()
    ref = set()
    for e in ids:
        led.add(e)
        ref.add(e)
    for e in ref:
        assert e in led
    assert len(led) == len(ref)
    # round-trip through the manifest JSON encoding
    led2 = EpochLedger(led.to_json())
    for e in ref:
        assert e in led2
    # and some non-members
    for probe in ["zz-999", "17", "a-051", ""]:
        assert (probe in led2) == (probe in ref)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 30)), min_size=1, max_size=40
    ),
    n_epochs=st.integers(2, 4),
    seed=st.integers(0, 2**16),
)
def test_maintenance_interleaved_anywhere_converges(
    spark, tmp_path_factory, data, n_epochs, seed
):
    """Maintenance ops (full/minor compaction, snapshot expiry, rebucket)
    injected pseudo-randomly BETWEEN epochs never change the final state:
    they rewrite layout, not content — including through the rebase-aware
    _commit_rewrite path and bucket-count evolution mid-history."""
    events = [_event(k, s) for k, s in data]
    epochs = [[] for _ in range(n_epochs)]
    for i, ev in enumerate(events):
        epochs[(i * 2654435761 + seed) % n_epochs].append(ev)

    root = str(tmp_path_factory.mktemp("propm"))
    table = SnapshotTable(spark, root, n_buckets=3)
    for idx in range(n_epochs):
        if epochs[idx]:
            df = spark.createDataFrame(epochs[idx], ENVELOPE)
            apply_epoch(table, df, f"e{idx}")
        pick = (idx * 48271 + seed) % 5
        if pick == 0:
            table.compact(sort_within_buckets=bool(seed % 2))
        elif pick == 1:
            table.compact_minor()
        elif pick == 2:
            table.expire_snapshots(keep_last=2)
        elif pick == 3:
            table.rebucket(3 + (seed % 4))
        # pick == 4: no maintenance this round
    got = {
        r.doc_id: tuple(r.tokens)
        for r in table.state().select("doc_id", "tokens").collect()
    }
    assert got == oracle_state(events)
