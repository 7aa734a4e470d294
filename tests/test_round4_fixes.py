"""Round-4 regressions: as-of hot-key slicing, quarantine retention,
IVF materialized index, and the ADVICE fixes."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F


def _asof_fixture(spark, n_hot=1200, n_cold_keys=25, rows_per_cold=8):
    """90%-one-key skew: versions and probes on one hot key (with
    same-timestamp version ties and probes before any version), a tail
    of cold keys, and a null-key pair."""
    rows = []
    # hot key: versions at t=10,20,... with duplicate-timestamp pairs
    for i in range(n_hot):
        t = 10 + (i // 2) * 10  # every timestamp appears twice (tie)
        rows.append(Row(kind="v", k="hot", t=t, val=i))
    probes = []
    for i in range(n_hot // 2):
        # probes hit before-first, exactly-on, and between timestamps
        probes.append(Row(kind="p", k="hot", t=5 + i * 10, val=None))
    for c in range(n_cold_keys):
        for i in range(rows_per_cold):
            rows.append(Row(kind="v", k=f"c{c}", t=i * 7, val=1000 * c + i))
            probes.append(Row(kind="p", k=f"c{c}", t=i * 7 + 3, val=None))
    rows.append(Row(kind="v", k=None, t=1, val=-1))
    probes.append(Row(kind="p", k=None, t=2, val=None))
    df = spark.createDataFrame(rows + probes)
    versions = df.filter(F.col("kind") == "v").drop("kind")
    probe_df = df.filter(F.col("kind") == "p").drop("kind", "val")
    return probe_df, versions


def _collect_asof(probe_df, versions, **kw):
    from aws_serverless_elt_pipeline_enterprise_spark.operators.asof import asof_join

    out = asof_join(probe_df, versions, key="k", on="t", value_cols=["val"], **kw)
    return sorted(
        [(r["k"], r["t"], r["asof_val"]) for r in out.collect()],
        key=lambda x: (x[0] or "", x[1]),
    )


def test_asof_hot_key_slicing_matches_single_window(spark):
    """The sliced hot-key path must be row-identical to the unmitigated
    single-window carry on a 90%-one-key fixture, including ties,
    before-first-version probes, and the null-key group."""
    probe_df, versions = _asof_fixture(spark)
    base = _collect_asof(probe_df, versions, hot_threshold=None)
    sliced = _collect_asof(probe_df, versions, hot_threshold=50, n_slices=8)
    assert sliced == base
    # SQL equality semantics: the null-key probe is returned (left join)
    # but never matches the null-key version (NULL = NULL is not true,
    # matching DuckDB's native ASOF JOIN)
    assert [(k, t, v) for (k, t, v) in base if k is None] == [(None, 2, None)]
    # explicit hot_keys skips the probe, same result
    explicit = _collect_asof(
        probe_df, versions, hot_threshold=50, n_slices=8, hot_keys=["hot"]
    )
    assert explicit == base


def test_asof_sampled_probe_detects_hot_key(spark):
    from aws_serverless_elt_pipeline_enterprise_spark.operators.asof import (
        _find_hot_keys,
    )

    probe_df, versions = _asof_fixture(spark)
    u = versions.select("k").unionByName(probe_df.select("k"))
    # threshold 100 -> sampled probe (fraction 0.5); hot key has ~1800
    # rows so detection is overwhelmingly certain even sampled
    hot = _find_hot_keys(u, "k", 100)
    assert "hot" in hot
    assert all(k == "hot" for k in hot if k is not None)


def test_asof_slicing_handles_more_slices_than_versions(spark):
    """n_slices far above the per-key row count must not break the
    stitch (slices with zero versions get a carry-in or stay NULL)."""
    probe_df, versions = _asof_fixture(spark, n_hot=6)
    base = _collect_asof(probe_df, versions, hot_threshold=None)
    sliced = _collect_asof(
        probe_df, versions, hot_threshold=2, n_slices=64, hot_keys=["hot"]
    )
    assert sliced == base


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def test_ivf_index_probe_is_partition_pruned(spark, sf_dir, tmp_path):
    """The probe must read only the probed centroids' partitions: a cid
    partition filter in the plan AND inputFiles() a strict subset."""
    from aws_serverless_elt_pipeline_enterprise_spark.functions import similarity as S
    from aws_serverless_elt_pipeline_enterprise_spark.plans import checks

    e = _emb(spark, sf_dir)
    qv = list(e.filter("vec_id = 0").select("embedding").first()[0])
    idx = str(tmp_path / "ivf")
    S.build_ivf_index(e.filter("vec_id <> 0"), idx, n_centroids=8)
    probe_df = S.ivf_index_topk(spark, idx, qv, k=15, nprobe=2)
    assert any("cid" in f for f in checks.partition_filters(probe_df))
    # inputFiles() ignores plan filters, so measure the files ACTUALLY
    # read via input_file_name() on the executed pruned scan
    members = spark.read.parquet(os.path.join(idx, "members"))
    q, qn2 = S._quantize_query(qv, 16384)
    qn = F.sqrt(F.lit(float(qn2)))
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    probe = S._probe_centroids(cents, q, qn, 2)
    pruned = members.filter(F.col("cid").isin(probe))
    files_read = pruned.select(F.input_file_name()).distinct().count()
    total = members.select(F.input_file_name()).distinct().count()
    n_cids = cents.count()
    # nprobe=2 of n_cids centroid dirs, one file set per dir
    assert files_read <= (total * 2 + n_cids - 1) // n_cids, (files_read, total)
    assert files_read < total


def test_ivf_index_degenerate_residue_falls_back_to_brute(spark, tmp_path):
    from pyspark.sql import types as T

    from aws_serverless_elt_pipeline_enterprise_spark.functions import similarity as S

    rows = [(i, [float(i % 5 + 1), float(7 - i % 7)]) for i in range(2, 40, 2)]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    idx = str(tmp_path / "ivf")
    # even ids only, mod 1000 -> no id = 1 (mod 1000): degenerate index
    meta = S.build_ivf_index(df, idx, centroid_mod=1000)
    assert meta["degenerate"]
    got = S.ivf_index_topk(spark, idx, [1.0, 2.0], k=5).collect()
    want = S.quantized_cosine_topk(df, [1.0, 2.0], k=5).collect()
    assert [(r.vec_id, r.score) for r in got] == [(r.vec_id, r.score) for r in want]


def _tiny_bmp(w=2, h=2, color=(255, 128, 0)):
    """Uncompressed 24-bit BMP, bottom-up, row-padded to 4 bytes."""
    import struct

    stride = (w * 3 + 3) & ~3
    px = bytearray()
    for _ in range(h):
        row = bytearray()
        for _ in range(w):
            row += bytes([color[2], color[1], color[0]])  # BGR
        row += b"\x00" * (stride - len(row))
        px += row
    off = 54
    header = struct.pack("<2sIHHI", b"BM", off + len(px), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0)
    return bytes(header + info + px)


def _tiny_wav(n_frames=800, framerate=8000):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(framerate)
        wf.writeframes(
            b"".join(
                struct.pack("<h", int(10000 * math.sin(i / 10.0)))
                for i in range(n_frames)
            )
        )
    return buf.getvalue()


def _tiny_png(w=7, h=5):
    import struct

    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    )


def test_multimodal_real_decoders(spark):
    from aws_serverless_elt_pipeline_enterprise_spark.functions import multimodal as M

    d = M.decode_real(_tiny_bmp(w=3, h=2, color=(255, 128, 0)))
    assert (d["mime"], d["width"], d["height"]) == ("image/bmp", 3, 2)
    w, h, r, g, b = d["features"]
    assert (w, h) == (3.0, 2.0)
    assert abs(r - 1.0) < 1e-6 and abs(g - 128 / 255) < 1e-6 and b == 0.0
    d = M.decode_real(_tiny_wav(n_frames=800, framerate=8000))
    assert d["mime"] == "audio/wav" and d["duration_ms"] == 100
    assert d["features"][0] == 1.0 and d["features"][2] == 800.0
    assert 0.0 < d["features"][3] < 1.0  # mean |amplitude| of the sine
    d = M.decode_real(_tiny_png(7, 5))
    assert (d["mime"], d["width"], d["height"]) == ("image/png", 7, 5)
    assert M.decode_real(b"\xff\xd8\xff\xe0 jpeg-ish") is None


def test_multimodal_real_path_through_spark(spark):
    import pytest

    from aws_serverless_elt_pipeline_enterprise_spark.functions import multimodal as M

    rows = [
        ("bmp1", "image", _tiny_bmp(4, 3)),
        ("wav1", "audio", _tiny_wav()),
        ("png1", "image", _tiny_png(9, 2)),
    ]
    df = spark.createDataFrame(rows, ["media_id", "kind", "payload"])
    feats = {r.media_id: r for r in M.extract_features(df, fake=False).collect()}
    assert feats["bmp1"].feat_dim == 5 and feats["bmp1"].features[:2] == [4.0, 3.0]
    assert feats["wav1"].feat_dim == 4
    assert feats["png1"].features == [9.0, 2.0]
    meta = {r.media_id: r for r in M.decode_meta(df).collect()}
    assert (meta["bmp1"].width, meta["bmp1"].height) == (4, 3)
    assert meta["wav1"].duration_ms == 100 and meta["wav1"].width is None
    assert (meta["png1"].width, meta["png1"].height) == (9, 2)
    # unsupported magic on the real path raises, never fabricates
    bad = spark.createDataFrame(
        [("jpg1", "image", b"\xff\xd8\xff\xe0fake")], ["media_id", "kind", "payload"]
    )
    with pytest.raises(Exception, match="no stdlib decoder"):
        M.extract_features(bad, fake=False).collect()
    # ...but decode_meta degrades to NULLs (metadata pass must not die
    # on one exotic payload)
    assert M.decode_meta(bad).first().mime is None


def test_expire_quarantine_bounds_dirs_and_sweeps_stale_tmp(tmp_path):
    import os
    import time

    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        expire_quarantine,
    )

    q = str(tmp_path / "quarantine")
    os.makedirs(q)
    for i in range(10):
        d = os.path.join(q, f"epoch=stream-x-{i}")
        os.makedirs(d)
        os.utime(d, (1000 + i, 1000 + i))  # staggered mtimes, oldest first
    fresh_tmp = os.path.join(q, ".tmp-epoch=stream-x-99")
    os.makedirs(fresh_tmp)
    stale_tmp = os.path.join(q, ".tmp-epoch=stream-x-0")
    os.makedirs(stale_tmp)
    os.utime(stale_tmp, (time.time() - 7200,) * 2)
    out = expire_quarantine(q, keep_last=3)
    kept = sorted(d for d in os.listdir(q) if d.startswith("epoch="))
    assert kept == [f"epoch=stream-x-{i}" for i in (7, 8, 9)]
    assert len(out["removed_epochs"]) == 7
    # stale staging dir swept, in-flight (fresh) one survives
    assert out["removed_tmp"] == [".tmp-epoch=stream-x-0"]
    assert os.path.isdir(fresh_tmp) and not os.path.isdir(stale_tmp)
    # idempotent + missing-dir safe
    assert expire_quarantine(q, keep_last=3)["removed_epochs"] == []
    assert expire_quarantine(str(tmp_path / "nope")) == {
        "removed_epochs": [],
        "removed_tmp": [],
    }


def test_decode_real_corrupt_payloads_degrade_not_crash(spark):
    from aws_serverless_elt_pipeline_enterprise_spark.functions import multimodal as M

    # valid RIFF/WAVE magic, garbage content: recognized-but-undecodable
    d = M.decode_real(b"RIFF\x24\x00\x00\x00WAVEgarbagegarbage")
    assert d == {"mime": "audio/wav", "features": []}
    # PNG header with width 2^32-1 (> Int32): no dims, no crash
    import struct

    evil = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">IIBBBBB", 0xFFFFFFFF, 5, 8, 2, 0, 0, 0)
    )
    d = M.decode_real(evil)
    assert d["mime"] == "image/png" and "width" not in d
    # both must survive the Spark metadata pass end to end
    df = spark.createDataFrame(
        [("w", "audio", b"RIFF\x24\x00\x00\x00WAVEgarbage"), ("p", "image", evil)],
        ["media_id", "kind", "payload"],
    )
    rows = {r.media_id: r for r in M.decode_meta(df).collect()}
    assert rows["w"].mime == "audio/wav" and rows["w"].duration_ms is None
    assert rows["p"].width is None
    feats = {r.media_id: r for r in M.extract_features(df, fake=False).collect()}
    assert feats["w"].feat_dim == 0 and feats["p"].feat_dim == 0


def test_epoch_ledger_compacts_zero_padded_batch_ids():
    """The replay driver's real naming (batch_00042: '_' separator +
    zero-padded suffix) must compact to an O(1) watermark, not fall to
    the O(n) 'other' set — with no aliasing against unpadded or
    '-'-separated variants."""
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        EpochLedger,
    )

    led = EpochLedger()
    for i in range(100):
        led.add(f"batch_{i:05d}")
    assert not led.other and len(led) == 100
    assert len(led.extras) == 0  # fully contiguous -> one watermark
    assert "batch_00042" in led and "batch_00100" not in led
    # padding width and separator are part of the identity
    for alias in ("batch_42", "batch-00042", "batch_0042", "batch\x0042"):
        assert alias not in led, alias
    led2 = EpochLedger(led.to_json())  # manifest round-trip
    assert "batch_00099" in led2 and "batch_00100" not in led2
    led2.add("batch_00100")
    assert len(led2.extras) == 0


def test_widen_rejects_cross_family_numeric_evolution():
    import pytest
    from pyspark.sql import types as T

    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        unify_schemas,
    )

    def s(**kv):
        return T.StructType([T.StructField(k, v) for k, v in kv.items()])

    out = unify_schemas(s(a=T.IntegerType()), s(a=T.LongType()))
    assert out["a"].dataType == T.LongType()
    out = unify_schemas(s(a=T.FloatType()), s(a=T.DoubleType()))
    assert out["a"].dataType == T.DoubleType()
    # long -> double would silently round counters above 2^53
    with pytest.raises(ValueError, match="incompatible"):
        unify_schemas(s(a=T.LongType()), s(a=T.DoubleType()))
    with pytest.raises(ValueError, match="incompatible"):
        unify_schemas(s(a=T.IntegerType()), s(a=T.FloatType()))


def test_simhash_drops_zero_word_docs(spark):
    """Empty/whitespace/NULL texts all degenerate to signature 0 — N of
    them would form a C(N,2) false-near-dup clique sharing every block."""
    from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as D

    df = spark.createDataFrame(
        [(1, "   "), (2, ""), (3, None), (4, "real words here"),
         (5, "real words here")],
        ["doc_id", "text"],
    )
    pairs = D.simhash_near_dup_pairs(df, max_hamming=3).collect()
    assert {(r.a, r.b) for r in pairs} == {(4, 5)}


def test_batch_topk_rejects_zero_norm_query(spark):
    import pytest

    from aws_serverless_elt_pipeline_enterprise_spark.functions import similarity as S

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="zero-norm query"):
        S.batch_topk_pandas(df, [[0.0, 0.0], [1.0, 0.0]], k=2)


def test_embedding_near_dup_pairs_empty_input(spark):
    from pyspark.sql import types as T

    from aws_serverless_elt_pipeline_enterprise_spark.functions import similarity as S

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    empty = spark.createDataFrame([], schema)
    assert S.embedding_near_dup_pairs(empty).count() == 0
    nulls = spark.createDataFrame([(1, None)], schema)
    assert S.embedding_near_dup_pairs(nulls).count() == 0
