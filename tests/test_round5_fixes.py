"""Round-5 items: materialized hyperplane-LSH index, batch_topk without
the global window, IVF write-salt, Iceberg soft-delete tombstones, and
the round-4 ADVICE fixes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_serverless_elt_pipeline_enterprise_spark.functions import similarity as S
from aws_serverless_elt_pipeline_enterprise_spark.plans import checks


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# -------------------------------------------------------------------------
# Materialized LSH index
# -------------------------------------------------------------------------


def test_lsh_index_probe_is_partition_pruned(spark, sf_dir, tmp_path):
    """The probe must read ONLY the Hamming-ball buckets: the scan's file
    set is confined to probed sig= directories and strictly smaller than
    the index."""
    e = _emb(spark, sf_dir).filter("vec_id <> 0")
    # query WITH an indexed vector so its exact bucket is guaranteed to
    # exist on disk (at fixture scale a random ball can miss every
    # populated bucket of 2^12)
    qv = list(e.orderBy("vec_id").first()["embedding"])
    idx = str(tmp_path / "lsh")
    S.build_lsh_index(e, idx, n_bits=12, seed=7)
    probe_df = S.lsh_index_topk(spark, idx, qv, k=8, probe_hamming=1)
    assert probe_df.count() >= 1  # the query's own bucket was read
    members = spark.read.parquet(os.path.join(idx, "members"))
    qsig = S._query_signature(spark, qv, 12, 7)
    ball = S._hamming_ball(qsig, 12, 1)
    # the probe reads the bucket paths DIRECTLY (listing bounded by the
    # ball, not 2^n_bits) — every file under the probe scan must belong
    # to a probed sig= directory; stronger than a PartitionFilters entry
    probe_files = S._read_probe_buckets(
        spark, os.path.join(idx, "members"), ball
    ).select(F.input_file_name().alias("f"))
    sigs_touched = {
        int(r["f"].split("sig=")[1].split("/")[0]) for r in probe_files.collect()
    }
    assert sigs_touched and sigs_touched <= set(ball)
    assert len(ball) == 13 and len(set(ball)) == 13
    pruned = members.filter(F.col("sig").isin(ball))
    files_read = pruned.select(F.input_file_name()).distinct().count()
    total = members.select(F.input_file_name()).distinct().count()
    n_buckets = members.select("sig").distinct().count()
    assert files_read < total, (files_read, total)
    # at most one bucket-dir's worth of files per probed signature
    assert files_read <= len(ball) * ((total + n_buckets - 1) // n_buckets)


def test_lsh_index_empty_and_dim_mismatch(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    empty = spark.createDataFrame([(1, None)], schema)  # all-NULL vectors
    idx = str(tmp_path / "lsh_empty")
    meta = S.build_lsh_index(empty, idx)
    assert meta["empty"]
    out = S.lsh_index_topk(spark, idx, [1.0, 0.0], k=5)
    assert out.count() == 0 and out.columns == ["vec_id", "cos_sim"]
    full = spark.createDataFrame([(1, [1.0, 0.0])], schema)
    idx2 = str(tmp_path / "lsh_2d")
    S.build_lsh_index(full, idx2)
    with pytest.raises(ValueError, match="dim"):
        S.lsh_index_topk(spark, idx2, [1.0, 0.0, 0.0], k=5)


# -------------------------------------------------------------------------
# batch_topk_pandas: local per-batch top-k, no Window node
# -------------------------------------------------------------------------


def test_batch_topk_no_window_and_matches_per_query_topk(spark, sf_dir):
    e = _emb(spark, sf_dir).filter("vec_id <> 0").limit(400)
    qs = [
        list(r["embedding"])
        for r in _emb(spark, sf_dir).filter("vec_id in (0, 1)").collect()
    ]
    out = S.batch_topk_pandas(e, qs, k=6)
    assert "Window" not in checks.explain_str(out, "simple")
    got = {
        (r.query_id, r.vec_id)
        for r in out.collect()
    }
    for qi, qv in enumerate(qs):
        want = [r.vec_id for r in S.brute_force_topk(e, qv, k=6).collect()]
        assert {(qi, v) for v in want} == {g for g in got if g[0] == qi}


def test_batch_topk_tie_break_matches_global_order(spark):
    """Boundary ties must resolve by id ASC exactly as a global sort
    would — the per-batch pre-reduction is only lossless if it uses the
    same total order."""
    # 6 identical vectors (all ties) with shuffled ids, k=3 -> ids 1,2,3
    rows = [(i, [1.0, 1.0]) for i in (30, 2, 14, 1, 3, 99)]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(rows, schema).repartition(3)
    out = S.batch_topk_pandas(df, [[2.0, 2.0]], k=3).collect()
    assert sorted(r.vec_id for r in out) == [1, 2, 3]


def test_batch_topk_drops_zero_norm_rows_entirely(spark):
    """Zero-norm/NULL vectors have no cosine: they must never appear,
    even when fewer than k valid rows exist."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, None)], schema
    )
    out = S.batch_topk_pandas(df, [[1.0, 0.0]], k=5).collect()
    assert [(r.query_id, r.vec_id) for r in out] == [(0, 1)]


# -------------------------------------------------------------------------
# IVF write-salt
# -------------------------------------------------------------------------


def test_ivf_salted_write_splits_hot_centroid(spark, tmp_path):
    """90%-one-centroid skew: the salted build must write that centroid's
    partition as >1 file (i.e. >1 write task touched it) with results
    identical to the unsalted index."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(1, 400):
        if i % 10 == 0:
            v = rng.randn(8)  # scattered tail
        else:
            v = np.array([10.0] * 8) + rng.randn(8) * 0.01  # hot cluster
        rows.append((i, [float(x) for x in v]))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    plain = str(tmp_path / "ivf_plain")
    salted = str(tmp_path / "ivf_salted")
    S.build_ivf_index(df, plain, n_centroids=4)
    S.build_ivf_index(df, salted, n_centroids=4, salt_buckets=8)
    # find the hot centroid (most members) in the salted index
    m = spark.read.parquet(os.path.join(salted, "members"))
    hot = m.groupBy("cid").count().orderBy(F.desc("count")).first()["cid"]
    hot_files = (
        m.filter(F.col("cid") == hot)
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert hot_files > 1, hot_files
    qv = [10.0] * 8
    got = S.ivf_index_topk(spark, salted, qv, k=12, nprobe=2).collect()
    want = S.ivf_index_topk(spark, plain, qv, k=12, nprobe=2).collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in want
    ]


# -------------------------------------------------------------------------
# ADVICE fixes
# -------------------------------------------------------------------------


def test_read_silver_per_type_surfaces_record_type(spark, tmp_path):
    """The declared per-type schema must keep the record_type partition
    column that inference used to surface (output-schema contract)."""
    from aws_serverless_elt_pipeline_enterprise_spark.sources import jsonl as J

    rt = next(iter(J.RECORD_SCHEMAS))
    # build one silver row of this type via the normal write path
    fields = {f.name: f for f in J.RECORD_SCHEMAS[rt].fields}
    row = {}
    for name, f in fields.items():
        if f.dataType.simpleString() == "string":
            row[name] = "x"
        elif f.dataType.simpleString() in ("bigint", "int"):
            row[name] = 1
        elif f.dataType.simpleString() == "double":
            row[name] = 1.0
        else:
            row[name] = None
    df = spark.createDataFrame([row], J.RECORD_SCHEMAS[rt]).withColumn(
        "record_type", F.lit(rt)
    ).withColumn("dt", F.lit("2024-01-01"))
    J.write_silver(df, str(tmp_path / "silver"))
    out = J.read_silver(spark, str(tmp_path / "silver"), record_type=rt)
    assert "record_type" in out.columns and "dt" in out.columns
    got = out.select("record_type", "dt").first()
    assert (got["record_type"], got["dt"]) == (rt, "2024-01-01")
    # empty-type branch: same schema, zero rows
    other = [t for t in J.RECORD_SCHEMAS if t != rt]
    if other:
        empty = J.read_silver(spark, str(tmp_path / "silver"), record_type=other[0])
        assert "record_type" in empty.columns and empty.count() == 0


def test_json_extract_oracle_matches_typed_parse_semantics(spark, tmp_path):
    """A string-typed {"k":"5"}, a float 5.0, and an out-of-int32 value
    must NULL out identically in the Spark query and the DuckDB oracle
    (the oracle's type+range guard mirrors from_json('k int'))."""
    import duckdb

    import __spark_entry__ as m

    rows = [
        (1, '{"k": 5}'),
        (2, '{"k": "5"}'),
        (3, '{"k": 5.0}'),
        (4, '{"k": 5000000000}'),
        (5, '{"j": 1}'),
        (6, None),
    ]
    sdf = spark.createDataFrame(rows, ["event_id", "props"])
    got = {
        r.event_id: r.k_val
        for r in sdf.select(
            "event_id",
            F.from_json("props", "k int").getField("k").alias("k_val"),
        ).collect()
    }
    assert got == {1: 5, 2: None, 3: None, 4: None, 5: None, 6: None}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {('NULL' if p is None else repr(p))})" for i, p in rows
        )
        + ") t(event_id, props)"
    )
    want = dict(con.execute(m.oracle_sql()["json_extract"]).fetchall())
    assert {k: (None if v is None else int(v)) for k, v in want.items()} == got


def test_roundtrip_previous_result_survives_next_call(spark):
    """Two roundtrip calls; the FIRST call's lazily returned frame must
    still collect after the second call ran (per-call table dirs)."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    df1 = m.q_cdc_replay_roundtrip(spark, sf)
    df2 = m.q_cdc_replay_roundtrip(spark, sf)
    rows2 = df2.collect()
    rows1 = df1.collect()  # collected AFTER call 2 built its table
    assert rows1 == rows2 and len(rows1) > 0


def test_synth_media_roundtrips_through_real_decoders(spark):
    """synth_payload's doc_id arithmetic contract IS the oracle: decode
    must return exactly the predicted dims/duration/fill-mean."""
    from aws_serverless_elt_pipeline_enterprise_spark.functions import multimodal as M

    ids = spark.createDataFrame([(i,) for i in range(30)], ["doc_id"])
    media = M.synth_media(ids)
    meta = {r.media_id: r for r in M.decode_meta(media).collect()}
    feats = {
        r.media_id: r for r in M.extract_features(media, fake=False).collect()
    }
    for i in range(30):
        mid, m = f"m_{i}", i % 3
        if m == 0:
            assert (meta[mid].mime, meta[mid].width, meta[mid].height) == (
                "image/bmp", 1 + i % 13, 1 + i % 7,
            )
            import numpy as np

            want_r = np.float32((i % 256) / 255.0)
            assert feats[mid].features[2] == want_r
        elif m == 1:
            assert meta[mid].mime == "audio/wav"
            assert meta[mid].duration_ms == (100 + i % 50) * 1000 // 8000
        else:
            assert (meta[mid].mime, meta[mid].width, meta[mid].height) == (
                "image/png", 1 + i % 31, 1 + i % 17,
            )


def test_dedup_pipeline_matches_standalone_members(spark, sf_dir):
    """One shared tokenization pass must be output-identical to every
    standalone function at the same parameters."""
    from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as D

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = D.dedup_pipeline(
        docs, threshold=0.5, df_cap=100, hash_mode="portable"
    )
    try:
        assert {tuple(r) for r in out["exact"].collect()} == {
            tuple(r) for r in D.exact_dup_groups(docs).collect()
        }
        assert {tuple(r) for r in out["ngram_pairs"].collect()} == {
            tuple(r)
            for r in D.ngram_jaccard_pairs(
                docs, threshold=0.5, df_cap=100
            ).collect()
        }
        assert {tuple(r) for r in out["minhash_pairs"].collect()} == {
            tuple(r)
            for r in D.minhash_lsh_pairs(docs, hash_mode="portable").collect()
        }
        assert {tuple(r) for r in out["simhash_pairs"].collect()} == {
            tuple(r)
            for r in D.simhash_near_dup_pairs(
                docs, hash_mode="portable"
            ).collect()
        }
        pairs = D.ngram_jaccard_pairs(docs, threshold=0.5, df_cap=100)
        assert {tuple(r) for r in out["clusters"].collect()} == {
            tuple(r) for r in D.dup_clusters(pairs).collect()
        }
    finally:
        spark.catalog.clearCache()


# -------------------------------------------------------------------------
# Portable (quantized, md5-weight) LSH signature mode
# -------------------------------------------------------------------------


def test_portable_lsh_weights_deterministic_and_mixed():
    w = S.portable_lsh_weights(8, 4, seed=42)
    assert w == S.portable_lsh_weights(8, 4, seed=42)
    assert w != S.portable_lsh_weights(8, 4, seed=43)
    flat = [x for row in w for x in row]
    assert set(flat) <= {-1, 1} and len(set(flat)) == 2


def test_portable_lsh_index_recall_and_determinism(spark, sf_dir, tmp_path):
    """The portable index must surface planted near-dups through the
    Hamming-ball probe and return identical rows across two calls
    (integer chain: no float nondeterminism anywhere)."""
    e = _emb(spark, sf_dir)
    qv = list(e.filter("vec_id = 0").first()["embedding"])
    planted = [
        (200000 + i, [float(x) * (1.0 + 0.002 * i) + 0.001 * i for x in qv])
        for i in range(1, 4)
    ]
    rest = e.filter("vec_id <> 0").select("vec_id", "embedding").union(
        spark.createDataFrame(
            planted, e.select("vec_id", "embedding").schema
        )
    )
    idx = str(tmp_path / "lshp")
    meta = S.build_lsh_index(rest, idx, n_bits=16, seed=42, sig_mode="portable")
    assert meta["sig_mode"] == "portable"
    got1 = S.lsh_index_topk(spark, idx, qv, k=5, probe_hamming=3).collect()
    got2 = S.lsh_index_topk(spark, idx, qv, k=5, probe_hamming=3).collect()
    assert [(r.vec_id, r.score) for r in got1] == [
        (r.vec_id, r.score) for r in got2
    ]
    assert {200001, 200002, 200003} <= {r.vec_id for r in got1}
    scores = [r.score for r in got1]
    assert scores == sorted(scores, reverse=True)


def test_portable_lsh_signature_matches_duckdb(spark):
    """The engine's quantized signature and a DuckDB replay from the
    same literal weights must agree bit for bit."""
    import duckdb

    rows = [
        (1, [0.5, -0.25, 0.125, 1.0]),
        (2, [-1.0, 2.0, -3.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector -> sig 0
    ]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    got = {
        r.vec_id: r.sig
        for r in df.select(
            "vec_id",
            S.quantized_hyperplane_signature("embedding", 4, 8, 42).alias("sig"),
        ).collect()
    }
    w = S.portable_lsh_weights(4, 8, 42)
    wsql = "[" + ", ".join("[" + ", ".join(map(str, r)) + "]" for r in w) + "]"
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE v AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {list(map(float, v))})" for i, v in rows)
        + ") t(vec_id, embedding)"
    )
    want = dict(
        con.execute(
            f"""
            WITH ws AS (SELECT {wsql} AS w),
            q AS (SELECT vec_id, list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE)*16384.0) AS BIGINT)) AS q
                  FROM v)
            SELECT vec_id,
                   CAST(sum(CASE WHEN list_sum(list_transform(
                          range(1, len(q)+1), jj -> q[jj] * ws.w[i+1][jj])) > 0
                        THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                        ELSE 0 END) AS BIGINT) AS sig
            FROM q, ws, range(0, 8) r(i) GROUP BY vec_id
            """
        ).fetchall()
    )
    assert got == want and got[3] == 0


# -------------------------------------------------------------------------
# Hashed-shingle shuffle keys (8-byte bigint instead of n-word strings)
# -------------------------------------------------------------------------


def test_hashed_shingles_match_string_shingles(spark, sf_dir):
    """Replacing shingle strings with 64-bit hashes before the inverted-
    index shuffle must not change the pair set or the Jaccard values
    (set cardinalities are preserved when the hash is collision-free on
    the corpus, which both families are at fixture scale). Covers the
    capped (posting-list) and uncapped (self-join) paths and both hash
    families."""
    import os as _os

    from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as D

    docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
    base_capped = {
        tuple(r)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5, df_cap=100).collect()
    }
    base_uncapped = {
        tuple(r) for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert base_capped  # fixture must actually produce near-dup pairs
    for mode in ("xxhash64", "portable"):
        assert {
            tuple(r)
            for r in D.ngram_jaccard_pairs(
                docs, threshold=0.5, df_cap=100, hash_shingles=mode
            ).collect()
        } == base_capped
        assert {
            tuple(r)
            for r in D.ngram_jaccard_pairs(
                docs, threshold=0.5, hash_shingles=mode
            ).collect()
        } == base_uncapped


def test_dedup_pipeline_hashed_shingles_match(spark, sf_dir):
    """dedup_pipeline(hash_shingles=...) must keep every output identical
    to the unhashed pipeline — the hash only changes the shuffled key
    encoding."""
    import os as _os

    from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as D

    docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
    plain = D.dedup_pipeline(docs, threshold=0.5, df_cap=100, hash_mode="portable")
    hashed = D.dedup_pipeline(
        docs,
        threshold=0.5,
        df_cap=100,
        hash_mode="portable",
        hash_shingles="xxhash64",
    )
    try:
        for name in ("exact", "ngram_pairs", "clusters", "minhash_pairs", "simhash_pairs"):
            assert {tuple(r) for r in plain[name].collect()} == {
                tuple(r) for r in hashed[name].collect()
            }, name
    finally:
        spark.catalog.clearCache()


# -------------------------------------------------------------------------
# Direct-path bucket probe (listing bounded by the probe set, not 2^n_bits)
# -------------------------------------------------------------------------


def test_lsh_probe_missing_all_buckets_returns_empty(spark, tmp_path):
    """The probe reads bucket directories directly (no full-index
    listing); when every probed bucket is absent on disk the result is
    an empty frame with the contract schema — in both signature modes."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    # two clustered vectors -> one or two buckets out of 2^16; a query
    # on the OPPOSITE side of every hyperplane with probe_hamming=0
    # misses all existing buckets
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 7 + [0.9])], schema
    )
    for mode in ("xxhash64", "portable"):
        idx = str(tmp_path / f"lsh_miss_{mode}")
        S.build_lsh_index(df, idx, n_bits=16, seed=42, sig_mode=mode)
        vec = [-1.0] * 8
        out = S.lsh_index_topk(spark, idx, vec, k=5, probe_hamming=0)
        want_col = "score" if mode == "portable" else "cos_sim"
        assert out.columns == ["vec_id", want_col]
        assert out.count() == 0
