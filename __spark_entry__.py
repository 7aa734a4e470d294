"""Driver contract: queries() / oracle_sql() / entry().

Each queries() entry is an operator from SURVEY.md §2 (or a training-data
pipeline operator) expressed over the driver's testdata tables; the
matching oracle_sql() entry is the semantically identical ANSI SQL for
DuckDB. Column names and value determinism rules:

  * every computed column is aliased identically on both sides;
  * doubles only appear where both engines produce bit-identical values
    (raw stored values, int/int division, scaled-integer money sums);
  * floating top-k scores (cosine) are rows-only checked (no oracle).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_serverless_elt_pipeline_enterprise_spark.functions import (  # noqa: E402
    curation as cur,
)
from aws_serverless_elt_pipeline_enterprise_spark.functions import (  # noqa: E402
    dedupe as dd,
)
from aws_serverless_elt_pipeline_enterprise_spark.functions import (  # noqa: E402
    multimodal as mm,
)
from aws_serverless_elt_pipeline_enterprise_spark.functions import (  # noqa: E402
    similarity as sim,
)
from aws_serverless_elt_pipeline_enterprise_spark.functions import (  # noqa: E402
    text as tx,
)
from aws_serverless_elt_pipeline_enterprise_spark.functions import (  # noqa: E402
    tokens as tk,
)
from aws_serverless_elt_pipeline_enterprise_spark.functions.parallel import (  # noqa: E402
    spread_small_input,
)
from aws_serverless_elt_pipeline_enterprise_spark.operators import (  # noqa: E402
    scd,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # timestamps in the testdata are naive/UTC and DuckDB treats them as
    # such; pin the session TZ so date/hour derivations agree regardless
    # of how the caller configured the session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# CDC-shaped operators over `events` (key=user_id, seq=event_id)
# --------------------------------------------------------------------------


def q_cdc_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 last-writer-wins as hash-agg max_by: final state per key after
    replaying the event log (the engine's flagship reduction)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max("event_id").alias("last_event_id"),
            F.max_by("event_type", "event_id").alias("last_event_type"),
            F.max_by("value", "event_id").alias("last_value"),
        )
        .orderBy("user_id")
    )


def q_cdc_lww_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 via window/row_number (the sort-based physical alternative)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    )


def q_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 idempotency-shaped dedup: first envelope per (key, type)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "event_type")
    )


def q_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: the reference's Athena partition-count report
    (Instructions.md:122-125) restated over events."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.to_date("ts").alias("dt"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("dt"), "event_type")
    )


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: order-by + limit top-20 (reference Instructions.md:127-131);
    physical plan = TakeOrderedAndProject, no global sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(20)
    )


def q_dq_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: the GE expectation battery (ge_validate_silver.py:36-53) as one
    aggregate pass: row_count / not_null / distinct / bounds."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.count_if(F.col("l_quantity").isNull()).alias("nulls_quantity"),
        F.countDistinct("l_orderkey").alias("distinct_orders"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count_if(F.col("l_extendedprice") < 0).alias("neg_price_rows"),
    )


def q_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/A1 derived arithmetic + group-by. Money is summed as scaled
    integers (engine-portable exactness), divided once at the end."""
    li = _t(spark, sf_dir, "lineitem")
    rev_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(rev_e4).alias("revenue_e4"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .withColumn("revenue", F.col("revenue_e4") / 10000.0)
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_ts_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: ISO-8601 UTC 'Z' canonical timestamp strings (reference
    _iso_to_iso_z, schemas.py:41-47)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso_z"),
    ).orderBy("event_id")


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P10: JSON payload field extraction (the reference's JSONL record
    parsing, lambdas/shared/utils.py:74-94). One typed from_json parse —
    get_json_object re-parses the whole JSON string PER extracted path,
    so k extractions cost k parses; the typed parse costs one and scales
    to wide payloads (r3's slowest 'simple' query, 0.90s -> ~0.6s).
    spread_small_input: the events file is a single parquet row group,
    so the scan cannot split — without the spread the 1M-row JSON parse
    runs in ONE task (guide §2.6; 7.1s -> 1.5s at sf1)."""
    ev = spread_small_input(_t(spark, sf_dir, "events"), "event_id")
    return ev.select(
        "event_id",
        F.from_json("props", "k int").getField("k").alias("k_val"),
    ).orderBy("event_id")


def q_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate (§2.9: the dt-partition rollup as a
    real time window)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("hour_start"), "cnt")
        .orderBy("hour_start")
    )


# --------------------------------------------------------------------------
# Training-data pipeline operators over `documents` / `embeddings`
# --------------------------------------------------------------------------


def q_field_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: coalesce-style field fallbacks + constant literals + casts
    (reference transform_record, ups_shipping/handler.py:31-49).
    spread_small_input: one-row-group events file, per-row JSON path
    probe — same single-task-scan fix as q_json_extract."""
    ev = spread_small_input(_t(spark, sf_dir, "events"), "event_id")
    return ev.select(
        "event_id",
        F.coalesce(
            F.get_json_object("props", "$.missing"), F.col("event_type")
        ).alias("mapped_type"),
        F.lit("cdc_engine").alias("raw_source"),
        F.col("value").cast("string").alias("value_str"),
    ).orderBy("event_id")


def q_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/O2: freshness probe — count rows at/after a threshold + newest
    timestamp (reference workflows/quality/app.py:46-62)."""
    ev = _t(spark, sf_dir, "events")
    thresh = "2024-01-02 00:00:00"
    return ev.agg(
        F.count_if(F.col("ts") >= F.lit(thresh).cast("timestamp")).alias("n_fresh"),
        F.max("ts").alias("newest"),
        F.count(F.lit(1)).alias("n_total"),
    )


def q_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate (absent in the reference, §2.6; the engine supports
    it): orders enriched with customer nation, broadcast dim."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "total_cents"
            ),
        )
        .orderBy("c_nationkey")
    )


def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window running aggregate per key ordered by seq (cumulative count
    keeps it engine-exact)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("nth_event"),
    ).orderBy("user_id", "event_id")


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (engine-portable formulation)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("dt"))
        .agg(
            F.count_if(F.col("event_type") == "click").alias("n_click"),
            F.count_if(F.col("event_type") == "purchase").alias("n_purchase"),
            F.count_if(F.col("event_type") == "error").alias("n_error"),
        )
        .orderBy("dt")
    )


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grand-totals (multi-level aggregate)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("event_type").asc_nulls_first())
    )


def q_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile aggregate (sort-based, engine-portable).

    ONE percentile aggregate evaluating BOTH percentages instead of two
    independent percentile aggs: each percentile() call builds and
    merges its own value->count object-hash buffer over every row, so
    asking for [0.5, 0.95] together halves the buffer work and the
    merge — identical math (the same sorted-counts interpolation is
    evaluated per requested percentage against one buffer). A
    (flag, price, frequency) pre-aggregate feeding a frequency-weighted
    percentile was tried and was SLOWER (8s vs 5s at sf1: prices are
    ~76% distinct, so the pre-agg pays an extra exchange to shrink
    almost nothing — OPTIMIZATION_r06.md); 19.3s -> ~5s at sf1."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice", [0.5, 0.95]).alias("_p"))
        .select(
            "l_returnflag",
            F.col("_p")[0].alias("median_price"),
            F.col("_p")[1].alias("p95_price"),
        )
        .orderBy("l_returnflag")
    )


def q_median_price_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH percentile: percentile_approx (Greenwald-Khanna
    sketch, bounded memory, partial-aggregable) instead of the exact
    F.percentile, which buffers every group value — at 100x the data the
    exact version is the wrong default (BENCH.md round-2 note, now code).
    Oracle-exact anyway: with accuracy >= group row count the GK summary
    never compresses, and Spark then returns the sample at 1-indexed rank
    ceil(q*n) — verified empirically and mirrored as a rank-selection in
    SQL. (At sf>=1 with accuracy 10^6 the sketch would start compressing
    and the equality becomes approximate; the driver gate runs sf0.01.)"""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 1000000).alias(
                "median_price"
            ),
            F.percentile_approx("l_extendedprice", 0.95, 1000000).alias(
                "p95_price"
            ),
        )
        .orderBy("l_returnflag")
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: users who clicked but never purchased (EXCEPT)."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clickers.subtract(buyers).orderBy("user_id")  # EXCEPT (distinct)


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left_anti join: customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag window: per-user value delta between consecutive events (raw
    double subtraction of identical operands -> engine-exact)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "user_id",
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
    ).orderBy("user_id", "event_id")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5) — the exact-dedup key."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", tx.content_fingerprint("text").alias("fp")).orderBy(
        "doc_id"
    )


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy (keeper = min doc_id per content)."""
    d = _t(spark, sf_dir, "documents")
    return dd.exact_dup_groups(d, "text", "doc_id").orderBy("keeper")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (inverted-index join). df_cap
    drops shingles appearing in >100 docs from the universe — the scale
    guard that keeps a stop-phrase shingle from producing an all-pairs
    join at 100 TB; the oracle applies the identical cap. Shingles travel
    as portable 60-bit hashes, not strings (the exchanged-key-volume
    scale path, ~2-4x smaller shuffle keys); the oracle hashes with the
    same md5 family, so the replay is exact, collisions included."""
    d = _t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        d, threshold=0.5, df_cap=100, hash_shingles="portable"
    ).orderBy("a", "b")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features (ratios are int/int -> IEEE-exact)."""
    d = spread_small_input(_t(spark, sf_dir, "documents"), "doc_id", min_bytes=1 << 20)
    return tx.quality_features(d).orderBy("doc_id")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic."""
    d = spread_small_input(_t(spark, sf_dir, "documents"), "doc_id", min_bytes=1 << 20)
    return d.select(
        "doc_id", tx.lang_id_heuristic("text").alias("lang_guess")
    ).orderBy("doc_id")


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.ws_token_count("text").alias("n_ws_tokens"),
        tx.bpe_ish_token_count("text").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: payload byte length + sha256 checksum
    through the mapInPandas feature extractor (fake decode)."""
    d = _t(spark, sf_dir, "documents")
    media = mm.attach_binary_from_text(d)
    feats = mm.extract_features(media, fake=True)
    return feats.select("media_id", "n_bytes", "checksum").orderBy("media_id")


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL decoders (functions/multimodal.py:decode_real) under the
    driver oracle: deterministic BMP/WAV/PNG payloads are synthesized
    from doc_id (real headers AND pixel/PCM content — synth_payload),
    decoded back through mapInPandas, and the oracle predicts every
    decoded property from doc_id arithmetic without ever seeing the
    bytes: dims from the header parse, duration through the stdlib WAV
    parser, and mean-red from the full stride-aware BMP pixel decode
    (solid fill -> exact mean; float32 feature storage mirrored with a
    REAL round-trip cast in SQL)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    media = mm.synth_media(d)
    meta = mm.decode_meta(media)
    feats = mm.extract_features(media, fake=False).select("media_id", "features")
    return (
        meta.join(feats, "media_id")
        .select(
            "media_id",
            "mime",
            "width",
            "height",
            "duration_ms",
            F.when(F.col("mime") == "image/bmp", F.get("features", 2))
            .cast("double")
            .alias("mean_r"),
        )
        .orderBy("media_id")
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs the vec_id=0 embedding over
    floor-quantized integer components — exact bigint dot/norm sums plus
    one IEEE divide, so scores are bit-identical across engines and the
    query is fully oracle-checked (float-fold cosine stays available as
    sim.brute_force_topk for production use)."""
    e = _t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return sim.quantized_cosine_topk(e.filter(F.col("vec_id") != 0), list(qv), k=20)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH chain (signatures computed once -> banded
    candidates -> per-pair Jaccard estimate). hash_mode='portable' uses
    the md5-derived 60-bit shingle hash so DuckDB replays the identical
    chain end-to-end (full oracle)."""
    d = _t(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(d, k=32, bands=8, hash_mode="portable").orderBy(
        "a", "b"
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (block-bucketed, hamming<=3). Portable word
    hash -> the DuckDB oracle recomputes the identical simhash and checks
    pairs + hamming distances exactly."""
    d = _t(spark, sf_dir, "documents")
    return dd.simhash_near_dup_pairs(d, hash_mode="portable").orderBy("a", "b")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing of tokenized docs (applyInPandas). FULLY
    oracle-checked: tokenization (portable md5-derived 60-bit hash mod
    vocab), bucket assignment (portable hash mod 256), the bucket-local
    greedy fold (a DuckDB recursive CTE walks the identical
    ordered-by-doc_id sequence), and each pack's exact token CONTENT
    (md5 of the comma-joined packed tokens — order-sensitive, so the
    oracle verifies concatenation order, not just counts). The raw
    array<int> is projected to that string hash because the driver
    canonicalizer cannot sort/hash list cells."""
    d = spread_small_input(_t(spark, sf_dir, "documents"), "doc_id", min_bytes=1 << 20)
    toks = d.select(
        "doc_id",
        F.transform(
            tx.words("text"),
            lambda w: F.pmod(dd.portable_hash60(w), F.lit(50257)).cast("int"),
        ).alias("tokens"),
    )
    packed = tk.pack_sequences(
        toks,
        max_len=512,
        key="doc_id",
        n_buckets=256,
        bucket_expr=F.pmod(
            dd.portable_hash60(F.col("doc_id").cast("string")), F.lit(256)
        ).cast("int"),
    )
    return packed.select(
        "pack_bucket",
        "pack_id",
        F.md5(
            F.array_join(F.transform("tokens", lambda t: t.cast("string")), ",")
        ).alias("tokens_hash"),
        "n_docs",
        "n_tok",
    ).orderBy("pack_bucket", "pack_id")


def q_chunk_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window CHUNKING of tokenized docs (max_len=64, stride=48,
    overlapping) — the complement of pack_sequences: long docs are sliced
    into fixed-window training chunks in one map-only JVM stage
    (sequence/posexplode/slice, zero shuffles, zero UDFs). FULLY
    oracle-checked: tokenization (portable md5-derived 60-bit hash mod
    vocab), chunk boundaries (start = chunk_id*stride), and each chunk's
    exact token CONTENT (order-sensitive md5 of the comma-joined
    tokens — the raw array<int> is projected to that hash because the
    driver canonicalizer cannot sort/hash list cells)."""
    d = _t(spark, sf_dir, "documents")
    # tokens travel as their decimal STRINGS from the tokenize pass on:
    # every chunk hash needs the string form anyway, and stringifying
    # once per doc instead of once per (overlapping) chunk removes the
    # per-chunk interpreted transform — md5(array_join) over sliced
    # strings is byte-identical to stringifying the sliced ints
    ch = tk.chunk_sequences(
        spread_small_input(d, "doc_id", min_bytes=1 << 20).select(
            "doc_id",
            F.transform(
                tx.words("text"),
                lambda w: F.pmod(dd.portable_hash60(w), F.lit(50257))
                .cast("int")
                .cast("string"),
            ).alias("tokens"),
        ),
        max_len=64,
        stride=48,
    )
    return ch.select(
        "doc_id",
        "chunk_id",
        F.md5(F.array_join("tokens", ",")).alias("tokens_hash"),
        "n_tok",
    ).orderBy("doc_id", "chunk_id")


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components (alternating
    large-star/small-star) over the n-gram-Jaccard pair graph — the step
    that turns pairs into keep/drop decisions in a dedup pipeline.
    Oracle: recursive transitive closure in DuckDB over the identical
    pair set."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(
        d, threshold=0.5, df_cap=100, hash_shingles="portable"
    )
    return dd.dup_clusters(pairs).orderBy("doc_id")


def q_mask_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary term masking (the PII-scrub regexp_replace shape):
    masked-text fingerprint + per-doc mask count."""
    d = _t(spark, sf_dir, "documents")
    masked, n = tx.mask_terms("text")
    return d.select(
        "doc_id",
        F.md5(masked).alias("masked_fp"),
        n.alias("n_masked"),
    ).orderBy("doc_id")


def q_cdc_replay_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE ENGINE ITSELF under the oracle gate: derive a deterministic
    change log from `events` (error -> delete, else update; seq =
    event_id; single-token payload), replay it through SnapshotTable in 4
    interleaved epochs (seq % 4 — the engine is order-independent), and
    return the final table state. The oracle recomputes the same final
    state as pure SQL LWW (arg_max by seq, drop keys whose last op is
    delete) — the north rule's final-state-after-replay criterion checked
    by the driver, not just by pytest."""
    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        apply_epoch,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    # Table lives on the SAME tmpfs work root bench.py uses (r3's driver
    # artifact showed a 2.8x roundtrip swing when this wrote under /tmp's
    # ext4 while the replay bench wrote to /dev/shm). Per-CALL subdir,
    # previous call's dir retained (_fresh_call_root): tmpfs is RAM, so
    # a median-of-N bench looping this query stays bounded at 2 copies,
    # while a caller that collects a previously returned lazy frame
    # after a second call still reads a live table.
    ev = _t(spark, sf_dir, "events")
    chg = ev.select(
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_id").alias("seq"),
        F.when(
            F.col("event_type") != "error",
            F.array(F.pmod(F.col("event_id"), F.lit(50257)).cast("int")),
        ).alias("tokens"),
        F.when(F.col("event_type") != "error", F.lit(1)).alias("n_tok"),
    )
    root = _fresh_call_root("rt", sf_dir)
    table = SnapshotTable(
        spark, os.path.join(root, "t"), key_col="doc_id", n_buckets=8, mode="mor"
    )
    for e in range(4):
        apply_epoch(table, chg.filter(F.pmod(F.col("seq"), F.lit(4)) == e), f"rt-{e}")
    table.compact()
    return (
        table.state()
        .select(
            "doc_id",
            F.element_at("tokens", 1).alias("tok0"),
            F.col("n_tok").cast("int").alias("n_tok"),
        )
        .orderBy("doc_id")
    )


def q_cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHANGE DATA FEED under the oracle gate: replay the first half
    of the event log (by event_id) as epoch one, the rest as epoch two,
    then read SnapshotTable.changes(v1, v2) — the Delta-CDF-style diff
    (insert / update / delete with post-/pre-images, manifest-diff
    bucket pruning). The oracle recomputes both versions' visible states
    as SQL LWW and classifies the same transitions."""
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    ev = _t(spark, sf_dir, "events")
    cut = (ev.agg(F.max("event_id")).first()[0] + 1) // 2
    chg = ev.select(
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"),
    )
    root = _fresh_call_root("cdf", sf_dir)
    table = SnapshotTable(
        spark, os.path.join(root, "t"), key_col="doc_id", n_buckets=8, mode="mor"
    )
    table.merge_reduced(chg.filter(F.col("seq") < cut), "phase-1")
    v1 = table.current_version()
    table.merge_reduced(chg.filter(F.col("seq") >= cut), "phase-2")
    v2 = table.current_version()
    return (
        table.changes(v1, v2)
        .select(
            "doc_id",
            "value",
            F.col("_seq").alias("seq"),
            F.col("_change_type").alias("change_type"),
        )
        .orderBy("doc_id")
    )


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE under the oracle gate: replay the
    event log in three epochs; a MaterializedAggregate (group by the
    LWW event_type, COUNT(*) + SUM of an exact integer payload) is
    refreshed after each epoch — one bootstrap and two O(epoch)
    incremental patches driven by changes(images='both'). The oracle
    computes the same aggregate directly over the SQL LWW final state,
    so hash equality proves patch-maintained == recomputed. (The
    reference answers this question by re-scanning the whole silver
    table per query: Instructions.md:121-125.) Integer sums keep the
    comparison exact (associative addition, no FP-order sensitivity)."""
    from aws_serverless_elt_pipeline_enterprise_spark.operators.incremental_agg import (
        MaterializedAggregate,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    ev = _t(spark, sf_dir, "events")
    hi = ev.agg(F.max("event_id")).first()[0] + 1
    cuts = [hi // 3, 2 * hi // 3, hi]
    chg = ev.select(
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") != "error", F.col("event_type")).alias("grp"),
        F.when(
            F.col("event_type") != "error", F.pmod(F.col("event_id"), F.lit(1000))
        ).alias("val"),
    )
    root = _fresh_call_root("iagg", sf_dir)
    table = SnapshotTable(
        spark, os.path.join(root, "t"), key_col="doc_id", n_buckets=8, mode="mor"
    )
    ma = MaterializedAggregate(
        spark,
        table,
        os.path.join(root, "mv"),
        ["grp"],
        sums={"sum_val": "val"},
    )
    lo = 0
    for i, cut in enumerate(cuts):
        table.merge_reduced(
            chg.filter((F.col("seq") >= lo) & (F.col("seq") < cut)), f"phase-{i}"
        )
        ma.refresh()
        lo = cut
    return ma.result().orderBy("grp")


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING path under the oracle gate: replay the event log into
    a SnapshotTable, compact with sort_within_buckets=True (key-sorted
    buckets -> disjoint row-group ranges), then bucket-pruned point
    lookups for ten keys — the scan reads only the probed keys' hash
    buckets and the pushed key filter skips row groups within them. The
    oracle recomputes the same rows as SQL LWW over the raw events."""
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    ev = _t(spark, sf_dir, "events")
    chg = spread_small_input(
        ev.select(
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"),
    ),
        "doc_id",
    )
    root = _fresh_call_root("plk", sf_dir)
    table = SnapshotTable(
        spark, os.path.join(root, "t"), key_col="doc_id", n_buckets=8, mode="mor"
    )
    table.merge_reduced(chg, "all-events")
    table.compact(sort_within_buckets=True)
    keys = [str(i) for i in range(10)]
    return table.lookup(keys).select("doc_id", "value").orderBy("doc_id")


def q_secondary_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECONDARY-INDEX serving under the oracle gate: replay the event
    log into a SnapshotTable in two epochs with a SecondaryIndex on the
    (non-key) event_type column maintained from the CDF between them —
    bootstrap after epoch one, an incremental entry-move patch after
    epoch two. The probe answers "which docs currently have
    event_type IN (purchase, signup)" by hashing the VALUES to their
    index buckets (value-clustered bucket_col layout) — the reference's
    same-shape Athena probe (WHERE shipment_id = X,
    Instructions.md:127-130) scans the whole partition. The oracle
    recomputes the answer as SQL LWW over the raw events, so hash
    equality proves the maintained index serves exactly the live
    state."""
    from aws_serverless_elt_pipeline_enterprise_spark.operators.secondary_index import (
        SecondaryIndex,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    ev = _t(spark, sf_dir, "events")
    cut = (ev.agg(F.max("event_id")).first()[0] + 1) // 2
    chg = ev.select(
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") != "error", F.col("event_type")).alias("etype"),
    )
    root = _fresh_call_root("six", sf_dir)
    table = SnapshotTable(
        spark, os.path.join(root, "t"), key_col="doc_id", n_buckets=8, mode="mor"
    )
    ix = SecondaryIndex(spark, table, os.path.join(root, "ix"), "etype", n_buckets=16)
    table.merge_reduced(chg.filter(F.col("seq") < cut), "phase-1")
    ix.refresh()  # bootstrap
    table.merge_reduced(chg.filter(F.col("seq") >= cut), "phase-2")
    ix.refresh()  # incremental: index entries move with the LWW state
    return ix.lookup(["purchase", "signup"]).orderBy("etype", "doc_id")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/sessions.py): session id per
    user, new session when >1h passes between events. One key shuffle,
    one sort reused by both windows."""
    from aws_serverless_elt_pipeline_enterprise_spark.operators.sessions import (
        sessionize,
    )

    ev = _t(spark, sf_dir, "events")
    return (
        sessionize(ev, key="user_id", ts="ts", order="event_id", gap_seconds=3600)
        .select("user_id", "event_id", "session_id")
        .orderBy("user_id", "event_id")
    )


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase enriched with the
    user's latest click at or before it, ordered by the globally unique
    event_id (tie-free). Union+window — one key shuffle, no range-join
    explosion. Oracle: DuckDB's native ASOF JOIN."""
    from aws_serverless_elt_pipeline_enterprise_spark.operators.asof import (
        asof_join,
    )

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "value"
    )
    return asof_join(
        purchases,
        clicks,
        key="user_id",
        on="event_id",
        value_cols=["event_id", "value"],
        prefix="click_",
    ).orderBy("user_id", "event_id")


_IVF_INDEX_CACHE: dict[str, str] = {}
_RT_CALL_SEQ: dict[str, int] = {}


def _fresh_call_root(prefix: str, sf_dir: str) -> str:
    """Per-(query, sf_dir, call) table root under the bench work root.
    The returned frames are lazy, so the PREVIOUS call's tables must
    stay readable: each call gets a content-unique subdir and only
    siblings older than the previous call are swept (plus the shared
    dead-pid sweep). Registers an atexit cleanup for the whole per-pid
    dir."""
    import atexit
    import shutil

    from aws_serverless_elt_pipeline_enterprise_spark.benchkit import (
        sweep_stale_tables,
        work_root,
    )

    base = work_root()
    os.makedirs(base, exist_ok=True)
    sweep_stale_tables(base)
    proc_dir = os.path.join(base, f"tbl_{prefix}_{os.getpid()}")
    if not os.path.isdir(proc_dir):
        os.makedirs(proc_dir)
        atexit.register(shutil.rmtree, proc_dir, ignore_errors=True)
    sf_tag = f"{prefix}_" + sf_dir.strip("/").replace("/", "_")
    call = _RT_CALL_SEQ.setdefault(sf_tag, 0)
    _RT_CALL_SEQ[sf_tag] = call + 1
    for d in os.listdir(proc_dir):
        if d.startswith(f"{sf_tag}_c"):
            try:
                older = int(d.rsplit("_c", 1)[1]) < call - 1
            except ValueError:
                older = False
            if older:
                shutil.rmtree(os.path.join(proc_dir, d), ignore_errors=True)
    root = os.path.join(proc_dir, f"{sf_tag}_c{call}")
    shutil.rmtree(root, ignore_errors=True)
    return root


def q_cdc_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC OUTBOX under the oracle gate: replay the event log in two
    epochs; CdfExporter publishes each epoch's change feed as an
    atomically-renamed span directory (exactly-once via the
    listing-as-ledger fast-forward). The returned frame reads the SECOND
    span's parquet back off disk — so the oracle (the same two-phase LWW
    classification as cdc_changes) verifies the bytes a downstream
    consumer would actually tail, not just the in-memory diff."""
    from aws_serverless_elt_pipeline_enterprise_spark.operators.cdf_export import (
        CdfExporter,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    ev = _t(spark, sf_dir, "events")
    cut = (ev.agg(F.max("event_id")).first()[0] + 1) // 2
    chg = ev.select(
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"),
    )
    root = _fresh_call_root("cdx", sf_dir)
    table = SnapshotTable(
        spark, os.path.join(root, "t"), key_col="doc_id", n_buckets=8, mode="mor"
    )
    ex = CdfExporter(spark, table, os.path.join(root, "out"))
    table.merge_reduced(chg.filter(F.col("seq") < cut), "phase-1")
    ex.export()
    table.merge_reduced(chg.filter(F.col("seq") >= cut), "phase-2")
    span = ex.export()
    return (
        spark.read.parquet(span["span_dir"])
        .select(
            "doc_id",
            "value",
            F.col("_seq").alias("seq"),
            F.col("_change_type").alias("change_type"),
        )
        .orderBy("doc_id")
    )


def q_gdpr_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BULK ROW-LEVEL DELETE under the oracle gate (Delta DELETE FROM /
    the GDPR right-to-be-forgotten shape; the reference can only rewrite
    silver wholesale): replay the event log into a SnapshotTable, then
    delete_where(etype = 'click') — matching current-state rows become
    tombstones in one ledger-deduped epoch. The oracle recomputes the
    surviving state directly (LWW visible AND latest type not click), so
    hash equality proves the predicate erased exactly the right rows and
    nothing else."""
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    ev = _t(spark, sf_dir, "events")
    chg = spread_small_input(
        ev.select(
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"),
        F.when(F.col("event_type") != "error", F.col("event_type")).alias("etype"),
    ),
        "doc_id",
    )
    root = _fresh_call_root("gde", sf_dir)
    table = SnapshotTable(
        spark, os.path.join(root, "t"), key_col="doc_id", n_buckets=8, mode="mor"
    )
    table.merge_reduced(chg, "all-events")
    table.delete_where(F.col("etype") == "click", "erase-clicks")
    return table.state().select("doc_id", "value", "etype").orderBy("doc_id")


def q_delete_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten BY KEY under the oracle gate: replay the
    event log, then delete_keys(every user_id divisible by 7) — the
    common GDPR request shape. Unlike delete_where (predicate scan),
    the key-list path reads ONLY the probed keys' hash buckets
    (bucket-pruned; files-read-asserted in tests/test_row_level_ops.py).
    The oracle recomputes the surviving LWW state directly (visible AND
    uid % 7 != 0), so hash equality proves the erasure hit exactly the
    requested keys and nothing else."""
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    ev = _t(spark, sf_dir, "events")
    chg = spread_small_input(
        ev.select(
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"),
        F.when(F.col("event_type") != "error", F.col("event_type")).alias("etype"),
    ),
        "doc_id",
    )
    root = _fresh_call_root("dk", sf_dir)
    table = SnapshotTable(
        spark, os.path.join(root, "t"), key_col="doc_id", n_buckets=8, mode="mor"
    )
    table.merge_reduced(chg, "all-events")
    # the request list: deterministic, bounded (|users|/7), driver-side —
    # exactly how an RTBF queue hands over keys
    keys = [
        r[0]
        for r in ev.select(F.col("user_id").cast("string"))
        .filter(F.pmod(F.col("user_id"), F.lit(7)) == 0)
        .distinct()
        .collect()
    ]
    table.delete_keys(keys, "rtbf-batch")
    return table.state().select("doc_id", "value", "etype").orderBy("doc_id")


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP TIME TRAVEL under the oracle gate (Delta timestampAsOf /
    Iceberg FOR SYSTEM_TIME AS OF; the reference keeps no history at
    all — silver is overwrite-in-place, Instructions.md silver layout):
    replay the event log in three epochs with an INJECTED commit clock
    (ticks 1,2,3 -> commit timestamps 1000/2000/3000 ms), then serve
    `state_at(2500)` — which must resolve to the second commit — as the
    visible LWW state. The oracle recomputes that state directly over
    the first two-thirds of the log, so hash equality proves
    timestamp->version resolution AND the historical read are exact."""
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    ev = _t(spark, sf_dir, "events")
    hi = ev.agg(F.max("event_id")).first()[0] + 1
    cuts = [hi // 3, 2 * hi // 3, hi]
    chg = ev.select(
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"),
    )
    root = _fresh_call_root("ttr", sf_dir)
    ticks = iter([1.0, 2.0, 3.0])
    table = SnapshotTable(
        spark,
        os.path.join(root, "t"),
        key_col="doc_id",
        n_buckets=8,
        mode="mor",
        clock=lambda: next(ticks),
    )
    lo = 0
    for i, cut in enumerate(cuts):
        table.merge_reduced(
            chg.filter((F.col("seq") >= lo) & (F.col("seq") < cut)), f"tt-{i}"
        )
        lo = cut
    return (
        table.state_at(2500)
        .select("doc_id", "value")
        .orderBy("doc_id")
    )


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN through the MATERIALIZED index path: the first call
    per sf_dir builds the index (one broadcast assign pass via a
    partial-aggregable max_by, members written PARTITIONED BY centroid
    to the bench work root); every query is then a partition-pruned read
    of only the nprobe=4 probed centroids' partitions — ~nprobe/32 of
    the files, the real 10^10-vector shape (build once, probe many).
    n_centroids=32 is FIXED (C does not grow with N). Quantized-integer
    cosine keeps the whole chain engine-exact and path-independent, so
    the SQL oracle replaying assignment, probe, and scoring matches the
    on-disk index bit-for-bit."""
    import atexit
    import shutil

    from aws_serverless_elt_pipeline_enterprise_spark.benchkit import (
        sweep_stale_tables,
        work_root,
    )

    idx = _IVF_INDEX_CACHE.get(sf_dir)
    if idx is None:
        # a kill -9 leaves tbl_ivf_<pid> on tmpfs with no atexit to
        # clean it — the shared dead-pid sweep here bounds that growth
        # even for driver runs that execute ONLY this query
        os.makedirs(work_root(), exist_ok=True)
        sweep_stale_tables(work_root())
        e = _t(spark, sf_dir, "embeddings")
        idx = os.path.join(
            work_root(), f"tbl_ivf_{os.getpid()}", sf_dir.strip("/").replace("/", "_")
        )
        sim.build_ivf_index(
            e.filter(F.col("vec_id") != 0), idx, n_centroids=32
        )
        atexit.register(
            shutil.rmtree, os.path.dirname(idx), ignore_errors=True
        )
        _IVF_INDEX_CACHE[sf_dir] = idx
    e = _t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return sim.ivf_index_topk(spark, idx, list(qv), k=20, nprobe=4)


_LSH_INDEX_CACHE: dict[str, str] = {}


def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN through the MATERIALIZED index path
    (functions/similarity.py:build_lsh_index / lsh_index_topk): the
    first call per sf_dir signs every vector ONCE (portable QUANTIZED
    signature — integer projection, md5-derived ±1 weights) and writes
    members PARTITIONED BY signature; each query then enumerates the
    Hamming-3 ball driver-side (697 of 2^16 buckets) and reads only
    those partitions. Scoring is exact integer cosine, so the ENTIRE
    chain — quantize, sign, probe, score — is replayed bit-for-bit by
    the DuckDB oracle (the one-shot xxhash64 mode stays the production
    default; this is its oracle-checkable twin)."""
    import atexit
    import shutil

    from aws_serverless_elt_pipeline_enterprise_spark.benchkit import (
        sweep_stale_tables,
        work_root,
    )

    idx = _LSH_INDEX_CACHE.get(sf_dir)
    if idx is None:
        os.makedirs(work_root(), exist_ok=True)
        sweep_stale_tables(work_root())
        e = _t(spark, sf_dir, "embeddings")
        idx = os.path.join(
            work_root(), f"tbl_lsh_{os.getpid()}", sf_dir.strip("/").replace("/", "_")
        )
        sim.build_lsh_index(
            e.filter(F.col("vec_id") != 0),
            idx,
            n_bits=16,
            seed=42,
            sig_mode="portable",
        )
        atexit.register(shutil.rmtree, os.path.dirname(idx), ignore_errors=True)
        _LSH_INDEX_CACHE[sf_dir] = idx
    e = _t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return sim.lsh_index_topk(spark, idx, list(qv), k=20, probe_hamming=3)


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency histogram (tokenizer/vocab stats every
    training pipeline computes): tokenize with the portable 60-bit hash
    mod vocab, explode, count, top-50. One explode + one partial-agg
    shuffle + TakeOrderedAndProject."""
    d = spread_small_input(_t(spark, sf_dir, "documents"), "doc_id", min_bytes=1 << 20)
    tok = F.explode(
        F.transform(
            tx.words("text"),
            lambda w: F.pmod(dd.portable_hash60(w), F.lit(50257)),
        )
    ).alias("token")
    return (
        d.select(tok)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(50)
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (operators/scd.py): every state
    version per user with its validity interval; 'error' events act as
    tombstones — they close the predecessor's interval but emit no
    version (the deleted-then-reinserted gap is the dimensional truth).
    One shuffle on key + per-key sort, the sessionize shape."""
    ev = _t(spark, sf_dir, "events")
    return (
        scd.scd2_history(
            ev,
            key="user_id",
            seq="event_id",
            ts="ts",
            delete_when=F.col("event_type") == "error",
        )
        .select(
            "user_id", "event_id", "value", "valid_from", "valid_to", "is_current"
        )
        .orderBy("user_id", "event_id")
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane-LSH signature
    bucketing + exact verify — the portable quantized chain (integer
    projection with md5-family ±1 weights, bigint-dot cosine) so DuckDB
    replays sign, bucket-join, and score bit-for-bit. n_bits=4 /
    threshold=0.3 instead of the production 16/0.95 because the synthetic
    embeddings are near-orthogonal random vectors — these settings
    produce a non-trivial verified pair set; the pair generator is
    identical at any setting (bucket equijoin, never all-pairs)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.embedding_near_dup_pairs(
        e.filter(F.col("embedding").isNotNull()),
        threshold=0.3,
        n_bits=4,
        seed=42,
        sig_mode="portable",
    ).orderBy("a", "b")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / Gopher A.3 style):
    corpus docs sharing any word n-gram with a held-out benchmark set,
    with the benchmark's hashed shingle set broadcast so the corpus is
    never shuffled against itself. The benchmark here is the
    deterministic doc_id % 19 == 3 slice of the same table; n=3 (instead
    of the production n=13) so the synthetic word-soup corpus produces a
    non-trivial hit set to verify."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 19 == 3)
    corpus = d.filter(F.col("doc_id") % 19 != 3)
    return cur.contaminated_docs(
        corpus, bench, n=3, hash_mode="portable"
    ).orderBy("doc_id")


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality metrics, zero-shuffle HOF fold
    per doc (functions/curation.py:repetition_profile)."""
    d = _t(spark, sf_dir, "documents")
    return cur.repetition_profile(d).orderBy("doc_id")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted training-mix sampling: per-source rates
    with up-sampling (src0 x2.5, src1 x1, src2 x0.5, rest x0.25), the
    keep/replicate decision a pure hash of (doc_id, salt) so the DuckDB
    oracle replays the exact sample."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cur.stratified_sample(
        d,
        {"src0": 2.5, "src1": 1.0, "src2": 0.5},
        strat="source",
        key="doc_id",
        default_rate=0.25,
        hash_mode="portable",
    ).orderBy("doc_id", "copy")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_final_state": q_cdc_final_state,
        "cdc_lww_window": q_cdc_lww_window,
        "dedup_first_event": q_dedup_first_event,
        "group_count": q_group_count,
        "topk_orders": q_topk_orders,
        "dq_lineitem": q_dq_lineitem,
        "revenue": q_revenue,
        "ts_normalize": q_ts_normalize,
        "json_extract": q_json_extract,
        "hourly_counts": q_hourly_counts,
        "field_mapping": q_field_mapping,
        "quality_probe": q_quality_probe,
        "join_enrich": q_join_enrich,
        "running_sum": q_running_sum,
        "pivot_counts": q_pivot_counts,
        "rollup_counts": q_rollup_counts,
        "median_price": q_median_price,
        "median_price_approx": q_median_price_approx,
        "set_ops": q_set_ops,
        "anti_join": q_anti_join,
        "lag_delta": q_lag_delta,
        "doc_fingerprint": q_doc_fingerprint,
        "exact_dup_groups": q_exact_dup_groups,
        "ngram_jaccard": q_ngram_jaccard,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "token_counts": q_token_counts,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_decode": q_multimodal_decode,
        "embedding_topk": q_embedding_topk,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_pairs": q_simhash_pairs,
        "pack_sequences": q_pack_sequences,
        "chunk_sequences": q_chunk_sequences,
        "dup_clusters": q_dup_clusters,
        "mask_terms": q_mask_terms,
        "token_histogram": q_token_histogram,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        "embedding_lsh_topk": q_embedding_lsh_topk,
        "cdc_changes": q_cdc_changes,
        "cdc_export": q_cdc_export,
        "gdpr_erase": q_gdpr_erase,
        "delete_keys": q_delete_keys,
        "time_travel": q_time_travel,
        "incremental_agg": q_incremental_agg,
        "secondary_lookup": q_secondary_lookup,
        "point_lookup": q_point_lookup,
        "scd2_history": q_scd2_history,
        "embedding_near_dup": q_embedding_near_dup,
        "decontaminate": q_decontaminate,
        "repetition_filter": q_repetition_filter,
        "stratified_sample": q_stratified_sample,
        "asof_attribution": q_asof_attribution,
        "sessionize": q_sessionize,
        "cdc_replay_roundtrip": q_cdc_replay_roundtrip,
    }


_EN = "'the','a','of','and','to','in','is','it'"
_ES = "'el','la','de','que','y','en','un','es'"
_DE = "'der','die','das','und','ist','von','ein','zu'"
_FR = "'le','la','de','et','un','est','que','en'"

# DuckDB whitespace tokenization, byte-identical to functions/text.py:words()
_WORDS = "list_filter(string_split_regex(trim(text), '[ \\t\\n\\r]+'), t0 -> t0 <> '')"


def _hits(words_expr: str, lst: str) -> str:
    return f"len(list_filter({words_expr}, w -> list_contains([{lst}], w)))"


def _qcos(a: str, b: str) -> str:
    """DuckDB exact cosine between two quantized bigint lists (mirrors
    similarity.quantized_cosine_cols bit-for-bit)."""
    return (
        f"(CAST(list_sum(list_transform(range(1, len({a})+1),"
        f" i -> {a}[i]*{b}[i])) AS DOUBLE)"
        f" / (sqrt(CAST(list_sum(list_transform({a}, x -> x*x)) AS DOUBLE))"
        f" * sqrt(CAST(list_sum(list_transform({b}, x -> x*x)) AS DOUBLE))))"
    )


# the portable LSH weights are pure functions of (j, i, seed) via the md5
# family — both the Spark signature and the oracle consume them as
# LITERALS (dim=64 matches the driver testdata's embedding width at every
# sf; build_lsh_index probes the real dim and would diverge loudly, not
# silently, if the generator ever changed it)
_LSH_W_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join(str(w) for w in row) + "]"
        for row in sim.portable_lsh_weights(64, 16, 42)
    )
    + "]"
)
_LSH_W4_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join(str(w) for w in row) + "]"
        for row in sim.portable_lsh_weights(64, 4, 42)
    )
    + "]"
)
_LSH_SIG_SUM = (
    "CAST(sum(CASE WHEN list_sum(list_transform(range(1, len(q)+1),"
    " jj -> q[jj] * ws.w[i+1][jj])) > 0"
    " THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END) AS BIGINT)"
)


def oracle_sql() -> dict[str, str]:
    sql = _oracle_sql_literal()
    # cdc_export publishes exactly the cdc_changes diff to disk and
    # reads it back; the oracle is identical by construction
    sql["cdc_export"] = sql["cdc_changes"]
    return sql


def _oracle_sql_literal() -> dict[str, str]:
    return {
        "cdc_final_state": """
            -- struct-wrapped arg_max: DuckDB's bare arg_max SKIPS rows
            -- whose value arg is NULL, but LWW semantics (and Spark's
            -- max_by) keep the latest row's value even when it is NULL
            -- (an update that nulls a field is still the latest state);
            -- the struct is never NULL, so no row is skipped
            SELECT user_id,
                   max(event_id)               AS last_event_id,
                   (arg_max({'x': event_type}, event_id)).x AS last_event_type,
                   (arg_max({'x': value}, event_id)).x      AS last_value
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "cdc_lww_window": """
            SELECT user_id, event_id, event_type, value FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY event_id DESC) rn
              FROM events
            ) WHERE rn = 1 ORDER BY user_id
        """,
        "dedup_first_event": """
            SELECT user_id, event_type,
                   min(event_id) AS first_event_id,
                   count(*)      AS n_events
            FROM events GROUP BY user_id, event_type
            ORDER BY user_id, event_type
        """,
        "group_count": """
            SELECT event_type, CAST(ts AS DATE) AS dt, count(*) AS cnt
            FROM events GROUP BY event_type, CAST(ts AS DATE)
            ORDER BY dt DESC, event_type
        """,
        "topk_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
        """,
        "dq_lineitem": """
            SELECT count(*)                                   AS row_count,
                   count(*) FILTER (l_quantity IS NULL)       AS nulls_quantity,
                   count(DISTINCT l_orderkey)                 AS distinct_orders,
                   min(l_quantity)                            AS min_qty,
                   max(l_quantity)                            AS max_qty,
                   count(*) FILTER (l_extendedprice < 0)      AS neg_price_rows
            FROM lineitem
        """,
        # DuckDB sum(BIGINT) yields HUGEINT (-> float64 in pandas); cast the
        # sums back to BIGINT so dtypes match Spark's int64 in the driver
        # canonicalizer (values were already identical).
        "revenue": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                       * 10000) AS BIGINT))
                        AS BIGINT)                            AS revenue_e4,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   count(*)                                   AS n_rows,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                       * 10000) AS BIGINT))
                        AS BIGINT) / 10000.0                  AS revenue
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "ts_normalize": """
            SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS iso_z
            FROM events ORDER BY event_id
        """,
        # typed-parse NULL semantics mirrored exactly: Spark's
        # from_json('k int') NULLs out a string-typed {"k":"5"}, a float
        # 5.0, and an out-of-int32-range value (Jackson token/range
        # check), where a bare CAST(json_extract_string(...)) would
        # coerce them — the type+range guard makes DuckDB NULL the same
        # rows, independent of what the generator happens to emit
        "json_extract": """
            SELECT event_id,
                   CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                         AND CAST(json_extract(props, '$.k') AS BIGINT)
                             BETWEEN -2147483648 AND 2147483647
                        THEN CAST(json_extract(props, '$.k') AS INTEGER)
                   END AS k_val
            FROM events ORDER BY event_id
        """,
        "hourly_counts": """
            SELECT date_trunc('hour', ts) AS hour_start, count(*) AS cnt
            FROM events GROUP BY 1 ORDER BY hour_start
        """,
        "field_mapping": """
            SELECT event_id,
                   coalesce(json_extract_string(props, '$.missing'),
                            event_type)              AS mapped_type,
                   'cdc_engine'                      AS raw_source,
                   CAST(value AS VARCHAR)            AS value_str
            FROM events ORDER BY event_id
        """,
        "quality_probe": """
            SELECT count(*) FILTER (ts >= TIMESTAMP '2024-01-02 00:00:00')
                       AS n_fresh,
                   max(ts) AS newest,
                   count(*) AS n_total
            FROM events
        """,
        "join_enrich": """
            SELECT c_nationkey,
                   count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS total_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey ORDER BY c_nationkey
        """,
        "running_sum": """
            SELECT user_id, event_id,
                   count(*) OVER (PARTITION BY user_id ORDER BY event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS nth_event
            FROM events ORDER BY user_id, event_id
        """,
        "pivot_counts": """
            SELECT CAST(ts AS DATE) AS dt,
                   count(*) FILTER (event_type = 'click')    AS n_click,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'error')    AS n_error
            FROM events GROUP BY 1 ORDER BY dt
        """,
        "rollup_counts": """
            SELECT event_type, count(*) AS cnt
            FROM events GROUP BY ROLLUP (event_type)
            ORDER BY event_type ASC NULLS FIRST
        """,
        "median_price": """
            SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.5)  AS median_price,
                   quantile_cont(l_extendedprice, 0.95) AS p95_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        # GK-sketch percentile at non-compressing accuracy == the sample
        # at 1-indexed rank ceil(q*n) (empirically verified convention)
        "median_price_approx": """
            WITH s AS (
              SELECT l_returnflag, l_extendedprice,
                     row_number() OVER (PARTITION BY l_returnflag
                                        ORDER BY l_extendedprice) AS rn,
                     count(*) OVER (PARTITION BY l_returnflag) AS n
              FROM lineitem
            )
            SELECT l_returnflag,
                   max(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT)
                            THEN l_extendedprice END)  AS median_price,
                   max(CASE WHEN rn = CAST(ceil(0.95*n) AS BIGINT)
                            THEN l_extendedprice END)  AS p95_price
            FROM s GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "set_ops": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'purchase'
            ORDER BY user_id
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey
        """,
        "lag_delta": """
            SELECT user_id, event_id,
                   value - lag(value) OVER (PARTITION BY user_id
                                            ORDER BY event_id) AS value_delta
            FROM events ORDER BY user_id, event_id
        """,
        "doc_fingerprint": """
            SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id
        """,
        "exact_dup_groups": """
            SELECT min(doc_id) AS keeper, count(*) AS n_copies
            FROM documents WHERE text IS NOT NULL GROUP BY md5(text)
            HAVING count(*) > 1 ORDER BY keeper
        """,
        "ngram_jaccard": """
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '[ \t\n\r]+'), t0 -> t0 <> '') AS w
              FROM documents
            ), sh_all AS (
              SELECT DISTINCT doc_id,
                     CAST(concat('0x', substr(md5(s0), 1, 15)) AS BIGINT)
                       AS s
              FROM toks,
                UNNEST(list_transform(
                  range(1, greatest(len(w) - 2, 0) + 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                )) AS u(s0)
            ), rare AS (
              SELECT s FROM sh_all GROUP BY s HAVING count(*) <= 100
            ), sh AS (
              SELECT sh_all.doc_id, sh_all.s FROM sh_all JOIN rare USING (s)
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), overlap AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
              FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
              GROUP BY x.doc_id, y.doc_id
            )
            SELECT a, b,
                   CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
            FROM overlap
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5
            ORDER BY a, b
        """,
        "text_quality": f"""
            WITH base AS (
              SELECT doc_id, text,
                     length(text) AS n_chars_m,
                     len({_WORDS}) AS n_words,
                     length(text) - length(replace(text, ' ', '')) AS n_spaces,
                     len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS n_punct,
                     {_hits(_WORDS, _EN)} AS en_hits
              FROM documents
            )
            SELECT doc_id, n_chars_m, n_words, n_punct,
                   CAST(n_spaces AS DOUBLE) / n_chars_m AS space_ratio,
                   CAST(en_hits AS DOUBLE) / n_words    AS stopword_ratio,
                   (n_words >= 5 AND en_hits > 0 AND n_chars_m < 1000000)
                       AS passes_quality
            FROM base ORDER BY doc_id
        """,
        "lang_id": f"""
            WITH h AS (
              SELECT doc_id,
                     {_hits(_WORDS, _DE)} AS h_de,
                     {_hits(_WORDS, _EN)} AS h_en,
                     {_hits(_WORDS, _ES)} AS h_es,
                     {_hits(_WORDS, _FR)} AS h_fr
              FROM documents
            )
            SELECT doc_id,
                   CASE
                     WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
                     WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
                     WHEN h_en >= h_de THEN 'en'
                     ELSE 'de'
                   END AS lang_guess
            FROM h ORDER BY doc_id
        """,
        "token_counts": """
            SELECT doc_id,
                   len(list_filter(string_split_regex(trim(text), '[ \t\n\r]+'), t0 -> t0 <> ''))     AS n_ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]')) AS n_bpe_tokens
            FROM documents ORDER BY doc_id
        """,
        "multimodal_meta": """
            SELECT 'm_' || CAST(doc_id AS VARCHAR) AS media_id,
                   octet_length(encode(text))      AS n_bytes,
                   sha256(text)                    AS checksum
            FROM documents ORDER BY media_id
        """,
        # every decoded property is doc_id arithmetic (synth_payload's
        # contract): the oracle never sees the bytes yet predicts the
        # decode exactly. mean_r mirrors Spark's float32 feature storage
        # with a REAL round-trip before the final DOUBLE.
        "multimodal_decode": """
            SELECT 'm_' || CAST(doc_id AS VARCHAR) AS media_id,
                   CASE CAST(doc_id % 3 AS INTEGER)
                     WHEN 0 THEN 'image/bmp'
                     WHEN 1 THEN 'audio/wav'
                     ELSE 'image/png' END AS mime,
                   CASE WHEN doc_id % 3 = 0 THEN CAST(1 + doc_id % 13 AS INTEGER)
                        WHEN doc_id % 3 = 2 THEN CAST(1 + doc_id % 31 AS INTEGER)
                   END AS width,
                   CASE WHEN doc_id % 3 = 0 THEN CAST(1 + doc_id % 7 AS INTEGER)
                        WHEN doc_id % 3 = 2 THEN CAST(1 + doc_id % 17 AS INTEGER)
                   END AS height,
                   CASE WHEN doc_id % 3 = 1
                        THEN CAST(((100 + doc_id % 50) * 1000) // 8000 AS BIGINT)
                   END AS duration_ms,
                   CASE WHEN doc_id % 3 = 0
                        THEN CAST(CAST(CAST(doc_id % 256 AS DOUBLE) / 255.0
                                       AS REAL) AS DOUBLE)
                   END AS mean_r
            FROM documents ORDER BY media_id
        """,
        # Full-chain oracles for the similarity family: the engine queries
        # run in hash_mode='portable' (md5-derived 60-bit hash,
        # functions/dedupe.py:portable_hash60) so DuckDB can replay the
        # exact MinHash permutations / SimHash bit votes / quantized
        # cosine and the driver hash-checks values, not just row counts.
        "embedding_topk": """
            WITH q AS (
              SELECT list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)*16384.0) AS BIGINT)) AS qv
              FROM embeddings WHERE vec_id = 0
            ), c AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)*16384.0) AS BIGINT)) AS cv
              FROM embeddings WHERE vec_id <> 0
            ), s AS (
              SELECT vec_id,
                     CAST(list_sum(list_transform(range(1, len(cv)+1),
                                                  i -> cv[i]*qv[i]))
                          AS BIGINT) AS dot_q,
                     CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS na,
                     CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nb
              FROM c, q
            )
            SELECT vec_id, dot_q,
                   CAST(dot_q AS DOUBLE)
                     / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
                     AS score
            FROM s ORDER BY score DESC, vec_id LIMIT 20
        """,
        "minhash_lsh_pairs": """
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '[ \t\n\r]+'), t0 -> t0 <> '') AS w
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, s FROM toks,
                UNNEST(list_transform(
                  range(1, greatest(len(w) - 2, 0) + 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                )) AS u(s)
            ), x AS (
              SELECT doc_id,
                     CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)
                       % 2147483647 AS x
              FROM sh
            ), perm AS (
              SELECT i,
                     ((42*1000003 + i*2654435761 + 1) % 1048576) | 1 AS a_c,
                     (42*97 + i*1234567891) % 2147483647 AS b_c
              FROM range(0, 32) r(i)
            ), hs AS (
              SELECT doc_id, i, min((a_c * x + b_c) % 2147483647) AS hmin
              FROM x CROSS JOIN perm GROUP BY doc_id, i
            ), sigs AS (
              SELECT doc_id, list(hmin ORDER BY i) AS sig FROM hs GROUP BY doc_id
            ), banded AS (
              SELECT doc_id, b AS band_id,
                     array_to_string(list_slice(sig, b*4+1, b*4+4), ',')
                       AS band_hash
              FROM sigs CROSS JOIN range(0, 8) r(b)
            ), cand AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM banded x JOIN banded y
                ON x.band_id = y.band_id AND x.band_hash = y.band_hash
               AND x.doc_id < y.doc_id
            )
            SELECT c.a, c.b,
                   CAST(len(list_filter(range(1, 33),
                                        i -> sa.sig[i] = sb.sig[i]))
                        AS DOUBLE) / 32 AS jaccard_est
            FROM cand c
            JOIN sigs sa ON sa.doc_id = c.a
            JOIN sigs sb ON sb.doc_id = c.b
            ORDER BY a, b
        """,
        "simhash_pairs": """
            WITH w AS (
              SELECT DISTINCT doc_id, u.word
              FROM documents,
                   UNNEST(list_filter(string_split_regex(trim(text), '[ \t\n\r]+'), t0 -> t0 <> '')) AS u(word)
            ), h AS (
              SELECT doc_id,
                     CAST(concat('0x', substr(md5(word),1,15)) AS BIGINT) AS h
              FROM w
            ), bits AS (
              SELECT doc_id, i,
                     sum(CASE WHEN ((h >> CAST(i AS INTEGER)) & 1) = 1
                              THEN 1 ELSE -1 END) AS c
              FROM h CROSS JOIN range(0, 63) r(i) GROUP BY doc_id, i
            ), sh AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN c > 0
                                   THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                                   ELSE 0 END) AS BIGINT) AS sh
              FROM bits GROUP BY doc_id
            )
            SELECT x.doc_id AS a, y.doc_id AS b,
                   CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
            FROM sh x JOIN sh y ON x.doc_id < y.doc_id
            WHERE bit_count(xor(x.sh, y.sh)) <= 3
            ORDER BY a, b
        """,
        "dup_clusters": """
            WITH RECURSIVE toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '[ \t\n\r]+'), t0 -> t0 <> '') AS w
              FROM documents
            ), sh_all AS (
              SELECT DISTINCT doc_id,
                     CAST(concat('0x', substr(md5(s0), 1, 15)) AS BIGINT)
                       AS s
              FROM toks,
                UNNEST(list_transform(
                  range(1, greatest(len(w) - 2, 0) + 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                )) AS u(s0)
            ), rare AS (
              SELECT s FROM sh_all GROUP BY s HAVING count(*) <= 100
            ), sh AS (
              SELECT sh_all.doc_id, sh_all.s FROM sh_all JOIN rare USING (s)
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), overlap AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
              FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
              GROUP BY x.doc_id, y.doc_id
            ), pairs AS (
              SELECT a, b FROM overlap
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5
            ), sym AS (
              SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
            ), reach AS (
              SELECT a AS node, b AS other FROM sym
              UNION
              SELECT r.node, s.b AS other FROM reach r JOIN sym s ON s.a = r.other
            )
            SELECT node AS doc_id, least(node, min(other)) AS cluster
            FROM reach GROUP BY node ORDER BY doc_id
        """,
        "mask_terms": r"""
            SELECT doc_id,
                   md5(regexp_replace(text, '\b(table|row|scan)\b',
                                      '<MASK>', 'g')) AS masked_fp,
                   len(regexp_extract_all(text, '\b(table|row|scan)\b'))
                       AS n_masked
            FROM documents ORDER BY doc_id
        """,
        "cdc_replay_roundtrip": """
            WITH chg AS (
              SELECT CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     CAST(user_id AS VARCHAR) AS doc_id,
                     event_id AS seq,
                     CASE WHEN event_type <> 'error'
                          THEN event_id % 50257 END AS tok0
              FROM events
            ), last AS (
              SELECT doc_id,
                     arg_max(op, seq)   AS last_op,
                     arg_max(tok0, seq) AS tok0
              FROM chg GROUP BY doc_id
            )
            SELECT doc_id, CAST(tok0 AS INTEGER) AS tok0,
                   CAST(1 AS INTEGER) AS n_tok
            FROM last WHERE last_op <> 'delete' ORDER BY doc_id
        """,
        "point_lookup": """
            WITH s AS (
              SELECT CAST(user_id AS VARCHAR) AS doc_id,
                     arg_max(event_type, event_id) AS lop,
                     arg_max(value, event_id) AS value
              FROM events GROUP BY user_id
            )
            SELECT doc_id, value FROM s
            WHERE lop <> 'error'
              AND doc_id IN ('0','1','2','3','4','5','6','7','8','9')
            ORDER BY doc_id
        """,
        # cdc_changes: replay both halves as SQL LWW states and classify
        # the visible-state transitions exactly as changes() does. s2's
        # winner value matches the table because visibility (lop <>
        # 'error') guarantees the winning op was an update, which carries
        # the event's value; delete rows emit the v1 pre-image.
        "cdc_changes": """
            WITH cut AS (
              SELECT (max(event_id)+1)//2 AS c FROM events
            ), s1 AS (
              SELECT CAST(user_id AS VARCHAR) AS doc_id,
                     arg_max(event_type, event_id) AS lop,
                     arg_max(value, event_id) AS v,
                     max(event_id) AS seq
              FROM events, cut WHERE event_id < c GROUP BY user_id
            ), s2 AS (
              SELECT CAST(user_id AS VARCHAR) AS doc_id,
                     arg_max(event_type, event_id) AS lop,
                     arg_max(value, event_id) AS v,
                     max(event_id) AS seq
              FROM events GROUP BY user_id
            ), j AS (
              SELECT s2.doc_id,
                     (s1.doc_id IS NOT NULL AND s1.lop <> 'error') AS vis1,
                     (s2.lop <> 'error') AS vis2,
                     s1.v AS v1, s2.v AS v2, s1.seq AS seq1, s2.seq AS seq2
              FROM s2 LEFT JOIN s1 USING (doc_id)
            )
            SELECT doc_id,
                   CASE WHEN vis1 AND NOT vis2 THEN v1 ELSE v2 END AS value,
                   seq2 AS seq,
                   CASE WHEN NOT vis1 AND vis2 THEN 'insert'
                        WHEN vis1 AND NOT vis2 THEN 'delete'
                        ELSE 'update' END AS change_type
            FROM j
            WHERE (NOT vis1 AND vis2) OR (vis1 AND NOT vis2)
               OR (vis1 AND vis2 AND seq1 <> seq2)
            ORDER BY doc_id
        """,
        # gdpr_erase: the oracle recomputes the post-erasure state
        # directly — LWW-visible rows whose LATEST type is not the
        # erased predicate's value
        "gdpr_erase": """
            WITH s AS (
              SELECT CAST(user_id AS VARCHAR) AS doc_id,
                     arg_max(event_type, event_id) AS lop,
                     arg_max(value, event_id) AS value
              FROM events GROUP BY user_id
            )
            SELECT doc_id, value, lop AS etype FROM s
            WHERE lop <> 'error' AND lop <> 'click'
            ORDER BY doc_id
        """,
        "delete_keys": """
            WITH s AS (
              SELECT CAST(user_id AS VARCHAR) AS doc_id,
                     user_id AS uid,
                     arg_max(event_type, event_id) AS lop,
                     arg_max(value, event_id) AS value
              FROM events GROUP BY user_id
            )
            SELECT doc_id, value, lop AS etype FROM s
            WHERE lop <> 'error' AND uid % 7 <> 0
            ORDER BY doc_id
        """,
        # time_travel: the Spark side resolves a commit TIMESTAMP to a
        # version (injected clock: epochs commit at 1000/2000/3000 ms,
        # probe at 2500 -> second commit) and reads that state; the
        # oracle recomputes the same state directly over the first
        # two-thirds of the log
        "time_travel": """
            WITH cut AS (
              SELECT (2*(max(event_id)+1))//3 AS c FROM events
            ), s AS (
              SELECT CAST(user_id AS VARCHAR) AS doc_id,
                     arg_max(event_type, event_id) AS lop,
                     arg_max(value, event_id) AS value
              FROM events, cut WHERE event_id < c GROUP BY user_id
            )
            SELECT doc_id, value FROM s
            WHERE lop <> 'error'
            ORDER BY doc_id
        """,
        # secondary_lookup: the oracle recomputes the probe DIRECTLY over
        # the LWW final state; the Spark side serves it from the
        # CDF-maintained value-bucketed index
        "secondary_lookup": """
            WITH s AS (
              SELECT CAST(user_id AS VARCHAR) AS doc_id,
                     arg_max(event_type, event_id) AS lop
              FROM events GROUP BY user_id
            )
            SELECT lop AS etype, doc_id
            FROM s WHERE lop IN ('purchase', 'signup')
            ORDER BY etype, doc_id
        """,
        # incremental_agg: the oracle recomputes the aggregate DIRECTLY
        # over the LWW final state; the Spark side reaches the same rows
        # via bootstrap + two CDF-driven incremental patches
        "incremental_agg": """
            WITH s AS (
              SELECT user_id,
                     arg_max(event_type, event_id) AS lop,
                     arg_max(event_id % 1000, event_id) AS val
              FROM events GROUP BY user_id
            )
            SELECT lop AS grp,
                   COUNT(*) AS cnt,
                   CAST(SUM(val) AS BIGINT) AS sum_val
            FROM s WHERE lop <> 'error'
            GROUP BY lop ORDER BY grp
        """,
        "scd2_history": """
            WITH h AS (
              SELECT user_id, event_id, value, event_type,
                     ts AS valid_from,
                     lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY event_id) AS valid_to
              FROM events
            )
            SELECT user_id, event_id, value, valid_from, valid_to,
                   (valid_to IS NULL) AS is_current
            FROM h WHERE event_type <> 'error'
            ORDER BY user_id, event_id
        """,
        "embedding_near_dup": f"""
            WITH ws AS (
              SELECT {_LSH_W4_SQL} AS w
            ), v AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)*16384.0) AS BIGINT)) AS q
              FROM embeddings WHERE embedding IS NOT NULL
            ), sigs AS (
              SELECT vec_id, {_LSH_SIG_SUM} AS sig
              FROM v, ws, range(0, 4) r(i) GROUP BY vec_id
            ), m AS (
              SELECT v.vec_id, v.q, sigs.sig
              FROM v JOIN sigs USING (vec_id)
              WHERE list_sum(list_transform(v.q, x -> x*x)) > 0
            )
            SELECT x.vec_id AS a, y.vec_id AS b,
                   {_qcos("x.q", "y.q")} AS cos_sim
            FROM m x JOIN m y ON x.sig = y.sig AND x.vec_id < y.vec_id
            WHERE {_qcos("x.q", "y.q")} >= 0.3
            ORDER BY a, b
        """,
        "decontaminate": f"""
            WITH toks AS (
              SELECT doc_id, {_WORDS} AS w FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, s FROM toks,
                UNNEST(list_transform(
                  range(1, greatest(len(w) - 2, 0) + 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                )) AS u(s)
            ), bench AS (
              SELECT DISTINCT s FROM sh WHERE doc_id % 19 = 3
            )
            SELECT doc_id, count(*) AS n_hits
            FROM sh JOIN bench USING (s)
            WHERE doc_id % 19 <> 3
            GROUP BY doc_id ORDER BY doc_id
        """,
        "repetition_filter": f"""
            WITH t AS (
              SELECT doc_id, {_WORDS} AS w FROM documents
            ), m AS (
              SELECT doc_id, w, len(w) AS n,
                     CASE WHEN len(w) >= 2
                          THEN list_transform(range(1, len(w)),
                                              i -> w[i] || ' ' || w[i+1])
                          ELSE CAST([] AS VARCHAR[]) END AS bg
              FROM t
            ), f AS (
              SELECT doc_id, n AS n_words,
                     CASE WHEN n > 0
                          THEN CAST(len(list_distinct(w)) AS DOUBLE) / n
                     END AS distinct_frac,
                     CASE WHEN n > 0
                          THEN CAST(list_max(list_transform(list_distinct(w),
                                 x -> len(list_filter(w, y -> y = x))))
                               AS DOUBLE) / n
                     END AS top_word_frac,
                     CASE WHEN len(bg) > 0
                          THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
                                     / len(bg)
                          WHEN n > 0 THEN 0.0
                     END AS dup_bigram_frac
              FROM m
            )
            SELECT doc_id, n_words, distinct_frac, top_word_frac,
                   dup_bigram_frac,
                   COALESCE(top_word_frac <= 0.20
                            AND dup_bigram_frac <= 0.40, false)
                       AS passes_repetition
            FROM f ORDER BY doc_id
        """,
        "stratified_sample": """
            WITH r AS (
              SELECT doc_id, source,
                     CAST(CASE source WHEN 'src0' THEN 2.5
                                      WHEN 'src1' THEN 1.0
                                      WHEN 'src2' THEN 0.5
                                      ELSE 0.25 END AS DOUBLE) AS rate,
                     CAST(CAST(concat('0x', substr(md5(
                            CAST(doc_id AS VARCHAR) || ':mix-v1'), 1, 15))
                          AS BIGINT) % 1000000 AS DOUBLE) / 1000000
                       AS u
              FROM documents
            ), c AS (
              SELECT doc_id, source,
                     CAST(floor(rate)
                          + CASE WHEN u < rate - floor(rate)
                                 THEN 1 ELSE 0 END AS INTEGER) AS n_copies
              FROM r
            )
            SELECT doc_id, source, CAST(cp.copy AS INTEGER) AS copy
            FROM c, UNNEST(range(1, n_copies + 1)) AS cp(copy)
            WHERE n_copies >= 1
            ORDER BY doc_id, copy
        """,
        "sessionize": """
            WITH o AS (
              SELECT user_id, event_id, ts,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS pts
              FROM events
            )
            SELECT user_id, event_id,
                   CAST(sum(CASE WHEN pts IS NULL
                                   OR date_diff('second', pts, ts) > 3600
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS session_id
            FROM o ORDER BY user_id, event_id
        """,
        "asof_attribution": """
            SELECT p.user_id, p.event_id,
                   c.event_id AS click_event_id,
                   c.value    AS click_value
            FROM (SELECT user_id, event_id FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT user_id, event_id, value FROM events
                            WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.event_id >= c.event_id
            ORDER BY p.user_id, p.event_id
        """,
        "embedding_ivf_topk": f"""
            WITH v AS (
              -- mirrors the engine's zero-norm exclusion (nv > 0): a
              -- directionless vector is neither an index member nor a
              -- centroid candidate, and the derived residue below counts
              -- the FILTERED set on both sides
              SELECT vec_id, q FROM (
                SELECT vec_id,
                       list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE)*16384.0) AS BIGINT)) AS q
                FROM embeddings WHERE vec_id <> 0
              ) WHERE list_sum(list_transform(q, x -> x * x)) > 0
            ), qv AS (
              SELECT list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)*16384.0) AS BIGINT)) AS q
              FROM embeddings WHERE vec_id = 0
            ), md AS (
              -- mirrors ivf_topk's derived residue: C fixed at ~32,
              -- mod = max(1, N // n_centroids)
              SELECT greatest(1, count(*) // 32) AS m FROM v
            ), c AS (
              -- residue 1 % m mirrors the engine: m = 1 selects ALL rows
              SELECT vec_id AS cid, q AS cq FROM v, md
              WHERE vec_id % md.m = 1 % md.m
            ), assign AS (
              SELECT vec_id, q, cid FROM (
                SELECT v.vec_id, v.q, c.cid,
                       row_number() OVER (
                         PARTITION BY v.vec_id
                         ORDER BY {_qcos("v.q", "c.cq")} DESC, c.cid
                       ) AS rn
                FROM v CROSS JOIN c
              ) WHERE rn = 1
            ), probe AS (
              SELECT cid FROM c CROSS JOIN qv
              ORDER BY {_qcos("c.cq", "qv.q")} DESC, cid LIMIT 4
            )
            SELECT a.vec_id, {_qcos("a.q", "qv.q")} AS score
            FROM assign a CROSS JOIN qv
            WHERE a.cid IN (SELECT cid FROM probe)
            ORDER BY score DESC, a.vec_id LIMIT 20
        """,
        # full-chain portable-LSH oracle: quantize -> sign with the
        # shared literal ±1 weights -> Hamming-3 ball (bit_count(xor),
        # the same set the engine enumerates driver-side) -> exact
        # integer cosine. Zero-norm rows are signed (sig 0) but
        # excluded at scoring, mirroring lsh_index_topk.
        "embedding_lsh_topk": f"""
            WITH ws AS (
              SELECT {_LSH_W_SQL} AS w
            ), v AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)*16384.0) AS BIGINT)) AS q
              FROM embeddings WHERE vec_id <> 0
            ), qv AS (
              SELECT list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)*16384.0) AS BIGINT)) AS q
              FROM embeddings WHERE vec_id = 0
            ), sigs AS (
              SELECT vec_id, {_LSH_SIG_SUM} AS sig
              FROM v, ws, range(0, 16) r(i) GROUP BY vec_id
            ), qs AS (
              SELECT {_LSH_SIG_SUM} AS sig
              FROM qv, ws, range(0, 16) r(i)
            ), cand AS (
              SELECT v.vec_id, v.q
              FROM v JOIN sigs USING (vec_id), qs
              WHERE bit_count(xor(sigs.sig, qs.sig)) <= 3
                AND list_sum(list_transform(v.q, x -> x*x)) > 0
            )
            SELECT c.vec_id, {_qcos("c.q", "qv.q")} AS score
            FROM cand c CROSS JOIN qv
            ORDER BY score DESC, c.vec_id LIMIT 20
        """,
        "token_histogram": """
            WITH tok AS (
              SELECT CAST(concat('0x', substr(md5(u.w),1,15)) AS BIGINT)
                       % 50257 AS token
              FROM documents,
                   UNNEST(list_filter(string_split_regex(trim(text), '[ \t\n\r]+'), t0 -> t0 <> '')) AS u(w)
            )
            SELECT token, count(*) AS freq FROM tok
            GROUP BY token ORDER BY freq DESC, token LIMIT 50
        """,
        # pack_sequences: the bucket-local greedy fold is sequential per
        # bucket, which a recursive CTE replays exactly — all buckets
        # advance one doc per recursion step (rn = prev rn + 1), carrying
        # (pack_id, cur_len). Tokenization, bucketing, and the per-pack
        # content hash all use the portable md5 family, so the driver
        # hash-checks the packed token CONTENT, not just pack counts.
        "pack_sequences": """
            WITH RECURSIVE toks AS (
              SELECT doc_id,
                     list_transform(list_filter(string_split_regex(trim(text), '[ \t\n\r]+'), t0 -> t0 <> ''),
                       w -> CAST(CAST(concat('0x', substr(md5(w),1,15))
                                      AS BIGINT) % 50257 AS INTEGER))
                       AS tokens
              FROM documents
              WHERE text IS NOT NULL
            ), r AS (
              SELECT doc_id,
                     CAST(CAST(concat('0x',
                               substr(md5(CAST(doc_id AS VARCHAR)),1,15))
                               AS BIGINT) % 256 AS INTEGER) AS pack_bucket,
                     tokens[1:512] AS t,
                     least(len(tokens), 512) AS l,
                     row_number() OVER (
                       PARTITION BY CAST(CAST(concat('0x',
                           substr(md5(CAST(doc_id AS VARCHAR)),1,15))
                           AS BIGINT) % 256 AS INTEGER)
                       ORDER BY doc_id) AS rn
              FROM toks
            ), walk AS (
              SELECT pack_bucket, rn, l, CAST(0 AS BIGINT) AS pack_id,
                     l AS cur_len
              FROM r WHERE rn = 1
              UNION ALL
              SELECT r.pack_bucket, r.rn, r.l,
                     CASE WHEN w.cur_len + r.l > 512 AND w.cur_len > 0
                          THEN w.pack_id + 1 ELSE w.pack_id END,
                     CASE WHEN w.cur_len + r.l > 512 AND w.cur_len > 0
                          THEN r.l ELSE w.cur_len + r.l END
              FROM walk w
              JOIN r ON r.pack_bucket = w.pack_bucket AND r.rn = w.rn + 1
            )
            SELECT w.pack_bucket, w.pack_id,
                   md5(array_to_string(flatten(list(r.t ORDER BY w.rn)), ','))
                       AS tokens_hash,
                   CAST(count(*) AS INTEGER) AS n_docs,
                   CAST(sum(w.l) AS INTEGER) AS n_tok
            FROM walk w
            JOIN r ON r.pack_bucket = w.pack_bucket AND r.rn = w.rn
            GROUP BY w.pack_bucket, w.pack_id
            HAVING sum(w.l) > 0
            ORDER BY w.pack_bucket, w.pack_id
        """,
        "chunk_sequences": """
            WITH toks AS (
              SELECT doc_id,
                     list_transform(list_filter(string_split_regex(trim(text), '[ \t\n\r]+'), t0 -> t0 <> ''),
                       w -> CAST(CAST(concat('0x', substr(md5(w),1,15))
                                      AS BIGINT) % 50257 AS INTEGER))
                       AS tokens
              FROM documents
              WHERE text IS NOT NULL
            ), g AS (
              SELECT doc_id, tokens, len(tokens) AS n,
                     unnest(generate_series(0, len(tokens)-1, 48)) AS i
              FROM toks WHERE len(tokens) > 0
            )
            SELECT doc_id,
                   CAST(i / 48 AS INTEGER) AS chunk_id,
                   md5(array_to_string(tokens[i+1 : least(n, i+64)], ','))
                       AS tokens_hash,
                   CAST(least(n, i+64) - i AS INTEGER) AS n_tok
            FROM g
            ORDER BY doc_id, chunk_id
        """,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the CDC last-writer-wins final-state reduction at sf0.001."""
    return q_cdc_final_state(spark, "/root/testdata/sf0.001")
