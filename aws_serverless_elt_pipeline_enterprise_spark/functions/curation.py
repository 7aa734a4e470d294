"""Corpus curation for training-data pipelines: benchmark decontamination,
repetition profiling (Gopher-style filters), and deterministic weighted
stratified sampling.

All three are map-heavy by design — the 100 TB shapes are:

- decontamination: the benchmark side is tiny (eval sets are KBs-to-MBs
  against a 100 TB corpus), so its shingle set is broadcast and the corpus
  side is a map-only semi-join probe plus one bounded groupBy(doc) —
  never a corpus x corpus shuffle;
- repetition metrics: explode + codegen hash aggregates with map-side
  partial aggregation (the zero-shuffle HOF-fold alternative evaluates
  an interpreted lambda per token — measured ~6x slower; the exchanges
  carry partially-aggregated (doc, word) counts, O(corpus tokens) once);
- sampling: one deterministic hash per row, map-only, no sampleBy() RNG —
  reruns and retried tasks pick the identical sample, which is what makes
  the sample reproducible lineage rather than a one-off.

Hashes follow the repo-wide convention (functions/dedupe.py:33):
``xxhash64`` for production speed, ``portable`` (md5-derived 60-bit) when
an external engine must replay the chain bit-for-bit (the DuckDB oracles).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.functions.dedupe import (
    _hash64,
    shingle_explode,
    word_shingles,
)
from aws_serverless_elt_pipeline_enterprise_spark.functions.parallel import (
    spread_small_input,
)
from aws_serverless_elt_pipeline_enterprise_spark.functions.text import words
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import _q, _sql_str

SAMPLE_BUCKETS = 1_000_000


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def contaminated_docs(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    key: str = "doc_id",
    text: str = "text",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Docs sharing at least one word n-gram with the benchmark set:
    (key, n_hits) where n_hits counts the doc's DISTINCT shingles that
    also appear in the benchmark.

    n=13 is the published convention (GPT-3 appendix C / Gopher section
    A.3 use 13-gram overlap for test-set decontamination); smaller n
    trades precision for recall.

    Scale shape: the benchmark's distinct shingle set is hashed and
    BROADCAST (eval sets are tiny next to the corpus), so the corpus side
    is scan -> explode -> broadcast-hash-semi-join -> groupBy(key), with
    the groupBy bounded by hits (<= the doc's shingle count). The corpus
    is never shuffled against itself. Shingles travel as 64-bit hashes,
    not strings — at 13 words/shingle the key shrink is ~10x.
    """
    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(text, n)).alias("shingle")
        )
        .selectExpr(f"{_hash64('shingle', hash_mode)} AS h")
        .distinct()
    )
    corpus_sh = shingle_explode(
        spread_small_input(df, key, min_bytes=1 << 20), key=key, text=text, n=n
    ).selectExpr(_q(key), f"{_hash64('shingle', hash_mode)} AS h")
    return (
        corpus_sh.join(F.broadcast(bench_sh), "h", "semi")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    key: str = "doc_id",
    text: str = "text",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Corpus rows that share NO word n-gram with the benchmark set.

    Anti-join against the (small) contaminated-id list; with a tiny
    benchmark the hit list is itself small, so Spark/AQE broadcasts the
    anti side and the whole filter stays map-only over the corpus."""
    hits = contaminated_docs(
        df, benchmark, n=n, key=key, text=text, hash_mode=hash_mode
    ).select(key)
    return df.join(hits, key, "anti")


# ---------------------------------------------------------------------------
# repetition profiling (Gopher-style quality filters)
# ---------------------------------------------------------------------------

def repetition_profile(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    max_top_word_frac: float = 0.20,
    max_dup_bigram_frac: float = 0.40,
) -> DataFrame:
    """Per-doc repetition metrics (the Gopher rules 'fraction of the
    document made of the most common word / of duplicated n-grams',
    count-weighted rather than char-weighted):

      n_words           whitespace token count
      distinct_frac     |distinct words| / n_words
      top_word_frac     occurrences of the most frequent word / n_words
      dup_bigram_frac   1 - |distinct bigrams| / |bigrams|  (fraction of
                        bigram instances that are repeats of an earlier one)
      passes_repetition top_word_frac <= max_top_word_frac AND
                        dup_bigram_frac <= max_dup_bigram_frac

    Explode + codegen-aggregate formulation: word multiplicities come
    from groupBy(key, word) -> groupBy(key) with max/count/sum (max word
    multiplicity == the longest equal-run of the sorted array the old
    fold computed), bigram distinct counts the same way. Every aggregate
    is whole-stage-codegen over primitives, where the previous
    single-fold formulation evaluated an interpreted struct-building
    lambda per word (HOFs don't codegen) — measured ~6x on the sf1
    corpus (OPTIMIZATION_r06.md) despite the extra exchanges, which AQE
    coalesces; at larger corpora the exchanges stay O(corpus tokens)
    with map-side partial aggregation. n_words is still computed
    map-side from the words array itself, so docs with no words
    (empty/NULL text) keep their exact legacy values (NULL metrics,
    passes_repetition = false) after the left join back onto the corpus
    keys.
    """
    w = words(text)
    # ONE tokenize pass shared by all three consumers (the row branch,
    # word stats, bigram stats): unpersisted, each branch would re-scan
    # and re-split the corpus (the n-gram family's minhash_lsh_pairs
    # precedent — the persist lives until the caller clears the cache,
    # as bench.py does between repetitions)
    base = (
        spread_small_input(df, key, min_bytes=1 << 20)
        .select(F.col(key), w.alias("_w"))
        .select(F.col(key), F.col("_w"), F.size("_w").alias("_n"))
        .persist()
    )
    # word multiplicities: max multiplicity == longest equal-run of the
    # sorted array; |distinct| and the re-derived n cross-check nothing —
    # n comes from the map-side size() so NULL/empty semantics are exact
    wstats = (
        base.select(F.col(key), F.explode("_w").alias("_t"))
        .groupBy(key, "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(key)
        .agg(
            F.max("_c").alias("_top"),
            F.count(F.lit(1)).alias("_ndist"),
        )
    )
    # bigrams of consecutive words (positions i, i+1): posexplode keeps
    # the pairing; distinct bigram count per doc
    bgrows = base.filter(F.col("_n") >= 2).select(
        F.col(key),
        F.explode(
            F.zip_with(
                F.slice("_w", 1, F.col("_n") - 1),
                F.slice("_w", 2, F.col("_n") - 1),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("_bg"),
    )
    bgstats = (
        bgrows.groupBy(key, "_bg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("_bdist"))
    )
    n = F.col("_n")
    nbg = F.when(n >= 2, n - 1).otherwise(F.lit(0))
    top_frac = F.when(n > 0, F.col("_top").cast("double") / n)
    dup_frac = (
        F.when(nbg > 0, F.lit(1.0) - F.col("_bdist").cast("double") / nbg)
        .otherwise(F.when(n > 0, F.lit(0.0)))
    )
    return (
        base.select(key, "_n")
        .join(wstats, key, "left")
        .join(bgstats, key, "left")
        .select(
            F.col(key),
            n.alias("n_words"),
            F.when(n > 0, F.col("_ndist").cast("double") / n).alias(
                "distinct_frac"
            ),
            top_frac.alias("top_word_frac"),
            dup_frac.alias("dup_bigram_frac"),
            F.coalesce(
                (top_frac <= F.lit(max_top_word_frac))
                & (dup_frac <= F.lit(max_dup_bigram_frac)),
                F.lit(False),
            ).alias("passes_repetition"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic weighted stratified sampling
# ---------------------------------------------------------------------------

def stratified_sample(
    df: DataFrame,
    rates: Mapping[str, float],
    strat: str = "source",
    key: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "mix-v1",
    hash_mode: str = "portable",
) -> DataFrame:
    """Deterministic per-stratum weighted sampling with up-sampling:
    rate 0.25 keeps ~25% of the stratum, rate 2.5 emits every row twice
    plus a third copy for ~50% of rows (training-mix epoch weights).
    Output = input columns + ``copy`` (1..n_copies).

    The keep/replicate decision is a pure function of (key, salt):
    hash(key ':' salt) mod 10^6 scaled to [0,1) and compared to the
    fractional part of the stratum's rate. No RNG: task retries,
    re-runs, and other engines (the DuckDB oracle) reproduce the exact
    sample — the property that makes a training mix auditable. Map-only,
    zero shuffles; the rates map is a literal expression, not a join.

    At 100 TB the fractional-copy explode is bounded (ceil(rate) copies),
    and because the hash is uniform the output size concentrates tightly
    around sum(stratum_size * rate).
    """
    rate = F.lit(float(default_rate))
    for s, r in sorted(rates.items()):
        rate = F.when(F.col(strat) == s, F.lit(float(r))).otherwise(rate)

    # pmod, NOT %: Spark's % keeps the dividend's sign, so a signed
    # xxhash64 would put u in (-1, 1) and every negative-hash row would
    # pass the fractional-keep test unconditionally (measured: rate 0.25
    # kept 62% under %). The portable mode's md5-derived hash is already
    # non-negative, so its samples are unchanged.
    u = (
        F.pmod(
            F.expr(
                _hash64(
                    f"concat(CAST({_q(key)} AS STRING), {_sql_str(':' + salt)})",
                    hash_mode,
                )
            ),
            F.lit(SAMPLE_BUCKETS),
        )
    ).cast("double") / SAMPLE_BUCKETS
    n_copies = (
        F.floor(rate) + F.when(u < rate - F.floor(rate), 1).otherwise(0)
    ).cast("int")

    return (
        df.withColumn("__n_copies", n_copies)
        .filter(F.col("__n_copies") >= 1)
        .withColumn(
            "copy", F.explode(F.sequence(F.lit(1), F.col("__n_copies")))
        )
        .drop("__n_copies")
    )
