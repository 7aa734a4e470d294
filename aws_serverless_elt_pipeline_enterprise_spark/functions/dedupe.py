"""Document deduplication family for training-data pipelines.

Exact (hash-groupBy), n-gram Jaccard (shingle join), MinHash+LSH
(shingle -> minhash -> band -> bucket join), SimHash, and embedding-cosine
near-dup. Everything is DataFrame-native; hashes are arithmetic (explicit
(a*x+b) mod p families over xxhash64 shingle ids) so results are
deterministic across runs and cluster sizes.

Scale notes (100 TB):
  * exact dedup: one hash-shuffle on the fingerprint; map-side partial agg.
  * shingle join: posting lists for frequent shingles explode — cap with
    a document-frequency filter (drop shingles appearing in > df_cap docs:
    they carry no discriminative signal, the standard trick).
  * MinHash/LSH: the scale path — candidate pairs only within equal
    (band_id, band_hash) buckets; k and bands tune recall/precision.
  * all pair outputs are canonicalized a < b so downstream union-find /
    keep-min-id is deterministic.

Plans are built from SQL text: one ``selectExpr`` list per projection,
one ``F.expr`` per aggregate, ``filter(str)`` for predicates, SQL
lambdas inside higher-order functions. A pyspark Column call costs about a
dozen Py4J round trips, and these plans have hundreds of operators. In
that text a float literal is written ``0.0D`` (a bare ``1.0`` is
DECIMAL), every cast the arithmetic relies on is spelled out (an integer
literal below 2^31 is INT), and caller column names are quoted with ``_q``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.functions.parallel import (
    shuffle_parallelism,
    spread_small_input,
)
from aws_serverless_elt_pipeline_enterprise_spark.functions.text import (
    _words_sql,
    content_fingerprint,
    words,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import _q

MERSENNE_P = (1 << 61) - 1


def portable_hash60(col: F.Column | str) -> F.Column:
    """Engine-portable 60-bit string hash: the first 15 hex digits of md5,
    parsed as an integer. Bit-identical in Spark
    (conv(substr(md5(s),1,15),16,10)) and DuckDB
    (CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)) — used by the
    'portable' hash mode so MinHash/SimHash chains are oracle-checkable.
    xxhash64 stays the default (faster, but DuckDB can't reproduce it)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _hash64(c: str, hash_mode: str) -> str:
    """SQL text of the shingle/word hash of the SQL expression ``c``:
    ``portable_hash60``'s formula, or xxhash64."""
    if hash_mode == "portable":
        return f"CAST(conv(substring(md5({c}), 1, 15), 16, 10) AS BIGINT)"
    return f"xxhash64({c})"


def exact_dup_groups(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: (keeper, n_copies) for
    groups with >1 member. One shuffle on the md5 fingerprint. NULL-text
    docs are excluded up front: md5(NULL) is NULL and groupBy treats
    NULLs as equal, so two unrelated extraction-failed docs would
    otherwise report as duplicates of each other (and keep-min-id would
    silently drop one)."""
    return (
        df.filter(F.col(text).isNotNull())
        .groupBy(content_fingerprint(text).alias("fp"))
        .agg(F.min(key).alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select("keeper", "n_copies")
    )


def word_shingles(text_col: str = "text", n: int = 3) -> F.Column:
    """Distinct word n-gram shingles (array<string>), JVM-side.

    Docs with fewer than n words yield an empty array. The guard matters:
    sequence(1, 0) in Spark is the DESCENDING [1, 0] (default step -1),
    which would feed slice(w, 0, n) and throw INVALID_PARAMETER_VALUE.

    The words array is BOUND as a lambda variable (the transform-over-
    singleton idiom): an outer expression captured inside a HOF lambda is
    re-evaluated per element, so referencing split() directly in the
    slice would re-split the document once per shingle."""
    return F.expr(_shingles_sql(_q(text_col), n))


def _shingles_sql(c: str, n: int) -> str:
    """SQL text of ``word_shingles`` over the text expression ``c``."""
    idx = (
        f"CASE WHEN size(w) >= {n} THEN sequence(1, size(w) - {n - 1}) "
        f"ELSE CAST(array() AS ARRAY<INT>) END"
    )
    return (
        f"transform(array({_words_sql(c)}), w -> array_distinct("
        f"transform({idx}, i -> concat_ws(' ', slice(w, i, {n})))))[0]"
    )


def shingle_explode(df: DataFrame, key: str = "doc_id", text: str = "text", n: int = 3) -> DataFrame:
    return df.selectExpr(
        _q(key), f"explode({_shingles_sql(_q(text), n)}) AS shingle"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
    hash_shingles: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity >= threshold.

    Plan: ONE shuffle groups the inverted index (shingle -> posting list);
    candidate pairs are expanded MAP-SIDE from each posting list (a JVM
    nested transform over the sorted list — no self-join, so the
    (key,shingle) rows are never shuffled twice), then one groupBy(a,b)
    counts overlaps and Jaccard follows from |A|,|B|,|A∩B|. ``df_cap`` is
    the scale guard AND the memory bound: shingles whose document
    frequency exceeds the cap are dropped from the shingle UNIVERSE
    (sizes and overlaps both), so every posting list held in a group is
    <= df_cap entries and the per-shingle pair fan-out is <= C(df_cap,2)
    — a stop-phrase shingle shared by 10^6 docs would otherwise emit a
    10^12-row expansion. Capped semantics are exact and oracle-checkable:
    Jaccard over the discriminative (rare) shingle sets.

    ``hash_shingles`` ('xxhash64' | 'portable' | None): replace each
    shingle STRING with its 64-bit hash BEFORE the inverted-index
    shuffle — the exchanged key shrinks from ~n-word strings to 8
    bytes, which is most of the shuffle volume at scale. Semantics are
    identical up to hash collisions (negligible at 2^-60..2^-64 per
    pair); 'portable' uses the md5-derived family, so an external SQL
    oracle replays the hashed chain exactly, collisions included."""
    sh = shingle_explode(
        spread_small_input(df, key, min_bytes=1 << 20), key, text, n
    )
    if hash_shingles:
        sh = sh.selectExpr(_q(key), f"{_hash64('shingle', hash_shingles)} AS shingle")
    return _pairs_from_shingle_rows(sh, key, threshold, df_cap)


def _pairs_from_shingle_rows(
    sh: DataFrame, key: str, threshold: float, df_cap: int | None
) -> DataFrame:
    """Jaccard pair generation from exploded (key, shingle) rows — split
    out so ``dedup_pipeline`` can feed one shared shingle pass instead of
    re-tokenizing the corpus per consumer."""
    if df_cap is not None:
        # posting-list formulation: the inverted index groups on the
        # shingle; pair expansion is map-side and bounded by C(df_cap, 2)
        # structs per group. The document-frequency cap is applied BEFORE
        # collect_list via a count + semi-join, so a mega-posting (a
        # stop-phrase shingle in 10^6 docs) never materializes in one
        # task's aggregation buffer — a post-hoc size filter would bound
        # the OUTPUT but not the buffer. Both the count agg and the
        # collect_list agg hash-partition on the shingle, so the second
        # groupBy reuses the first exchange (ReusedExchange / AQE). The
        # sizes branch recomputes the posting groupBy rather than
        # persisting `posts` — measured 3x FASTER at sf0.1 (caching
        # object-array posting lists costs more in serialization than
        # scan+explode+one shuffle).
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= df_cap)
            .select("shingle")
        )
        posts = (
            sh.join(rare, "shingle", "leftsemi")
            .groupBy("shingle")
            .agg(F.collect_list(key).alias("docs"))
        )
        sizes = (
            posts.select(F.explode("docs").alias(key))
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        # pair expansion stays MAP-SIDE (no extra exchange) but runs as
        # two chained posexplode GENERATORS + a position filter instead
        # of the nested transform/flatten lambda: generators re-walk the
        # same backing array with codegen, where the transform built
        # C(m,2) structs (and per-element array slices) interpreted —
        # measured 2.3x on the 71M-pair sf1 expansion
        # (OPTIMIZATION_r06.md). Emission order per posting is identical
        # (sorted docs, j > i => a < b).
        overlap = (
            posts.filter(F.size("docs") >= 2)
            .select(F.array_sort("docs").alias("_d"))
            # explicit USER partition count: the posting shuffle is tiny
            # in bytes, so AQE would coalesce it to a handful of tasks —
            # which then each generate millions of pairs (the fan-out is
            # invisible to byte-based coalescing). A user-specified
            # repartition pins the expansion's parallelism.
            .repartition(shuffle_parallelism(posts))
            .select("_d", F.posexplode("_d").alias("_i", "a"))
            .select("a", "_i", F.posexplode("_d").alias("_j", "b"))
            .filter(F.col("_j") > F.col("_i"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        # UNCAPPED: a mega-posting (stop-phrase shingle in 10^5 docs)
        # must not be collected into ONE aggregation row — the
        # distributed self-join spreads the same C(n,2) fan-out across
        # the shuffle instead of one task's memory.
        sizes = sh.groupBy(key).agg(F.count(F.lit(1)).alias("n_sh"))
        a_side = sh.select(F.col(key).alias("a"), "shingle")
        b_side = sh.select(F.col(key).alias("b"), "shingle")
        overlap = (
            a_side.join(b_side, "shingle")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col(key).alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(key).alias("b"), F.col("n_sh").alias("nb"))
    return (
        overlap.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


_MH_PRIME = (1 << 31) - 1  # Mersenne prime 2^31-1


def _perm_consts(k: int, seed: int) -> tuple[list[int], list[int]]:
    a = [((seed * 1_000_003 + i * 2_654_435_761 + 1) % (1 << 20)) | 1 for i in range(k)]
    b = [(seed * 97 + i * 1_234_567_891) % _MH_PRIME for i in range(k)]
    return a, b


def minhash_signatures(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    k: int = 32,
    n: int = 3,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Per-doc MinHash signature (pure JVM single-fold). Docs with no
    shingles (< n words) are dropped: their signature would be the
    degenerate all-p init vector, which band-matches every other empty
    doc.

    A numpy/Arrow signature evaluator was tried and REMOVED: it computed
    identical signatures ~15% faster, but a PythonUDF whose output fans
    into downstream JVM expressions intermittently hit
    [INTERNAL_ERROR] Cannot evaluate expression (session-order-dependent
    planner behavior on Spark 4.1) — a flaky correctness gate is worth
    more than 15% on one stage."""
    shingled = spread_small_input(df, key, min_bytes=1 << 20).selectExpr(
        _q(key), f"{_shingles_sql(_q(text), n)} AS _sh"
    )
    return _sigs_from_shingled(shingled, key, "_sh", k, seed, hash_mode)


def _sigs_from_shingled(
    shingled: DataFrame, key: str, shcol: str, k: int, seed: int, hash_mode: str
) -> DataFrame:
    """Signatures from a frame that already carries the shingle array —
    the ``dedup_pipeline`` entry point (shared tokenization).

    Shingle id x = hash64(shingle) mod p; h_i(x) = (a_i*x + b_i) mod p.
    a_i < 2^20 and x < 2^31 keep a*x + b < 2^52 — no signed-long overflow
    (overflow would silently wrap and break determinism).
    hash_mode='portable' uses the md5-derived 60-bit hash so DuckDB can
    replay the identical chain (oracle checking).

    Computed as explode + k codegen ``min`` aggregates rather than a
    single-fold array walk: higher-order functions evaluate INTERPRETED
    per element, so a fold pays ~k boxed lambda evaluations per shingle,
    while ``min(pmod(x*a_i+b_i, p))`` is whole-stage-codegen over
    primitive longs. Docs with zero shingles drop (explode emits
    nothing). Measured 5.8x over the fold on the sf1 corpus
    (OPTIMIZATION_r06.md)."""
    kq = _q(key)
    rows = shingled.selectExpr(kq, f"explode({_q(shcol)}) AS _s").selectExpr(
        kq, f"pmod({_hash64('_s', hash_mode)}, {_MH_PRIME}) AS _x"
    )
    a_list, b_list = _perm_consts(k, seed)
    aggs = [
        F.expr(f"min(pmod(_x * {a} + {b}, {_MH_PRIME})) AS _m{i}")
        for i, (a, b) in enumerate(zip(a_list, b_list))
    ]
    ms = ", ".join(f"_m{i}" for i in range(k))
    return rows.groupBy(key).agg(*aggs).selectExpr(kq, f"array({ms}) AS sig")


def _banded(sigs: DataFrame, key: str, k: int, bands: int, hash_mode: str) -> DataFrame:
    """Explode a signature DF into (key, band_id, band_hash) bucket rows.
    band_hash is xxhash64 of the band slice (fast path) or the literal
    comma-joined slice string (portable mode: injective, DuckDB-replayable
    — a 64-bit hash could, with negligible but nonzero probability, add a
    spurious candidate the oracle lacks)."""
    if k % bands:
        raise ValueError(
            f"k={k} not divisible by bands={bands}: the tail "
            f"{k % bands} signature positions would silently drop from "
            f"every band, shifting the LSH recall/precision curve"
        )
    rows_per_band = k // bands

    def band_key(b: int) -> str:
        sl = f"slice(sig, {b * rows_per_band + 1}, {rows_per_band})"
        if hash_mode == "portable":
            return f"array_join(transform({sl}, x -> CAST(x AS STRING)), ',')"
        return f"xxhash64({sl})"

    structs = ", ".join(
        f"struct({b} AS band_id, {band_key(b)} AS band_hash)" for b in range(bands)
    )
    return sigs.selectExpr(_q(key), f"explode(array({structs})) AS band").selectExpr(
        _q(key), "band.band_id", "band.band_hash"
    )


def minhash_lsh_candidates(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """LSH candidate pairs: split the k-minhash signature into ``bands``
    rows-per-band groups, hash each band, and self-join docs sharing any
    (band_id, band_hash) bucket. The join key is the bucket — no full
    pairwise compare ever happens (the 100 TB path)."""
    sigs = minhash_signatures(df, key, text, k, n, seed, hash_mode)
    return _banded_candidates(_banded(sigs, key, k, bands, hash_mode), key)


def _banded_candidates(banded: DataFrame, key: str) -> DataFrame:
    """Bucket self-join over (band_id, band_hash): the candidate pairs.
    Shared by minhash_lsh_candidates and minhash_lsh_pairs so a fix to
    candidate generation lands once."""
    a = banded.selectExpr(f"{_q(key)} AS a", "band_id", "band_hash")
    b = banded.selectExpr(f"{_q(key)} AS b", "band_id", "band_hash")
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter("a < b")
        .selectExpr("a", "b")
        .distinct()
    )


def _estimate_from_sigs(pairs: DataFrame, sigs: DataFrame, key: str, k: int) -> DataFrame:
    sa = sigs.selectExpr(f"{_q(key)} AS a", "sig AS sig_a")
    sb = sigs.selectExpr(f"{_q(key)} AS b", "sig AS sig_b")
    same = "size(filter(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)), v -> v = 1))"
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .selectExpr("a", "b", f"CAST({same} AS DOUBLE) / {k} AS jaccard_est")
    )


def minhash_jaccard_estimate(
    df: DataFrame, pairs: DataFrame, key: str = "doc_id", text: str = "text",
    k: int = 32, n: int = 3, seed: int = 42, hash_mode: str = "xxhash64",
) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of matching
    signature positions (verify stage after LSH)."""
    sigs = minhash_signatures(df, key, text, k, n, seed, hash_mode)
    return _estimate_from_sigs(pairs, sigs, key, k)


def minhash_lsh_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Full MinHash+LSH near-dup chain: signatures -> banded candidates ->
    per-pair Jaccard estimate, computing (and persisting) the signature DF
    ONCE — the candidates stage and both sides of the estimate join reuse
    it instead of re-shingling the corpus (the two heaviest stages in the
    round-1 bench were exactly this recomputation). The persist lives
    until the session drops it: a long-lived service calling this per
    epoch should `spark.catalog.clearCache()` between rounds (bench.py
    does) — unpersisting here would invalidate the returned lazy DF."""
    sigs = minhash_signatures(df, key, text, k, n, seed, hash_mode).persist()
    cand = _banded_candidates(_banded(sigs, key, k, bands, hash_mode), key)
    return _estimate_from_sigs(cand, sigs, key, k)


def _checkpoint_sig(edges: DataFrame) -> tuple[DataFrame, tuple]:
    """Checkpoint ``edges`` and return it with its convergence signature
    (count, decimal sum of pair hashes), observed on the checkpoint job
    itself rather than by a second job over the result. Decimal, because
    an ANSI-mode bigint sum of ~2^63-scale hashes overflows; an empty
    edge set signs as (0, None)."""
    obs = Observation()
    edges = edges.observe(
        obs,
        F.expr("count(1) AS n"),
        F.expr("sum(CAST(xxhash64(a, b) AS DECIMAL(38,0))) AS h"),
    ).localCheckpoint(eager=True)
    r = obs.get
    return edges, (r["n"], r["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al., 'Connected Components in MapReduce
    and Beyond'): every node connects its LARGER neighbors to the
    minimum of its neighborhood (incl. itself). The minimum is a window
    over the node's neighbors, so each edge row gets it from the one
    shuffle that groups the node, and a hub's neighbor list streams
    through Spark's spillable window buffer instead of having to fit in
    memory. Every output edge points from a larger node to a smaller
    one. The output may repeat an edge; ``_small_star`` removes repeats,
    so no shuffle is spent on them here."""
    sym = edges.union(edges.selectExpr("b AS a", "a AS b"))
    return (
        sym.selectExpr("a", "b", "least(min(b) OVER (PARTITION BY a), a) AS m")
        .filter("b > a")
        .selectExpr("b AS a", "m AS b")
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star over ``_large_star``'s output: every node connects its
    smaller neighbors (and itself) to their minimum. Each input edge
    already points from the larger node ``a`` to the smaller ``b``, so a
    node's smaller neighbors are the ``b`` of its own edges (a window,
    as in ``_large_star``). The output points the same way."""
    return (
        edges.selectExpr(
            "explode(array(b, a)) AS a", "min(b) OVER (PARTITION BY a) AS b"
        )
        .filter("a != b")
        .distinct()
    )


def _star_components(pairs: DataFrame, max_iter: int) -> tuple[DataFrame, int, bool]:
    """Alternating large-star/small-star connected components. Converges
    in O(log^2 n) rounds on ANY graph shape — a diameter-D chain needs
    ~log D rounds (measured: 8 at D=100, 11 at D=1000). Returns
    (labels, rounds_used, converged); labels cover every node of
    ``pairs`` with the component-min as the label.

    Each round's edge set is localCheckpointed (iterative joins otherwise
    grow the logical plan until the plan STRING alone OOMs the driver),
    and the checkpoint's own query observes the round's signature, so
    the convergence test runs no query of its own. A round whose
    signature equals the previous round's is the fixpoint; round 1 has
    no previous signature, which costs one extra round only when
    ``pairs`` is already a converged star."""
    # pairs evaluated ONCE: the upstream pair-generation plan (the full
    # n-gram chain, seconds per pass at sf1) must not re-run per branch
    raw = pairs.selectExpr("a", "b").localCheckpoint(eager=True)
    edges = raw.filter("a != b")
    sig, rounds, converged = None, 0, False
    for rounds in range(1, max_iter + 1):
        edges, new_sig = _checkpoint_sig(_small_star(_large_star(edges)))
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # the budget may have ended ON the converging round (its edge
        # set changed from the previous one but is already the
        # fixpoint). One verify-only probe keeps the truncation warning
        # free of false positives for diameter-shaped == max_iter inputs.
        converged = _checkpoint_sig(_small_star(_large_star(edges)))[1] == sig
    # at the fixpoint every edge is (node -> component min), and every
    # edge points to a smaller node: a node's label is the minimum of
    # itself and its edges' targets (roots and singletons label
    # themselves)
    labels = (
        raw.selectExpr("a AS node", "a AS label")
        .union(raw.selectExpr("b AS node", "b AS label"))
        .union(edges.selectExpr("a AS node", "b AS label"))
        .groupBy("node")
        .agg(F.expr("min(label) AS label"))
    )
    return labels, rounds, converged


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster), with
    cluster = min doc id in the component (the canonical keeper).

    Alternating large-star/small-star (``_star_components``) for up to
    ``max_iter`` rounds: O(log^2 n) rounds on any component shape, the
    clique-shaped clusters near-dup pairs usually form as well as deep
    chains. The rounds run when this is called; the returned frame is
    one aggregate over the checkpointed pairs and the last round's
    edges. An exhausted budget warns (never silently truncates)."""
    labels, _, converged = _star_components(pairs, max_iter)
    if not converged:
        import warnings

        warnings.warn(
            f"dup_clusters: star rounds did not converge within "
            f"{max_iter} rounds; labels are a refinement, not the "
            f"transitive closure",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.selectExpr("node AS doc_id", "label AS cluster")


def simhash64(text_col: str = "text", hash_mode: str = "xxhash64") -> F.Column:
    """63-bit SimHash over word hashes, fully JVM-side (bit 63 unused to
    stay positive in a signed long): for each bit position, sum +/-1
    weighted by whether xxhash64(word) has that bit; bit set iff the sum
    is positive. Near-dups have small Hamming distance.

    Single-fold formulation: Spark cannot CSE across lambda scopes, so 63
    separate aggregates would re-hash every word 63 times. Instead ONE
    fold keeps a 63-wide counter array updated with zip_with."""
    return simhash_from_words(F.array_distinct(words(text_col)), hash_mode)


def simhash_from_words(wcol: F.Column, hash_mode: str = "xxhash64") -> F.Column:
    """simhash64 over an ALREADY-distinct words array (the
    ``dedup_pipeline`` entry point — tokenization shared upstream)."""
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(63)])
    wh = F.transform(
        wcol, lambda t: portable_hash60(t) if hash_mode == "portable" else F.xxhash64(t)
    )
    counters = F.aggregate(
        wh,
        F.array_repeat(F.lit(0), 63),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda c, m: c + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counters,
            masks,
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def _simhash_sigs_from_word_rows(rows: DataFrame, key: str, hcol: str) -> DataFrame:
    """(key, word_hash) rows -> (key, sh) simhash signatures via ONE
    codegen hash aggregate: S_i = count of words whose hash has bit i
    set; the fold formulation's counter is c_i = 2*S_i - n, so bit i of
    the signature is set iff 2*S_i > n. 63 conditional sums + one count
    are whole-stage-codegen over primitive longs, where the single-fold
    zip_with walk (``simhash_from_words``) evaluates interpreted per
    element — measured ~8x on the sf1 corpus (OPTIMIZATION_r06.md). The
    bit composition sums 63 DISJOINT powers of two, i.e. a bitwise OR."""
    h = _q(hcol)
    aggs = [
        F.expr(
            f"sum(CASE WHEN ({h} & CAST({1 << i} AS BIGINT)) != 0 THEN 1 ELSE 0 END) AS _s{i}"
        )
        for i in range(63)
    ]
    counted = rows.groupBy(key).agg(F.expr("count(1) AS _n"), *aggs)
    sim = "CAST(0 AS BIGINT)" + "".join(
        f" + CASE WHEN _s{i} * 2 > _n THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(63)
    )
    return counted.selectExpr(_q(key), f"{sim} AS sh")


def simhash_near_dup_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    max_hamming: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs via 4-block bucketing (pigeonhole: hamming<=3
    over 4 blocks guarantees one exact block match), then verify the
    Hamming distance on candidates only. Signatures come from the codegen
    aggregate formulation (``_simhash_sigs_from_word_rows``) and the
    signature DF is persisted before the self-join: both join sides (and
    the 4 block branches after projection collapse) would otherwise each
    recompute the signature pass.

    Zero-word docs (empty/whitespace-only/NULL text) are dropped before
    signing (explode of an empty/NULL words array emits nothing),
    mirroring minhash_signatures: their signature degenerates to 0, so N
    such docs would share every block hash and the bucket self-join
    would emit a C(N,2) clique of meaningless "near-dups" — the exact
    explosion the blocking exists to prevent (and a divergence from the
    word-level oracle, which produces no rows for them)."""
    kq = _q(key)
    wrows = (
        spread_small_input(df, key, min_bytes=1 << 20)
        .selectExpr(kq, f"explode(array_distinct({_words_sql(_q(text))})) AS _w")
        .selectExpr(kq, f"{_hash64('_w', hash_mode)} AS _h")
    )
    sh = _simhash_sigs_from_word_rows(wrows, key, "_h").persist()
    return _simhash_pairs_from_sigs(sh, key, max_hamming)


def _simhash_pairs_from_sigs(
    sh: DataFrame, key: str, max_hamming: int
) -> DataFrame:
    """Block-bucket candidate join + Hamming verify over a (key, sh)
    signature frame (caller persists it — both join sides and the 4
    block branches reuse it).

    Dedup WITHOUT a distinct: a pair matching in m blocks would appear m
    times, and the old ``.distinct()`` on (a, b, sha, shb) shuffled the
    ENTIRE candidate expansion (~237M rows at sf1 — dup-heavy corpora
    make block buckets quadratic) a second time. Instead each pair is
    kept only in its FIRST matching block — for block i, require every
    earlier block to differ — a codegen filter on columns the joined row
    already carries. Exactly one copy of each candidate survives, so the
    output set is identical and the candidate expansion goes straight
    from the join into the Hamming filter with zero extra exchanges."""
    def _blk(col: str, i: int) -> str:
        return f"(shiftright({col}, {i * 16}) & 65535)"

    kq = _q(key)
    structs = ", ".join(f"struct({i} AS blk, {_blk('sh', i)} AS bh)" for i in range(4))
    blocks = sh.selectExpr(kq, "sh", f"explode(array({structs})) AS b").selectExpr(
        kq, "sh", "b.blk", "b.bh"
    )
    a = blocks.selectExpr(f"{kq} AS a", "sh AS sha", "blk", "bh")
    b = blocks.selectExpr(f"{kq} AS b", "sh AS shb", "blk", "bh")

    first_match = "true"
    for i in range(1, 4):
        earlier_all_differ = " AND ".join(
            ["true"] + [f"{_blk('sha', j)} != {_blk('shb', j)}" for j in range(i)]
        )
        first_match = (
            f"CASE WHEN blk = {i} THEN ({earlier_all_differ}) ELSE {first_match} END"
        )
    return (
        a.join(b, ["blk", "bh"])
        .filter("a < b")
        .selectExpr("*", "CAST(bit_count(sha ^ shb) AS INT) AS hamming")
        .filter(f"hamming <= {int(max_hamming)} AND {first_match}")
        .selectExpr("a", "b", "hamming")
    )


def dedup_pipeline(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
    k: int = 32,
    bands: int = 8,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    max_hamming: int = 3,
    hash_shingles: str | None = None,
) -> dict[str, DataFrame]:
    """The whole near-dup family over ONE tokenization pass. Standalone,
    each member re-reads and re-tokenizes the corpus (words + shingles
    are the shared prefix of every signature), and ``dup_clusters``
    consumers re-run the full Jaccard pair chain; here the corpus is
    scanned once into a persisted (key, words, shingles, fingerprint)
    frame and the pair set feeding the clusters is the SAME frame the
    jaccard output returns. At 100 TB the savings is a full corpus scan
    + tokenize per member — 4 scans collapse to 1.

    Returns frames keyed: ``exact`` (keeper, n_copies), ``ngram_pairs``
    (a, b, jaccard), ``clusters`` (doc_id, cluster), ``minhash_pairs``
    (a, b, jaccard_est), ``simhash_pairs`` (a, b, hamming). All are lazy
    except ``clusters``: ``dup_clusters`` runs its rounds at call time,
    so this call already computes the tokenization and the n-gram pairs.
    Each is bit-identical to its standalone function at the same
    parameters (tested). The persisted intermediates live until the
    session drops them — call ``spark.catalog.clearCache()`` when done."""
    kq, tq = _q(key), _q(text)
    base = (
        spread_small_input(df, key, min_bytes=1 << 20)
        .filter(f"{tq} IS NOT NULL")
        .selectExpr(
            kq,
            f"array_distinct({_words_sql(tq)}) AS _w",
            f"{_shingles_sql(tq, n)} AS _sh",
            f"md5({tq}) AS _fp",
        )
        .persist()
    )
    exact = (
        base.groupBy("_fp")
        .agg(F.expr(f"min({kq}) AS keeper"), F.expr("count(1) AS n_copies"))
        .filter("n_copies > 1")
        .selectExpr("keeper", "n_copies")
    )
    sh_rows = base.selectExpr(kq, "explode(_sh) AS shingle")
    if hash_shingles:
        # see ngram_jaccard_pairs: 8-byte shuffle keys instead of strings
        sh_rows = sh_rows.selectExpr(kq, f"{_hash64('shingle', hash_shingles)} AS shingle")
    ngram_pairs = _pairs_from_shingle_rows(sh_rows, key, threshold, df_cap).persist()
    clusters = dup_clusters(ngram_pairs)
    sigs = _sigs_from_shingled(
        base.selectExpr(kq, "_sh"), key, "_sh", k, seed, hash_mode
    ).persist()
    minhash_pairs = _estimate_from_sigs(
        _banded_candidates(_banded(sigs, key, k, bands, hash_mode), key), sigs, key, k
    )
    sim_sigs = _simhash_sigs_from_word_rows(
        base.selectExpr(kq, "explode(_w) AS _we").selectExpr(
            kq, f"{_hash64('_we', hash_mode)} AS _h"
        ),
        key,
        "_h",
    ).persist()
    simhash_pairs = _simhash_pairs_from_sigs(sim_sigs, key, max_hamming)
    return {
        "exact": exact,
        "ngram_pairs": ngram_pairs,
        "clusters": clusters,
        "minhash_pairs": minhash_pairs,
        "simhash_pairs": simhash_pairs,
    }
