"""Similarity search over embedding columns (array<float>).

One path per operator:
  * exact top-k: ``brute_force_topk`` (float cosine) and
    ``quantized_cosine_topk`` (floor-quantized integer cosine,
    bit-identical across engines);
  * IVF top-k: ``build_ivf_index`` writes members partitioned by centroid
    once, ``ivf_index_topk`` reads only the probed centroids;
  * hyperplane-LSH top-k: ``build_lsh_index`` writes members partitioned
    by signature once, ``lsh_index_topk`` reads only the Hamming ball;
  * near-dup pairs: ``embedding_near_dup_pairs`` (signature bucketing +
    exact cosine verify);
  * many queries at once: ``batch_topk_pandas`` (numpy matmul over Arrow).

At 10^10 vectors the brute force is a full scan per query; the index
probes touch only the query's partitions. Dot products run through
``zip_with`` + ``aggregate`` (JVM-side, no Python UDF) in double
precision, and a query vector enters the plan as one array literal.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import _q


def _array_sql(values) -> str:
    """A driver-side vector as ONE SQL array literal: Python ints as
    BIGINT (``<n>L``), everything else as DOUBLE (``repr(x)D``, which
    parses back to the same double; a non-finite value goes through a
    string cast). One expression costs a handful of Py4J round trips,
    where a ``F.lit`` Column per component costs about ten each."""

    def lit(v) -> str:
        if isinstance(v, int):
            return f"{v}L"
        x = float(v)
        return f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"

    return f"array({', '.join(map(lit, values))})"


def _dot_sql(a: str, b: str) -> str:
    """Double-precision dot product of two array expressions, as SQL text."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _l2_norm_sql(a: str) -> str:
    """L2 norm of an array expression, as SQL text."""
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v))"
    )


def _cosine_sql(a: str, b: str) -> str:
    """Cosine of two array expressions, as SQL text. NULL (not NaN) for
    zero-norm inputs: 0/0 is IEEE NaN, and Spark orders NaN ABOVE every
    double — an all-zeros padding vector would rank FIRST in every desc
    top-k and pass every `>= threshold` filter. NULL sorts last under
    desc and fails threshold filters."""
    den = f"({_l2_norm_sql(a)} * {_l2_norm_sql(b)})"
    return f"CASE WHEN {den} != 0 THEN {_dot_sql(a, b)} / {den} END"


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against one query vector (column
    ``cos_sim``); also the scorer of a default ``lsh_index_topk`` probe.
    Physical plan: project (codegen'd fold) -> TakeOrderedAndProject —
    no full sort, no shuffle of losers."""
    q = _array_sql([float(x) for x in query_vec])
    scored = df.selectExpr(_q(id_col), f"{_cosine_sql(_q(vec_col), q)} AS cos_sim")
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def quantized_cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 16384,
) -> DataFrame:
    """Exact top-k cosine over FLOOR-QUANTIZED integer components — every
    arithmetic step (floor of an exact double product, bigint dot/norm
    sums, one final IEEE divide of exact-int-derived doubles) is
    bit-identical across engines, so the result is fully oracle-checkable
    (unlike float-fold cosine, where summation shape changes the last
    ulp). Plan shape matches brute_force_topk: codegen'd fold ->
    TakeOrderedAndProject."""
    qlit, nb = _quantize_query(query_vec, scale)
    if nb == 0:
        raise ValueError("zero-norm query vector: cosine undefined")
    scored = (
        df.selectExpr(_q(id_col), f"{_quantize(_q(vec_col), scale)} AS qv")
        .select(
            id_col,
            _qdot(F.col("qv"), qlit).alias("dot_q"),
            # squared self-dot, not _qnorm: the sqrt happens once in the
            # final divide below, keeping na an exact bigint until then
            F.aggregate(
                F.transform("qv", lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("na"),
        )
        # zero-norm rows excluded up front: their cosine is undefined and
        # the NaN from 0/0 would sort ABOVE every real score
        .filter(F.col("na") > 0)
        .select(
            id_col,
            "dot_q",
            (
                F.col("dot_q").cast("double")
                / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.lit(float(nb))))
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def _quantize(c: str, scale: int) -> str:
    """SQL text flooring each component of the array expression ``c``
    times ``scale`` to a bigint."""
    return f"transform({c}, x -> CAST(floor(CAST(x AS DOUBLE) * {float(scale)!r}D) AS BIGINT))"


def _qdot(qa: F.Column, qb: F.Column) -> F.Column:
    zero = F.lit(0).cast("long")
    return F.aggregate(
        F.zip_with(qa, qb, lambda a, b: a * b), zero, lambda acc, x: acc + x
    )


def _qnorm(qa: F.Column) -> F.Column:
    """sqrt of the exact bigint self-dot (one value per vector — compute
    ONCE per row, not once per pair: higher-order functions evaluate
    interpreted, so a per-pair norm fold dominated the IVF assign pass)."""
    zero = F.lit(0).cast("long")
    return F.sqrt(
        F.aggregate(
            F.transform(qa, lambda x: x * x), zero, lambda acc, x: acc + x
        ).cast("double")
    )


def quantized_cosine_cols(qa: F.Column, qb: F.Column) -> F.Column:
    """Exact cosine between two already-quantized bigint arrays: bigint
    dot/norms + one IEEE divide — bit-identical across engines."""
    return _qdot(qa, qb).cast("double") / (_qnorm(qa) * _qnorm(qb))


def _quantize_query(query_vec, scale):
    """Query vector quantized driver-side: the literal bigint array plus
    its exact squared norm (caller raises if 0 — cosine undefined)."""
    qints = [int(math.floor(float(x) * scale)) for x in query_vec]
    return F.expr(_array_sql(qints)), sum(v * v for v in qints)


def _ivf_assign(
    df: DataFrame,
    n_centroids: int,
    centroid_mod: int | None,
    id_col: str,
    vec_col: str,
    scale: int,
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """The IVF index-build stage of ``build_ivf_index``: quantized vectors
    (zero-norm excluded), deterministic centroid sample, nearest-centroid
    assignment. Returns (qd, cents, assign, centroid_mod).

    ``n_centroids`` is the scale-governing parameter: C stays FIXED as N
    grows, so the assign pass is O(N*C) — linear in N (a residue-class
    parameter like the old ``centroid_mod=47`` default made C grow as
    N/47, i.e. an O(N^2/47) assign at scale). The deterministic sampling
    residue is derived from one count. Nearest-centroid choice is
    a partial-aggregable ``max_by`` hash/sort aggregate (map-side combine
    collapses the N*C product to N rows before any exchange) — NOT a
    row_number window, which would shuffle and sort all N*C rows."""
    # norms computed ONCE per vector/centroid; each pair then costs one
    # dot fold + a scalar divide (the norm fold per pair was the hot spot)
    qd = (
        df.selectExpr(_q(id_col), f"{_quantize(_q(vec_col), scale)} AS qv")
        .withColumn("nv", _qnorm(F.col("qv")))
        # zero-norm vectors carry no direction: excluded from the index
        # (as members AND as centroid candidates) — their 0/0 cosine is
        # NaN, which Spark sorts above every real score
        .filter(F.col("nv") > 0)
    )
    if centroid_mod is None:
        # one count at index-build time buys a C that does not grow
        # with N. Counted over qd (post zero-norm filter), NOT df:
        # the oracle replays the residue from the indexed set, so a
        # zero-norm vector in the data must not skew the derived mod
        # on one side only.
        centroid_mod = max(1, qd.count() // n_centroids)
    # residue 1 % mod, not a literal 1: when mod == 1 (table smaller
    # than ~2*n_centroids) `id % 1 == 1` matches NOTHING — the engine
    # would silently degrade to brute force while an oracle replaying
    # the assign/probe chain returns zero rows. With 1 % mod, mod ==
    # 1 makes every vector a centroid (exact search, oracle-aligned).
    cents = qd.filter(F.col(id_col) % centroid_mod == 1 % centroid_mod).select(
        F.col(id_col).alias("cid"),
        F.col("qv").alias("cq"),
        F.col("nv").alias("cn"),
    )
    best = (
        qd.crossJoin(F.broadcast(cents))
        .withColumn(
            "ccos",
            _qdot(F.col("qv"), F.col("cq")).cast("double")
            / (F.col("nv") * F.col("cn")),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.struct("qv", "nv", "cid"),
                # max ccos, ties -> min cid (same total order the old
                # window's ORDER BY ccos DESC, cid ASC produced)
                F.struct(F.col("ccos"), (-F.col("cid")).alias("neg_cid")),
            ).alias("w")
        )
    )
    assign = best.select(
        id_col,
        F.col("w.qv").alias("qv"),
        F.col("w.nv").alias("nv"),
        F.col("w.cid").alias("cid"),
    )
    return qd, cents, assign, centroid_mod


def _probe_centroids(cents: DataFrame, q, qn, nprobe: int) -> list:
    """The query's nprobe nearest centroids (tiny driver read)."""
    return [
        r.cid
        for r in cents.withColumn(
            "qcos", _qdot(F.col("cq"), q).cast("double") / (F.col("cn") * qn)
        )
        .orderBy(F.desc("qcos"), F.col("cid"))
        .limit(nprobe)
        .collect()
    ]


def _score_topk(cand: DataFrame, q, qn, k: int, id_col: str) -> DataFrame:
    return (
        cand.withColumn(
            "score", _qdot(F.col("qv"), q).cast("double") / (F.col("nv") * qn)
        )
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 32,
    centroid_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 16384,
    salt_buckets: int | None = None,
) -> dict:
    """Materialize the IVF index at ``path``: member vectors (quantized +
    pre-normed) written PARTITIONED BY centroid id under ``members/``,
    the tiny centroid table under ``centroids/``, and the build
    parameters in ``meta.json``. Built once, probed many times — the
    assign pass (the O(N*C) scan) is paid here, and ``ivf_index_topk``
    reads only the probed centroids' partitions.

    Members are repartitioned BY cid before the write so each centroid's
    partition is one contiguous file set. ``salt_buckets`` splits each
    centroid's WRITE across up to that many tasks (shuffle key becomes
    (cid, xxhash64(id) % salt_buckets)) — at 10^10 vectors the largest
    centroid must not serialize into one write task; the probe is
    unchanged, it reads ``cid=X/*`` regardless of file count. Degenerate
    case — no vector id in the sampled residue class — is recorded in
    meta and the index stores all vectors unpartitioned, so the probe is
    an exact brute force rather than an empty result."""
    import json as _json
    import os as _os

    qd, cents, assign, mod = _ivf_assign(
        df, n_centroids, centroid_mod, id_col, vec_col, scale
    )
    degenerate = cents.limit(1).count() == 0
    if degenerate:
        qd.write.mode("overwrite").parquet(_os.path.join(path, "members"))
    else:
        if salt_buckets:
            # explicit partition count: a column-only repartition is an
            # AQE-coalescible hint, and on a small build AQE merges it
            # back to one task — defeating the salt. n_centroids *
            # salt_buckets gives every (cid, salt) combo its own slot.
            shuffled = assign.repartition(
                max(1, n_centroids) * salt_buckets,
                F.col("cid"),
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)),
            )
        else:
            shuffled = assign.repartition("cid")
        (
            shuffled.write.mode("overwrite")
            .partitionBy("cid")
            .parquet(_os.path.join(path, "members"))
        )
        cents.write.mode("overwrite").parquet(_os.path.join(path, "centroids"))
    meta = {
        "id_col": id_col,
        "scale": scale,
        "n_centroids": n_centroids,
        "centroid_mod": mod,
        "degenerate": degenerate,
    }
    with open(_os.path.join(path, "meta.json"), "w") as f:
        _json.dump(meta, f)
    return meta


def ivf_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Query a materialized IVF index (``build_ivf_index``): rank the
    centroid table (tiny driver read), then score ONLY the nprobe
    nearest centroids' members — ``cid`` is the parquet partition
    column, so Catalyst prunes the scan to ~nprobe/n_centroids of the
    files (asserted via inputFiles + PartitionFilters in tests).
    Scoring is floor-quantized integer cosine, the same expression as
    ``quantized_cosine_topk``, so results are engine-exact and
    oracle-checkable."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "meta.json")) as f:
        meta = _json.load(f)
    id_col, scale = meta["id_col"], meta["scale"]
    q, qn2 = _quantize_query(query_vec, scale)
    if qn2 == 0:
        raise ValueError("zero-norm query vector: cosine undefined")
    qn = F.sqrt(F.lit(float(qn2)))
    members = spark.read.parquet(_os.path.join(path, "members"))
    if meta["degenerate"]:
        return _score_topk(members, q, qn, k, id_col)
    cents = spark.read.parquet(_os.path.join(path, "centroids"))
    probe = _probe_centroids(cents, q, qn, nprobe)
    return _score_topk(members.filter(F.col("cid").isin(probe)), q, qn, k, id_col)


def batch_topk_pandas(
    df: DataFrame,
    queries: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Many queries at once: per Arrow batch, one numpy matmul scores all
    queries against the batch (vectorized — never per-row Python), and a
    LOCAL top-k per query is emitted from inside the UDF — at most
    k * n_queries rows leave each batch, so the global reduce touches
    O(n_batches * k) rows per query instead of all N. The global step is
    one partial-aggregable collect_list + array_sort + slice per query
    (group size bounded by batches-per-partition * k at the partial
    level), NOT a row_number window — the window formulation collapsed
    parallelism to n_q single-task sorts of the full N-row exploded
    frame, a scale-killer at 10^10 rows. Returns (query_id, vec_id,
    cos_sim); zero-norm and NULL vectors are never returned (no
    direction -> cosine undefined), matching the quantized/ivf paths."""
    qm = np.asarray(queries, dtype=np.float64)
    qnorms = np.linalg.norm(qm, axis=1, keepdims=True)
    if not np.all(qnorms > 0):
        # same contract as every sibling path (quantized/ivf/lsh): a
        # zero-norm query has no direction — raising beats silently
        # returning k arbitrary rows with NaN scores
        raise ValueError("zero-norm query vector: cosine undefined")
    qn = qm / qnorms
    n_q = len(queries)
    dim = len(queries[0])
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.IntegerType()),
            T.StructField(id_col, id_type),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL rows stack as zeros (np.stack would crash on a 0-d
            # object array); zero-norm rows (incl. those nulls) are
            # dropped before selection — a 0/0 NaN would rank FIRST
            # under Spark's NaN-greatest double ordering
            m = np.stack(
                [
                    np.zeros(dim) if v is None else np.asarray(v, dtype=np.float64)
                    for v in pdf[vec_col]
                ]
            )
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            ok = norms[:, 0] > 0
            if not ok.any():
                continue
            m = np.divide(m, norms, out=np.zeros_like(m), where=norms > 0)
            sims = (m @ qn.T)[ok]  # (n_ok, n_q)
            ids = pdf[id_col].to_numpy()[ok]
            out = []
            for qi in range(n_q):
                # tie-aware local top-k under the SAME total order the
                # global reduce uses (desc cos_sim, asc id): any global
                # winner is in its batch's top-k under that order, so
                # the pre-reduction is lossless
                part = (
                    pd.DataFrame({id_col: ids, "cos_sim": sims[:, qi]})
                    .sort_values(["cos_sim", id_col], ascending=[False, True])
                    .head(k)
                )
                part.insert(0, "query_id", np.int32(qi))
                out.append(part)
            yield pd.concat(out, ignore_index=True)

    cand = df.select(id_col, vec_col).mapInPandas(local_topk, schema=out_schema)
    winner = F.struct(
        (-F.col("cos_sim")).alias("_nc"),
        F.col(id_col).alias("_id"),
        F.col("cos_sim").alias("_c"),
    )
    return (
        cand.groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_list(winner)), 1, k).alias("top"))
        .select("query_id", F.explode("top").alias("t"))
        .select(
            "query_id",
            F.col("t._id").alias(id_col),
            F.col("t._c").alias("cos_sim"),
        )
    )


def hyperplane_signature(
    vec_col: str, dim: int, n_bits: int = 16, seed: int = 42
) -> F.Column:
    """Random-hyperplane LSH signature: bit i = sign(v . h_i) where h_i is
    a deterministic pseudo-random hyperplane derived from (seed, i). The
    hyperplanes are +/-1 valued (sign of a hash), so the projection is a
    signed sum — all JVM-side, no UDF.

    Single-fold formulation (the simhash64 shape): Spark cannot CSE
    across HOF lambda scopes, so n_bits separate aggregate folds walked
    the vector n_bits times, re-hashing per element each walk. Instead
    ONE fold over the (value, index) pairs carries an n_bits-wide
    projection accumulator — same signature bits (identical hash
    inputs), ~n_bits-fold less work per row."""
    return F.expr(_hyperplane_sql(_q(vec_col), dim, n_bits, seed))


def _hyperplane_sql(v: str, dim: int, n_bits: int, seed: int) -> str:
    """SQL text of ``hyperplane_signature`` over the array expression ``v``."""
    pairs = f"zip_with({v}, sequence(0, {dim - 1}), (x, j) -> struct(CAST(x AS DOUBLE) AS x, j AS j))"
    sign = f"CASE WHEN pmod(xxhash64(e.j, i, {seed}), 2) = 0 THEN 1.0D ELSE -1.0D END"
    projs = (
        f"aggregate({pairs}, array_repeat(0.0D, {n_bits}), (acc, e) -> "
        f"zip_with(acc, {_bit_idx(n_bits)}, (a, i) -> a + e.x * {sign}))"
    )
    return _sig_bits(projs, n_bits)


def _bit_idx(n_bits: int) -> str:
    return f"array({', '.join(str(i) for i in range(n_bits))})"


def _sig_bits(projs: str, n_bits: int) -> str:
    """SQL text folding the projection array ``projs`` into the signature:
    bit i is set iff projection i is positive."""
    masks = ", ".join(str(1 << i) for i in range(n_bits))
    return (
        f"aggregate(zip_with({projs}, array({masks}), (p, m) -> CASE WHEN p > 0 THEN m ELSE 0 END), "
        f"0, (acc, v) -> acc | v)"
    )


def portable_lsh_weights(dim: int, n_bits: int, seed: int = 42) -> list[list[int]]:
    """The ±1 hyperplane weights of the portable signature, as plain
    ints: weight(i, j) = +1 iff the md5-derived 60-bit hash of
    "j:i:seed" is even (the same portable_hash60 family the dedupe
    oracles replay). Computed DRIVER-side with hashlib — the whole point
    of the md5 family is that any engine (or plain Python) derives the
    identical constants, so both Spark and the SQL oracle consume them
    as LITERALS and the per-element hot path does zero hashing."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{j}:{i}:{seed}".encode()).hexdigest()[:15], 16) % 2
            == 0
            else -1
            for j in range(dim)
        ]
        for i in range(n_bits)
    ]


def quantized_hyperplane_signature(
    vec_col: str, dim: int, n_bits: int = 16, seed: int = 42, scale: int = 16384
) -> F.Column:
    """Engine-portable hyperplane signature: the projection runs over the
    FLOOR-QUANTIZED integer components with ±1 literal weights
    (``portable_lsh_weights``), so every arithmetic step is exact
    integer math — an external SQL engine replays the identical bits (a
    float-sum projection would depend on accumulation order at the last
    ulp, which is exactly where a near-zero projection flips a bit).
    Same single-fold shape as ``hyperplane_signature``; weights differ
    (md5 family vs xxhash64), so signatures are NOT comparable across
    the two modes."""
    return F.expr(_quantized_hyperplane_sql(_q(vec_col), dim, n_bits, seed, scale))


def _quantized_hyperplane_sql(v: str, dim: int, n_bits: int, seed: int, scale: int) -> str:
    """SQL text of ``quantized_hyperplane_signature`` over the array
    expression ``v``."""
    w = ", ".join(
        f"array({', '.join(map(str, row))})" for row in portable_lsh_weights(dim, n_bits, seed)
    )
    pairs = f"zip_with({_quantize(v, scale)}, sequence(0, {dim - 1}), (x, j) -> struct(x AS x, j AS j))"
    projs = (
        f"aggregate({pairs}, array_repeat(CAST(0 AS BIGINT), {n_bits}), (acc, e) -> "
        f"zip_with(acc, {_bit_idx(n_bits)}, "
        f"(a, i) -> a + e.x * element_at(element_at(array({w}), i + 1), e.j + 1)))"
    )
    return _sig_bits(projs, n_bits)


def _sig_expr(
    v: str, dim: int, n_bits: int, seed: int, sig_mode: str, scale: int
) -> str:
    """SQL text of the ``sig_mode`` signature of the array expression ``v``."""
    if sig_mode == "portable":
        return _quantized_hyperplane_sql(v, dim, n_bits, seed, scale)
    return _hyperplane_sql(v, dim, n_bits, seed)


def _query_signature(
    spark,
    query_vec: list[float],
    n_bits: int,
    seed: int,
    sig_mode: str = "xxhash64",
    scale: int = 16384,
) -> int:
    """The query's hyperplane signature, computed by the SAME JVM
    expression the table signatures use (one tiny 1-row job) — bit-exact
    parity matters more than avoiding a millisecond job, since xxhash64
    has no stdlib Python twin."""
    qdf = spark.createDataFrame(
        [(query_vec,)],
        T.StructType([T.StructField("qv", T.ArrayType(T.FloatType()))]),
    ).withColumn(
        "qsig", F.expr(_sig_expr("qv", len(query_vec), n_bits, seed, sig_mode, scale))
    )
    return qdf.collect()[0]["qsig"]


def _hamming_ball(sig: int, n_bits: int, radius: int) -> list[int]:
    """All signatures within ``radius`` bit flips of ``sig`` —
    sum_{r<=radius} C(n_bits, r) values, enumerated driver-side (137 for
    16 bits / radius 2): the multi-probe set is a LITERAL IN-list, so
    the index read partition-prunes with no scan of the signature
    column."""
    import itertools

    out = [sig]
    for r in range(1, radius + 1):
        for bits in itertools.combinations(range(n_bits), r):
            m = 0
            for b in bits:
                m |= 1 << b
            out.append(sig ^ m)
    return out


def build_lsh_index(
    df: DataFrame,
    path: str,
    n_bits: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sig_mode: str = "xxhash64",
    scale: int = 16384,
) -> dict:
    """Materialize the hyperplane-LSH index at ``path``: (id, vector,
    signature) written PARTITIONED BY signature under ``members/``, build
    parameters in ``meta.json``. The signature pass (the full scan) is
    paid ONCE here; ``lsh_index_topk`` then reads only the buckets it
    probes — at 10^10 vectors a 16-bit
    signature splits the table into <=65536 partitions and a
    radius-2 probe touches 137 of them.

    ``sig_mode="portable"`` signs over the floor-quantized integer
    projection with the md5-derived hash family
    (``quantized_hyperplane_signature``) so an external SQL engine can
    replay the signature bits exactly (the driver oracle path); the
    default xxhash64 mode is the faster production signature.

    NULL vectors are excluded (no signature, and cosine against them is
    NULL anyway); zero-norm vectors get signature 0 and a NULL cosine,
    which sorts below every real score (a portable index drops them at
    query time). An empty/all-NULL
    input is recorded in meta and probed as an empty result."""
    import json as _json
    import os as _os

    vq = _q(vec_col)
    rows = df.filter(f"{vq} IS NOT NULL")
    first = rows.selectExpr(vq).first()
    meta = {
        "id_col": id_col,
        "vec_col": vec_col,
        "n_bits": n_bits,
        "seed": seed,
        "sig_mode": sig_mode,
        "scale": scale,
        "dim": len(first[0]) if first is not None else 0,
        "empty": first is None,
        "id_type": df.schema[id_col].dataType.json(),
    }
    if not meta["empty"]:
        sigs = rows.selectExpr(
            _q(id_col),
            vq,
            f"{_sig_expr(vq, meta['dim'], n_bits, seed, sig_mode, scale)} AS sig",
        )
        (
            sigs.repartition("sig")
            .write.mode("overwrite")
            .partitionBy("sig")
            .parquet(_os.path.join(path, "members"))
        )
    _os.makedirs(path, exist_ok=True)
    with open(_os.path.join(path, "meta.json"), "w") as f:
        _json.dump(meta, f)
    return meta


def _read_probe_buckets(spark, members_root: str, probe: list[int]):
    """Read ONLY the probed ``sig=`` partition directories, bypassing the
    full-index directory listing. ``spark.read.parquet(members_root)``
    with an ``isin`` filter prunes the FILES SCANNED but still lists
    every partition directory up front (InMemoryFileIndex walks the whole
    root) — at 2^16 buckets that listing is 65,536 directory stats per
    query, ~100x the probe set. Passing the bucket paths directly bounds
    the listing at len(probe); ``basePath`` keeps ``sig`` a partition
    column so plans (and the pruning tests) are unchanged. Probe buckets
    with no members simply don't exist on disk and are stat-filtered out
    driver-side; returns None when NO probed bucket exists."""
    import os as _os

    paths = [
        p
        for s in probe
        if _os.path.isdir(p := _os.path.join(members_root, f"sig={s}"))
    ]
    if not paths:
        return None
    return spark.read.option("basePath", members_root).parquet(*paths)


def lsh_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    probe_hamming: int = 2,
) -> DataFrame:
    """Query a materialized LSH index (``build_lsh_index``): compute the
    query signature, enumerate its Hamming ball driver-side, and read
    ONLY those buckets' partitions (``sig`` is the parquet partition
    column — Catalyst prunes the scan; asserted via PartitionFilters +
    files actually read in tests). The default xxhash64 index scores with
    the float ``cosine`` (column ``cos_sim``); a portable index scores with
    the floor-quantized integer cosine (column ``score``)."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "meta.json")) as f:
        meta = _json.load(f)
    portable = meta.get("sig_mode", "xxhash64") == "portable"
    no_rows = T.StructType(
        [
            T.StructField(
                meta["id_col"], T._parse_datatype_json_string(meta["id_type"])
            ),
            T.StructField("score" if portable else "cos_sim", T.DoubleType()),
        ]
    )
    if meta["empty"]:
        return spark.createDataFrame([], no_rows)
    if len(query_vec) != meta["dim"]:
        raise ValueError(
            f"query dim {len(query_vec)} != index dim {meta['dim']}"
        )
    qsig = _query_signature(
        spark,
        query_vec,
        meta["n_bits"],
        meta["seed"],
        meta.get("sig_mode", "xxhash64"),
        meta.get("scale", 16384),
    )
    probe = _hamming_ball(qsig, meta["n_bits"], probe_hamming)
    cand = _read_probe_buckets(spark, _os.path.join(path, "members"), probe)
    if cand is None:
        return spark.createDataFrame([], no_rows)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    if portable:
        # engine-exact scoring to pair with the engine-exact signature:
        # the whole chain (quantize -> sign -> probe -> score) is then
        # replayable by an external SQL engine bit for bit
        qlit, nb = _quantize_query(query_vec, meta.get("scale", 16384))
        if nb == 0:
            raise ValueError("zero-norm query vector: cosine undefined")
        qn = F.sqrt(F.lit(float(nb)))
        qd = cand.selectExpr(
            _q(id_col), f"{_quantize(_q(vec_col), meta.get('scale', 16384))} AS qv"
        ).withColumn("nv", _qnorm(F.col("qv")))
        return _score_topk(qd.filter(F.col("nv") > 0), qlit, qn, k, id_col)
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def _sig_verify_pairs(
    sigs: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    quantized: bool = False,
    scale: int = 16384,
) -> DataFrame:
    """The verify step of ``embedding_near_dup_pairs``: same-bucket
    equijoin + exact cosine filter.
    ``quantized=True`` scores with the floor-quantized integer cosine so
    the verify — like the portable signature it pairs with — is
    bit-replayable by an external SQL engine; zero-norm quantized
    vectors drop (cosine undefined), mirroring lsh_index_topk's
    ``nv > 0`` filter.

    Each side's NORM is computed once per ROW before the join (the
    _qnorm docstring's rule): a bucket of m vectors produces C(m,2)
    pairs, and a per-pair norm fold would redo each vector's O(dim)
    self-dot m-1 times — measured 3x on the sf0.1 driver query. The
    per-pair work is exactly one dot product + one divide, and the
    dot/(na*nb) composition is the same IEEE expression the one-norm
    formulations evaluate, so scores are bit-identical.

    ``quantized=True`` dispatches to the vectorized per-bucket verify
    (``_sig_verify_pairs_quantized_np``): the quantized chain is exact
    integer math, which numpy reproduces bit-for-bit, so the per-pair
    dot can run as one BLAS matmul per bucket instead of millions of
    interpreted zip_with folds (guide §4.2; measured ~50x at sf1). The
    float path stays JVM-side: a numpy float accumulation re-orders the
    sum and flips last-ulp bits, which the quantized design exists to
    avoid."""
    if quantized:
        return _sig_verify_pairs_quantized_np(
            sigs, threshold, id_col, vec_col, scale
        )
    iq, vq = _q(id_col), _q(vec_col)
    # zero-norm rows drop on BOTH paths: a cosine would be NULL for them
    # post-join anyway (never NaN-first), so pre-filtering is equivalent
    # and skips their pair fan-out entirely
    sigs = sigs.selectExpr("*", f"{_l2_norm_sql(vq)} AS __n").filter("__n > 0")
    a = sigs.selectExpr(f"{iq} AS a", f"{vq} AS va", "__n AS na", "sig")
    b = sigs.selectExpr(f"{iq} AS b", f"{vq} AS vb", "__n AS nb", "sig")
    return (
        a.join(b, "sig")
        .filter("a < b")
        .selectExpr("*", f"{_dot_sql('va', 'vb')} / (na * nb) AS cos_sim")
        .filter(f"cos_sim >= {float(threshold)!r}D")
        .selectExpr("a", "b", "cos_sim")
    )


def _sig_verify_pairs_quantized_np(
    sigs: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    scale: int,
) -> DataFrame:
    """Quantized same-bucket verify as ONE numpy Gram pass per signature
    bucket (applyInPandas), replacing the pair self-join + per-pair
    interpreted zip_with dot. Bit-identical to the join formulation:

      * quantize: floor(float->double * scale) — np.floor over float64
        is the same IEEE op sequence;
      * dot: every product is <= scale^2 (2^28) and every partial sum
        <= dim * scale^2 (< 2^53 for any practical dim), so the float64
        matmul accumulates EXACT integers — no rounding at any step,
        regardless of BLAS summation order or FMA;
      * score: dot / (sqrt(na2) * sqrt(nb2)) — one rounded sqrt per row
        and one rounded multiply + divide per pair, the identical
        expression shape the JVM path evaluates (IEEE 754 on both);
      * the a < b canonicalization compares IDS (not positions), exactly
        like the join filter, so duplicate-id rows drop the same way;
      * zero-norm rows drop up front (the __n > 0 filter's twin).

    Memory: the per-bucket group is materialized in pandas (m rows x
    dim), and the Gram matrix is computed in row blocks of 2048 so the
    transient score block is O(2048 * m) — the bucket membership itself
    is the algorithmic bound (a bucket whose C(m,2) pair set is
    infeasible to emit is infeasible under ANY formulation; n_bits
    controls m at scale)."""
    import numpy as np
    import pandas as pd

    id_type = sigs.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("a", id_type),
            T.StructField("b", id_type),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    thr = float(threshold)
    sc = float(scale)

    def verify(pdf):
        ids = pdf[id_col].to_numpy()
        v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        q = np.floor(v * sc)
        na2 = (q * q).sum(axis=1)
        keep = na2 > 0
        ids, q, na2 = ids[keep], q[keep], na2[keep]
        m = len(ids)
        empty = pd.DataFrame(
            {
                "a": np.array([], dtype=ids.dtype),
                "b": np.array([], dtype=ids.dtype),
                "cos_sim": np.array([], dtype=np.float64),
            }
        )
        if m < 2:
            return empty
        order = np.argsort(ids, kind="stable")
        ids, q = ids[order], q[order]
        norms = np.sqrt(na2[order])
        outs = []
        step = 2048
        for s0 in range(0, m, step):
            blk = slice(s0, min(s0 + step, m))
            gram = q[blk] @ q.T
            cos = gram / (norms[blk, None] * norms[None, :])
            ii, jj = np.nonzero(cos >= thr)
            mask = ids[s0 + ii] < ids[jj]
            ii, jj = ii[mask], jj[mask]
            if len(ii):
                outs.append(
                    pd.DataFrame(
                        {"a": ids[s0 + ii], "b": ids[jj], "cos_sim": cos[ii, jj]}
                    )
                )
        return pd.concat(outs) if outs else empty

    # NULL vectors drop here (the old path's __n > 0 filter caught them
    # post-quantize; np.stack would die on them)
    return (
        sigs.selectExpr(_q(id_col), _q(vec_col), "sig")
        .filter(f"{_q(vec_col)} IS NOT NULL")
        .groupBy("sig")
        .applyInPandas(verify, out_schema)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 16,
    seed: int = 42,
    sig_mode: str = "xxhash64",
    scale: int = 16384,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via signature bucketing:
    vectors sharing an LSH bucket are verified with the exact cosine.
    (cos >= 0.95 pairs collide in a 16-bit signature with high prob.)
    Signatures are computed in-plan, one pass over the input.

    An empty (or all-NULL-vector) input yields zero pairs, like every
    other pair generator in the family — the dim probe must not die on
    first() returning None mid-pipeline."""
    vq = _q(vec_col)
    first = df.filter(f"{vq} IS NOT NULL").selectExpr(vq).first()
    if first is None:
        return df.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("a", df.schema[id_col].dataType),
                    T.StructField("b", df.schema[id_col].dataType),
                    T.StructField("cos_sim", T.DoubleType()),
                ]
            ),
        )
    dim = len(first[0])
    sigs = df.selectExpr(
        _q(id_col), vq, f"{_sig_expr(vq, dim, n_bits, seed, sig_mode, scale)} AS sig"
    )
    return _sig_verify_pairs(
        sigs,
        threshold,
        id_col,
        vec_col,
        quantized=(sig_mode == "portable"),
        scale=scale,
    )
