"""Parallelism guards for per-row-expensive map work.

Two facts the byte-based split planner cannot see (guide §2.6 — the
straggler/idle-capacity problem):

* a few MB of parquet yields 1-2 input splits — and a single-row-group
  file cannot split AT ALL — so a stage whose cost is per ROW (tokenize,
  hash, JSON-parse, decode) serializes on a near-idle cluster;
* AQE coalesces post-shuffle partitions by BYTE size, so a small shuffle
  feeding a large generator fan-out (posting-list pair expansion, block
  self-joins) collapses to a handful of tasks that then each explode
  millions of rows.

Both guards are scale-adaptive no-ops: at real data sizes the input
splits (or the shuffle bytes) already exceed the session's parallelism
target, and the explicit exchange only exists exactly when the data is
small enough for it to be near-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shuffle_parallelism(df: DataFrame) -> int:
    """The session's configured reduce-side parallelism (bench.py and
    production both size this to the cluster, so it is the one
    deployment-scaled knob available at plan time)."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


MIN_SPREAD_BYTES = 4 << 20


def spread_small_input(
    df: DataFrame,
    key: str | None = None,
    target: int | None = None,
    min_bytes: int = MIN_SPREAD_BYTES,
) -> DataFrame:
    """Repartition iff the frame currently has fewer partitions than the
    session's shuffle parallelism AND carries enough input bytes for the
    exchange to pay for itself. Use directly after a scan that feeds
    per-row-expensive map work. The partition/size probes are plan-time
    only (plan statistics, no job and no filesystem call); the
    repartition count is user-specified, so AQE will not re-coalesce it.

    Pass the row ``key`` whenever one exists: hash repartitioning is
    retry-deterministic by content, while a keyless round-robin
    repartition first pays a LOCAL SORT of every column
    (spark.sql.execution.sortBeforeRepartition, guide §2.5) — measured
    2-4s serialized into the very 1-2 scan tasks the spread exists to
    relieve.

    ``min_bytes`` (default 4 MB of source parquet): an exchange has
    ~100ms of fixed stage/scheduling cost; below a few MB of input
    there is no serialized work worth parallelizing (measured: the
    sf0.1 events table, 1.6 MB, LOST ~1s to an unconditional spread
    while the sf1 table, 16 MB, gained 3-5s). Unknown input size (a
    source that is not a file scan) falls back to spreading on
    partition count alone."""
    if target is None:
        target = shuffle_parallelism(df)
    if df.rdd.getNumPartitions() >= target:
        return df
    size = _file_scan_bytes(df)
    if size is not None and size < min_bytes:
        return df
    if key is not None:
        from pyspark.sql import functions as F

        return df.repartition(target, F.col(key))
    return df.repartition(target)


def _file_scan_bytes(df: DataFrame) -> int | None:
    """Bytes of the files ``df`` scans: the sum of its file-scan leaves'
    ``sizeInBytes`` statistic, which the file index recorded when it
    listed the files. None when some leaf of the plan is not a file scan
    (in-memory rows, a range), whose size says nothing about source
    bytes."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation" or (
            leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"
        ):
            return None
        total += leaf.stats().sizeInBytes()
    return total
