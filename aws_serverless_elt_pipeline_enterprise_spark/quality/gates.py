"""Data-quality gate (operators A5 + T5, transactionalized).

The reference runs Great Expectations over an already-written silver
partition and quarantines after the fact (glue_ge_validation/scripts/
ge_validate_silver.py:21-56; gate workflow workflow_ge_gate/main.tf).
Because our sink commits are atomic, the same expectations run as ONE
aggregate pass over the batch *before* commit — a failing batch never
becomes visible (gate precedes the commit instead of following it).

Expectations mirrored from ge_validate_silver.py:36-53:
row_count >= min, not_null columns, unique key, numeric bounds — plus the
engine's own invariant n_tok == size(tokens).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class DQResult:
    ok: bool
    metrics: dict
    failures: list[str] = field(default_factory=list)


def run_dq_gate(
    df: DataFrame,
    key: str = "doc_id",
    not_null: tuple[str, ...] = ("doc_id", "seq", "op"),
    min_rows: int = 0,
    check_ntok: bool = True,
    extra_aggs: list | None = None,
) -> DQResult:
    """Single aggregate pass; returns pass/fail + the measured metrics.

    ``extra_aggs`` lets the caller piggy-back additional aggregates on the
    same scan (e.g. a per-source row count) — one job instead of two per
    epoch."""
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for c in not_null:
        aggs.append(F.count_if(F.col(c).isNull()).alias(f"nulls_{c}"))
    aggs.append(F.count(F.col(key)).alias("key_count"))
    aggs.append(F.approx_count_distinct(key).alias("key_approx_distinct"))
    if check_ntok:
        # NULL n_tok with tokens present IS a mismatch: the bare `!=`
        # evaluates to NULL there and count_if would skip it, passing a
        # row that violates the stated n_tok == size(tokens) invariant
        aggs.append(
            F.count_if(
                F.col("op").isin("insert", "update")
                & (
                    F.col("n_tok").isNull()
                    | (F.col("n_tok") != F.size("tokens"))
                )
            ).alias("ntok_mismatch")
        )
    aggs.extend(extra_aggs or [])
    row = df.agg(*aggs).collect()[0].asDict()

    failures = []
    if row["row_count"] < min_rows:
        failures.append(f"row_count {row['row_count']} < {min_rows}")
    for c in not_null:
        if row[f"nulls_{c}"] > 0:
            failures.append(f"{row[f'nulls_{c}']} null {c}")
    if check_ntok and row.get("ntok_mismatch", 0) > 0:
        failures.append(f"{row['ntok_mismatch']} rows with n_tok != size(tokens)")
    return DQResult(ok=not failures, metrics=row, failures=failures)


def repair_ntok(df: DataFrame) -> DataFrame:
    """Normalization option: recompute n_tok from tokens (vectorized,
    JVM-side) instead of failing the gate on corrupt counters."""
    ntok_type = df.schema["n_tok"].dataType.simpleString()
    return df.withColumn(
        "n_tok",
        F.expr(f"CASE WHEN tokens IS NOT NULL THEN CAST(size(tokens) AS {ntok_type}) END"),
    )
