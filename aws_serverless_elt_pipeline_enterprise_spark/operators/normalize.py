"""Envelope validation / normalization / quarantine split (P1-P5, P8, D2).

The reference validates record_type membership and projects to a declared
column list, dropping extras and null-filling gaps
(lambdas/shared/schemas.py:25-38); malformed rows are dropped-with-counter
at ingest (lambdas/ingest/app.py:112-118) or routed to partial-batch
failure -> DLQ at transform (lambdas/transform/app.py:79-90). Here the
same semantics are one declarative split: a validity predicate partitions
each micro-batch into (good, quarantine) before anything is committed —
the DLQ becomes a quarantine table and the gate is transactional.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

VALID_OPS = ("insert", "update", "delete")


def envelope_valid() -> F.Column:
    """Validity predicate for a change-event envelope."""
    op = F.col("op")
    return (
        F.col("doc_id").isNotNull()
        & F.col("seq").isNotNull()
        & (F.col("seq") >= 0)
        & op.isin(*VALID_OPS)
        & (
            (op == "delete")
            | (F.col("tokens").isNotNull() & (F.size("tokens") > 0))
        )
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined-with-reason). One predicate, two filters — Spark
    scans once per side but both are pushed-down parquet filters."""
    valid = envelope_valid()
    good = df.filter(valid)
    bad = df.filter(~valid | valid.isNull()).withColumn(
        "_reject_reason",
        F.when(F.col("doc_id").isNull(), "null_doc_id")
        .when(F.col("seq").isNull() | (F.col("seq") < 0), "bad_seq")
        # NULL op needs its own arm: ~NULL.isin(...) is NULL (not true),
        # so null-op rows fell through to 'empty_payload' and ops triaged
        # a payload problem that didn't exist
        .when(F.col("op").isNull(), "null_op")
        .when(~F.col("op").isin(*VALID_OPS), "unknown_op")
        .otherwise("empty_payload"),
    )
    return good, bad


def normalize_envelope(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project to the declared envelope schema: keep exactly the declared
    columns in order, missing -> NULL, extras dropped, types cast
    (reference schemas.py:30-33 projection loop)."""
    have = set(df.columns)
    cols = []
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)

