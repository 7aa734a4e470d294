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

VALID_OPS = ("insert", "update", "delete")
_OPS = ", ".join(f"'{o}'" for o in VALID_OPS)
# validity predicate for a change-event envelope, as SQL text (one parse
# per use instead of a pyspark Column call per operator)
_VALID = (
    f"doc_id IS NOT NULL AND seq IS NOT NULL AND seq >= 0 AND op IN ({_OPS})"
    " AND (op = 'delete' OR (tokens IS NOT NULL AND size(tokens) > 0))"
)


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined-with-reason). One predicate, two filters — Spark
    scans once per side but both are pushed-down parquet filters."""
    good = df.filter(_VALID)
    bad = df.filter(f"(NOT ({_VALID})) OR (({_VALID}) IS NULL)").withColumn(
        "_reject_reason",
        F.expr(
            "CASE WHEN doc_id IS NULL THEN 'null_doc_id'"
            " WHEN seq IS NULL OR seq < 0 THEN 'bad_seq'"
            # NULL op needs its own arm: NOT (NULL IN (...)) is NULL (not
            # true), so null-op rows fell through to 'empty_payload' and
            # ops triaged a payload problem that didn't exist
            " WHEN op IS NULL THEN 'null_op'"
            f" WHEN NOT (op IN ({_OPS})) THEN 'unknown_op'"
            " ELSE 'empty_payload' END"
        ),
    )
    return good, bad
