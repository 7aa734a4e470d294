"""CDF-maintained secondary index: value-pruned point lookups on a
NON-key column of a SnapshotTable.

``SnapshotTable.lookup`` serves key probes by hashing the key to its
bucket (reads ~1/n_buckets of the table). A predicate on any OTHER
column still scans every bucket — the reference has the same gap: its
silver table is partitioned by (record_type, dt) only, so an Athena
probe like ``WHERE shipment_id = X`` (Instructions.md:127-130) is a
full-partition scan.

``SecondaryIndex`` closes it with an index TABLE: one row per
(indexed value, doc_id), stored in a SnapshotTable that is *keyed* by
the (value, doc) pair but *bucketed by the value* (``bucket_col``), so
``lookup(value)`` hashes the value to its bucket and reads
~1/n_buckets of the INDEX. The bucket_col invariant (a key's bucket
value never changes) holds by construction: the value is embedded in
the key — a doc whose indexed value changes produces a DELETE of the
old index entry and an ADD of the new one, never a mutation.

Maintenance is the shared CDF-consumer protocol (``cdf_consumer.py``):
each refresh turns ``changes(images='both')`` into index entry ops —
``insert``/``update_postimage`` add ``(value_post, doc)``,
``delete``/``update_preimage`` remove ``(value_pre, doc)`` — resolves
same-entry collisions within the span (a value-unchanged update yields
remove+add of the SAME entry; add wins, so the entry survives), and
commits as one ledger-deduped epoch under ``seq = source_version``.
Each refresh that commits runs the index table's ``maybe_compact``
policy, so its delta chain stays bounded. Refresh cost is O(changes),
lookup cost is O(bucket), and the index is exactly-once resumable like
every other derived table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tableio.snapshot import SnapshotTable
from .cdf_consumer import derived_bookmark, refresh_derived

_NULL = "\x00null"


def _enc(col: F.Column) -> F.Column:
    return F.coalesce(col.cast("string"), F.lit(_NULL))


class SecondaryIndex:
    def __init__(
        self,
        spark: SparkSession,
        source: SnapshotTable,
        path: str,
        column: str,
        n_buckets: int = 32,
    ):
        if column == source.key_col:
            raise ValueError(
                f"{column!r} is the primary key — use SnapshotTable.lookup"
            )
        self.spark = spark
        self.source = source
        self.path = path
        self.column = column
        self.idx = SnapshotTable(
            spark,
            os.path.join(path, "idx"),
            key_col="_idx_key",
            bucket_col="_idx_val",
            n_buckets=n_buckets,
            mode="mor",
        )

    # ------------------------------------------------------------ internals

    def _entries(self, rows: DataFrame, ops: bool) -> DataFrame:
        """Project (source rows or change rows) into index-entry rows.
        With ``ops``, change rows become add/remove ops and same-entry
        collisions within the span resolve add-wins."""
        val = _enc(F.col(self.column))
        # LENGTH-PREFIXED key, not a bare separator join: indexed values
        # are arbitrary user data, and a value containing the separator
        # would alias two distinct (value, doc) pairs onto one _idx_key
        # with different _idx_val — violating the bucket_col
        # never-changes invariant (lost/duplicate index entries). With
        # the length prefix the decomposition is unique: equal keys ->
        # equal-length values -> equal (value, doc).
        key = F.concat(
            F.length(val).cast("string"),
            F.lit(":"),
            val,
            F.col(self.source.key_col).cast("string"),
        )
        base = rows.select(
            key.alias("_idx_key"),
            val.alias("_idx_val"),
            F.col(self.source.key_col).cast("string").alias("doc_id"),
            *(
                [
                    F.col("_change_type")
                    .isin("insert", "update_postimage")
                    .alias("__add")
                ]
                if ops
                else []
            ),
        )
        if not ops:
            return base.withColumn("op", F.lit("update"))
        return (
            base.groupBy("_idx_key")
            .agg(
                F.max("__add").alias("__add"),
                F.first("_idx_val").alias("_idx_val"),
                F.first("doc_id").alias("doc_id"),
            )
            .select(
                "_idx_key",
                "_idx_val",
                "doc_id",
                F.when(F.col("__add"), F.lit("update"))
                .otherwise(F.lit("delete"))
                .alias("op"),
            )
        )

    def _full_rows(self, to_version: int) -> DataFrame:
        rows = self._entries(self.source.state(to_version), ops=False)
        return rows.withColumn("seq", F.lit(to_version).cast("long"))

    def _span_rows(self, changes: DataFrame, to_v: int) -> DataFrame:
        return self._entries(changes, ops=True).withColumn(
            "seq", F.lit(to_v).cast("long")
        )

    # -------------------------------------------------------------- public

    # shared-diff protocol (streaming.replay.refresh_views)
    cdf_images = "both"

    def cdf_bookmark(self) -> int | None:
        return derived_bookmark(self.idx)

    def refresh(self, changes=None, to_version=None) -> dict:
        """Advance the index to the source's current version
        (``cdf_consumer.refresh_derived``). ``changes``/``to_version``:
        optional pre-computed shared CDF diff spanning exactly
        ``(cdf_bookmark(), to_version]`` with ``images='both'`` (see
        MaterializedAggregate.refresh)."""
        self.idx, out = refresh_derived(
            self.idx, self.source, self._full_rows, self._span_rows,
            changes, to_version,
        )
        return out

    def lookup(self, values: list) -> DataFrame:
        """doc_ids whose indexed column equals any of ``values`` —
        value-bucket-pruned read of the index (never touches the source
        table). NULL probes find docs whose value IS NULL."""
        enc = [_NULL if v is None else str(v) for v in values]
        if self.idx.current_version() is None:
            return self.spark.createDataFrame(
                [], f"{self.column} string, doc_id string"
            )
        buckets = self.idx.buckets_for(enc)
        return (
            self.idx.read(buckets=buckets)
            .filter(self.idx._live())
            .filter(F.col("_idx_val").isin(enc))
            .select(
                F.when(F.col("_idx_val") == _NULL, F.lit(None))
                .otherwise(F.col("_idx_val"))
                .alias(self.column),
                "doc_id",
            )
        )

    def lookup_rows(self, values: list) -> DataFrame:
        """Full source rows for the probe values: index lookup for the
        doc_ids, then a KEY-bucket-pruned read of the source — two
        pruned probes instead of one full scan."""
        docs = [r["doc_id"] for r in self.lookup(values).collect()]
        if not docs:
            return self.source.state().limit(0)
        return self.source.lookup(docs)
