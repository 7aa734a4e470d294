"""Incremental aggregate maintenance over the SnapshotTable change feed.

The reference answers "how many records per group?" by re-running a full
Athena scan over the whole silver table every time
(``Instructions.md:121-125``: ``SELECT record_type, dt, COUNT(*) FROM
silver GROUP BY record_type, dt``) — O(table) per question. At 10^10
rows that is the wrong shape: the table changes by a small CDC epoch,
so the aggregate should change by a small delta.

``MaterializedAggregate`` maintains a grouped COUNT(*)/SUM() table
incrementally from the source table's change data feed:

* ``refresh()`` consumes ``changes(images='both')`` since its bookmark.
  Each change row carries a sign — +1 for ``insert`` /
  ``update_postimage``, -1 for ``delete`` / ``update_preimage`` — and
  one ``groupBy`` over the CHANGES (O(epoch), not O(table)) yields the
  per-group delta. A key whose group column itself changed moves
  groups for free: its pre-image retracts from the old group, its
  post-image adds to the new one.
* The aggregate state is itself a ``SnapshotTable`` keyed by the
  canonical group key, so the delta application rides the existing
  machinery: only the hash buckets containing touched groups are read
  (bucket-pruned), the new absolute values are LWW-merged under
  ``seq = source_version`` (monotone), groups whose count reaches zero
  become tombstones, and the whole refresh commits as ONE epoch whose
  id encodes the consumed version span — so a crashed-and-replayed
  refresh is skipped by the epoch ledger (exactly-once), and the agg
  table itself supports time travel / compaction / its own CDF.
* If the bookmark has fallen behind the source's retention horizon
  (``read_changes_since`` bootstraps), the aggregate is REBUILT from
  the full current state — the same replace-don't-patch contract as
  Delta CDF's startingVersion-out-of-range.

Maintained aggregates are the subtractable ones: COUNT(*) and SUM
(AVG = sum/count at read time). MIN/MAX are deliberately out of scope:
they are not subtractable — retracting the current minimum requires
re-scanning the group, which breaks the O(epoch) refresh bound (the
classic incremental-view-maintenance limitation).

SUM null semantics match SQL: each sum column ``s`` is stored as an
always-defined accumulator plus a non-null contribution count, and
``result()`` projects NULL when no non-null values remain — so an
incrementally maintained SUM equals a recomputed ``SUM(col)`` exactly.
Keep sum columns integral (long) when bit-exact parity with a full
recompute matters: integer addition is associative, float addition is
not.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tableio.snapshot import SnapshotTable
from .cdf_consumer import derived_bookmark, rebuild_derived, span_epoch_id

_SEP = "\x1f"
_NULL = "\x00null"


class MaterializedAggregate:
    """A grouped count/sum table maintained from a source SnapshotTable's
    change feed. See module docstring for semantics."""

    def __init__(
        self,
        spark: SparkSession,
        source: SnapshotTable,
        path: str,
        group_cols: Sequence[str],
        sums: dict[str, str] | None = None,
        count_col: str = "cnt",
        n_buckets: int = 8,
    ):
        if not group_cols:
            raise ValueError("group_cols must be non-empty")
        self.source = source
        self.path = path
        self.group_cols = list(group_cols)
        self.sums = dict(sums or {})
        self.count_col = count_col
        reserved = {"_group_key", "__cnt"} | {
            f"__s_{n}" for n in self.sums
        } | {f"__n_{n}" for n in self.sums}
        bad = reserved & set(self.group_cols)
        if bad:
            raise ValueError(f"group_cols collide with internals: {sorted(bad)}")
        self.agg = SnapshotTable(
            spark,
            os.path.join(path, "agg"),
            key_col="_group_key",
            n_buckets=n_buckets,
            mode="mor",
        )

    # ------------------------------------------------------------ internals

    def _group_key(self) -> F.Column:
        # concat_ws SKIPS nulls (would alias (NULL,'x') with ('x',)), so
        # nulls are encoded explicitly; _SEP/_NULL are control chars no
        # real group value contains.
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit(_NULL))
            for c in self.group_cols
        ]
        return F.concat_ws(_SEP, *parts)

    def _accumulators(self, sign: F.Column | None) -> list[F.Column]:
        """Per-group accumulator aggregates (pure column expressions);
        ``sign=None`` for the full rebuild (every row contributes +1)."""
        s = sign if sign is not None else F.lit(1)
        out = [F.sum(s).cast("long").alias("__cnt")]
        for name, col in self.sums.items():
            v = F.col(col)
            out.append(
                F.sum(
                    F.when(v.isNotNull(), s * v).otherwise(F.lit(0))
                ).alias(f"__s_{name}")
            )
            out.append(
                F.sum(F.when(v.isNotNull(), s).otherwise(F.lit(0)))
                .cast("long")
                .alias(f"__n_{name}")
            )
        return out

    def _rebuild(self, to_version: int) -> dict:
        """Bootstrap: recompute from the full source state and REPLACE
        the aggregate table (wipe + fresh SnapshotTable), per the CDF
        bootstrap contract."""
        state = self.source.state(to_version)
        rows = (
            state.groupBy(
                self._group_key().alias("_group_key"), *self.group_cols
            )
            .agg(*self._accumulators(None))
            .withColumn("op", F.lit("update"))
            .withColumn("seq", F.lit(to_version).cast("long"))
        )
        self.agg, lineage = rebuild_derived(self.agg, rows, to_version)
        return {
            "from_version": None,
            "to_version": to_version,
            "bootstrapped": True,
            "merge": lineage,
        }

    # -------------------------------------------------------------- public

    # shared-diff protocol (streaming.replay.refresh_views): views with
    # the same (source, bookmark, images) consume ONE persisted CDF diff
    cdf_images = "both"

    def cdf_bookmark(self) -> int | None:
        return derived_bookmark(self.agg)

    def refresh(self, changes=None, to_version=None) -> dict:
        """Advance the aggregate to the source's current version. Cost is
        O(changes since bookmark) + O(touched agg buckets), never
        O(source table) or O(all groups) — except on bootstrap.

        ``changes``/``to_version``: a pre-computed (usually persisted)
        ``read_changes_since(cdf_bookmark(), images='both')`` frame
        shared across sibling views, so the diff's two bucket-pruned
        LWW resolves run once per span instead of once per view. The
        caller guarantees the frame spans exactly
        ``(cdf_bookmark(), to_version]`` and is not a bootstrap."""
        bookmark = derived_bookmark(self.agg)
        if changes is not None:
            to_v, bootstrapped = to_version, False
        else:
            changes, to_v, bootstrapped = self.source.read_changes_since(
                bookmark, images="both"
            )
        if to_v == bookmark:
            return {
                "from_version": bookmark,
                "to_version": to_v,
                "bootstrapped": False,
                "noop": True,
            }
        if bootstrapped or bookmark is None:
            return self._rebuild(to_v)

        sign = (
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
        )
        delta = changes.groupBy(
            self._group_key().alias("_group_key"), *self.group_cols
        ).agg(*self._accumulators(sign))
        # A key updated WITHIN the span but landing in the same group
        # with the same contribution nets to zero — dropping those rows
        # keeps the merge (and the touched-bucket set) minimal.
        zero = F.col("__cnt") == 0
        for name in self.sums:
            zero = zero & (F.col(f"__s_{name}") == 0) & (
                F.col(f"__n_{name}") == 0
            )
        # the delta feeds TWO actions (touched-bucket probe, then the
        # merge); without a persist the whole CDF diff — the expensive
        # two-sided read — would execute twice
        delta = delta.filter(~zero).persist()

        # Read ONLY the agg buckets containing touched groups. The
        # collect is bounded by n_buckets values, not by group count.
        # bucket_expr is the table's own hash — the single source of
        # truth for its bucketing contract.
        touched = [
            r[0]
            for r in delta.select(
                self.agg.bucket_expr().alias("b")
            ).distinct().collect()
        ]
        if self.agg.current_version() is not None and touched:
            old = (
                self.agg.read(buckets=sorted(touched))
                .filter(
                    ~F.coalesce(F.col(SnapshotTable.DEL_COL), F.lit(False))
                )
                .select(
                    "_group_key",
                    F.col("__cnt").alias("__old_cnt"),
                    *[
                        c
                        for n in self.sums
                        for c in (
                            F.col(f"__s_{n}").alias(f"__old_s_{n}"),
                            F.col(f"__n_{n}").alias(f"__old_n_{n}"),
                        )
                    ],
                )
            )
        else:
            old = None

        if old is not None:
            merged = delta.join(old, "_group_key", "left")
        else:
            merged = delta
            for n in self.sums:
                merged = merged.withColumn(
                    f"__old_s_{n}", F.lit(None)
                ).withColumn(f"__old_n_{n}", F.lit(None))
            merged = merged.withColumn("__old_cnt", F.lit(None))

        new_cnt = F.coalesce(F.col("__old_cnt"), F.lit(0)) + F.col("__cnt")
        proj = [
            F.col("_group_key"),
            *[F.col(c) for c in self.group_cols],
            new_cnt.alias("__cnt"),
        ]
        for n in self.sums:
            proj.append(
                (
                    F.coalesce(F.col(f"__old_s_{n}"), F.lit(0))
                    + F.col(f"__s_{n}")
                ).alias(f"__s_{n}")
            )
            proj.append(
                (
                    F.coalesce(F.col(f"__old_n_{n}"), F.lit(0))
                    + F.col(f"__n_{n}")
                ).cast("long").alias(f"__n_{n}")
            )
        rows = (
            merged.select(*proj)
            .withColumn(
                "op",
                F.when(F.col("__cnt") <= 0, F.lit("delete")).otherwise(
                    F.lit("update")
                ),
            )
            .withColumn("seq", F.lit(to_v).cast("long"))
        )
        try:
            lineage = self.agg.merge_reduced(rows, span_epoch_id(bookmark, to_v))
        finally:
            delta.unpersist()
        return {
            "from_version": bookmark,
            "to_version": to_v,
            "bootstrapped": False,
            "touched_buckets": sorted(touched),
            "merge": lineage,
        }

    def result(self) -> DataFrame:
        """The maintained aggregate: group columns, count, and each SUM
        with exact SQL null semantics (NULL when the group has no
        non-null contributions)."""
        out = [F.col(c) for c in self.group_cols]
        out.append(F.col("__cnt").alias(self.count_col))
        for n in self.sums:
            out.append(
                F.when(F.col(f"__n_{n}") > 0, F.col(f"__s_{n}")).alias(n)
            )
        return self.agg.state().select(*out)
