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

from ..tableio.snapshot import SnapshotTable, _q, _sql_str
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
        parts = ", ".join(
            f"coalesce(CAST({_q(c)} AS STRING), {_sql_str(_NULL)})"
            for c in self.group_cols
        )
        return F.expr(f"concat_ws({_sql_str(_SEP)}, {parts}) AS _group_key")

    def _accumulators(self, sign: str) -> list[F.Column]:
        """Per-group accumulator aggregates; ``sign`` is the SQL text of
        each row's contribution (``'1'`` for the full rebuild)."""
        out = [F.expr(f"CAST(sum({sign}) AS BIGINT) AS __cnt")]
        for name, col in self.sums.items():
            v = _q(col)
            out.append(
                F.expr(
                    f"sum(CASE WHEN {v} IS NOT NULL THEN ({sign}) * {v} ELSE 0 END)"
                    f" AS {_q(f'__s_{name}')}"
                )
            )
            out.append(
                F.expr(
                    f"CAST(sum(CASE WHEN {v} IS NOT NULL THEN {sign} ELSE 0 END)"
                    f" AS BIGINT) AS {_q(f'__n_{name}')}"
                )
            )
        return out

    def _rebuild(self, to_version: int) -> dict:
        """Bootstrap: recompute from the full source state and REPLACE
        the aggregate table (wipe + fresh SnapshotTable), per the CDF
        bootstrap contract."""
        state = self.source.state(to_version)
        rows = (
            state.groupBy(self._group_key(), *self.group_cols)
            .agg(*self._accumulators("1"))
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
            "CASE WHEN _change_type IN ('insert', 'update_postimage')"
            " THEN 1 ELSE -1 END"
        )
        delta = changes.groupBy(self._group_key(), *self.group_cols).agg(
            *self._accumulators(sign)
        )
        # A key updated WITHIN the span but landing in the same group
        # with the same contribution nets to zero — dropping those rows
        # keeps the merge (and the touched-bucket set) minimal.
        olds = {"__cnt": "__old_cnt"}
        for n in self.sums:
            olds.update({f"__s_{n}": f"__old_s_{n}", f"__n_{n}": f"__old_n_{n}"})
        zero = " AND ".join(f"{_q(c)} = 0" for c in olds)
        # the delta feeds TWO actions (touched-bucket probe, then the
        # merge); without a persist the whole CDF diff — the expensive
        # two-sided read — would execute twice
        delta = delta.filter(f"NOT ({zero})").persist()

        # Read ONLY the agg buckets containing touched groups. The
        # collect is bounded by n_buckets values, not by group count.
        # bucket_sql is the table's own hash — the single source of
        # truth for its bucketing contract.
        touched = [
            r[0]
            for r in delta.selectExpr(f"{self.agg.bucket_sql()} AS b")
            .distinct()
            .collect()
        ]
        if self.agg.current_version() is not None and touched:
            old = (
                self.agg.read(buckets=sorted(touched))
                .filter(self.agg._live())
                .selectExpr(
                    "_group_key", *[f"{_q(c)} AS {_q(o)}" for c, o in olds.items()]
                )
            )
            merged = delta.join(old, "_group_key", "left")
        else:
            merged = delta.selectExpr("*", *[f"NULL AS {_q(o)}" for o in olds.values()])

        def plus_old(c: str) -> str:
            return f"coalesce({_q(olds[c])}, 0) + {_q(c)}"

        proj = [
            "_group_key",
            *[_q(c) for c in self.group_cols],
            f"{plus_old('__cnt')} AS __cnt",
        ]
        for n in self.sums:
            proj.append(f"{plus_old(f'__s_{n}')} AS {_q(f'__s_{n}')}")
            proj.append(
                f"CAST({plus_old(f'__n_{n}')} AS BIGINT) AS {_q(f'__n_{n}')}"
            )
        rows = merged.selectExpr(
            *proj,
            f"CASE WHEN {plus_old('__cnt')} <= 0 THEN 'delete' ELSE 'update' END"
            " AS op",
            f"CAST({to_v} AS BIGINT) AS seq",
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
