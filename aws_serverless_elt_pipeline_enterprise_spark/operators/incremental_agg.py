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
  machinery. The signed change rows and the aggregate table's raw
  (unresolved) rows go through ONE ``groupBy`` on the group key: it sums
  the net delta over the change rows and picks each group's old value
  with the table's own LWW winner (``max_by``), so the refresh is one
  Spark query with no driver round trip between stages. The new
  absolute values are LWW-merged under ``seq = source_version``
  (monotone), groups whose count reaches zero become tombstones, and
  the whole refresh commits as ONE epoch whose id encodes the consumed
  version span — so a crashed-and-replayed refresh is skipped by the
  epoch ledger (exactly-once), and the agg table itself supports time
  travel / compaction / its own CDF. Each refresh that commits runs the
  table's ``maybe_compact`` policy, which bounds its delta chain.
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
from .cdf_consumer import derived_bookmark, refresh_derived

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
        reserved = {"_group_key", "__cnt", "__ov", "__oo", "__old"} | {
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

    def _group_key(self) -> str:
        # concat_ws SKIPS nulls (would alias (NULL,'x') with ('x',)), so
        # nulls are encoded explicitly; _SEP/_NULL are control chars no
        # real group value contains.
        parts = ", ".join(
            f"coalesce(CAST({_q(c)} AS STRING), {_sql_str(_NULL)})"
            for c in self.group_cols
        )
        return f"concat_ws({_sql_str(_SEP)}, {parts}) AS _group_key"

    def _contributions(self, sign: str) -> dict[str, str]:
        """SQL text of each accumulator's per-row contribution; ``sign``
        is the SQL text of the row's sign (``'1'`` for the full rebuild)."""
        out = {"__cnt": sign}
        for name, col in self.sums.items():
            v = _q(col)
            out[f"__s_{name}"] = f"CASE WHEN {v} IS NOT NULL THEN ({sign}) * {v} ELSE 0 END"
            out[f"__n_{name}"] = f"CASE WHEN {v} IS NOT NULL THEN {sign} ELSE 0 END"
        return out

    @staticmethod
    def _sums(contributions: dict[str, str]) -> list[F.Column]:
        """One sum aggregate per accumulator column; counts are BIGINT."""
        out = []
        for c, sql in contributions.items():
            total = f"sum({sql})" if c.startswith("__s_") else f"CAST(sum({sql}) AS BIGINT)"
            out.append(F.expr(f"{total} AS {_q(c)}"))
        return out

    def _full_rows(self, to_version: int) -> DataFrame:
        """Bootstrap rows: the aggregate recomputed from the full source
        state at ``to_version``."""
        return (
            self.source.state(to_version)
            .groupBy(F.expr(self._group_key()), *self.group_cols)
            .agg(*self._sums(self._contributions("1")))
            .withColumn("op", F.lit("update"))
            .withColumn("seq", F.lit(to_version).cast("long"))
        )

    def _span_rows(self, changes: DataFrame, to_v: int) -> DataFrame:
        """The new absolute values of the groups ``changes`` touch: the
        signed change rows and the aggregate table's raw rows in ONE
        ``groupBy`` (net delta + old LWW winner per group)."""
        sign = (
            "CASE WHEN _change_type IN ('insert', 'update_postimage')"
            " THEN 1 ELSE -1 END"
        )
        contrib = self._contributions(sign)
        # The old value is the aggregate table's LWW winner per group,
        # built as the same max_by structs its read-time resolve uses and
        # BEFORE the union, so the union's type widening cannot reach the
        # tie hash. Change rows carry NULL structs (max_by skips NULL
        # orderings); old rows carry NULL group columns and contributions
        # (first(..., true) and sum skip NULLs).
        payload = [f.name for f in self.agg.schema().fields if f.name != "_group_key"]
        val, ordk = self.agg._winner_structs(payload)
        change_rows = changes.selectExpr(
            self._group_key(),
            *[_q(c) for c in self.group_cols],
            *[f"{sql} AS {_q(c)}" for c, sql in contrib.items()],
            "NULL AS __ov",
            "NULL AS __oo",
        )
        old_rows = self.agg.read(resolve=False).selectExpr(
            "_group_key",
            *[f"NULL AS {_q(c)}" for c in [*self.group_cols, *contrib]],
            f"{val} AS __ov",
            f"{ordk} AS __oo",
        )
        net = change_rows.unionByName(old_rows).groupBy("_group_key").agg(
            *[F.expr(f"first({_q(c)}, true) AS {_q(c)}") for c in self.group_cols],
            *self._sums({c: _q(c) for c in contrib}),
            F.expr("max_by(__ov, __oo) AS __old"),
        )
        # Keep the groups with a change row (their count sum is not NULL).
        # A key updated WITHIN the span but landing in the same group
        # with the same contribution nets to zero — dropping those rows
        # keeps the merge (and its bucket set) minimal.
        zero = " AND ".join(f"{_q(c)} = 0" for c in contrib)
        live = f"NOT coalesce(__old.{_q(SnapshotTable.DEL_COL)}, false)"

        def plus_old(c: str) -> str:
            # a tombstoned old winner counts as no old value
            return f"coalesce(CASE WHEN {live} THEN __old.{_q(c)} END, 0) + {_q(c)}"

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
        return net.filter(f"__cnt IS NOT NULL AND NOT ({zero})").selectExpr(
            *proj,
            f"CASE WHEN {plus_old('__cnt')} <= 0 THEN 'delete' ELSE 'update' END"
            " AS op",
            f"CAST({to_v} AS BIGINT) AS seq",
        )

    # -------------------------------------------------------------- public

    # shared-diff protocol (streaming.replay.refresh_views): views with
    # the same (source, bookmark, images) consume ONE persisted CDF diff
    cdf_images = "both"

    def cdf_bookmark(self) -> int | None:
        return derived_bookmark(self.agg)

    def refresh(self, changes=None, to_version=None) -> dict:
        """Advance the aggregate to the source's current version
        (``cdf_consumer.refresh_derived``). Cost is O(changes since
        bookmark) + O(agg table rows): the aggregate table's deltas are
        scanned whole, at most one row per group each, and
        ``maybe_compact`` keeps their chain short. Never O(source
        table), except on bootstrap.

        ``changes``/``to_version``: a pre-computed (usually persisted)
        ``read_changes_since(cdf_bookmark(), images='both')`` frame
        shared across sibling views, so the diff's two bucket-pruned
        LWW resolves run once per span instead of once per view. The
        caller guarantees the frame spans exactly
        ``(cdf_bookmark(), to_version]`` and is not a bootstrap.

        An incremental span's result also lists ``touched_buckets``: the
        buckets of the groups the merge wrote, as its commit recorded."""
        self.agg, out = refresh_derived(
            self.agg, self.source, self._full_rows, self._span_rows,
            changes, to_version,
        )
        if out.get("noop") or out["bootstrapped"]:
            return out
        lineage = out["merge"]
        out["touched_buckets"] = []
        if "delta_dir" in lineage:
            m = self.agg.manifest(lineage["version"])
            out["touched_buckets"] = sorted(
                self.agg._delta_buckets(m, [lineage["delta_dir"]])
            )
        return out

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
