"""Shared exactly-once protocol for CDF consumers that materialize
derived state into a SnapshotTable (incremental aggregates, secondary
indexes).

The protocol (``refresh_derived``, the one copy of it): derive the
delta from ``changes(images='both')`` since the bookmark and commit it
into the derived table as ONE epoch whose id encodes the consumed
version span (``cdf-<from>-<to>``; a bootstrap commits
``cdfboot-<to>`` into a wiped table). That commit is the only
write: the bookmark is read back from the derived table's own epoch
ledger (``derived_bookmark``), not from a separate file, so there is
no window between committing a span and recording it. Spans chain
(next ``from`` == last ``to``) and ``rebuild_derived`` wipes the table
before it commits, so the largest ``to`` in the ledger is the version
the derived state reflects. A crashed-and-rerun span re-derives the
same id, which the ledger skips. Each span that commits runs the
derived table's ``maybe_compact`` policy, which bounds its delta chain.
A consumer supplies only two row builders: its full-state rows (for a
bootstrap) and its span rows (for an incremental commit).
"""

from __future__ import annotations

import shutil
from typing import Callable

from pyspark.sql import DataFrame

from ..tableio.snapshot import SnapshotTable


def derived_bookmark(derived: SnapshotTable) -> int | None:
    """The source version ``derived`` reflects: the largest ``to`` over
    its ``cdfboot-<to>`` and ``cdf-<from>-<to>`` ledger epochs, or None
    before the first commit."""
    ledger = derived.committed_epochs()
    # EpochLedger._parse("cdf-5-7") -> key "cdf-5", n 7 (watermark or extra)
    hi = -1
    for key in {*ledger.watermarks, *ledger.extras}:
        if key == "cdfboot" or key.startswith("cdf-"):
            hi = max(
                hi, ledger.watermarks.get(key, -1), *ledger.extras.get(key, ())
            )
    return hi if hi >= 0 else None


def rebuild_derived(
    old: SnapshotTable, rows: DataFrame, to_version: int
) -> tuple[SnapshotTable, dict]:
    """REPLACE a derived table with ``rows`` (the full recompute at
    ``to_version``), per the CDF bootstrap contract: wipe its root,
    reopen it with the same key/bucket layout and commit the rows as
    ``cdfboot-<to_version>``. Returns the new table and the commit's
    lineage."""
    shutil.rmtree(old.root, ignore_errors=True)
    table = SnapshotTable(
        old.spark,
        old.root,
        key_col=old.key_col,
        bucket_col=old.bucket_col,
        n_buckets=old.n_buckets,
    )
    return table, table.merge_reduced(rows, f"cdfboot-{to_version}")


def refresh_derived(
    derived: SnapshotTable,
    source: SnapshotTable,
    full_rows: Callable[[int], DataFrame],
    span_rows: Callable[[DataFrame, int], DataFrame],
    changes: DataFrame | None = None,
    to_version: int | None = None,
) -> tuple[SnapshotTable, dict]:
    """Advance ``derived`` to ``source``'s current version. Returns the
    derived table (a NEW object after a bootstrap, which replaces it)
    and ``{from_version, to_version, bootstrapped}`` plus ``noop: True``
    when the source has not moved, else the commit's ``merge`` lineage.

    ``full_rows(to_version)`` builds the full-state rows a bootstrap
    commits; ``span_rows(changes, to_version)`` builds the span commit's
    rows from ``changes(images='both')``. Both carry ``op`` and ``seq``.
    ``changes``/``to_version``: a pre-computed (usually persisted) diff
    shared across sibling views (``streaming.replay.refresh_views``);
    the caller guarantees it spans exactly
    ``(derived_bookmark(derived), to_version]`` and is not a
    bootstrap."""
    bookmark = derived_bookmark(derived)
    if changes is not None:
        to_v, bootstrapped = to_version, False
    else:
        changes, to_v, bootstrapped = source.read_changes_since(
            bookmark, images="both"
        )
    out = {"from_version": bookmark, "to_version": to_v, "bootstrapped": False}
    if to_v == bookmark:
        return derived, {**out, "noop": True}
    if bootstrapped or bookmark is None:
        derived, lineage = rebuild_derived(derived, full_rows(to_v), to_v)
        return derived, {
            "from_version": None,
            "to_version": to_v,
            "bootstrapped": True,
            "merge": lineage,
        }
    lineage = derived.merge_reduced(
        span_rows(changes, to_v), f"cdf-{bookmark}-{to_v}"
    )
    if not lineage.get("skipped"):
        # one delta per span: keep reads of the chain bounded
        derived.maybe_compact()
    return derived, {**out, "merge": lineage}
