"""Shared exactly-once protocol for CDF consumers that materialize
derived state into a SnapshotTable (incremental aggregates, secondary
indexes).

The protocol: derive the delta from ``changes(images='both')`` since the
bookmark and commit it into the derived table as ONE epoch whose id
encodes the consumed version span (``cdf-<from>-<to>``; a bootstrap
commits ``cdfboot-<to>`` into a wiped table). That commit is the only
write: the bookmark is read back from the derived table's own epoch
ledger (``derived_bookmark``), not from a separate file, so there is
no window between committing a span and recording it. Spans chain
(next ``from`` == last ``to``) and ``rebuild_derived`` wipes the table
before it commits, so the largest ``to`` in the ledger is the version
the derived state reflects. A crashed-and-rerun span re-derives the
same id, which the ledger skips.
"""

from __future__ import annotations

import shutil

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


def span_epoch_id(v_from: int | None, v_to: int) -> str:
    return f"cdf-{v_from}-{v_to}"


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
