"""Exactly-once incremental export of a SnapshotTable's change feed to a
downstream directory — the CDC "outbox".

The reference pipeline's only downstream handoff is the silver parquet
layout itself (re-scanned whole by every consumer,
``Instructions.md`` silver/Athena sections); Delta/Iceberg users solve
the same problem by tailing the table's change feed. ``CdfExporter``
publishes that feed as plain span-named parquet directories a non-Spark
consumer can tail in order, without reading the table or speaking its
manifest format:

* each ``export()`` consumes ``read_changes_since(bookmark)`` and
  publishes ONE directory ``dest/span=v{from:06d}_v{to:06d}/`` (or
  ``span=init_v{to:06d}`` for the first export) containing the diff as
  parquet — key, payload columns, ``_seq``, ``_change_type`` (and the
  Delta-CDF two-row pre/post encoding when ``images='both'``);
* the write is staged under ``dest/.stage_*`` and committed by one
  atomic directory rename, so a consumer listing ``span=*`` never sees
  a partial export;
* the bookmark file is rewritten only after the rename. A crash in
  between leaves a stale bookmark; the next ``export()`` fast-forwards
  it from the destination listing itself (the published spans ARE the
  ledger: spans chain, so the one span starting at the stale bookmark
  names the true bookmark in its dirname). Re-running after a crash
  therefore never double-publishes a span (exactly-once for the
  consumer), assuming a single writer per destination (same contract
  as every other writer in this engine). Unlike a derived SnapshotTable,
  whose bookmark is read straight from its epoch ledger
  (``cdf_consumer.derived_bookmark``), the exporter keeps its bookmark
  FILE: the consumer may prune published spans, and a bookmark derived
  from the listing alone would restart from ``init`` after a full
  prune.
* if the bookmark has fallen behind the source's retention horizon the
  span is no longer computable; the export falls back to a BOOTSTRAP —
  the full current state as inserts under ``span=boot_v{to:06d}`` —
  and the consumer must replace, not patch, its copy (Delta CDF's
  startingVersion-out-of-range contract; the ``boot_`` prefix is the
  signal).

Scale shape: each export is O(span changes) — the narrowed
``changes()`` path — plus one parquet write of exactly those rows;
nothing is ever rewritten, and the destination grows by O(total
changes), prunable by the consumer as it advances.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import SparkSession

from ..tableio.snapshot import SnapshotTable


class CdfExporter:
    def __init__(
        self,
        spark: SparkSession,
        source: SnapshotTable,
        dest: str,
        images: str = "post",
    ):
        self.spark = spark
        self.source = source
        self.dest = dest
        self.images = images
        os.makedirs(dest, exist_ok=True)

    # ---------------------------------------------------------- internals

    def _bookmark_path(self) -> str:
        return os.path.join(self.dest, "_bookmark.json")

    def _load_bookmark(self) -> int | None:
        try:
            with open(self._bookmark_path()) as f:
                return json.load(f)["last_version"]
        except FileNotFoundError:
            return None

    def _store_bookmark(self, v: int) -> None:
        tmp = self._bookmark_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_version": v}, f)
        os.replace(tmp, self._bookmark_path())

    @staticmethod
    def _from_tag(v: int | None) -> str:
        return "init" if v is None else f"v{v:06d}"

    def _span_dir(self, v_from: int | None, v_to: int, boot: bool) -> str:
        name = (
            f"span=boot_v{v_to:06d}"
            if boot
            else f"span={self._from_tag(v_from)}_v{v_to:06d}"
        )
        return os.path.join(self.dest, name)

    def _fastforward(self, bookmark: int | None) -> int | None:
        """Resolve a possibly-stale (or entirely lost) bookmark against
        the published spans: walk the span chain from the bookmark to
        its end — the listing fully determines the true bookmark, since
        spans chain (each dir's from-tag is the previous dir's end) and
        a boot_ dir at a higher version restarts the chain there."""
        edges: dict[str, int] = {}
        boots: list[int] = []
        for d in os.listdir(self.dest):
            if d.startswith("span=boot_v"):
                boots.append(int(d[len("span=boot_v"):]))
            elif d.startswith("span="):
                f_tag, sep, t = d[len("span="):].partition("_v")
                if sep:
                    edges[f_tag] = max(edges.get(f_tag, -1), int(t))
        cur = bookmark
        progress = True
        while progress:
            progress = False
            nxt = edges.get(self._from_tag(cur), -1)
            if nxt >= 0 and (cur is None or nxt > cur):
                cur = nxt
                progress = True
            for b in boots:
                if cur is None or b > cur:
                    cur = b
                    progress = True
        return cur

    # -------------------------------------------------------------- public

    # shared-diff protocol (streaming.replay.refresh_views): exporters
    # share a diff only with views consuming the SAME images mode — a
    # 'post'-mode delete carries the deleting seq while 'both' carries
    # the pre-delete row, so the modes are not derivable from each other
    @property
    def cdf_images(self) -> str:
        return self.images

    def cdf_bookmark(self) -> int | None:
        return self._fastforward(self._load_bookmark())

    def export(self, changes=None, to_version=None) -> dict:
        """Publish all changes since the last export. Returns
        ``{from_version, to_version, span_dir, bootstrapped, rows,
        skipped}``; a no-op (source hasn't advanced) has
        ``span_dir=None``.

        ``changes``/``to_version``: optional pre-computed shared CDF
        diff spanning exactly ``(cdf_bookmark(), to_version]`` in this
        exporter's ``images`` mode (see MaterializedAggregate.refresh)."""
        bookmark = self._fastforward(self._load_bookmark())
        if changes is not None:
            to_v, bootstrapped = to_version, False
        else:
            changes, to_v, bootstrapped = self.source.read_changes_since(
                bookmark, images=self.images
            )
        if bookmark is None and any(
            d.startswith("span=") for d in os.listdir(self.dest)
        ):
            # bookmark lost AND the chain head expired by expire():
            # the listing can no longer prove what was published, so
            # re-enter via the boot contract (replace-not-patch) rather
            # than publishing a full-state dir that looks like a
            # regular incremental span
            bootstrapped = True
        if to_v == bookmark:
            self._store_bookmark(to_v)  # persist a listing fast-forward
            return {
                "from_version": bookmark,
                "to_version": to_v,
                "span_dir": None,
                "bootstrapped": False,
                "rows": 0,
                "skipped": False,
            }
        final = self._span_dir(bookmark, to_v, bootstrapped)
        skipped = os.path.isdir(final)
        rows = 0
        if not skipped:
            # on bootstrap read_changes_since already returns the full
            # current state as inserts (replace-not-patch contract).
            # Staging dir must NOT be dot/underscore-prefixed (Spark
            # treats those as hidden on read) but must not match the
            # consumer's span=* listing either; stale ones from crashes
            # mid-write are swept here (single-writer contract).
            for d in os.listdir(self.dest):
                if d.startswith("inflight_"):
                    shutil.rmtree(os.path.join(self.dest, d), ignore_errors=True)
            stage = os.path.join(self.dest, f"inflight_{uuid.uuid4().hex[:8]}")
            changes.write.mode("overwrite").parquet(stage)
            rows = self.spark.read.parquet(stage).count()
            try:
                os.rename(stage, final)  # the commit point
            except OSError:
                # a concurrent/crashed publisher won the rename; ours is
                # byte-equivalent (pure function of the span) — discard
                shutil.rmtree(stage, ignore_errors=True)
                skipped = True
        self._store_bookmark(to_v)
        return {
            "from_version": bookmark,
            "to_version": to_v,
            "span_dir": final,
            "bootstrapped": bootstrapped,
            "rows": rows,
            "skipped": skipped,
        }

    # duck-type as a maintained view so run_replay(maintain=[exporter])
    # publishes one span per applied epoch, in lockstep with the table
    refresh = export

    def expire(self, keep_last: int) -> list[str]:
        """Outbox retention: drop all but the newest ``keep_last`` span
        dirs (span end version orders them — the publication order). A
        consumer that then falls behind the remaining chain re-enters
        via the source's bootstrap contract, exactly like a derived
        table whose bookmark expired. The exporter's own recovery keeps
        working: its bookmark file is the durable pointer, and if BOTH
        the bookmark and the chain head are gone, export() re-enters
        via a ``boot_`` publish rather than mis-signaling a full state
        as an incremental span (tested)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")

        def end_v(name: str) -> int:
            return int(name.rsplit("_v", 1)[1])

        spans = sorted(
            (d for d in os.listdir(self.dest) if d.startswith("span=")),
            key=end_v,
        )
        drop = spans[:-keep_last]
        for d in drop:
            shutil.rmtree(os.path.join(self.dest, d), ignore_errors=True)
        return drop
