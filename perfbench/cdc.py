"""``cdc``: the change-data-capture path, write side and read side, in one
fixed cycle on a fresh merge-on-read table:

1. bulk: a cold replay of the first epochs of an ordered change log, one
   ``apply_epoch`` per epoch, then ``compact(sort_within_buckets=True)``;
2. serve: a ``MaterializedAggregate`` (group by ``source``, sum ``n_tok``)
   is bootstrapped, then every tail epoch runs

       apply_epoch -> refresh_views -> maybe_compact -> expire_snapshots
       -> lookup

The timed loop repeats whole cycles, each into a new table, until the
window is used up. The bulk phase stresses the write path (merge,
manifest, compaction); the serve phase the change feed, view maintenance,
minor compaction and delta-chain reads beside writes.

A latency sample is one tail epoch as a reader sees it: the time from
handing the epoch to ``apply_epoch`` until it is committed and reflected
in the view, plus the time of the lookup that follows. Bulk epochs and
maintenance count in throughput only.
"""

from __future__ import annotations

import os
import random
import time

from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.operators.incremental_agg import (
    MaterializedAggregate,
)
from aws_serverless_elt_pipeline_enterprise_spark.quality.verify import state_fingerprint
from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
    apply_epoch,
    refresh_views,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable

import checks
import inputs
from harness import generate, median, percentile
from workload import Workload, dir_stats, live_bytes

# a bulk epoch is ``bulk_batches`` arrival batches read together; a tail
# epoch is one arrival batch
SIZES = {
    "full": {"batch_events": 10_000, "bulk_epochs": 2, "bulk_batches": 4, "tail_epochs": 2, "buckets": 8},
    "tiny": {"batch_events": 500, "bulk_epochs": 2, "bulk_batches": 4, "tail_epochs": 2, "buckets": 4},
}
KEYS_PER_LOOKUP = 10
# the second tail epoch leaves two deltas on the compacted base, which
# minor compaction folds into one before that epoch's lookup: the lookup
# reads one delta, and two if a policy compacted less
MAX_DELTAS = 2
KEEP_VERSIONS = 12
RECHECK_LOOKUPS = 2


class Cdc(Workload):
    name = "cdc"
    item = "change events committed"
    latency_op = "one tail epoch, apply_epoch hand-off until the view reflects it, plus one lookup"

    def inputs(self) -> None:
        sz = self.sz = SIZES[self.ctx.size]
        n_bulk = sz["bulk_epochs"] * sz["bulk_batches"]
        # the schema changes at a bulk-epoch boundary: one epoch is read
        # as one parquet scan, and a scan takes one schema
        evolve_at = sz["bulk_epochs"] // 2 * sz["bulk_batches"]
        spec = inputs.cdc_spec(self.ctx.seed, sz["batch_events"], n_bulk + sz["tail_epochs"], evolve_at)
        self.dir = generate(self.ctx.run_dir, lambda p: inputs.cdc_log(self.spark, p, spec))
        self.meta = inputs.read_meta(self.dir)
        k = sz["bulk_batches"]

        def epoch(batches: list[int]) -> dict:
            return {
                "dirs": [inputs.batch_dir(self.dir, self.meta["spec"], b) for b in batches],
                "events": sum(self.meta["batch_events"][b] for b in batches),
            }

        self.bulk = [epoch(list(range(e * k, (e + 1) * k))) for e in range(sz["bulk_epochs"])]
        self.tail = [epoch([n_bulk + t]) for t in range(sz["tail_epochs"])]
        self.n_keys = self.meta["spec"]["n_keys"]
        self.rng = random.Random(self.ctx.seed)

    def reset_samples(self) -> None:
        super().reset_samples()
        self.freshness: list[float] = []
        self.lookups: list[dict] = []
        self.refreshes: list[tuple[int, int | None, int]] = []

    def _keys(self) -> list[str]:
        # one of the 4 hot keys, the rest uniform over the key space
        return [f"doc_{self.rng.randrange(4):08d}"] + [
            f"doc_{self.rng.randrange(self.n_keys):08d}" for _ in range(KEYS_PER_LOOKUP - 1)
        ]

    def _apply(self, table, ep: dict, eid: str, qdir: str, phase: str) -> None:
        with self.tracer.span("replay.apply_epoch", phase=phase):
            apply_epoch(table, self.spark.read.parquet(*ep["dirs"]), eid, quarantine_dir=qdir)

    def cycle(self) -> int:
        op, bulk, tail = self.op, self.bulk, self.tail
        tag = f"c{self.cycle_no}"
        events = 0
        table = SnapshotTable(self.spark, self.path("tables", tag), n_buckets=self.sz["buckets"], mode="mor")
        qdir = self.path("quarantine", tag)
        for i, ep in enumerate(bulk):
            if self.ctx.drop_epoch and i == 1:
                continue  # fault injection for the benchmark's self-test
            op(lambda: self._apply(table, ep, f"bulk-{i:03d}", qdir, "bulk"))
            events += ep["events"]
        with self.tracer.span("snapshot.compact"):
            op(lambda: table.compact(sort_within_buckets=True))
        view = MaterializedAggregate(self.spark, table, self.path("views", tag), ["source"], sums={"n_tok": "n_tok"})
        with self.tracer.span("replay.refresh_views", phase="bootstrap"):
            op(lambda: refresh_views([view]))
        for i, ep in enumerate(tail):
            bookmark = view.cdf_bookmark()
            t0 = time.perf_counter()
            op(lambda: self._apply(table, ep, f"tail-{i:03d}", qdir, "tail"))
            version = table.current_version()
            with self.tracer.span("replay.refresh_views", phase="tail"):
                op(lambda: refresh_views([view]))
            fresh = time.perf_counter() - t0
            # maintenance before the lookup, so that it reads the delta
            # chain the compaction policy left
            with self.tracer.span("snapshot.maybe_compact") as s:
                s["ran"] = op(lambda: table.maybe_compact(max_deltas=MAX_DELTAS)) is not None
            with self.tracer.span("snapshot.expire_snapshots"):
                op(lambda: table.expire_snapshots(keep_last=KEEP_VERSIONS))
            keys = self._keys()
            read_version = table.current_version()
            depth = len(table.manifest().get("global_deltas", []))
            with self.tracer.span("snapshot.lookup") as s:
                rows = op(lambda: table.lookup(keys).select("doc_id", "tokens").collect())
            self.lookups.append({"keys": keys, "version": read_version, "rows": rows, "depth": depth, "dur": s["dur"]})
            self.latencies.append(fresh + s["dur"])
            self.freshness.append(fresh)
            events += ep["events"]
            self.refreshes.append((ep["events"], bookmark, version))
        self.table, self.view, self.qdir = table, view, qdir
        return events

    def checks(self) -> list:
        t, view = self.table, self.view
        # three checks read the final state: resolve it once (the cache
        # goes with the session, which stops right after the checks)
        state = t.state().persist()
        epochs = [("bulk", i, ep) for i, ep in enumerate(self.bulk)] + [
            ("tail", i, ep) for i, ep in enumerate(self.tail)
        ]
        all_dirs = [d for _, _, ep in epochs for d in ep["dirs"]]
        lww = checks.lww_state(self.spark, all_dirs)

        def verify():
            # the package's own verifier on the engine side, timed as the
            # quality.verify layer; the reference stays the independent LWW
            with self.tracer.span("quality.verify") as s:
                got = state_fingerprint(t.state())
            self.verify_s = s["dur"]
            return checks.equal("state_fingerprint of state() vs independent LWW", got, state_fingerprint(lww))

        def rerun():
            self.rerun_skipped = sum(
                apply_epoch(t, self.spark.read.parquet(*ep["dirs"]), f"{ph}-{i:03d}") is None
                for ph, i, ep in epochs
            )
            return checks.equal("second pass skips every epoch", self.rerun_skipped, len(epochs))

        def quarantine():
            self.quarantined = self.spark.read.parquet(self.qdir).count() if os.path.isdir(self.qdir) else 0
            want = sum(self.meta["batch_malformed"][: len(all_dirs)])
            return checks.equal("quarantined rows", self.quarantined, want)

        def maintained_view():
            got = {r["source"]: (r["cnt"], r["n_tok"]) for r in view.result().collect()}
            want = {
                r["source"]: (r["cnt"], r["n_tok"])
                for r in state.groupBy("source")
                .agg(F.count(F.lit(1)).alias("cnt"), F.sum("n_tok").alias("n_tok"))
                .collect()
            }
            return checks.equal("maintained view vs recompute over state()", got, want)

        def lookups():
            def canon(rows):
                return sorted((r["doc_id"], tuple(r["tokens"])) for r in rows)

            for lk in self.lookups[-RECHECK_LOOKUPS:]:
                want = (
                    t.state(lk["version"]).filter(F.col("doc_id").isin(*lk["keys"]))
                    .select("doc_id", "tokens").collect()
                )
                if canon(lk["rows"]) != canon(want):
                    return f"lookup at v{lk['version']} differs from state(v{lk['version']})"
            return None

        return [
            verify,
            lambda: checks.same_state("cdc", state, lww),
            lambda: checks.ntok_repaired(state),
            rerun,
            quarantine,
            maintained_view,
            lookups,
        ]

    def table_stats(self) -> None:
        t = self.table
        files, written = dir_stats(os.path.join(t.root, "commits"))
        rows = t.state().count()
        # change-feed rows the view consumed per event of the tail epochs
        # (their versions are still retained)
        cdf = [
            t.changes(bookmark, version, images="both").count() / n
            for n, bookmark, version in self.refreshes[-len(self.tail):]
            if bookmark is not None
        ]
        events = sum(ep["events"] for ep in self.bulk + self.tail)
        self.stats = {
            "snapshot.bytes_written_per_event": written / events,
            "snapshot.files_written": files,
            "snapshot.live_bytes_per_row": live_bytes(t) / max(1, rows),
            "incremental_agg.cdf_rows_per_epoch_event": median(cdf),
        }

    def layers(self, ev) -> dict:
        bulk = self.per_span(ev, "replay.apply_epoch", phase="bulk")
        cp = self.per_span(ev, "snapshot.compact")
        rf = self.per_span(ev, "replay.refresh_views", phase="tail")
        lk = self.per_span(ev, "snapshot.lookup")
        returned = sum(len(x["rows"]) for x in self.lookups)
        return {
            **self.stats,
            "replay.apply_epoch_s.p50": median([s["dur"] for s in self.window_spans("replay.apply_epoch")]),
            "replay.apply_epoch_task_s": bulk.get("task_s", 0.0),
            "replay.apply_epoch_driver_s": bulk.get("driver_s", 0.0),
            "replay.merge_shuffle_write_bytes": bulk.get("shuffle_write", 0.0),
            "replay.merge_spill_bytes": bulk.get("spill", 0.0),
            "replay.merge_task_skew": bulk.get("skew", 0.0),
            "replay.refresh_views_s.p50": median([s["dur"] for s in self.window_spans("replay.refresh_views", "tail")]),
            "replay.quarantine_rows": getattr(self, "quarantined", 0),
            "replay.rerun_epochs_skipped": getattr(self, "rerun_skipped", 0),
            "snapshot.compact_s": cp.get("wall", 0.0),
            "snapshot.compact_task_s": cp.get("task_s", 0.0),
            "snapshot.compact_shuffle_bytes": cp.get("shuffle_write", 0.0),
            "snapshot.lookup_s.p50": median([x["dur"] for x in self.lookups]),
            "snapshot.lookup_bytes_read": lk.get("input_bytes", 0.0),
            "snapshot.lookup_rows_scanned_per_row_returned": (
                lk.get("input_records", 0.0) * lk.get("n", 0) / returned if returned else 0.0
            ),
            "snapshot.delta_depth_at_lookup.mean": sum(x["depth"] for x in self.lookups) / max(1, len(self.lookups)),
            "snapshot.maybe_compact_runs": sum(s["ran"] for s in self.window_spans("snapshot.maybe_compact"))
            / max(1, len(self.cycles)),
            "snapshot.maybe_compact_s": sum(s["dur"] for s in self.window_spans("snapshot.maybe_compact"))
            / max(1, len(self.cycles)),
            "incremental_agg.refresh_task_s": rf.get("task_s", 0.0),
            "verify.state_fingerprint_s": getattr(self, "verify_s", 0.0),
        }

    def report(self) -> list:
        lk = [x["dur"] for x in self.lookups]
        return [
            ("events_per_s", self.throughput(), "1/s"),
            ("freshness_s.p50", percentile(self.freshness, 50), "s"),
            ("freshness_s.p75", percentile(self.freshness, 75), "s"),
            ("lookup_s.p50", percentile(lk, 50), "s"),
            ("lookup_s.p90", percentile(lk, 90), "s"),
            ("cycles_timed", len(self.cycles), "count"),
            ("freshness_samples", len(self.freshness), "count"),
            ("lookup_samples", len(lk), "count"),
        ]
