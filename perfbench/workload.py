"""What every workload shares: its context, the operation counters behind
``attempted``/``failed``, and the helpers for per-layer numbers read from
the spans and the event log."""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass

from harness import Tracer, log, median


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    run_dir: str
    seed: int
    size: str
    n_cores: int
    drop_epoch: bool = False


class Workload:
    name = ""
    # throughput unit: what one item of ``throughput_per_s`` is
    item = ""
    # what one sample of ``latency_s`` is
    latency_op = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.window = (0.0, 0.0)
        # (items, seconds) of every timed cycle, and the latency samples
        # each cycle took
        self.cycles: list[tuple[int, float]] = []
        self.cycle_latencies: list[list[float]] = []
        # cycles run so far, warm-up included
        self.cycle_no = 0
        self.reset_samples()

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.run_dir, *parts)

    # -- to implement
    def inputs(self) -> None:
        """Generate this run's inputs from the seed (not set-up time)."""

    def cycle(self) -> int:
        """One whole cycle of the workload; returns the items it processed."""
        raise NotImplementedError

    def warmup_cycle(self) -> None:
        """One untimed cycle in set-up; by default the same as a timed one."""
        self.cycle()

    def checks(self) -> list:
        """Callables that return None when a check passes, else the reason."""
        return []

    def reset_samples(self) -> None:
        """Forget the samples cycles collected (called after warm-up)."""
        self.latencies: list[float] = []

    def table_stats(self) -> None:
        """Traced runs only, after the checks and before Spark stops:
        gather the per-layer numbers that need Spark or the table files
        into ``self.stats``."""
        self.stats = {}

    def layers(self, ev) -> dict:
        """Per-layer metrics from the spans, ``self.stats`` and the parsed
        event log ``ev``."""
        return {}

    def report(self) -> list[tuple[str, object, str]]:
        """Rows (name, value, unit) of the human-readable report."""
        return []

    # -- shared
    def op(self, fn):
        """Run one operation of the timed loop; an exception counts as a
        failed operation and ends the loop."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.failures.append(traceback.format_exc(limit=3))
            raise

    def warm_up(self) -> None:
        """One untimed cycle in set-up, after input generation: a first
        cycle on a cold JVM takes one and a half to two times as long as a
        warm one (query compilation, Python worker start). Its operations
        count as attempted, its samples are dropped."""
        try:
            self.cycle_no += 1
            self.warmup_cycle()
        except Exception:
            log("warm-up stopped by a failed operation:\n" + self.failures[-1])
        self.reset_samples()

    def run_window(self, seconds: float) -> None:
        """Whole cycles, closed loop, until ``seconds`` have passed and at
        least one ran."""
        t0 = time.time()
        start = time.perf_counter()
        try:
            while not self.cycles or time.perf_counter() - start < seconds:
                c0, n0 = time.perf_counter(), len(self.latencies)
                self.cycle_no += 1
                items = self.cycle()
                self.cycles.append((items, time.perf_counter() - c0))
                self.cycle_latencies.append(self.latencies[n0:])
        except Exception:
            log("timed loop stopped by a failed operation:\n" + self.failures[-1])
        self.window = (t0, t0 + time.perf_counter() - start)

    def throughput(self) -> float:
        """Items per second of the fastest cycle. On a shared machine a
        cycle is only ever slowed by others' load, never sped up, so the
        best cycle is the steadiest estimate of the program's own speed."""
        return max((items / secs for items, secs in self.cycles), default=0.0)

    def latency_p50(self) -> float:
        """Every cycle takes its latency samples in the same order (a tail
        epoch, a curation step): the median over those positions of each
        one's fastest sample across the timed cycles, for the same reason."""
        return median([min(xs) for xs in zip(*self.cycle_latencies)])

    def run_checks(self) -> None:
        self.tracer.set_group(None, "check")
        if not self.cycles:
            self.attempted += 1
            self.failed += 1
            self.failures.append("no cycle completed, nothing to check")
            return
        try:
            fns = self.checks()
        except Exception:
            reason = "preparing the checks failed:\n" + traceback.format_exc(limit=3)
            fns = [lambda: reason]
        for fn in fns:
            self.attempted += 1
            try:
                reason = fn()
            except Exception:
                reason = traceback.format_exc(limit=3)
            if reason is not None:
                self.failed += 1
                self.failures.append(reason)
                log(f"check failed: {reason}")

    def window_spans(self, name: str | None = None, phase: str | None = None) -> list[dict]:
        t0, t1 = self.window
        return [
            s
            for s in self.tracer.spans
            if s["start"] >= t0
            and s["end"] <= t1 + 1e-6
            and (name is None or s["name"] == name)
            and (phase is None or s.get("phase") == phase)
        ]

    @staticmethod
    def groups(spans: list[dict]) -> set[str]:
        return {f"pb-{s['id']}" for s in spans}

    def per_span(self, ev, name: str, phase: str | None = None) -> dict:
        """Mean per call of ``name`` in the window: wall, task time, the
        driver-only part (wall minus the wall of its Spark jobs), shuffle
        write, spill and scan input; plus the median task skew."""
        spans = self.window_spans(name, phase)
        if not spans:
            return {}
        rows = []
        for s in spans:
            g = self.groups([s])
            t = ev.totals(g)
            rows.append(
                {
                    "wall": s["dur"],
                    "task_s": t["task_s"],
                    "driver_s": max(0.0, s["dur"] - ev.job_wall_s(g)),
                    "shuffle_write": t["shuffle_write"],
                    "spill": t["spill"],
                    "input_bytes": t["input_bytes"],
                    "input_records": t["input_records"],
                    "skew": ev.task_skew(g),
                }
            )
        n = len(rows)
        out = {k: sum(r[k] for r in rows) / n for k in rows[0] if k != "skew"}
        skews = sorted(r["skew"] for r in rows)
        out["skew"] = skews[n // 2]
        out["n"] = n
        return out


def dir_stats(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under a directory."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def live_bytes(table) -> int:
    m = table.manifest()
    dirs = {d for ds in m["buckets"].values() for d in ds} | set(m.get("global_deltas", []))
    return sum(dir_stats(os.path.join(table.root, d))[1] for d in dirs)
