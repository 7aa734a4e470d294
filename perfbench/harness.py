"""Shared machinery of the benchmark: box sizing, the Spark session, the
work directory, spans and timing statistics.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``:
``run-<pid>/`` holds one run's inputs, tables, shuffle files and event log
and is removed when the run ends; ``results/`` keeps the end-to-end values
of the last run per workload, seed, size and trace flag; ``traces/`` keeps
the spans and the event log of the last traced run per workload and seed.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "aws_serverless_elt_pipeline_enterprise_spark"


# ------------------------------------------------------------------ box


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_heap_gb() -> int:
    """Local mode runs every task in the driver JVM, so its heap is all the
    memory Spark has: 30% of RAM, at most 4g (the box is shared)."""
    return max(1, min(4, int(ram_bytes() * 0.3 / 2**30)))


# ------------------------------------------------------------- work dirs


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_stale_runs() -> None:
    """Remove run dirs left by killed runs (their pid is dead)."""
    for d in glob.glob(os.path.join(WORK, "run-*")):
        try:
            pid = int(d.rsplit("-", 1)[1])
        except ValueError:
            continue
        if pid != os.getpid() and not _pid_alive(pid):
            shutil.rmtree(d, ignore_errors=True)


def make_run_dir() -> str:
    sweep_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    # Python workers import the package from the checkout, and every temp
    # file (py4j connection info, JVM tmpdir) stays inside the run dir
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    return run_dir


def generate(run_dir: str, build) -> str:
    """Directory of this run's generated inputs; ``build(path)`` writes
    them. Inputs are generated in every run, never reused from an earlier
    one: generation runs Spark jobs, and a JVM that skipped them would
    start the timed window colder, so cached and fresh runs would time
    differently."""
    path = os.path.join(run_dir, "inputs")
    os.makedirs(path)
    build(path)
    return path


# --------------------------------------------------------------- session


def start_session(run_dir: str, n_cores: int, trace: bool, app: str):
    from aws_serverless_elt_pipeline_enterprise_spark.session import get_spark

    heap = driver_heap_gb()
    conf = {
        "spark.driver.memory": f"{heap}g",
        "spark.local.dir": os.path.join(run_dir, "local"),
        # the package's collector, plus a fixed heap and young generation:
        # with adaptive sizing the peak RSS wanders by a quarter between
        # identical runs
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms{heap}g -Xmn{max(1, heap // 4)}g "
        f"-XX:-UseAdaptiveSizePolicy -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name=app,
        master=f"local[{n_cores}]",
        shuffle_partitions=2 * n_cores,
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit (its
    Python worker daemon exits with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def reset_peak_rss(jpid: int) -> float:
    """Reset the resident-memory high-water mark of the driver Python
    process and the JVM to their current RSS, so that the peak read later
    covers only what follows; returns that RSS (MB)."""
    for pid in ("self", jpid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError as e:
            log(f"cannot reset the peak RSS of {pid}: {e}")
    return (_status_kb("self", "VmRSS") + _status_kb(jpid, "VmRSS")) / 1024.0


def peak_rss_mb(jpid: int) -> float:
    """Peak resident memory of the driver Python process plus the JVM."""
    return (_status_kb("self", "VmHWM") + _status_kb(jpid, "VmHWM")) / 1024.0


# ------------------------------------------------------------------ spans


class Tracer:
    """Spans around each call into a layer: name, start, end (epoch
    seconds), parent. With ``tag_jobs`` every span also becomes the Spark
    job group of the jobs run inside it, so the event log attributes
    stages and tasks to spans."""

    def __init__(self, sc, tag_jobs: bool):
        self.sc = sc
        self.tag_jobs = tag_jobs
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def set_group(self, sid: int | None, name: str) -> None:
        """Make span ``sid`` (None: no span) the job group of the jobs that
        follow."""
        if self.tag_jobs:
            self.sc.setJobGroup(f"pb-{sid}" if sid is not None else "pb-none", name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.set_group(sid, name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            self.set_group(parent, self.spans[parent]["name"] if parent is not None else "")

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {k: s.get(k) for k in ("id", "name", "start", "end", "parent")}
                    for s in self.spans
                ],
                f,
            )

    def top_level_coverage(self, t0: float, t1: float) -> float:
        covered = sum(
            min(s["end"], t1) - max(s["start"], t0)
            for s in self.spans
            if s["parent"] is None and s["end"] > t0 and s["start"] < t1
        )
        return covered / (t1 - t0) if t1 > t0 else 0.0


# ------------------------------------------------------------- statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
