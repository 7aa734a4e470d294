"""Scratch-root guards shared by bench.py and the driver queries in
__spark_entry__.py that write tables (the replay round trip and the IVF
and LSH index probes): one copy, so both put their tables on the same
root and sweep the same leaked dirs."""

from __future__ import annotations

import glob
import os
import shutil


def work_root() -> str:
    """Scratch root: tmpfs by default (SPARK_GRAFT_TMPFS=0 opts out). A
    single local disk (~800 MB/s here) is a SHARED resource that cannot
    scale with parallelism, whereas on a real cluster both HDFS/S3 and
    shuffle bandwidth scale with executor count — tmpfs is the honest
    single-box stand-in for that (documented in BENCH.md). Lives here
    (not bench.py) so the driver-run roundtrip query and every bench
    script put their tables on the SAME root — the r3 driver artifact
    showed a 2.8x swing when the roundtrip wrote to /tmp while the bench
    wrote to /dev/shm."""
    if os.environ.get("SPARK_GRAFT_TMPFS", "1") != "0" and os.path.isdir("/dev/shm"):
        return "/dev/shm/spark_graft_bench"
    return "/tmp/spark_graft_bench"


def changelog_cache_ready(log_dir: str, n_batches: int) -> bool:
    """True iff a cached changelog generation COMPLETED. The probe is the
    last batch dir's _SUCCESS marker, not mere dir existence: committer
    v2 task-commits make partial output visible mid-write, so a killed
    generation would otherwise be silently reused as a truncated log
    (inflating measured events/sec)."""
    return os.path.exists(
        os.path.join(log_dir, f"batch_{n_batches - 1:05d}", "_SUCCESS")
    )


def sweep_stale_tables(work_root: str) -> None:
    """Remove table dirs leaked by crashed/killed earlier runs (tmpfs is
    a shared budget; these grow to double-digit GB) — but NEVER a live
    concurrent run's dir: the pid embedded in the name must be dead.
    PermissionError from kill(pid, 0) means the pid EXISTS under another
    uid, i.e. alive — leave it."""
    for stale in glob.glob(os.path.join(work_root, "tbl_*")):
        try:
            os.kill(int(stale.rsplit("_", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            if not stale.endswith(f"_{os.getpid()}"):
                shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            continue
        else:
            continue
