"""Command-line argument checks that fail before any JVM starts.

Each case runs the script in a subprocess whose ``JAVA_HOME`` names no
JVM, so a script that got as far as starting Spark would fail with a
gateway error instead of argparse's usage exit (code 2).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*argv: str) -> subprocess.CompletedProcess:
    env = {**os.environ, "JAVA_HOME": os.path.join(ROOT, "no-such-jvm")}
    return subprocess.run(
        [sys.executable, *argv], cwd=ROOT, env=env, capture_output=True,
        text=True, timeout=120,
    )


@pytest.mark.parametrize(
    "flags",
    [
        ["--streaming"],
        ["--start-time", "2024-01-01 00:00:00"],
        ["--end-time", "2024-01-01 00:00:00"],
        ["--compact-every", "4"],
    ],
    ids=["streaming", "start_time", "end_time", "compact_every"],
)
def test_redrive_rejects_replay_flags(tmp_path, flags):
    out = _run(
        "scripts/run_replay_job.py", "--log-dir", str(tmp_path / "log"),
        "--table", str(tmp_path / "t"), "--quarantine", str(tmp_path / "q"),
        "--redrive", *flags,
    )
    assert out.returncode == 2, out.stderr
    assert "--redrive" in out.stderr.splitlines()[-1]
    assert not (tmp_path / "t").exists()


def test_bench_rejects_unknown_query_names():
    out = _run("bench.py", "cdc_final_state", "no_such_query")
    assert out.returncode == 2, out.stderr
    assert "unknown query: no_such_query" in out.stderr
    assert out.stdout == ""
