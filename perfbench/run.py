"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --scaling --seed 1 --seconds 10

A workload run prints a human-readable report and, as the last line of
stdout, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402
from metrics import PER_LAYER, UNITS  # noqa: E402

WORKLOADS = ("cdc", "curate")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny is for self-tests")
    ap.add_argument("--cores", type=int, default=0, help="local[N]; default: every core of the box")
    ap.add_argument("--scaling", action="store_true", help="cdc at local[1] and at local[nproc]")
    ap.add_argument("--drop-epoch", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.scaling and args.workload is None:
        ap.error("--workload is required")
    return args


def workload_class(name: str):
    if name == "cdc":
        from cdc import Cdc

        return Cdc
    from curate import Curate

    return Curate


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )


def print_table(title: str, rows: list[tuple[str, object, str]]) -> None:
    print(f"== {title}")
    for name, value, unit in rows:
        shown = f"{value:.6g}" if isinstance(value, (int, float)) else str(value)
        print(f"  {name:<48} {shown:>14} {unit}")


def run_workload(args) -> int:
    run_dir = harness.make_run_dir()
    try:
        return measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str) -> int:
    sys.path.insert(1, harness.ROOT)
    try:
        __import__(harness.PACKAGE)
    except ImportError as e:
        harness.log(f"cannot import the engine: {e}")
        return 2
    from workload import Ctx

    n_cores = args.cores or harness.cores()
    trace = bool(args.trace)
    spark = harness.start_session(run_dir, n_cores, trace, f"perfbench-{args.workload}")
    try:
        session_s = time.perf_counter() - PROCESS_START
        tracer = harness.Tracer(spark.sparkContext, tag_jobs=trace)
        w = workload_class(args.workload)(Ctx(spark, tracer, run_dir, args.seed, args.size, n_cores, args.drop_epoch))
        _, gen_s = harness.timed(w.inputs)
        harness.log(f"session {session_s:.2f}s, inputs {gen_s:.2f}s (not set-up)")
        _, warm_s = harness.timed(w.warm_up)
        harness.log(f"warm-up {warm_s:.2f}s (set-up)")
        jpid = harness.jvm_pid(spark)
        # the peak covers the timed window only, not input generation or
        # the checks; the window starts from a collected heap, so that it
        # does not depend on how much garbage set-up left in the old
        # generation
        spark._jvm.java.lang.System.gc()
        rss_start = harness.reset_peak_rss(jpid)
        w.run_window(args.seconds)
        rss = harness.peak_rss_mb(jpid)
        harness.log(f"RSS {rss_start:.0f} MB at window start, {rss:.0f} MB peak in the window")
        _, check_s = harness.timed(w.run_checks)
        harness.log(f"window {w.window[1] - w.window[0]:.2f}s (cycles "
                    f"{' '.join(f'{secs:.1f}s' for _, secs in w.cycles)}), checks {check_s:.2f}s")
        harness.log("latency samples per cycle: " + " | ".join(" ".join(f"{x:.2f}" for x in c) for c in w.cycle_latencies))
        if trace:
            w.table_stats()
    finally:
        harness.stop_session(spark)
    harness.log(f"{time.perf_counter() - PROCESS_START:.1f}s since process start")

    e2e = {
        "setup_s": session_s + warm_s,
        "throughput_per_s": w.throughput(),
        "latency_s.p50": w.latency_p50(),
        "peak_rss_mb": rss,
    }
    rows = [(k, v, UNITS[k]) for k, v in e2e.items()] + w.report()
    rows += [
        ("rss_at_window_start_mb", rss_start, "MB"),
        ("error_rate", w.failed / max(1, w.attempted), "share"),
        ("latency_samples", len(w.latencies), "count"),
    ]
    print_table(f"{args.workload} seed={args.seed} trace={args.trace} (throughput item: {w.item}; "
                f"latency: {w.latency_op})", rows)
    for reason in w.failures:
        print(f"  FAILED: {reason.strip().splitlines()[-1]}")
    results = os.path.join(harness.WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-{args.size}"
    with open(os.path.join(results, f"{stem}-trace{args.trace}.json"), "w") as f:
        json.dump(e2e, f)

    metrics = e2e
    if trace:
        metrics = per_layer(w, run_dir, n_cores, session_s, warm_s, stem)
        untraced = os.path.join(results, f"{stem}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            print_table("tracing overhead (traced minus untraced run, same seed)",
                        [(k, e2e[k] - base[k], UNITS[k]) for k in e2e])
        else:
            print("  tracing overhead: run the same seed with --trace 0 first")
    emit(w.failed == 0, w.attempted, w.failed, metrics, UNITS)
    return 0


def per_layer(w, run_dir: str, n_cores: int, session_s: float, warm_s: float, stem: str) -> dict:
    """Every per-layer metric (0 for a layer the workload leaves idle),
    from the spans and the Spark event log; keeps both under traces/."""
    import eventlog

    log_file = eventlog.find_log(os.path.join(run_dir, "events"))
    ev = eventlog.parse(log_file)
    t0, t1 = w.window
    tot = ev.totals(w.groups(w.window_spans()))
    layer = {name: 0.0 for name, _ in PER_LAYER}
    layer.update(w.layers(ev))
    layer.update(
        {
            "spark.task_s": tot["task_s"],
            "spark.gc_s": tot["gc_s"],
            "spark.cpu_busy_share": tot["task_s"] / ((t1 - t0) * n_cores),
            "session.start_s": session_s,
            "setup.warmup_s": warm_s,
            "trace.top_span_coverage": w.tracer.top_level_coverage(t0, t1),
        }
    )
    trace_file = os.path.join(harness.WORK, "traces", f"{stem}.json")
    w.tracer.dump(trace_file)
    shutil.copy(log_file, os.path.join(harness.WORK, "traces", f"{stem}.eventlog"))
    print_table(f"{w.name} per-layer (idle = layer not used by this workload)",
                [(k, v if v else "idle", UNITS[k]) for k, v in layer.items()])
    print(f"  spans and Spark event log: {os.path.relpath(trace_file, harness.ROOT)} and .eventlog")
    return layer


def run_scaling(args) -> int:
    """``cdc`` at local[1] and local[nproc]; prints the scaling efficiency
    (throughput ratio divided by the core ratio) against the 0.8 bar. For
    information only: a ratio of two timings is too noisy to gate on."""
    n = harness.cores()
    tput = {}
    for c in (1, n):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", "cdc", "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0", "--size", args.size, "--cores", str(c)]
        out = subprocess.run(cmd, cwd=harness.ROOT, capture_output=True, text=True, timeout=900)
        sys.stderr.write(out.stderr[-2000:])
        if out.returncode != 0:
            return out.returncode
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            harness.log(f"cdc at local[{c}] failed its checks")
            return 1
        tput[c] = res["metrics"]["throughput_per_s"]["value"]
    eff = tput[n] / tput[1] / n
    name = f"scaling_eff_1to{n}"
    print_table("cdc scaling (information only, not gated)", [
        ("events_per_s.local1", tput[1], "1/s"), (f"events_per_s.local{n}", tput[n], "1/s"),
        (name, eff, "ratio"), ("meets_0.8_bar", "yes" if eff >= 0.8 else "no", ""),
    ])
    emit(True, 2, 0, {name: eff}, {name: "ratio"})
    return 0


def main() -> int:
    # a terminated run still stops Spark and its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args()
    if args.scaling:
        return run_scaling(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
