"""Benchmark: CDC replay throughput + headline query timings.

Usage::

    python bench.py [query ...]

With no names it times every ``BENCH_QUERIES`` entry; given names (any
``queries()`` key, an unknown one is a usage error) limit the timed
queries to those. Prints ONE JSON line:
  {"metric": "cdc_replay_events_per_sec", "value": <events/sec>,
   "unit": "sec", "queries": {<name>: <sec>, ...}, "sf": <sf>,
   "replay": {...}, "cpus": N}

Env:
  SPARK_GRAFT_SF_DIR  testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] parallelism (default: the box's cores)
  SPARK_GRAFT_EVENTS  CDC event count override
  SPARK_GRAFT_QUERY_REPEATS  timed runs per query, median kept (default 3)
  SPARK_GRAFT_SKIP_QUERIES=1  replay-only
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from aws_serverless_elt_pipeline_enterprise_spark.benchkit import (  # noqa: E402
    changelog_cache_ready,
    sweep_stale_tables,
    work_root,
)
from aws_serverless_elt_pipeline_enterprise_spark.session import (  # noqa: E402
    CPUS,
    get_spark,
)
from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (  # noqa: E402
    ChangelogSpec,
    generate_changelog,
)
from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (  # noqa: E402
    run_replay,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (  # noqa: E402
    SnapshotTable,
)

# queries too heavy to run at sf0.1 inside the per-round budget are skipped
# in the benchmark (they remain correctness-checked at sf0.01)
BENCH_QUERIES = [
    "cdc_final_state",
    "cdc_lww_window",
    "dedup_first_event",
    "group_count",
    "topk_orders",
    "dq_lineitem",
    "revenue",
    "ts_normalize",
    "json_extract",
    "hourly_counts",
    "field_mapping",
    "quality_probe",
    "join_enrich",
    "running_sum",
    "pivot_counts",
    "rollup_counts",
    "median_price",
    "median_price_approx",
    "set_ops",
    "anti_join",
    "lag_delta",
    "doc_fingerprint",
    "exact_dup_groups",
    "text_quality",
    "lang_id",
    "token_counts",
    "multimodal_meta",
    "multimodal_decode",
    "embedding_topk",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "pack_sequences",
    "chunk_sequences",
    "ngram_jaccard",
    "dup_clusters",
    "mask_terms",
    "token_histogram",
    "embedding_ivf_topk",
    "embedding_lsh_topk",
    "cdc_changes",
    "time_travel",
    "cdc_export",
    "gdpr_erase",
    "delete_keys",
    "incremental_agg",
    "secondary_lookup",
    "point_lookup",
    "scd2_history",
    "embedding_near_dup",
    "decontaminate",
    "repetition_filter",
    "stratified_sample",
    "asof_attribution",
    "sessionize",
    "cdc_replay_roundtrip",
]


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def bench_replay(spark, sf: float) -> dict:
    # 200M x sf events: large enough that per-epoch fixed cost (job
    # scheduling + manifest IO, ~1s/epoch) doesn't dominate the measured
    # throughput the way a toy batch would (250k-row epochs measure the
    # scheduler, not the engine); 20M events at sf0.1 runs the whole
    # bench in ~3 min on 32 cores
    n_events = int(os.environ.get("SPARK_GRAFT_EVENTS", 0)) or max(
        int(200_000_000 * sf), 20_000
    )
    spec = ChangelogSpec(
        n_events=n_events,
        n_keys=max(n_events // 10, 100),
        n_batches=8,
        seed=42,
    )
    cache = f"{work_root()}/log_{n_events}_{spec.n_keys}_{spec.n_batches}"
    if not changelog_cache_ready(cache, spec.n_batches):
        shutil.rmtree(cache, ignore_errors=True)
        generate_changelog(spark, cache, spec)
    sweep_stale_tables(work_root())
    tbl_dir = f"{work_root()}/tbl_{os.getpid()}"
    shutil.rmtree(tbl_dir, ignore_errors=True)
    # n_buckets fixed (not a function of cpus) so runs at different
    # parallelism levels replay the identical job on identical layout.
    # MOR: per-epoch delta commits (write O(batch), not O(table)); the
    # timed window includes materializing the final state via compaction,
    # so the LWW resolve is paid inside the measurement.
    table = SnapshotTable(spark, tbl_dir, n_buckets=32, mode="mor")
    # JVM/codegen warmup outside the timed window (first job in a fresh
    # session pays 3-5 s of classloading + JIT that no steady-state
    # deployment pays per batch)
    spark.read.parquet(os.path.join(cache, "batch_00000")).limit(1000).count()
    t0 = time.monotonic()
    run_replay(spark, cache, table)
    table.compact()
    n_rows = table.state().count()
    wall = time.monotonic() - t0
    shutil.rmtree(tbl_dir, ignore_errors=True)
    return {
        "events": n_events,
        "wall_sec": round(wall, 3),
        "events_per_sec": round(n_events / wall, 1),
        "final_rows": n_rows,
        "epochs": spec.n_batches,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="CDC replay + query benchmark")
    ap.add_argument("names", nargs="*", metavar="query",
                    help="time only these queries (default: BENCH_QUERIES)")
    names = ap.parse_args().names
    qs = entry_mod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        ap.error(f"unknown query: {', '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_of(sf_dir)
    extra = {}
    if work_root().startswith("/dev/shm"):
        os.makedirs("/dev/shm/spark_graft_bench/local", exist_ok=True)
        extra["spark.local.dir"] = "/dev/shm/spark_graft_bench/local"
    spark = get_spark(
        app_name="cdc-bench",
        master=f"local[{CPUS}]",
        # shuffle partitions scale with the cluster size, as they would in
        # any real deployment (4x cores keeps reduce-side hash maps small)
        shuffle_partitions=CPUS * 4,
        extra_conf=extra,
    )

    # queries run FIRST (clean heap): the 20M-event replay leaves tens of
    # GB of JVM garbage whose collection inflates the small per-query
    # timings when it runs before them
    qtimes: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_SKIP_QUERIES") != "1":
        # clamped: 0/negative would IndexError on the median pick (use
        # SPARK_GRAFT_SKIP_QUERIES=1 to skip query timing entirely)
        repeats = max(1, int(os.environ.get("SPARK_GRAFT_QUERY_REPEATS", "3")))

        def run_once(fn) -> float:
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            # noop sink forces full evaluation incl. projected expressions
            df.write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            # drop caches a query persisted (minhash sigs, label-prop
            # checkpoints) so every repetition does identical work and
            # later queries aren't starved of execution memory
            spark.catalog.clearCache()
            return dt

        # DISCARDED warmup: a real aggregate query (not a limit/count probe)
        # so the first TIMED query isn't charged whole-stage-codegen +
        # shuffle-machinery JIT — in round 2 that attribution made the
        # flagship cdc_final_state look 2.8x slower than round 1.
        run_once(qs["cdc_final_state"])
        for name in names or [n for n in BENCH_QUERIES if n in qs]:
            # median of N runs: single-shot timings at sub-second scale
            # swing +/-30% with ambient load and GC phase
            times = sorted(run_once(qs[name]) for _ in range(repeats))
            qtimes[name] = round(times[len(times) // 2], 3)

    # drop DataFrames persisted by the query operators (minhash/simhash
    # signatures, label-prop checkpoints): their cache blocks would
    # otherwise occupy execution memory + tmpfs during the timed replay
    spark.catalog.clearCache()

    # replay stages are fixed-shape (one agg, one write): AQE's per-stage
    # re-planning is pure driver overhead here.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    replay = bench_replay(spark, sf)
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    out = {
        "metric": "cdc_replay_events_per_sec",
        "value": replay["events_per_sec"],
        "unit": "sec",
        "queries": qtimes,
        "sf": sf,
        "replay": replay,
        "cpus": CPUS,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
