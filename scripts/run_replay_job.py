"""spark-submit entry point for the CDC replay job.

Cluster usage (the north-rule deployment shape)::

    zip -r engine.zip aws_serverless_elt_pipeline_enterprise_spark
    spark-submit --py-files engine.zip \
        scripts/run_replay_job.py \
        --log-dir  s3a://bucket/changelog \
        --table    s3a://bucket/tables/sequences \
        --n-buckets 4096 \
        --quarantine s3a://bucket/quarantine/sequences \
        --streaming --checkpoint s3a://bucket/ck/sequences

``--checkpoint`` is the Structured Streaming checkpoint (source offsets);
the batch epoch loop needs none, since the table's manifest ledger is its
checkpoint.

Local smoke::

    python scripts/run_replay_job.py --log-dir /tmp/log --table /tmp/tbl

The session factory only sets master when SPARK_GRAFT_CPUS-style local
runs are wanted; under spark-submit the cluster manager's master wins.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="CDC replay -> snapshot table")
    ap.add_argument("--log-dir", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--checkpoint", default=None,
                    help="Structured Streaming checkpoint dir for --streaming "
                         "(default: <table>_ck); the batch loop resumes from "
                         "the table's manifest ledger")
    ap.add_argument("--quarantine", default=None)
    ap.add_argument("--compact-every", type=int, default=None)
    ap.add_argument("--streaming", action="store_true",
                    help="Structured Streaming driver (availableNow) instead of the epoch loop")
    ap.add_argument("--final-compact", action="store_true")
    ap.add_argument("--start-time", default=None,
                    help="event-time window replay: only batches intersecting "
                         "[--start-time, --end-time] ('YYYY-MM-DD HH:MM:SS')")
    ap.add_argument("--end-time", default=None)
    ap.add_argument("--redrive", action="store_true",
                    help="re-ingest the quarantine dir (content-addressed epoch, idempotent)")
    args = ap.parse_args()
    if args.redrive and not args.quarantine:
        ap.error("--redrive requires --quarantine")
    loop_flags = args.start_time or args.end_time or args.compact_every
    if args.redrive and (args.streaming or loop_flags):
        ap.error("--redrive re-ingests the quarantine dir only; it takes no "
                 "--streaming, --start-time/--end-time or --compact-every")
    if args.streaming and loop_flags:
        ap.error("--start-time/--end-time/--compact-every apply to the epoch "
                 "loop, not --streaming")

    from pyspark.sql import SparkSession

    from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
        redrive_quarantine,
        run_replay,
        run_replay_streaming,
    )
    from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
        SnapshotTable,
    )

    # cluster detection: spark-submit's PythonRunner exports
    # PYSPARK_GATEWAY_PORT to the driver python BEFORE user code runs —
    # the one signal present exactly when submit owns the session config.
    # (Two prior probes were dead code: SPARK_SUBMIT_DEPLOY_MODE is never
    # exported to the python driver, and SparkConf().contains() reads
    # java system properties only after a JVM gateway is attached, which
    # is precisely not yet the case here. Both silently fell into the
    # local factory, whose local[N] master overrode the cluster
    # manager's --master.)
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        spark = SparkSession.builder.appName("cdc-replay").getOrCreate()
    else:
        # bare-python local run: fall back to the tuned local session
        from aws_serverless_elt_pipeline_enterprise_spark.session import get_spark

        spark = get_spark(app_name="cdc-replay")

    table = SnapshotTable(spark, args.table, n_buckets=args.n_buckets)
    if args.redrive:
        lineage = redrive_quarantine(spark, args.quarantine, table)
        summary = {"driver": "redrive", "lineage": lineage}
    elif args.streaming:
        # quarantine_dir MUST flow through: without it the streaming
        # merge silently drops malformed envelopes (no DLQ, nothing for
        # a later redrive) — the batch branch below honors the same flag
        run_replay_streaming(
            spark,
            args.log_dir,
            table,
            checkpoint_dir=args.checkpoint or args.table + "_ck",
            quarantine_dir=args.quarantine,
        )
        summary = {"driver": "streaming"}
    else:
        result = run_replay(
            spark,
            args.log_dir,
            table,
            start_time=args.start_time,
            end_time=args.end_time,
            quarantine_dir=args.quarantine,
            compact_every=args.compact_every,
        )
        summary = {
            "driver": "batch",
            "epochs_applied": len(result.epochs_applied),
            "epochs_skipped": len(result.epochs_skipped),
        }
    if args.final_compact:
        table.compact()
    summary.update(
        {
            "version": table.current_version(),
            "rows": table.state().count(),
            "committed_epochs": len(table.committed_epochs()),
        }
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
