"""The metric catalogue: every name the benchmark emits, with its unit.

``END_TO_END`` is what a run prints with ``--trace 0`` and
``PER_LAYER`` what it prints with ``--trace 1``; both lists are mirrored in
``BENCHMARK.json``. Every workload emits every metric of the list it
prints. A per-layer metric of a layer the workload leaves idle reads 0, and
the printed table marks it "idle".
"""

from __future__ import annotations

END_TO_END = [
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_s.p50", "s"),
    ("peak_rss_mb", "MB"),
]

CURATE_STEPS = [
    ("tokens", "tokens_rolling_hash"),
    ("tokens", "tokens_dedupe_consecutive"),
    ("tokens", "pack_sequences"),
    ("tokens", "chunk_sequences"),
    ("dedupe", "minhash_lsh_pairs"),
    ("dedupe", "simhash_near_dup_pairs"),
    ("dedupe", "dup_clusters"),
    ("similarity", "embedding_near_dup_pairs"),
    ("similarity", "batch_topk_pandas"),
    ("multimodal", "decode_meta"),
    ("multimodal", "extract_features"),
]

# steps whose implementation hands rows to Python workers over Arrow
PYTHON_STEPS = [
    "tokens_rolling_hash",
    "tokens_dedupe_consecutive",
    "pack_sequences",
    "batch_topk_pandas",
    "decode_meta",
    "extract_features",
]

PER_LAYER = [
    # streaming.replay
    ("replay.apply_epoch_s.p50", "s"),
    ("replay.apply_epoch_task_s", "s"),
    ("replay.apply_epoch_driver_s", "s"),
    ("replay.merge_shuffle_write_bytes", "B"),
    ("replay.merge_spill_bytes", "B"),
    ("replay.merge_task_skew", "ratio"),
    ("replay.refresh_views_s.p50", "s"),
    ("replay.quarantine_rows", "count"),
    ("replay.rerun_epochs_skipped", "count"),
    # tableio.snapshot
    ("snapshot.compact_s", "s"),
    ("snapshot.compact_task_s", "s"),
    ("snapshot.compact_shuffle_bytes", "B"),
    ("snapshot.bytes_written_per_event", "B/event"),
    ("snapshot.files_written", "count"),
    ("snapshot.live_bytes_per_row", "B/row"),
    ("snapshot.lookup_s.p50", "s"),
    ("snapshot.lookup_bytes_read", "B"),
    ("snapshot.lookup_rows_scanned_per_row_returned", "ratio"),
    ("snapshot.delta_depth_at_lookup.mean", "count"),
    ("snapshot.maybe_compact_runs", "count"),
    ("snapshot.maybe_compact_s", "s"),
    # operators.incremental_agg
    ("incremental_agg.refresh_task_s", "s"),
    ("incremental_agg.cdf_rows_per_epoch_event", "ratio"),
    # quality.verify
    ("verify.state_fingerprint_s", "s"),
    # functions.*
    *[(f"{mod}.{fn}_s", "s") for mod, fn in CURATE_STEPS],
    *[(f"python.{fn}.arrow_bytes_sent", "B") for fn in PYTHON_STEPS],
    *[(f"python.{fn}.arrow_bytes_received", "B") for fn in PYTHON_STEPS],
    ("python.arrow_bytes_sent", "B"),
    ("python.arrow_bytes_received", "B"),
    ("curate.persisted_rdds_left", "count"),
    # whole engine and set-up
    ("spark.task_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.cpu_busy_share", "share"),
    ("session.start_s", "s"),
    ("setup.warmup_s", "s"),
    ("trace.top_span_coverage", "share"),
]

UNITS = dict(END_TO_END + PER_LAYER)
