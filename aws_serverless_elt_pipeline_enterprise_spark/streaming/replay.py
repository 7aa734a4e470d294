"""CDC replay: tail the change log and merge every epoch exactly once.

This is the Spark restatement of the reference's whole pipeline (SURVEY.md
§3.1): the four network hops (S3 -> Lambda -> SQS -> Lambda -> S3) collapse
into one lineage per micro-batch::

    read epoch -> quarantine split -> dedup(doc_id, seq)
               -> per-key LWW reduce (salted)
               -> MERGE into snapshot table (epoch-idempotent commit)

Exactly-once: the TABLE is the source of truth (commit-then-checkpoint
ordering). An epoch whose ID is already in the latest manifest is skipped,
so killing the job between table commit and checkpoint write — the classic
crash window — reproduces the same final state on resume. This mirrors the
reference's verify-idempotency golden property (Makefile:344-359: invoke
ingest twice with the identical event; the second must skip).

Three drivers are provided, all through the one ``apply_epoch`` pipeline:
  * ``run_replay``            — batch loop over epoch dirs (foreachBatch
                                semantics, deterministic epoch order, full
                                schema-evolution support), optionally
                                restricted to a batch-offset and/or
                                event-time window.
  * ``redrive_quarantine``    — quarantined rows, optionally repaired,
                                merged back under a content-addressed epoch.
  * ``run_replay_streaming``  — genuine Structured Streaming: file source +
                                watermarked dropDuplicatesWithinWatermark +
                                foreachBatch merge; availableNow (drain,
                                then return) or, given ``stop_when``, a
                                processingTime tail. Restarts with the
                                wider schema when the log grows one
                                mid-stream.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.operators.dedup import (
    dedup_events_stream,
)
from aws_serverless_elt_pipeline_enterprise_spark.operators.normalize import (
    split_quarantine,
)
from aws_serverless_elt_pipeline_enterprise_spark.quality.gates import repair_ntok
from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import list_batches
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import (
    SnapshotTable,
    _sql_str,
    unify_schemas,
)

@dataclass
class ReplayResult:
    epochs_applied: list[str] = field(default_factory=list)
    epochs_skipped: list[str] = field(default_factory=list)
    lineage: list[dict] = field(default_factory=list)
    quarantined: int = 0


def _quarantine_write(bad: DataFrame, quarantine_dir: str, epoch_id: str) -> None:
    """Epoch-idempotent reject sink (the DLQ translation, D2): one dir per
    epoch, atomically renamed into place, skipped if already present. The
    staging dir is named so a crash-orphaned one can never match the
    ``epoch=*`` redrive glob (a partial dir would fail or double-feed the
    redrive)."""
    path = os.path.join(quarantine_dir, f"epoch={epoch_id}")
    if os.path.exists(path):
        return
    # clean epochs skip the write entirely: an unconditional write costs
    # a second full scan of the batch (the inverse filter) AND leaves an
    # empty epoch dir that every later redrive lists and parquet-reads —
    # at one micro-batch/sec that is ~86k empty dirs a day. isEmpty() is
    # a limit-1 probe that short-circuits on the first reject.
    if bad.isEmpty():
        return
    tmp = os.path.join(quarantine_dir, f".tmp-epoch={epoch_id}")
    bad.write.mode("overwrite").parquet(tmp)
    os.replace(tmp, path)


def _write_gate_verdict(
    table: SnapshotTable, epoch_id: str, failures: list[str], metrics: dict
) -> None:
    """Failed-epoch verdict artifact: the engine aborts the commit
    (stronger than the reference's quarantine-marker + SNS notify,
    workflow_ge_gate/main.tf:173-211) but ops still need to see WHY an
    epoch is absent — one JSON verdict per failed epoch under the table
    root."""
    vdir = os.path.join(table.root, "verdicts")
    os.makedirs(vdir, exist_ok=True)
    path = os.path.join(vdir, f"epoch={epoch_id}.json")
    tmp = path + f".tmp{uuid.uuid4().hex[:6]}"
    with open(tmp, "w") as f:
        json.dump(
            {"epoch_id": epoch_id, "status": "aborted", "failures": failures,
             "metrics": {k: int(v) for k, v in metrics.items()}},
            f,
        )
    os.replace(tmp, path)


def _notify_gate_failure(
    table: SnapshotTable,
    epoch_id: str,
    failures: list[str],
    metrics: dict,
    notify=None,
) -> None:
    """Gate-failure notification hook (T5 parity with the reference's SNS
    publish on quarantine, workflow_ge_gate/main.tf:193-211): one JSONL
    row appended to a notifications log under the table root — an ops
    surface a poller/alerter can tail — plus an optional user callback
    (the SNS/Slack/pager integration point). A callback error must never
    mask the gate failure itself, so it surfaces as a RuntimeWarning and
    the gate's ValueError still raises."""
    import time as _time

    npath = os.path.join(table.root, "notifications.jsonl")
    rec = {
        "epoch_id": epoch_id,
        "event": "dq_gate_failed",
        "failures": failures,
        "metrics": {k: int(v) for k, v in metrics.items()},
        "wall_time": _time.time(),
    }
    # one os.write on an O_APPEND fd: POSIX appends the whole buffer
    # atomically, so two concurrent streaming drivers notifying on the
    # same table cannot interleave partial lines in the JSONL a poller
    # tails (buffered open('a').write gives no such guarantee)
    fd = os.open(npath, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    try:
        os.write(fd, (json.dumps(rec) + "\n").encode())
    finally:
        os.close(fd)
    if notify is not None:
        try:
            notify(epoch_id, failures, dict(metrics))
        except Exception as e:
            import warnings

            warnings.warn(
                f"gate-failure notify callback failed for epoch {epoch_id}: "
                f"{e!r}",
                RuntimeWarning,
                stacklevel=2,
            )


def _gated_observe(
    table: SnapshotTable,
    good: DataFrame,
    epoch_id: str,
    dq_fail_on_corrupt: bool,
    notify=None,
):
    """Attach the DQ Observation to the batch and return (observed_df,
    gate_check). The gate rides the merge's own write job (zero extra
    scans) and runs pre-manifest, so a failure aborts the commit
    transactionally. Shared by the batch (apply_epoch) and streaming
    (run_replay_streaming) paths — round 2 had the gate only on batch.

    Null doc_id is NOT re-checked here: split_quarantine already routed
    every null-key row to quarantine, so a post-split check could never
    fire (dead-check trap) — the invariant is owned by the split."""
    obs = Observation(f"dq_{epoch_id}_{uuid.uuid4().hex[:6]}")
    observed = good.observe(
        obs,
        F.expr("count(1) AS row_count"),
        # NULL n_tok with tokens present counts as a mismatch (a bare !=
        # is NULL there and count_if would skip the corrupt row)
        F.expr(
            "count_if(op IN ('insert', 'update')"
            " AND (n_tok IS NULL OR n_tok != size(tokens))) AS ntok_mismatch"
        ),
    )

    def gate_check() -> None:
        m = obs.get
        failures = []
        if dq_fail_on_corrupt and m["ntok_mismatch"] > 0:
            failures.append(f"{m['ntok_mismatch']} rows with n_tok != size(tokens)")
        if failures:
            _write_gate_verdict(table, epoch_id, failures, dict(m))
            _notify_gate_failure(table, epoch_id, failures, dict(m), notify)
            raise ValueError(f"DQ gate failed for epoch {epoch_id}: {failures}")

    return observed, gate_check


def apply_epoch(
    table: SnapshotTable,
    events: DataFrame,
    epoch_id: str,
    quarantine_dir: str | None = None,
    dq_fail_on_corrupt: bool = False,
    notify=None,
) -> dict | None:
    """One epoch through the full pipeline. Returns lineage or None if the
    epoch was already committed."""
    if table.has_epoch(epoch_id):
        return None
    good, bad = split_quarantine(events)
    if quarantine_dir is not None:
        _quarantine_write(bad, quarantine_dir, epoch_id)

    observed, gate_check = _gated_observe(
        table, good, epoch_id, dq_fail_on_corrupt, notify
    )
    repaired = repair_ntok(observed)

    # No pre-reduction: the merge appends the batch as a raw delta, and
    # dedup + LWW run once in the read/compaction resolve (one
    # partial-aggregable max_by; map-side combine collapses duplicates
    # and hot keys before the exchange). lww_reduce/dedup_events remain
    # as standalone operators for window-shaped paths and the streaming
    # state story.
    lineage = table.merge_reduced(
        repaired.drop("batch_id"), epoch_id, pre_commit=gate_check
    )
    # a past gate failure's verdict is obsolete once the epoch commits —
    # a lingering 'aborted' marker for a committed epoch would send ops
    # chasing a ghost
    stale_verdict = os.path.join(table.root, "verdicts", f"epoch={epoch_id}.json")
    if os.path.exists(stale_verdict):
        os.remove(stale_verdict)
    return lineage


def run_replay(
    spark: SparkSession,
    log_dir: str,
    table: SnapshotTable,
    start_batch: int = 0,
    end_batch: int | None = None,
    start_time: str | None = None,
    end_time: str | None = None,
    quarantine_dir: str | None = None,
    compact_every: int | None = None,
    dq_fail_on_corrupt: bool = False,
    notify=None,
    maintain=None,
    maintain_every: int = 1,
) -> ReplayResult:
    """Batch replay over epoch dirs (ordered). Resumable from any point:
    the committed-epoch set in the table manifest is the checkpoint, so
    an epoch is skipped exactly when THIS table already holds it.

    Window (operator T1/T2): only the epochs in
    [``start_batch``, ``end_batch``] (offsets into the ordered batch
    list, both inclusive) and, when ``start_time``/``end_time`` are
    given, only those whose EVENT-TIME range intersects
    [``start_time``, ``end_time``]; the rest are reported as skipped.
    The reference copies S3 objects whose LastModified falls in a
    trailing window to re-fire ingest (workflows/replay/app.py:36-96,
    default trailing 24h); the analog here selects whole batch dirs by
    a limit-1 probe of the window predicate (column-pruned, and parquet
    min/max stats make it a metadata read). Whole-batch granularity
    mirrors the reference's object granularity AND keeps epoch IDs
    stable so the exactly-once skip set still applies.

    ``maintain``: optional list of incrementally maintained views
    (``MaterializedAggregate``, ``SecondaryIndex``, ``CdfExporter``)
    kept in lockstep with the table — each is refreshed after every
    ``maintain_every``-th applied epoch (refreshes are span-based on
    the view's own bookmark, so a K>1 cadence folds K epochs into ONE
    change-feed diff — the diff's fixed cost, two bucket-pruned state
    resolves of the touched keys, is paid once per span instead of
    once per epoch) and once more at the end, so views created or
    re-attached mid-history catch up even on a run where every epoch
    skips. View refreshes are themselves
    exactly-once (ledger-deduped epochs keyed on the consumed version
    span), so a crash-and-rerun never double-applies a delta."""
    # the probe runs inside Spark so both sides parse in the session
    # timezone
    window = " AND ".join(
        f"event_time {op} to_timestamp({_sql_str(t)})"
        for op, t in ((">=", start_time), ("<=", end_time))
        if t is not None
    )
    result = ReplayResult()
    batches = list_batches(log_dir)
    for path in batches[start_batch : None if end_batch is None else end_batch + 1]:
        epoch_id = os.path.basename(path)
        if table.has_epoch(epoch_id):
            result.epochs_skipped.append(epoch_id)
            continue
        events = spark.read.parquet(path)
        if window and events.filter(window).isEmpty():
            result.epochs_skipped.append(epoch_id)
            continue
        lineage = apply_epoch(
            table, events, epoch_id, quarantine_dir=quarantine_dir,
            dq_fail_on_corrupt=dq_fail_on_corrupt, notify=notify,
        )
        if lineage is not None:
            result.epochs_applied.append(epoch_id)
            result.lineage.append(lineage)
        if compact_every is not None:
            table.maybe_compact(max_deltas=compact_every)
        if maintain and len(result.epochs_applied) % max(1, maintain_every) == 0:
            refresh_views(maintain)
    # catch-up pass: a view attached after the table already had history
    # (or a run where every epoch skipped) still converges; no-op when
    # the view's bookmark is current
    if maintain and table.current_version() is not None:
        refresh_views(maintain)
    return result


def refresh_views(views) -> None:
    """Refresh maintained views, computing each distinct CDF diff ONCE.

    Views over the same source, at the same bookmark, consuming the same
    images mode (e.g. a MaterializedAggregate and a SecondaryIndex kept
    in lockstep) would each re-run the identical ``read_changes_since``
    span — whose two bucket-pruned LWW resolves are the dominant refresh
    cost. Here the group's diff is computed once, persisted, and handed
    to every member via ``refresh(changes=, to_version=)``. Every view
    exposes ``source``, ``cdf_bookmark()`` and ``cdf_images``; singleton
    groups, bootstrap spans and no-op spans fall back to the view's own
    ``refresh()``, which handles those cases already."""
    solo = []
    groups: dict[tuple, list] = {}
    for v in views:
        groups.setdefault((id(v.source), v.cdf_bookmark(), v.cdf_images), []).append(v)
    for (_, bm, img), vs in groups.items():
        if len(vs) == 1 or bm is None:
            solo.extend(vs)
            continue
        changes, to_v, boot = vs[0].source.read_changes_since(bm, images=img)
        if boot or to_v == bm:
            solo.extend(vs)
            continue
        changes = changes.persist()
        try:
            for v in vs:
                v.refresh(changes=changes, to_version=to_v)
        finally:
            changes.unpersist()
    for v in solo:
        v.refresh()


def redrive_quarantine(
    spark: SparkSession,
    quarantine_dir: str,
    table: SnapshotTable,
    fix=None,
    epochs: list[str] | None = None,
) -> dict | None:
    """DLQ redrive (operator T3, reference scripts/redrive.sh): pull
    quarantined envelopes, optionally apply a ``fix(df) -> df`` repair,
    and push the now-valid rows back through the normal merge path under a
    dedicated epoch. Rows still invalid stay quarantined.

    Every redrive re-reads the WHOLE quarantine set by design: that is
    what lets a corrected ``fix`` re-repair rows a buggy earlier fix
    already pushed (the content-addressed epoch id makes re-application
    of unchanged output a no-op skip, and the merge's seq guard makes
    re-application of already-won rows harmless). When the quarantine
    history is large and only fresh epochs matter, pass ``epochs`` (dir
    names like ``epoch=stream-x-7``) to bound the read."""
    if not os.path.isdir(quarantine_dir):
        return None
    epoch_dirs = sorted(
        d
        for d in os.listdir(quarantine_dir)
        if d.startswith("epoch=") and os.path.isdir(os.path.join(quarantine_dir, d))
    )
    if epochs is not None:
        want = set(epochs)
        epoch_dirs = [d for d in epoch_dirs if d in want]
    if not epoch_dirs:
        return None
    paths = [os.path.join(quarantine_dir, d) for d in epoch_dirs]
    # dirs quarantined before a schema evolution store narrower types /
    # miss columns; plain inference picks ONE arbitrary footer (narrow
    # pick -> scan crash on the wide files, or silent column drop the
    # other way). Unify the per-dir schemas exactly like the log read
    # path does — sharing its per-dir schema cache, so repeated redrives
    # cost footer reads only for NEW epoch dirs — then read with the
    # explicit widest schema (missing -> NULL, narrow ints up-cast).
    unified = _unify_dir_schemas(
        spark, paths, os.path.join(quarantine_dir, "_schema_cache.json")
    )
    df = spark.read.schema(unified).parquet(*paths).drop("_reject_reason")
    if fix is not None:
        df = fix(df)
    # Epoch id derives from the POST-FIX content (order-independent hash
    # of EVERY column, payload included), not from the dir names or a
    # table-state counter: re-running the identical redrive is a no-op
    # skip, while a CORRECTED fix produces different rows -> different id
    # -> applies. Two aliasing traps live here, both hit in practice:
    # (a) hashing only the (op, doc_id, seq) envelope aliased any two
    # fixes differing only in payload; (b) xxhash64 over bare columns
    # SKIPS null inputs in its seed chain, so (tokens=[1], n_tok=null)
    # and (tokens=null, n_tok=1) hash identically (verified) — a
    # corrected fix that moves a value between a null and non-null
    # column would be skipped. to_json(struct(...)) encodes field names
    # and nulls structurally, so no null-shift can alias.
    row = df.agg(
        # decimal(38,0) sum: ANSI mode errors on long overflow, and a sum
        # of 64-bit hashes overflows immediately
        F.sum(
            F.xxhash64(F.to_json(F.struct(*df.columns))).cast("decimal(38,0)")
        ).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    digest = hashlib.sha256(f"{row['h']}|{row['n']}".encode()).hexdigest()[:12]
    epoch_id = f"redrive-{digest}"
    return apply_epoch(table, df, epoch_id, quarantine_dir=None)


def expire_quarantine(
    quarantine_dir: str, keep_last: int = 64, tmp_ttl_seconds: int = 3600
) -> dict:
    """Quarantine retention (the counterpart of the table's
    ``expire_snapshots``): keep only the newest ``keep_last``
    ``epoch=*`` dirs (by mtime — epoch NAMES don't sort chronologically
    across checkpoint instances), and sweep ``.tmp-epoch=*`` staging
    dirs orphaned by crashes once they are older than ``tmp_ttl_seconds``
    (never younger — a concurrent writer's in-flight staging dir must
    survive; the atomic rename into place bumps nothing under tmp).
    Without this the quarantine root grows one dir per rejecting epoch
    forever — the same unbounded-growth failure expire_snapshots fixed
    for manifests.

    Safe against redrive's idempotency: the redrive epoch id is
    content-addressed over whatever dirs remain, so expiring history
    simply produces a different (smaller) redrive set with a different
    id, and re-application of rows the table already has is a no-op
    through the merge's seq guard. Do not run concurrent with a redrive
    that must see the expired epochs."""
    import time as _time

    out: dict = {"removed_epochs": [], "removed_tmp": []}
    if not os.path.isdir(quarantine_dir):
        return out
    epoch_dirs = [
        d
        for d in os.listdir(quarantine_dir)
        if d.startswith("epoch=") and os.path.isdir(os.path.join(quarantine_dir, d))
    ]
    by_age = sorted(
        epoch_dirs, key=lambda d: os.path.getmtime(os.path.join(quarantine_dir, d))
    )
    for d in by_age[: max(0, len(by_age) - max(1, keep_last))]:
        shutil.rmtree(os.path.join(quarantine_dir, d), ignore_errors=True)
        out["removed_epochs"].append(d)
    now = _time.time()
    for d in os.listdir(quarantine_dir):
        p = os.path.join(quarantine_dir, d)
        if (
            d.startswith(".tmp-epoch=")
            and os.path.isdir(p)
            and now - os.path.getmtime(p) > tmp_ttl_seconds
        ):
            shutil.rmtree(p, ignore_errors=True)
            out["removed_tmp"].append(d)
    return out


def _stream_instance(checkpoint_dir: str) -> str:
    """Stable per-checkpoint-lifetime instance id, stored as a marker file
    inside the checkpoint dir. Epoch ids embed it, so deleting/repointing
    the checkpoint (which restarts Spark's batch numbering at 0) yields a
    FRESH epoch-id namespace instead of colliding with the old 'stream-N'
    ids — a collision would silently skip micro-batches containing new
    files. The numeric batch suffix stays last, so the manifest's
    EpochLedger still compacts each instance to an O(1) watermark."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, "_instance")
    if not os.path.exists(marker):
        tmp = marker + f".tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            f.write(uuid.uuid4().hex[:12])
        os.replace(tmp, marker)
    with open(marker) as f:
        return f.read().strip()


def unified_log_schema(spark: SparkSession, log_dir: str, cache_dir: str | None = None):
    """Widest-common schema across every batch dir currently in the log
    (driver-side parquet-footer reads only). Spark's parquet reader fills
    columns missing from older files with NULL and up-casts narrower
    stored ints to the requested wider type, so one unified read schema
    covers an additively-evolving log.

    ``cache_dir`` (typically the stream's checkpoint dir) holds a
    log-level schema manifest: per-batch schema JSON keyed by batch dir
    name, so repeated calls — stream start AND the per-micro-batch
    evolution guard of ``run_replay_streaming`` — read footers only for
    batch dirs not seen before. Without the cache this was O(batches)
    serial driver I/O per stream start. Batch dirs are immutable once
    renamed into the log (the writer contract), so the cache never
    staleness-checks."""
    paths = list_batches(log_dir)
    if not paths:
        return None  # empty log: caller no-ops (matches run_replay)
    cache_file = None
    if cache_dir is not None:
        os.makedirs(cache_dir, exist_ok=True)
        cache_file = os.path.join(cache_dir, "_schema_cache.json")
    return _unify_dir_schemas(spark, paths, cache_file)


def _unify_dir_schemas(spark: SparkSession, paths: list[str], cache_file=None):
    """Widest-common schema over immutable parquet dirs, with an optional
    per-dir schema-JSON cache so repeated calls read footers only for
    dirs not seen before (shared by the log read path and the quarantine
    redrive — both were otherwise O(dirs) serial driver reads per call).
    Cache entries for since-expired dirs are harmless: lookups are keyed
    by the dirs actually present."""
    import pyspark.sql.types as T

    cache: dict[str, str] = {}
    if cache_file is not None and os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    dirty = False
    schema = None
    for p in paths:
        name = os.path.basename(p)
        if name in cache:
            s = T.StructType.fromJson(json.loads(cache[name]))
        else:
            s = spark.read.parquet(p).schema  # one footer read, new dirs only
            cache[name] = json.dumps(s.jsonValue())
            dirty = True
        # self-unify canonicalizes nullability so outgrown-schema equality
        # checks can't oscillate on nullable flags
        schema = unify_schemas(schema, s) if schema is not None else unify_schemas(s, s)
    if cache_file is not None and dirty:
        tmp = cache_file + f".tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_file)
    return schema


def _memoized_log_schema(spark: SparkSession, log_dir: str, cache_dir: str):
    """Closure returning the current unified log schema, memoized on the
    batch-dir name tuple: the per-micro-batch evolution guard must be
    O(new dirs) — listdir + a tuple compare — not a cache-file parse +
    per-dir StructType.fromJson + unify on every trigger (O(all dirs),
    unbounded as the log ages)."""
    memo: dict = {"names": None, "schema": None}

    def current() -> object:
        names = tuple(os.path.basename(p) for p in list_batches(log_dir))
        if names != memo["names"]:
            memo["schema"] = unified_log_schema(spark, log_dir, cache_dir=cache_dir)
            memo["names"] = names
        return memo["schema"]

    return current


class SchemaEvolvedRestart(Exception):
    """Internal control-flow signal: the log's unified schema outgrew the
    running stream's read schema; fail the micro-batch (uncommitted) and
    restart the stream with the wider schema."""


def run_replay_streaming(
    spark: SparkSession,
    log_dir: str,
    table: SnapshotTable,
    checkpoint_dir: str,
    watermark_ttl: str = "30 days",
    quarantine_dir: str | None = None,
    dq_fail_on_corrupt: bool = False,
    notify=None,
    poll_interval_sec: float = 1.0,
    stop_when=None,
    maintain=None,
    maintain_every: int = 1,
) -> None:
    """Structured Streaming replay: file source over the whole log dir,
    watermarked streaming dedup, merge per micro-batch in foreachBatch
    through the ONE epoch pipeline (``apply_epoch``: quarantine split,
    transactional DQ gate, repair, idempotent merge, stale-verdict
    cleanup). Spark's checkpoint tracks source offsets; the table's
    epoch set de-dups the foreachBatch crash-replay window. Epoch ids
    are ``stream-<instance>-<batch>`` (see ``_stream_instance``).

    Trigger: with ``stop_when=None`` an availableNow pass processes
    everything available, then returns. With a callable, the stream is
    a CONTINUOUS processingTime tail (every ``poll_interval_sec``);
    ``stop_when()`` is polled as often and returning True drains the
    in-flight micro-batch and stops (tests / bounded runs). A tail polls
    an empty log the same way until it gets its first batch dir; an
    availableNow pass over an empty log returns at once.

    Schema evolution: the source reads with the unified (widest) schema
    across all batch dirs, so a mid-log additive column / int widening
    flows through (mirrors the batch path's unify_schemas; reference
    crawler policy UPDATE_IN_DATABASE, glue_catalog/main.tf:77-79). A
    batch dir renamed into the log after that schema was computed — any
    time in a tail, or between the schema read and the source's initial
    listing in an availableNow pass — would otherwise be silently
    narrow-read (new column nulled, epoch committed: unrecoverable). So
    every micro-batch FIRST re-checks the log's unified schema (cheap:
    memoized on the batch-dir names, footers cached in the checkpoint
    dir). If the log outgrew the read schema, the micro-batch fails
    BEFORE any merge — Spark does not commit its offsets — and the
    driver restarts the stream with the wider schema, re-reading the
    failed files. The guard is race-free because it runs strictly AFTER
    the source fixed the micro-batch's file list. Errors other than the
    evolution signal propagate.

    ``maintain``/``maintain_every``: views refreshed after every K-th
    micro-batch (span-based bookmarks fold the skipped batches into the
    next refresh; each refresh is exactly-once on the view's own span
    ledger, so a foreachBatch crash-replay cannot double-apply a delta),
    and once more on return, so the views are current when the driver
    returns — including a view attached after the table had history or
    a resume where no micro-batch fired."""
    import time as _time

    current_log_schema = _memoized_log_schema(spark, log_dir, checkpoint_dir)
    if stop_when is None:
        trigger = {"availableNow": True}
    else:
        trigger = {"processingTime": f"{poll_interval_sec} seconds"}
    while True:
        schema = current_log_schema()
        if schema is None:
            if stop_when is None or stop_when():
                break
            _time.sleep(poll_interval_sec)
            continue
        instance = _stream_instance(checkpoint_dir)
        # per-stream-start state, read by the foreachBatch body below
        evolved = {"v": False}
        applied = {"n": 0}

        def merge(batch_df: DataFrame, batch_id: int) -> None:
            latest = current_log_schema()
            if latest is not None and unify_schemas(schema, latest) != schema:
                # the driver-side flag, not the exception text, decides
                # restart vs surface
                evolved["v"] = True
                raise SchemaEvolvedRestart(
                    f"log schema evolved beyond the stream's read schema: "
                    f"{schema.simpleString()} -> {latest.simpleString()}"
                )
            apply_epoch(
                table,
                batch_df,
                f"stream-{instance}-{batch_id}",
                quarantine_dir=quarantine_dir,
                dq_fail_on_corrupt=dq_fail_on_corrupt,
                notify=notify,
            )
            applied["n"] += 1
            if maintain and applied["n"] % max(1, maintain_every) == 0:
                refresh_views(maintain)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "64")
            .parquet(os.path.join(log_dir, "batch_*"))
        )
        q = (
            dedup_events_stream(stream, ttl=watermark_ttl)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )
        try:
            while q.isActive and not (stop_when is not None and stop_when()):
                q.awaitTermination(timeout=poll_interval_sec)
            # graceful drain: stop() waits for the in-flight micro-batch
            # (the table's epoch set guards replays); on a query that
            # already ended, awaitTermination surfaces whatever ended it
            # — also when it died between polls
            q.stop()
            q.awaitTermination()
        except Exception:
            if not evolved["v"]:
                raise
        if not evolved["v"]:
            break
    if maintain and table.current_version() is not None:
        refresh_views(maintain)
