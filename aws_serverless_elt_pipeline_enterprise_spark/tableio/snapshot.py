"""Snapshot table: an Iceberg-semantics parquet sink for the CDC engine.

The MERGE target is a *bucketed merge-on-read snapshot table* with the
externally visible semantics an Iceberg table would give:

  * atomic commits          — a version manifest (JSON) names the exact
                              files of the snapshot; the manifest file
                              itself is CLAIMED exclusively (hard-link
                              create, fails if the version exists — the
                              local-FS analogue of an object store's
                              conditional PUT / Iceberg's catalog CAS).
                              That link is the commit point: the current
                              version is the largest manifest name, with
                              no pointer file beside it. Readers never
                              see a partial commit.
  * optimistic concurrency  — two writers racing for the same version:
                              exactly one wins the claim. Every commit
                              runs through ``_commit_loop``: each attempt
                              takes ONE manifest snapshot, re-checks the
                              epoch ledger, lets the commit's ``build``
                              rebase onto the snapshot (or refuse with
                              ``CommitConflictError``) and claims
                              snapshot.version + 1. Merge deltas rebase
                              unless a rebucket changed the hash in
                              between; compactions rebase over merge
                              deltas (the live-stream + scheduled-
                              rewrite deployment) but not over a changed
                              bucket map or folded input deltas; a
                              rebucket never rebases. A refused commit
                              stays uncommitted and re-running it
                              against fresh state converges — Iceberg's
                              validation semantics.
  * epoch-idempotent commit — each manifest carries the cumulative set of
                              committed epoch IDs; re-merging an already
                              committed epoch is a no-op. This translates
                              the reference's DynamoDB conditional-put
                              idempotency lock (lambdas/ingest/app.py:84-126,
                              pk = s3://bucket/key#etag) into the sink.
  * time travel             — every version's manifest is retained;
                              ``read(version=v)`` reads any old snapshot
                              (Iceberg ``VERSION AS OF``).
  * schema evolution        — additive nullable columns and integer
                              widening; the manifest schema is the widest
                              seen so far and old files are up-cast on read.
  * append-only merges      — a merge writes only its batch, as one delta
                              that every bucket's read resolves against
                              (per-key last-writer-wins); all stored files
                              carry forward by reference. At 10^10 rows
                              this is what keeps a small CDC batch from
                              rewriting 100 TB: cost is O(batch), not
                              O(table). ``compact()`` folds the delta
                              chain into files bucketed on the key, so
                              lookups and CDF diffs read only the buckets
                              they need.

Layout on disk::

    root/
      commits/c_<ver>_<tag>/_bucket=<k>/part-*.parquet
      manifests/v<ver>.json       <- claimed by exclusive link (commit point)

The table stores one internal column ``_seq`` — the sequence number of the
last applied change per key — which makes merge-apply order-independent
and replay-idempotent: applying any subset of already-applied events can
never move a row backwards (last-writer-wins on ``(_seq, side)``).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_COMMIT_ATTEMPTS = 16  # lost version claims before _commit_loop gives up


class CommitConflictError(Exception):
    """A concurrent commit won the race this commit needed.

    ``_commit_manifest`` raises it when the exclusive version-file claim
    fails, and ``_commit_loop`` retries on a fresh snapshot. A commit's
    ``build`` raises it when that snapshot invalidates the commit: a
    merge delta hashed before a concurrent rebucket, a compaction whose
    bucket map changed or whose input deltas were folded, a rebucket
    with any intervening commit. The loop raises it
    after ``_COMMIT_ATTEMPTS`` lost claims. In every case the epoch stays
    UNCOMMITTED — the data dir is an unreferenced orphan (vacuumable by
    ``expire_orphans``) and re-running against fresh state converges.
    """


class EpochLedger:
    """Compact EXACT set of committed epoch IDs.

    IDs shaped '<prefix>-<int>' (or a bare int, no leading zeros) are kept
    per-prefix as a contiguous high-water-mark plus a sparse set of
    not-yet-contiguous extras; anything else lives in an exact side set.
    For the monotone common case (stream-0, stream-1, ... / batch replay
    indices) the manifest representation is O(1) in epoch count — at 10^6
    epochs the old cumulative list made EVERY manifest carry the full
    history, an O(n^2) total-bytes write path. Membership stays exact, so
    the exactly-once guarantee is unchanged.
    """

    def __init__(self, data: list | dict | None = None):
        self.watermarks: dict[str, int] = {}
        self.extras: dict[str, set[int]] = {}
        self.other: set[str] = set()
        if isinstance(data, list):  # legacy manifest format: plain list
            for e in data:
                self.add(e)
        elif isinstance(data, dict):
            self.watermarks = {
                k: int(v) for k, v in data.get("watermarks", {}).items()
            }
            self.extras = {
                k: set(int(x) for x in v)
                for k, v in data.get("extras", {}).items()
                if v
            }
            self.other = set(data.get("other", []))

    @staticmethod
    def _parse(eid: str) -> tuple[str, int] | None:
        # Alias-safety is the invariant: two DIFFERENT epoch ids must
        # never map to the same (key, n) — a membership false positive
        # is a silently skipped epoch. Canonical suffixes key by the
        # prefix; ZERO-PADDED suffixes (batch_00042 — the replay
        # driver's real naming, which previously fell to the O(n)
        # 'other' set and reinstated the quadratic manifest growth this
        # class exists to prevent) key by (prefix, pad width), encoded
        # with a \x00 separator no real id can contain ('e-07' still
        # cannot collide with 'e-7'). '_'-separated ids keep the
        # separator in the key so 'a_1' cannot alias 'a-1'. Non-ASCII
        # digits ('x-٤') must not alias ASCII ids or crash int().
        def canon(s: str) -> bool:
            return (
                s.isascii()
                and s.isdigit()
                and (s == "0" or not s.startswith("0"))
            )

        def padded(s: str) -> bool:
            return s.isascii() and s.isdigit() and len(s) > 1 and s[0] == "0"

        if "\x00" in eid:
            return None  # keeps the pad-key encoding collision-free
        if canon(eid):
            return "", int(eid)
        i = max(eid.rfind("-"), eid.rfind("_"))
        # prefix must be NON-EMPTY: '-0' would otherwise alias the
        # bare id '0' under ('', 0) (hypothesis-found counterexample)
        if i <= 0:
            return None
        pre, sep, suf = eid[:i], eid[i], eid[i + 1 :]
        key = pre if sep == "-" else pre + "_"
        if canon(suf):
            return key, int(suf)
        if padded(suf):
            return f"{key}\x00pad{len(suf)}", int(suf)
        return None

    def add(self, eid: str) -> None:
        eid = str(eid)
        p = self._parse(eid)
        if p is None:
            self.other.add(eid)
            return
        pre, n = p
        wm = self.watermarks.get(pre, -1)
        if n <= wm:
            return
        ex = self.extras.setdefault(pre, set())
        ex.add(n)
        while wm + 1 in ex:
            wm += 1
            ex.discard(wm)
        self.watermarks[pre] = wm
        if not ex:
            self.extras.pop(pre, None)

    def __contains__(self, eid: object) -> bool:
        eid = str(eid)
        p = self._parse(eid)
        if p is None:
            return eid in self.other
        pre, n = p
        return n <= self.watermarks.get(pre, -1) or n in self.extras.get(pre, set())

    def __len__(self) -> int:
        return (
            sum(w + 1 for w in self.watermarks.values())
            + sum(len(s) for s in self.extras.values())
            + len(self.other)
        )

    def to_json(self) -> dict:
        return {
            "watermarks": dict(self.watermarks),
            "extras": {k: sorted(v) for k, v in self.extras.items()},
            "other": sorted(self.other),
        }


_INT_WIDTH = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FLOAT_WIDTH = {"float": 0, "double": 1}

# XXH64 (https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md)
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1
_SEED = 42  # Spark's xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes) -> int:
    """XXH64 of ``data`` as a signed 64-bit int (Spark's ``xxhash64``)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(_SEED + _P1 + _P2) & _M64, _SEED + _P2, _SEED, (_SEED - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _xxh_round(v[j], int.from_bytes(data[i : i + 8], "little"))
                i += 8
        acc = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            acc = ((acc ^ _xxh_round(0, x)) * _P1 + _P4) & _M64
    else:
        acc = _SEED + _P5
    acc = (acc + n) & _M64
    while i + 8 <= n:
        acc ^= _xxh_round(0, int.from_bytes(data[i : i + 8], "little"))
        acc = (_rotl(acc, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        acc ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M64
        acc = (_rotl(acc, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        acc ^= b * _P5 & _M64
        acc = _rotl(acc, 11) * _P1 & _M64
    acc = (acc ^ (acc >> 33)) * _P2 & _M64
    acc = (acc ^ (acc >> 29)) * _P3 & _M64
    acc ^= acc >> 32
    return acc - (1 << 64) if acc >> 63 else acc


def spark_xxhash64(value) -> int:
    """Spark's ``xxhash64(CAST(value AS STRING))`` computed on the driver:
    XXH64 (seed 42) of ``str(value)``'s UTF-8 bytes; NULL hashes to the
    seed."""
    if value is None:
        return _SEED
    return _xxh64(str(value).encode("utf-8"))


def _widen(a: T.DataType, b: T.DataType) -> T.DataType:
    """Resolve the common (widest) type for schema evolution. Widening
    is LOSSLESS-ONLY and within one numeric family (Iceberg's rule):
    int->long and float->double are exact, but long->float/double is
    NOT — a float holds 24 mantissa bits and a double 53, so a bigint
    counter above 2^53 would silently round (9007199254740993 reads
    back ...992) and the corrupted value would then win LWW merges.
    Cross-family evolution raises like any other incompatible pair."""
    if a == b:
        return a
    an, bn = a.simpleString(), b.simpleString()
    if an in _INT_WIDTH and bn in _INT_WIDTH:
        return a if _INT_WIDTH[an] >= _INT_WIDTH[bn] else b
    if an in _FLOAT_WIDTH and bn in _FLOAT_WIDTH:
        return a if _FLOAT_WIDTH[an] >= _FLOAT_WIDTH[bn] else b
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_widen(a.elementType, b.elementType), True)
    raise ValueError(f"incompatible schema evolution: {an} vs {bn}")


def unify_schemas(base: T.StructType, incoming: T.StructType) -> T.StructType:
    """Widest-common schema: shared fields widened, new fields appended
    nullable (additive evolution only — dropping columns is rejected, which
    mirrors the reference's LOG/UPDATE_IN_DATABASE crawler policy,
    infra/terraform/modules/glue_catalog/main.tf:77-79)."""
    fields: dict[str, T.StructField] = {f.name: f for f in base.fields}
    order = [f.name for f in base.fields]
    for f in incoming.fields:
        if f.name in fields:
            fields[f.name] = T.StructField(
                f.name, _widen(fields[f.name].dataType, f.dataType), True
            )
        else:
            fields[f.name] = T.StructField(f.name, f.dataType, True)
            order.append(f.name)
    return T.StructType([fields[n] for n in order])


# Served-path plans are built from SQL expression text: each pyspark Column
# call is ~13-19 Py4J round trips (session lookup, call-site origin, function
# lookup), while a whole ``selectExpr`` list or ``filter(str)`` is a handful.
# The parsed expressions are the same Catalyst trees, so results are
# unchanged.


def _q(name: str) -> str:
    """Backtick-quote an identifier for SQL expression text."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(s: str) -> str:
    """A SQL string literal holding ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_type(t: T.DataType) -> str:
    """A CAST target type, nested field names quoted."""
    if isinstance(t, T.StructType):
        return "struct<" + ",".join(
            f"{_q(f.name)}:{_sql_type(f.dataType)}" for f in t.fields
        ) + ">"
    if isinstance(t, T.ArrayType):
        return f"array<{_sql_type(t.elementType)}>"
    if isinstance(t, T.MapType):
        return f"map<{_sql_type(t.keyType)},{_sql_type(t.valueType)}>"
    return t.simpleString()


def _in_list(col: str, values) -> str | Column:
    """``col IN (values)`` as SQL text when every value is a str or int
    (the literal types ``F.lit`` would give them); else as a Column."""
    values = list(values)
    if not values:
        return "false"
    if all(isinstance(v, (str, int)) and not isinstance(v, bool) for v in values):
        lits = ", ".join(_sql_str(v) if isinstance(v, str) else str(v) for v in values)
        return f"{_q(col)} IN ({lits})"
    return F.col(col).isin(*values)


def _projection(cols: dict[str, tuple[str, T.DataType]], schema: T.StructType) -> list[str]:
    """``selectExpr`` text projecting ``cols`` (name -> (SQL text, type))
    onto ``schema``: cast where the type differs, NULL where missing."""
    out = []
    for f in schema.fields:
        sql, t = cols.get(f.name, ("NULL", None))
        if t != f.dataType:
            sql = f"CAST({sql} AS {_sql_type(f.dataType)})"
        out.append(f"{sql} AS {_q(f.name)}")
    return out


def conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project/cast a DataFrame to the unified schema (missing -> NULL,
    extras dropped). A frame already in that (name, type) order is returned
    as is — every explicit-schema table read; any other becomes one
    ``selectExpr``."""
    have = [(f.name, f.dataType) for f in df.schema.fields]
    if have == [(f.name, f.dataType) for f in schema.fields]:
        return df
    return df.selectExpr(*_projection({n: (_q(n), t) for n, t in have}, schema))


def _schema_of(m: dict | None) -> T.StructType | None:
    return T.StructType.fromJson(json.loads(m["schema"])) if m else None


def _rebased(snap: dict | None, schema: T.StructType) -> T.StructType:
    """``schema`` re-unified with the snapshot's: a commit rebasing over a
    winner must not drop the winner's schema evolution."""
    return unify_schemas(_schema_of(snap), schema) if snap else schema


def _buckets(m: dict | None) -> dict:
    return {k: list(v) for k, v in m["buckets"].items()} if m else {}


def _deltas(m: dict | None) -> list[str]:
    return list(m.get("global_deltas", [])) if m else []


def _bucket_mask(buckets) -> str:
    """A bucket set as a hex bitmask (bit ``b`` set = bucket ``b``)."""
    mask = 0
    for b in buckets:
        mask |= 1 << int(b)
    return format(mask, "x")


def _mask_buckets(mask: str) -> set[int]:
    """The bucket set of a ``_bucket_mask`` string."""
    bits = int(mask, 16)
    return {b for b in range(bits.bit_length()) if bits >> b & 1}


def _du_parquet(path: str) -> int:
    """Total parquet bytes under a dir (one os.walk of THAT dir only)."""
    total = 0
    for dp, _dn, fn in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dp, f))
            for f in fn
            if f.endswith(".parquet")
        )
    return total


def _since(t0: float) -> float:
    """Seconds since the ``time.perf_counter()`` reading ``t0``, rounded
    for the lineage record."""
    return round(time.perf_counter() - t0, 6)


def _partition_rows(commit_abs: str, cap: int = 4096) -> dict:
    """Per-output-partition row counts read from parquet FOOTERS only (no
    data scan, no extra Spark job) — the north-rule's per-partition
    lineage surface. The keys are the commit dir's parquet files, relative
    to it. Above ``cap`` partitions only the summary is kept (a manifest
    must not grow with file count). Large file sets read footers on a
    thread pool — useful on high-latency object storage where each footer
    is a network round-trip. Small sets stay SERIAL: measured on tmpfs,
    26 files cost 3 ms serial vs 86 ms pooled (pool spawn + GIL-bound
    footer parse dominate when the read itself is a memory copy)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    paths: list[str] = []
    for root, _, files in os.walk(commit_abs):
        for fn in sorted(files):
            if fn.endswith(".parquet"):
                paths.append(os.path.join(root, fn))

    def rows_of(path: str) -> int:
        return pq.ParquetFile(path).metadata.num_rows

    if len(paths) > 256:
        with ThreadPoolExecutor(max_workers=16) as ex:
            counts = list(ex.map(rows_of, paths))
    else:
        counts = [rows_of(p) for p in paths]
    out: dict = {"n_files": len(paths), "total_rows": int(sum(counts))}
    if len(paths) <= cap:
        out["per_partition"] = {
            os.path.relpath(p, commit_abs): int(c) for p, c in zip(paths, counts)
        }
    return out


class SnapshotTable:
    """Bucketed merge-on-read snapshot table with atomic manifest commits.

    Each merge appends a DELTA commit — only the batch's rows — and the
    per-key LWW resolution runs at read/compaction time. Writes cost
    O(batch), which is what a small CDC batch against a 100 TB table
    needs (rewriting the touched buckets every epoch would cost
    O(bucket size)). Iceberg v2 / Hudi MOR-style.

    Manifests map bucket -> ordered list of base commit dirs, plus a
    table-wide chain of ``global_deltas``. ``compact()`` folds the chain
    into bucketed base files (one dir per bucket); ``compact_minor()``
    folds it into one merged delta.
    """

    SEQ_COL = "_seq"
    BUCKET_COL = "_bucket"
    DEL_COL = "_deleted"  # tombstone: key deleted at _seq; kept so a late
    # lower-seq update cannot resurrect the row (LWW against the tombstone)
    # changes(): spans touching at most this many keys narrow via a
    # driver-collected literal IN predicate (parquet row-group skipping);
    # larger spans narrow via a pre-resolve semi-join (bounded collect)
    NARROW_INLIST_MAX = 2000

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_col: str = "doc_id",
        n_buckets: int = 32,
        mode: str = "mor",
        bucket_col: str | None = None,
        clock=None,
    ):
        # merge-on-read is the only write strategy; ``mode`` is accepted
        # for callers that name it explicitly
        if mode != "mor":
            raise ValueError(f"mode must be 'mor', got {mode!r}")
        self.spark = spark
        self.root = root
        self.key_col = key_col
        self.n_buckets = n_buckets
        # commit-timestamp source (epoch seconds). Injectable so tests and
        # deterministic fixtures control the timeline; only ever written
        # into MANIFESTS (never into data), so data fingerprints stay
        # clock-free.
        self.clock = clock or time.time
        # bucket_col defaults to the key (co-locating merges and point
        # lookups). A DIFFERENT bucket_col turns the table into a
        # value-clustered layout (e.g. a secondary index bucketed by the
        # indexed value so value probes prune): the caller must
        # guarantee a key's bucket_col value NEVER changes across its
        # lifetime (for an index, the value is embedded in the key), or
        # a value probe would prune to a bucket that lacks the key's
        # older rows.
        self.bucket_col = bucket_col or key_col
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "commits"), exist_ok=True)
        # An existing table's manifest is the source of truth for the
        # bucketing function: reopening with a different n_buckets/key_col
        # would assign keys to the wrong buckets (lookup() would scan the
        # wrong bucket and silently return nothing). Adopt the stored
        # values over the constructor arguments.
        m = self.manifest()
        if m is not None:
            if "n_buckets" in m:
                self.n_buckets = int(m["n_buckets"])
            if "key_col" in m:
                self.key_col = m["key_col"]
            self.bucket_col = m.get("bucket_col", self.key_col)

    # ---------------------------------------------------------------- meta

    def _versions(self) -> list[int]:
        """Committed versions, ascending: the canonical ``v<ver>.json``
        names in ``manifests/``. Each name appears only through
        ``_commit_manifest``'s exclusive link of a fully written file (the
        commit point), so the listing IS the version chain. A crash
        between the tmp write and the link leaves a ``v*.json.tmp*``
        orphan, which names no version."""
        try:
            names = os.listdir(os.path.join(self.root, "manifests"))
        except FileNotFoundError:
            return []
        return sorted(
            int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
        )

    def current_version(self) -> int | None:
        """Latest committed version: the largest manifest name. Derived
        from the listing on every call and never cached — neither on the
        directory's mtime (coarse: two commits in one tick would hide the
        second) nor in memory (another handle's ``expire_snapshots`` can
        delete a remembered version). A legacy ``LATEST`` file left by
        older writers is ignored."""
        versions = self._versions()
        return versions[-1] if versions else None

    def version_at(self, ts_ms: int) -> int | None:
        """Timestamp time travel (Delta ``timestampAsOf`` / Iceberg
        ``FOR SYSTEM_TIME AS OF``): the latest version whose commit
        timestamp is <= ``ts_ms``. Commit timestamps are
        monotone-corrected at write (a later version never carries an
        earlier ts), so version order == timestamp order and a reverse
        scan from the newest retained manifest stops at the first hit —
        O(versions newer than ts), typically one or two manifest reads
        for a recent timestamp. Returns None when ``ts_ms`` precedes the
        table's first commit; raises when the version the timestamp
        resolves to has been expired by ``expire_snapshots`` (the state
        is no longer reconstructible — same contract as
        ``read(version=)`` on an expired version)."""
        oldest = None
        for v in reversed(self._versions()):
            ts = int((self.manifest(v) or {}).get("committed_at_ms", 0))
            if ts <= ts_ms:
                return v
            oldest = v
        if oldest is not None and oldest > 0:
            raise ValueError(
                f"timestamp {ts_ms} resolves to a version older than the "
                f"retention horizon (oldest retained: v{oldest})"
            )
        return None

    def state_at(self, ts_ms: int) -> DataFrame:
        """Visible state as of a commit timestamp. Raises if the
        timestamp precedes the first commit."""
        v = self.version_at(ts_ms)
        if v is None:
            raise ValueError(f"timestamp {ts_ms} precedes the first commit")
        return self.state(v)

    def changes_between(
        self, ts_from_ms: int, ts_to_ms: int, images: str = "post"
    ) -> DataFrame:
        """Change data feed between two commit TIMESTAMPS. A
        ``ts_from_ms`` before the first commit diffs against the empty
        table (everything is an insert)."""
        v_from = self.version_at(ts_from_ms)
        v_to = self.version_at(ts_to_ms)
        if v_to is None:
            raise ValueError(f"timestamp {ts_to_ms} precedes the first commit")
        return self.changes(v_from, v_to, images=images)

    def manifest(self, version: int | None = None) -> dict | None:
        """Parsed manifest; the newest one is cached keyed on version.
        One epoch otherwise re-parses the same JSON ~7 times (has_epoch,
        schema, read, committed_epochs, commit) — at 4096 buckets with
        lineage that is megabytes of driver-side json.load per epoch.
        Manifest files are immutable, so version-keyed caching is safe;
        only the single latest entry is retained (no growth with age)."""
        resolved_latest = version is None
        if version is None:
            version = self.current_version()
        if version is None:
            return None
        cached = getattr(self, "_manifest_cache", None)
        if cached is not None and cached[0] == version:
            # callers treat manifests as read-only (they copy the dicts
            # they mutate), so sharing the parsed object is safe
            return cached[1]
        with open(os.path.join(self.root, "manifests", f"v{version:06d}.json")) as f:
            m = json.load(f)
        if resolved_latest:
            self._manifest_cache = (version, m)
        return m

    def committed_epochs(self) -> EpochLedger:
        """The committed-epoch ledger (exact membership; len() = count)."""
        m = self.manifest()
        return EpochLedger(m["committed_epochs"] if m else None)

    def has_epoch(self, epoch_id: str) -> bool:
        return str(epoch_id) in self.committed_epochs()

    def schema(self) -> T.StructType | None:
        return _schema_of(self.manifest())

    def lineage(self) -> list[dict]:
        """Per-commit lineage rows across all retained versions (metrics
        surface). Reads only committed versions (``_versions``), so a
        crashed commit's tmp orphan neither bricks nor double-counts it."""
        return [self.manifest(v)["lineage"] for v in self._versions()]

    # ---------------------------------------------------------------- read

    def _read_commit_buckets(
        self, commit_dir: str, buckets: list[int], schema: T.StructType
    ) -> DataFrame:
        paths = [
            os.path.join(self.root, commit_dir, f"{self.BUCKET_COL}={b}") for b in buckets
        ]
        # Explicit manifest schema, never inference: files written before a
        # schema evolution carry narrower types / miss columns, and
        # inference across mixed footers is order-dependent (picks whatever
        # footer it sampled; a narrow pick then crashes on the wide file).
        # The parquet reader up-casts stored narrow ints and fills missing
        # columns with NULL when the read schema is explicit.
        df = (
            self.spark.read.schema(self._data_schema(schema))
            .option("basePath", os.path.join(self.root, commit_dir))
            .parquet(*paths)
        )
        return conform(df, self._data_schema(schema))

    def _data_schema(self, schema: T.StructType) -> T.StructType:
        return T.StructType(
            list(schema.fields)
            + [
                T.StructField(self.SEQ_COL, T.LongType(), True),
                T.StructField(self.DEL_COL, T.BooleanType(), True),
                T.StructField(self.BUCKET_COL, T.IntegerType(), True),
            ]
        )

    def _resolve(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Merge-on-read resolution: one row per key = max over stored
        (_seq, payload-hash). Partial-aggregable (map-side combine), so
        delta chains resolve in a single shuffle regardless of depth."""
        payload = [f.name for f in schema.fields if f.name != self.key_col]
        val, ordk = self._winner_structs(payload)
        internal = [self.SEQ_COL, self.DEL_COL, self.BUCKET_COL]
        return (
            df.groupBy(self.key_col)
            .agg(F.expr(f"max_by({val}, {ordk}) AS w"))
            .selectExpr(
                *[
                    _q(c) if c == self.key_col else f"w.{_q(c)} AS {_q(c)}"
                    for c in [f.name for f in schema.fields] + internal
                ]
            )
        )

    def _delta_buckets(self, m: dict, dirs) -> set[int]:
        """The buckets the global delta ``dirs`` hold rows of, from the
        manifest's per-dir record (``dir_buckets``). A dir without a
        record (written before the record existed) counts as every
        bucket: a superset, so readers stay correct."""
        recorded = m.get("dir_buckets", {})
        out: set[int] = set()
        for d in dirs:
            if d not in recorded:
                return set(range(int(m.get("n_buckets", self.n_buckets))))
            out |= _mask_buckets(recorded[d])
        return out

    def _winner_structs(self, payload: list[str]) -> tuple[str, str]:
        """SQL text of the LWW resolve's ``max_by`` value struct (payload +
        internals) and its ordering struct: ``_seq``, then a payload hash
        as the deterministic tie-break."""
        cols = payload + [self.SEQ_COL, self.DEL_COL, self.BUCKET_COL]
        tie = ", ".join(_q(c) for c in payload + [self.DEL_COL])
        val = f"struct({', '.join(_q(c) for c in cols)})"
        return val, f"struct({_q(self.SEQ_COL)}, xxhash64({tie}))"

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        resolve: bool = True,
        key_semi: DataFrame | None = None,
    ) -> DataFrame:
        """Snapshot as a DataFrame (internal cols included). ``buckets``
        limits the scan to those hash buckets — the partition-pruning path
        lookups and CDF diffs use. When any requested bucket carries MOR
        deltas, the LWW resolution is applied (skippable with
        resolve=False for raw delta inspection). ``key_semi`` (a one-column frame named
        ``__dk``) semi-joins the raw rows down to those keys BEFORE the
        LWW resolve — whole-key filtering commutes with per-key max_by,
        and placing it below the aggregate is what keeps the resolve
        shuffle O(matched keys) instead of O(scanned rows) (Catalyst
        does not push a LeftSemi through the Aggregate on its own)."""
        m = self.manifest(version)
        schema = _schema_of(m)
        if m is None or (not m["buckets"] and not m.get("global_deltas")):
            return self._empty(schema)
        all_buckets = (
            set(int(b) for b in m["buckets"].keys())
            if m["buckets"]
            else set(range(self.n_buckets))
        )
        want = set(int(b) for b in buckets) if buckets is not None else all_buckets
        by_commit: dict[str, list[int]] = {}
        needs_resolve = False
        for b_str, commit_dirs in m["buckets"].items():
            b = int(b_str)
            if b in want:
                if len(commit_dirs) > 1:
                    needs_resolve = True
                for cd in commit_dirs:
                    by_commit.setdefault(cd, []).append(b)
        parts = [
            self._read_commit_buckets(cd, bs, schema) for cd, bs in sorted(by_commit.items())
        ]
        # global deltas apply to every bucket (Iceberg equality-delete
        # style): scan them whole, filter to the wanted buckets. With
        # ``buckets`` given, a dir whose recorded bucket set misses every
        # wanted bucket holds no wanted row and is not scanned.
        gdeltas = m.get("global_deltas", [])
        if buckets is not None:
            gdeltas = [d for d in gdeltas if self._delta_buckets(m, [d]) & want]
        if gdeltas and want:
            needs_resolve = True
            # explicit schema for the same reason as _read_commit_buckets:
            # deltas written pre-evolution have narrower/missing columns
            gdf = self.spark.read.schema(self._data_schema(schema)).parquet(
                *[os.path.join(self.root, d) for d in gdeltas]
            )
            gdf = conform(gdf, self._data_schema(schema))
            if buckets is not None:
                gdf = gdf.filter(_in_list(self.BUCKET_COL, sorted(want)))
            parts.append(gdf)
        if not parts:
            return self._empty(schema)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if key_semi is not None:
            df = df.join(key_semi, F.expr(f"{_q(self.key_col)} = __dk"), "leftsemi")
        if needs_resolve and resolve:
            df = self._resolve(df, schema)
        return df

    def changes(
        self,
        v_from: int | None,
        v_to: int | None = None,
        images: str = "post",
    ) -> DataFrame:
        """Change data feed between two committed versions (the Delta CDF
        / Iceberg changelog-scan analogue): one row per key whose VISIBLE
        state differs, tagged ``_change_type`` in
        ('insert', 'update', 'delete'). Inserts and updates carry the
        post-image payload; deletes carry the pre-image. ``v_from=None``
        diffs against the empty table (everything visible at v_to is an
        insert); ``v_to=None`` means the latest version.

        ``images='both'`` switches updates to the two-row Delta CDF
        encoding — ``update_preimage`` (old payload, old ``_seq``) then
        ``update_postimage`` (new payload, new ``_seq``) — which is what
        downstream incremental maintenance needs: the pre-image is the
        contribution to RETRACT, the post-image the one to ADD. Inserts
        and deletes are unchanged (one row each).

        Scale shape — the diff never reads two full table states:

        * candidate buckets = buckets whose manifest commit lists DIFFER
          between the versions (covers compaction and rebucket), plus
          the buckets of the global delta dirs ADDED between the
          versions, read from the manifest's per-dir ``dir_buckets``
          record written at commit (MOR epochs commit as global deltas;
          planning the candidates runs no Spark job, and a dir without a
          record counts as every bucket). Dirs removed by compaction may
          be expired from disk, but compaction rewrites every touched
          bucket's commit list, so the bucket diff already covers them;
        * both versions are then read with ``buckets=`` pruning, so a
          small CDC epoch against a 10^10-row table diffs only the
          buckets it touched;
        * rows resolved to the SAME ``_seq`` at both versions are
          filtered out, which also makes a pure compaction (state
          preserved, files rewritten) correctly produce zero changes;
        * for a MOR-only span (no bucket rewrite between the versions)
          both sides are additionally semi-joined down to the added
          deltas' key set when a driver-side selectivity gate allows —
          see the inline comment.
        """
        if images not in ("post", "both"):
            raise ValueError(f"images must be 'post' or 'both', got {images!r}")
        if v_to is None:
            v_to = self.current_version()
        try:
            m_to = self.manifest(v_to) if v_to is not None else None
        except FileNotFoundError:
            m_to = None
        if m_to is None:
            raise ValueError(f"version {v_to!r} not found")
        try:
            m_from = self.manifest(v_from) if v_from is not None else None
        except FileNotFoundError:
            m_from = None
        if v_from is not None and m_from is None:
            raise ValueError(f"version {v_from!r} not found (expired?)")
        if v_from is not None and v_from > v_to:
            # a reversed span would silently report the diff backwards
            # (inserts as deletes) — e.g. a consumer bookmark that
            # outlived a table reset, or swapped arguments
            raise ValueError(f"v_from {v_from} > v_to {v_to}")
        schema = _schema_of(m_to)
        payload = [
            f.name
            for f in self._data_schema(schema).fields
            if f.name
            not in (self.SEQ_COL, self.DEL_COL, self.BUCKET_COL, self.key_col)
        ]

        fb = dict(m_from["buckets"]) if m_from else {}
        tb = dict(m_to["buckets"])
        cand = {int(b) for b, dirs in tb.items() if fb.get(b) != dirs}
        cand |= {int(b) for b in fb if b not in tb}
        fg = set((m_from or {}).get("global_deltas", []))
        added_g = [d for d in m_to.get("global_deltas", []) if d not in fg]
        delta_keys = None
        key_pred = None
        if added_g:
            cand |= self._delta_buckets(m_to, added_g)
            gdf = self.spark.read.schema(self._data_schema(schema)).parquet(
                *[os.path.join(self.root, d) for d in added_g]
            )
            # MOR-only span (no bucket rewrite between the versions):
            # every key whose state changed appears in a delta added in
            # the span (minor compaction only folds those same keys), so
            # BOTH sides of the diff can be narrowed to the delta keys —
            # a small epoch against a 10^10-row table then compares
            # O(epoch) keys instead of scanning every touched bucket
            # whole. Gated on a driver-side selectivity estimate
            # (added-delta bytes vs table bytes): when the span touched a
            # large fraction of the table, narrowing only adds work.
            narrow_ok = m_from is not None and fb == tb
            added_bytes = 0
            if narrow_ok:
                # per-dir sizes come from the manifest (recorded once at
                # commit time): the gate is O(dirs) dict lookups, not an
                # O(table files) driver-side walk per incremental diff.
                # The walk remains only as a fallback for manifests
                # written before dir_bytes existed.
                recorded = m_to.get("dir_bytes", {})

                def _dir_bytes(rel: str) -> int:
                    if rel in recorded:
                        return int(recorded[rel])
                    return _du_parquet(os.path.join(self.root, rel))

                added_bytes = sum(_dir_bytes(d) for d in added_g)
                table_dirs = {
                    d for dirs in tb.values() for d in dirs
                } | set(m_to.get("global_deltas", []))
                table_bytes = sum(_dir_bytes(d) for d in table_dirs)
                narrow_ok = added_bytes * 8 < table_bytes
            if narrow_ok:
                # One bounded job: the distinct keys of the span's
                # deltas, capped at NARROW_INLIST_MAX+1. A small span
                # collapses to a literal IN predicate — pushed into the
                # parquet scan, so sorted-compacted buckets row-group
                # -skip straight to the touched keys. A larger span keeps
                # a pre-resolve semi-join (read(key_semi=)), broadcast
                # while the delta side is small.
                keys = (
                    gdf.select(self.key_col)
                    .distinct()
                    .limit(self.NARROW_INLIST_MAX + 1)
                    .collect()
                )
                if len(keys) <= self.NARROW_INLIST_MAX:
                    key_pred = _in_list(self.key_col, [r[0] for r in keys])
                else:
                    delta_keys = gdf.selectExpr(
                        f"{_q(self.key_col)} AS __dk"
                    ).distinct()
                    if added_bytes < (64 << 20):
                        delta_keys = F.broadcast(delta_keys)

        def side(df: DataFrame, tag: str) -> DataFrame:
            return df.selectExpr(
                f"{_q(self.key_col)} AS __k",
                f"{_q(self.SEQ_COL)} AS __seq_{tag}",
                f"coalesce({_q(self.DEL_COL)}, false) AS __del_{tag}",
                *[f"{_q(c)} AS {_q(f'__{tag}_{c}')}" for c in payload],
            )

        # Single-pass two-version resolve: for a MOR-only span with no
        # in-span schema change (the steady-state incremental-consumer
        # shape), the after-side row set is exactly the before-side rows
        # PLUS the added deltas — so instead of two LWW resolves (each a
        # key shuffle over the overlapping chains) joined full-outer,
        # ONE aggregate over the union computes both winners: wa =
        # max_by restricted to before-visible rows, wb = max_by over
        # all. Identical winners by construction (same ordering struct,
        # max_by ignores NULL-keyed rows), and a key absent at v_from
        # yields wa = NULL exactly where the full-outer join yielded a
        # NULL a-side. Gated off when the span rewrote buckets, evolved
        # the schema (the tie hash is type-sensitive, so the before side
        # must tie-break under its own column types — the two-read path
        # preserves that), or dropped delta dirs (minor compaction):
        # those fall back to the two-read join.
        single_pass = (
            m_from is not None
            and fb == tb
            and bool(added_g)
            and m_from["schema"] == m_to["schema"]
            and fg <= set(m_to.get("global_deltas", []))
        )
        if not cand:
            empty = self._empty(schema)
            j = side(empty, "a").join(side(empty, "b"), "__k", "full")
        elif single_pass:
            bs = sorted(cand)
            common = self.read(v_from, buckets=bs, resolve=False)
            added = gdf.filter(_in_list(self.BUCKET_COL, bs))
            rows = common.selectExpr("*", "true AS __in_from").unionByName(
                added.selectExpr("*", "false AS __in_from")
            )
            if delta_keys is not None:
                rows = rows.join(
                    delta_keys, F.expr(f"{_q(self.key_col)} = __dk"), "leftsemi"
                )
            if key_pred is not None:
                rows = rows.filter(key_pred)
            val, ordk = self._winner_structs(payload)
            seq, dl = _q(self.SEQ_COL), _q(self.DEL_COL)
            j = (
                rows.groupBy(F.expr(f"{_q(self.key_col)} AS __k"))
                .agg(
                    F.expr(
                        f"max_by(CASE WHEN __in_from THEN {val} END, "
                        f"CASE WHEN __in_from THEN {ordk} END) AS __wa"
                    ),
                    F.expr(f"max_by({val}, {ordk}) AS __wb"),
                )
                .selectExpr(
                    "__k",
                    *[
                        f"__w{t}.{_q(c)} AS {_q(f'__{t}_{c}')}"
                        for t in ("a", "b")
                        for c in payload
                    ],
                    f"__wa.{seq} AS __seq_a",
                    f"CASE WHEN __wa IS NOT NULL THEN coalesce(__wa.{dl}, false) END"
                    " AS __del_a",
                    f"__wb.{seq} AS __seq_b",
                    f"CASE WHEN __wb IS NOT NULL THEN coalesce(__wb.{dl}, false) END"
                    " AS __del_b",
                )
            )
        else:
            bs = sorted(cand)
            # the BEFORE side reads under v_from's (possibly narrower)
            # schema: conform to v_to's so columns added by evolution
            # inside the span resolve as NULL instead of crashing side()
            before = (
                conform(
                    self.read(v_from, buckets=bs, key_semi=delta_keys),
                    self._data_schema(schema),
                )
                if m_from
                else self._empty(schema)
            )
            after = self.read(v_to, buckets=bs, key_semi=delta_keys)
            if key_pred is not None:
                # plain grouping-key filter: Catalyst pushes it through
                # the resolve aggregate down to the parquet scan
                before = before.filter(key_pred)
                after = after.filter(key_pred)
            j = side(before, "a").join(side(after, "b"), "__k", "full")

        def vis(tag: str) -> str:
            return f"(CASE WHEN __seq_{tag} IS NULL THEN false ELSE NOT __del_{tag} END)"

        va, vb = vis("a"), vis("b")
        classified = j.selectExpr(
            "*",
            f"CASE WHEN (NOT {va}) AND {vb} THEN 'insert'"
            f" WHEN {va} AND (NOT {vb}) THEN 'delete'"
            f" WHEN {va} AND {vb} AND __seq_a != __seq_b THEN 'update'"
            " END AS _change_type",
        ).filter("_change_type IS NOT NULL")
        key = _q(self.key_col)
        if images == "both":
            # Delta-CDF two-row update encoding via one array+explode —
            # no second join, no union re-scan of the diff frame.
            def img(tag: str, ct: str) -> str:
                fields = "".join(
                    f", {_sql_str(c)}, {_q(f'__{tag}_{c}')}" for c in payload
                )
                return f"named_struct('_ct', '{ct}'{fields}, '_sq', __seq_{tag})"

            rows = (
                f"CASE WHEN _change_type = 'insert' THEN array({img('b', 'insert')})"
                f" WHEN _change_type = 'delete' THEN array({img('a', 'delete')})"
                f" ELSE array({img('a', 'update_preimage')},"
                f" {img('b', 'update_postimage')}) END"
            )
            return classified.selectExpr("__k", f"explode({rows}) AS __e").selectExpr(
                f"__k AS {key}",
                *[f"__e.{_q(c)} AS {_q(c)}" for c in payload],
                f"__e._sq AS {_q(self.SEQ_COL)}",
                "__e._ct AS _change_type",
            )
        return classified.selectExpr(
            f"__k AS {key}",
            *[
                f"CASE WHEN _change_type = 'delete' THEN {_q(f'__a_{c}')}"
                f" ELSE {_q(f'__b_{c}')} END AS {_q(c)}"
                for c in payload
            ],
            f"coalesce(__seq_b, __seq_a) AS {_q(self.SEQ_COL)}",
            "_change_type",
        )

    def read_changes_since(
        self, last_version: int | None, images: str = "post"
    ) -> tuple[DataFrame, int | None, bool]:
        """Incremental CDF consumption with a consumer bookmark:
        ``(changes, new_bookmark, bootstrapped)``. Pass the version your
        consumer last processed (None on first call); persist the
        returned bookmark after applying the frame.

        If ``last_version`` has been expired by ``expire_snapshots``
        (the consumer fell behind the retention horizon), the diff can
        no longer be computed — the call falls back to a BOOTSTRAP: the
        full current state as inserts, flagged ``bootstrapped=True`` so
        the consumer knows to replace, not patch, its copy. This is the
        same contract as Delta CDF's startingVersion-out-of-range
        re-read. A no-op (bookmark already current) returns an empty
        frame and the same bookmark."""
        cur = self.current_version()
        if cur is None:
            raise ValueError("table has no committed version yet")
        if cur == last_version:
            # empty frame with the changes() output schema (self-diff)
            return self.changes(cur, cur, images=images), last_version, False
        try:
            return self.changes(last_version, cur, images=images), cur, False
        except ValueError:
            if last_version is None:
                raise
            return self.changes(None, cur, images=images), cur, True

    def state(self, version: int | None = None) -> DataFrame:
        """User-facing final state (tombstones hidden, internals dropped)."""
        return (
            self.read(version)
            .filter(self._live())
            .drop(self.SEQ_COL, self.DEL_COL, self.BUCKET_COL)
        )

    def _live(self) -> str:
        """Filter text keeping rows that are not tombstones."""
        return f"NOT coalesce({_q(self.DEL_COL)}, false)"

    def _next_seq(self) -> int:
        """One seq above every stored row's (raw scan — max over
        unresolved deltas equals max over resolved state)."""
        hi = self.read(resolve=False).agg(F.max(self.SEQ_COL)).first()[0]
        return (hi if hi is not None else 0) + 1

    def delete_where(self, condition, epoch_id: str) -> dict:
        """Bulk row-level DELETE (Delta ``DELETE FROM t WHERE ...``; the
        GDPR right-to-be-forgotten shape — the reference has no
        row-level path, erasure there means rewriting silver wholesale).
        Matching CURRENT-state rows become tombstones in ONE
        ledger-deduped epoch at a seq above every stored one, so the
        operation is idempotent under replay, the CDF reports the rows
        as deletes, and every CDF consumer (maintained aggregates,
        secondary indexes, the outbox) retracts them incrementally. Time
        travel keeps pre-erasure versions readable until they expire:
        the full compliance sequence is ``delete_where`` +
        ``expire_snapshots`` + ``compact(purge_tombstones_below_seq=)``.
        Cost: one state scan (the predicate pushes into it) + a merge of
        O(matches) rows."""
        epoch_id = str(epoch_id)
        if self.has_epoch(epoch_id):
            return {"epoch_id": epoch_id, "skipped": True}
        seq = self._next_seq()
        rows = (
            self.state()
            .filter(condition)
            .withColumn("op", F.lit("delete"))
            .withColumn("seq", F.lit(seq).cast("long"))
        )
        return self.merge_reduced(rows, epoch_id)

    def delete_keys(self, keys: list, epoch_id: str) -> dict:
        """Right-to-be-forgotten by KEY — the common GDPR request shape
        ("erase user X"): like ``delete_where(key IN ...)`` but
        BUCKET-PRUNED for the ROW read: only the probed keys' hash
        buckets are scanned for the rows to tombstone (O(|keys| buckets
        out of n_buckets); files-read-asserted in tests). The tombstone
        seq is the TABLE-GLOBAL ``_next_seq()`` — the same watermark
        ``delete_where`` uses — NOT the probed keys' max: a late-
        replayed event that logically preceded the erasure (seq above
        the key's stored max but below the table's) must lose to the
        tombstone, or erased PII resurrects on replay. The global seq
        probe is a raw unresolved scan of ONLY the ``_seq`` column
        (column-pruned parquet footers + one max), cheap next to the
        row read. Value-clustered tables (bucket_col != key_col) fall
        back to the full row scan, like ``lookup``."""
        epoch_id = str(epoch_id)
        if self.has_epoch(epoch_id):
            return {"epoch_id": epoch_id, "skipped": True}
        buckets = (
            self.buckets_for(keys) if self.bucket_col == self.key_col else None
        )
        seq = self._next_seq()
        rows = (
            self.read(buckets=buckets)
            .filter(_in_list(self.key_col, keys))
            .filter(self._live())
            .drop(self.SEQ_COL, self.DEL_COL, self.BUCKET_COL)
            .withColumn("op", F.lit("delete"))
            .withColumn("seq", F.lit(seq).cast("long"))
        )
        return self.merge_reduced(rows, epoch_id)

    def update_where(self, condition, assignments: dict, epoch_id: str) -> dict:
        """Bulk row-level UPDATE (Delta ``UPDATE t SET ... WHERE ...``):
        matching CURRENT-state rows are re-emitted with the assignments
        applied (values or Column expressions over the old row) as ONE
        ledger-deduped epoch at a fresh seq — replace-not-patch, same
        LWW semantics as any other update. The key/bucket columns cannot
        be assigned (an identity change is a delete + insert, not an
        update — silently rewriting the key would orphan the stored
        row's bucket)."""
        epoch_id = str(epoch_id)
        if self.has_epoch(epoch_id):
            return {"epoch_id": epoch_id, "skipped": True}
        bad = set(assignments) & {self.key_col, self.bucket_col}
        if bad:
            raise ValueError(f"cannot assign key/bucket columns: {sorted(bad)}")
        seq = self._next_seq()
        rows = self.state().filter(condition)
        for name, value in assignments.items():
            col = value if isinstance(value, Column) else F.lit(value)
            rows = rows.withColumn(name, col)
        rows = rows.withColumn("op", F.lit("update")).withColumn(
            "seq", F.lit(seq).cast("long")
        )
        return self.merge_reduced(rows, epoch_id)

    def lookup(self, keys: list[str], version: int | None = None) -> DataFrame:
        """Point lookups via bucket pruning: only the hash buckets of the
        requested keys are scanned (plus any pending global deltas). At
        10^10 rows / 4096 buckets this reads ~1/4096th of the table per
        distinct bucket instead of scanning it."""
        # key-hash pruning is only valid when the table is bucketed BY
        # the key; a value-clustered table (bucket_col != key_col) falls
        # back to a full scan here — probe such tables by bucket value
        # (buckets_for) instead
        buckets = (
            self.buckets_for(keys, version)
            if self.bucket_col == self.key_col
            else None
        )
        df = self.read(version=version, buckets=buckets)
        return (
            df.filter(_in_list(self.key_col, keys))
            .filter(self._live())
            .drop(self.SEQ_COL, self.DEL_COL, self.BUCKET_COL)
        )

    def _empty(self, schema: T.StructType | None) -> DataFrame:
        schema = schema or T.StructType([])
        return self.spark.createDataFrame([], self._data_schema(schema))

    # --------------------------------------------------------------- merge

    def bucket_sql(self) -> str:
        """SQL text of a row's bucket: ``pmod(xxhash64(bucket_col),
        n_buckets)`` as int. ``buckets_for`` computes the same for probe
        values."""
        return f"CAST(pmod(xxhash64({_q(self.bucket_col)}), {self.n_buckets}) AS INT)"

    def _n_buckets_at(self, version: int | None) -> int:
        """The bucket COUNT in force at a given version — after a
        ``rebucket``, probing an older snapshot with the current count
        would hash to the wrong buckets and silently miss rows."""
        if version is None:
            return self.n_buckets
        m = self.manifest(version)
        if m is None:
            return self.n_buckets
        return int(m.get("n_buckets", self.n_buckets))

    def buckets_for(self, values: list, version: int | None = None) -> list[int]:
        """The bucket ids the given ``bucket_col`` values hash to —
        hashed AS THE STORED COLUMN TYPE (xxhash64('42') != xxhash64(42L),
        so an untyped probe would prune to the wrong buckets and silently
        return nothing) and with the bucket count IN FORCE at the probed
        version. Never touches the table. A string bucket column hashes
        on the driver (``spark_xxhash64``, no Spark call); any other type
        runs one tiny local-list job."""
        sch = self.schema()
        vtype: T.DataType = T.StringType()
        if sch is not None:
            for f in sch.fields:
                if f.name == self.bucket_col:
                    vtype = f.dataType
        nb = self._n_buckets_at(version)
        if isinstance(vtype, T.StringType):
            return sorted({spark_xxhash64(v) % nb for v in values})
        rows = self.spark.createDataFrame(
            [(None if v is None else str(v),) for v in values],
            T.StructType([T.StructField("v", T.StringType())]),
        ).select(
            F.pmod(F.xxhash64(F.col("v").cast(vtype)), F.lit(nb))
            .cast("int")
            .alias("b")
        )
        return sorted({r.b for r in rows.collect() if r.b is not None})

    def merge_reduced(
        self,
        reduced: DataFrame,
        epoch_id: str,
        pre_commit=None,
    ) -> dict:
        """MERGE a change batch into the table as a merge-on-read delta.

        ``reduced`` needs columns ``op`` (insert/update/delete), ``seq``
        (long), and the payload columns; multiple rows per key are fine.
        The batch lands as a raw delta — a pure MAP job (scan -> storage
        form -> write), ZERO shuffles per epoch — and dedup + LWW run once,
        at read or compaction (``_resolve``), which is where Hudi MOR /
        Iceberg streaming CDC put it too. Per-epoch cost is O(batch); the
        price is read amplification until ``compact()`` runs. The resolved
        state equals Iceberg's::

            MERGE INTO t USING batch b ON t.doc_id = b.doc_id
            WHEN MATCHED AND b.op = 'delete' AND b.seq > t._seq THEN DELETE
            WHEN MATCHED AND b.seq > t._seq THEN UPDATE SET *
            WHEN NOT MATCHED AND b.op != 'delete' THEN INSERT *

        The ``seq > _seq`` guard is what makes replaying old batches a
        no-op (the reference's idempotency invariant, proven by its
        Makefile:344-359 verify-idempotency target). ``pre_commit`` runs
        after the delta write and before the manifest claim: raising
        there leaves the epoch uncommitted (the transactional DQ gate).
        """
        epoch_id = str(epoch_id)
        if self.has_epoch(epoch_id):
            return {"epoch_id": epoch_id, "skipped": True}

        payload_schema = T.StructType(
            [f for f in reduced.schema.fields if f.name not in ("op", "seq", "batch_id")]
        )
        m = self.manifest()
        old_schema = _schema_of(m)
        schema = (
            unify_schemas(old_schema, payload_schema) if old_schema else payload_schema
        )
        if old_schema is not None:
            # the bucket column's TYPE is part of the bucketing function:
            # xxhash64(42 as int) != xxhash64(42L), so widening it would
            # re-hash every future row of an existing key into a
            # different bucket (bucket-pruned lookups and CDF diffs would
            # then miss the key's older rows). Evolution of other columns
            # is unaffected.
            old_bt = {f.name: f.dataType for f in old_schema.fields}.get(
                self.bucket_col
            )
            new_bt = {f.name: f.dataType for f in schema.fields}.get(
                self.bucket_col
            )
            if old_bt is not None and new_bt is not None and old_bt != new_bt:
                raise ValueError(
                    f"cannot evolve bucket column {self.bucket_col!r} from "
                    f"{old_bt.simpleString()} to {new_bt.simpleString()}: the "
                    "bucket hash is type-sensitive"
                )
            # adopt a concurrently-evolved bucket count BEFORE hashing: a
            # rebucket committed by another handle since this one was
            # opened would otherwise assign rows under the stale count
            self.n_buckets = int(m.get("n_buckets", self.n_buckets))
        # deletes are NOT dropped: they persist as tombstone rows (_deleted)
        # with their _seq, the anti-resurrection guard for out-of-order logs
        have = {f.name: (_q(f.name), f.dataType) for f in reduced.schema.fields}
        have[self.BUCKET_COL] = (self.bucket_sql(), T.IntegerType())
        have[self.DEL_COL] = ("op = 'delete'", T.BooleanType())
        if "seq" in have:
            have[self.SEQ_COL] = have.pop("seq")
        delta = reduced.selectExpr(*_projection(have, self._data_schema(schema)))
        observation = Observation(f"merge_{uuid.uuid4().hex[:8]}")
        observed = delta.observe(
            observation,
            F.expr("count(1) AS keys_considered"),
            F.expr(f"count_if({_q(self.DEL_COL)}) AS keys_deleted"),
            F.expr(f"collect_set({_q(self.BUCKET_COL)}) AS buckets"),
        )
        # version here names the data dir only (cosmetic): the COMMIT
        # version is re-derived per attempt inside _commit_loop
        version = m["version"] + 1 if m else 0
        tag = "".join(ch for ch in epoch_id if ch.isalnum())[-24:] or "e"
        # attempt-unique dir: two workers retrying the SAME epoch must not
        # interleave writes into one directory (the loser's manifest claim
        # fails and its dir stays an unreferenced, vacuumable orphan; dir
        # names are opaque — manifests reference them by relative path)
        commit_rel = os.path.join(
            "commits", f"c_{version:06d}_{tag}_{uuid.uuid4().hex[:6]}"
        )
        commit_abs = os.path.join(self.root, commit_rel)
        # UNPARTITIONED delta: zero shuffle AND zero partition fan-out
        # (partitionBy from an unshuffled input would create
        # tasks x buckets tiny files). _bucket rides as a data column; the
        # delta applies table-wide, like Iceberg's equality-delete files.
        t0 = time.perf_counter()
        observed.write.mode("overwrite").parquet(commit_abs)
        metrics_row = observation.get
        write_s = _since(t0)
        if pre_commit is not None:
            pre_commit()
        empty = bool(metrics_row) and metrics_row["keys_considered"] == 0
        if empty:
            # fully-quarantined / empty epoch: commit the epoch id WITHOUT
            # growing the delta chain — a zero-row delta would still count
            # toward read amplification and maybe_compact's trigger. The
            # emptiness is known from the Observation the write job
            # already ran, so this costs no extra scan.
            shutil.rmtree(commit_abs, ignore_errors=True)
        lineage = {
            "epoch_id": epoch_id,
            "mode": "mor",
            "rows_in_batch": metrics_row["keys_considered"] if metrics_row else None,
            "delete_rows": metrics_row["keys_deleted"] if metrics_row else None,
            "write_s": write_s,
        }
        if not empty:
            lineage["delta_dir"] = commit_rel
            # JSON string: lineage() rows stay flat enough for
            # spark.createDataFrame (nested variant maps break inference)
            t0 = time.perf_counter()
            lineage["partition_rows"] = json.dumps(_partition_rows(commit_abs))
            lineage["footers_s"] = _since(t0)

        # rebase-on-conflict: a MOR delta is position-independent (the
        # LWW resolve is order-free), so losing the version race to ANY
        # other commit just means appending to the winner's chain. Data
        # files are never rewritten on rebase.
        def build_mor(snap):
            if snap is not None and int(snap["n_buckets"]) != self.n_buckets:
                # a concurrent rebucket changed the hash function: adopt
                # the evolved count. An EMPTY epoch commits no data and
                # can proceed; a real delta's _bucket values were
                # computed under the OLD count, so rebasing would poison
                # bucket pruning — make the caller re-run the merge
                # (rows re-hash on the retry).
                self.n_buckets = int(snap["n_buckets"])
                if not empty:
                    raise CommitConflictError(
                        f"epoch {epoch_id!r}: the table was rebucketted "
                        "concurrently — re-run the merge"
                    )
            deltas = _deltas(snap) + ([] if empty else [commit_rel])
            return _rebased(snap, schema), _buckets(snap), deltas, lineage

        # the delta's bucket set, recorded in the manifest so change-feed
        # readers plan their candidate buckets without a Spark job
        mask = _bucket_mask(metrics_row["buckets"]) if metrics_row else None
        return self._commit_loop(
            epoch_id, build_mor, None if empty else commit_rel, "delta", mask
        )

    def _commit_loop(
        self, epoch_id: str | None, build, new_dir: str | None = None,
        new_dir_kind: str = "base", new_dir_buckets: str | None = None,
    ) -> dict:
        """The one optimistic-commit loop every commit runs through.

        Each attempt takes ONE manifest snapshot: ledger, bucket map,
        delta chain and claimed version all derive from it — two reads
        could straddle a concurrent commit and write a manifest whose
        ledger misses the winner's epoch (silent exactly-once violation)
        or whose chain drops its delta. The ledger is re-checked first:
        if a twin committed ``epoch_id`` meanwhile, exactly-once wins and
        our data dir ``new_dir`` is removed. ``build(snapshot)`` then
        returns the new manifest's ``(schema, buckets, global_deltas,
        lineage)`` rebased onto the snapshot, or raises
        ``CommitConflictError`` when the snapshot invalidates the commit
        (its own validate-or-rebase rule). The claim targets exactly
        snapshot.version + 1, so any intervening commit forces another
        attempt instead of being silently dropped. ``epoch_id=None``
        marks a maintenance commit, which carries the ledger over
        unchanged.

        The committed lineage times the commit itself, so the returned
        record is the stored one: ``commit_attempts``, ``bytes_written``
        (the new dir's parquet bytes, as in ``dir_bytes``), ``commit_s``
        (this loop up to the winning claim: the size walk, ledger
        re-checks, ``build`` and lost claims) and, from the caller's
        lineage or 0.0, ``write_s`` (its one write job) and ``footers_s``
        (``_partition_rows``)."""
        t0 = time.perf_counter()
        new_bytes = _du_parquet(os.path.join(self.root, new_dir)) if new_dir else 0
        for attempt in range(1, _COMMIT_ATTEMPTS + 1):
            snap = self.manifest()
            ledger = EpochLedger(snap["committed_epochs"] if snap else None)
            if epoch_id is not None:
                if epoch_id in ledger:
                    if new_dir is not None:
                        shutil.rmtree(
                            os.path.join(self.root, new_dir), ignore_errors=True
                        )
                    return {"epoch_id": epoch_id, "skipped": True}
                ledger.add(epoch_id)
            schema, buckets_map, global_deltas, lineage = build(snap)
            lineage = {
                "write_s": 0.0,
                "footers_s": 0.0,
                **lineage,
                "version": snap["version"] + 1 if snap else 0,
                "commit_attempts": attempt,
                "bytes_written": new_bytes,
                "commit_s": _since(t0),
            }
            try:
                self._commit_manifest(
                    snap, schema, buckets_map, global_deltas, ledger, lineage,
                    new_dir, new_dir_kind, new_bytes, new_dir_buckets,
                )
                return lineage
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"{epoch_id or 'maintenance commit'!r}: lost the version race "
            f"{_COMMIT_ATTEMPTS} times in a row"
        )

    def _commit_manifest(
        self,
        snap: dict | None,
        schema: T.StructType,
        buckets_map: dict,
        global_deltas: list[str],
        ledger: EpochLedger,
        lineage: dict,
        new_dir: str | None = None,
        new_dir_kind: str = "base",
        new_dir_bytes: int = 0,
        new_dir_buckets: str | None = None,
    ) -> None:
        """Write the manifest built on the attempt's snapshot ``snap`` and
        claim its version (``lineage["version"]``); raises
        ``CommitConflictError`` when another writer claimed it first.
        Reads nothing from the table: dir kinds, dir sizes, the global
        deltas' bucket sets and the previous commit timestamp all carry
        forward from ``snap``. ``dir_buckets`` maps each live global
        delta dir to the hex bitmask (``_bucket_mask``) of the buckets it
        holds rows of, ``new_dir_buckets`` for the new dir; a dir
        without an entry counts as every bucket (``_delta_buckets``)."""
        version = lineage["version"]
        prev = snap or {}
        live = {d for dirs in buckets_map.values() for d in dirs} | set(global_deltas)
        kinds = {d: k for d, k in prev.get("dir_kinds", {}).items() if d in live}
        # per-dir parquet byte sizes, carried forward for live dirs and
        # measured ONCE per commit for the new dir (O(epoch)): the CDF
        # 'auto' narrowing gate needs table_bytes, and walking every
        # commit dir per diff would be O(table files) on the driver for
        # every incremental refresh
        dir_bytes = {d: b for d, b in prev.get("dir_bytes", {}).items() if d in live}
        dir_buckets = {
            d: b for d, b in prev.get("dir_buckets", {}).items() if d in live
        }
        if new_dir is not None:
            kinds[new_dir] = new_dir_kind
            dir_bytes[new_dir] = new_dir_bytes
            if new_dir_buckets is not None:
                dir_buckets[new_dir] = new_dir_buckets
        # monotone-corrected commit timestamp: a later version never
        # carries an earlier ts even under clock skew / sub-ms commits,
        # so version order == timestamp order and version_at() is exact
        prev_ts = int(prev.get("committed_at_ms", 0))
        m = {
            "version": version,
            "committed_at_ms": max(int(self.clock() * 1000), prev_ts + 1),
            "schema": json.dumps(schema.jsonValue()),
            "n_buckets": self.n_buckets,
            "key_col": self.key_col,
            "bucket_col": self.bucket_col,
            "buckets": buckets_map,
            "global_deltas": global_deltas,
            "dir_kinds": kinds,
            "dir_bytes": dir_bytes,
            "dir_buckets": dir_buckets,
            "committed_epochs": ledger.to_json(),
            "lineage": lineage,
        }
        mpath = os.path.join(self.root, "manifests", f"v{version:06d}.json")
        tmp = mpath + f".tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(m, f)
        # exclusive CLAIM of the version: link fails if another writer
        # already committed this version (POSIX-atomic; the local-FS
        # analogue of a conditional PUT / catalog compare-and-swap — on
        # an object store this line becomes If-None-Match:* or the
        # catalog's CAS). The tmp file is fully written first, so a
        # reader can never observe a partial manifest.
        try:
            os.link(tmp, mpath)
        except FileExistsError:
            raise CommitConflictError(
                f"version {version} was committed by another writer"
            )
        finally:
            os.unlink(tmp)

    # ---------------------------------------------------------- maintenance

    def _write_bucketed(
        self, df: DataFrame, name: str, sort_within_buckets: bool
    ) -> tuple[str, dict, float]:
        """Write a full snapshot rewrite into a fresh ``_bucket``-
        partitioned commit dir under the handle's bucket count; returns
        the dir, the bucket map naming it and the write's seconds."""
        commit_rel = os.path.join("commits", f"{name}_{uuid.uuid4().hex[:6]}")
        commit_abs = os.path.join(self.root, commit_rel)
        out = df.repartition(self.n_buckets, F.col(self.BUCKET_COL))
        if sort_within_buckets:
            out = out.sortWithinPartitions(self.BUCKET_COL, self.key_col)
        t0 = time.perf_counter()
        out.write.mode("overwrite").partitionBy(self.BUCKET_COL).parquet(commit_abs)
        write_s = _since(t0)
        return commit_rel, {
            d.split("=", 1)[1]: [commit_rel]
            for d in os.listdir(commit_abs)
            if d.startswith(f"{self.BUCKET_COL}=")
        }, write_s

    def _commit_rewrite(
        self,
        read_m: dict,
        schema: T.StructType,
        buckets_map: dict,
        folded: set,
        lineage: dict,
        commit_rel: str,
        own_delta_buckets: str | None = None,
    ) -> dict:
        """Commit a maintenance rewrite (full or minor compaction) with
        rebase over intervening MOR appends: appenders only EXTEND the
        global delta chain, so the rewrite stays valid — keep the
        interveners' deltas (everything not in ``folded``) on top of the
        rewritten files, take the fresh epoch ledger, claim the next
        version. With ``own_delta_buckets`` (the ``_bucket_mask`` of the
        buckets it holds rows of), ``commit_rel`` commits as a global
        delta instead of base files. A concurrent commit that changed the
        BUCKET MAP (another compaction, a rebucket) invalidated the
        rewrite's read set: raise, leaving the written dir a vacuumable
        orphan — re-running the maintenance op is always safe."""

        def build_rewrite(snap):
            if snap["buckets"] != read_m["buckets"] or int(
                snap["n_buckets"]
            ) != int(read_m["n_buckets"]):
                raise CommitConflictError(
                    f"{lineage['epoch_id']}: a concurrent commit "
                    "rewrote buckets during this maintenance op — re-run it"
                )
            if not folded <= set(_deltas(snap)):
                # someone else already folded (part of) our input chain —
                # e.g. a concurrent minor compaction. Rebasing would stack
                # a duplicate merged span, or worse: a purge compaction
                # would commit on top of a merged delta that still carries
                # the tombstones it just reported purging (silent GDPR
                # resurrection). The op must re-run against fresh state.
                raise CommitConflictError(
                    f"{lineage['epoch_id']}: a concurrent "
                    "compaction folded this op's input deltas — re-run it"
                )
            survivors = [d for d in _deltas(snap) if d not in folded]
            own = [commit_rel] if own_delta_buckets is not None else []
            return _rebased(snap, schema), buckets_map, own + survivors, lineage

        return self._commit_loop(
            None, build_rewrite, commit_rel,
            "base" if own_delta_buckets is None else "delta", own_delta_buckets,
        )

    def compact(
        self,
        purge_tombstones_below_seq: int | None = None,
        sort_within_buckets: bool = False,
    ) -> dict:
        """Rewrite the whole snapshot into a single commit dir (the
        reference's small-file compaction job, scripts/compact_silver.py:36-42,
        generalized: Iceberg rewrite_data_files). Tombstones older than the
        given seq horizon can be purged here — safe once no event below that
        seq can still arrive (the watermark contract), exactly like Kafka
        log-compaction's delete.retention.

        ``sort_within_buckets=True`` key-sorts each bucket's rows before
        the write (a sortWithinPartitions — no extra shuffle beyond the
        compaction's own repartition). Parquet row-group min/max stats on
        the key column then become DISJOINT RANGES, so the key-equality
        filters ``lookup()`` pushes down (PushedFilters on the scan) skip
        every row group but the probed keys' — at 10^10 rows a point read
        touches ~1 row group per key instead of the whole bucket. Same
        idea as Iceberg's sort-order table property / Z-order for 1-D.

        Safe to run CONCURRENT with MOR appenders (the 10^10-scale
        deployment: a scheduled rewrite job under a live stream): the
        compaction folds the state as of its read version, and if an
        appender commits meanwhile, the commit loop rebases — the
        compacted base replaces the buckets, folded deltas drop, and
        the interveners' deltas survive on top (LWW is order-free, so
        base ∪ late-delta resolves identically either way). A concurrent
        commit that rewrote BUCKETS (another compaction, a rebucket)
        raises ``CommitConflictError`` instead — re-run."""
        m = self.manifest()
        if m is None:
            return {"skipped": True}
        df = self.read(version=m["version"])
        if purge_tombstones_below_seq is not None:
            df = df.filter(
                ~(
                    F.coalesce(F.col(self.DEL_COL), F.lit(False))
                    & (F.col(self.SEQ_COL) < purge_tombstones_below_seq)
                )
            )
        commit_rel, buckets_map, write_s = self._write_bucketed(
            df, f"c_{m['version'] + 1:06d}_compact", sort_within_buckets
        )
        return self._commit_rewrite(
            m, _schema_of(m), buckets_map, set(_deltas(m)),
            {"epoch_id": "__compaction", "compaction": True, "write_s": write_s},
            commit_rel,
        )

    def rebucket(self, n_buckets: int, sort_within_buckets: bool = False) -> dict:
        """Online bucket-count evolution: rewrite the snapshot under a
        NEW bucket count in one commit (Iceberg's bucket-transform spec
        evolution + rewrite_data_files, as one operation). The 100 TB
        motivation: a table sized at 32 buckets when small eventually
        serves multi-GB buckets — lookups read too much, merges shuffle
        too coarsely — and the fix must not stop ingest.

        Semantics: state-preserving (rows AND tombstones carry over with
        their ``_seq``, so the anti-resurrection guard survives), the
        epoch ledger carries over (replayed epochs still skip), and the
        new count takes effect for every subsequent merge/probe. Older
        snapshots remain readable: per-version probes hash with the
        bucket count IN FORCE at that version (``_n_buckets_at``), and a
        pure rebucket produces ZERO rows in ``changes()`` — the
        cross-boundary diff degrades to a full-state diff (every
        bucket's commit list changed) but filters to same-``_seq``
        nothing, exactly like a pure compaction."""
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        m = self.manifest()
        if m is None:
            # nothing committed yet: the new count simply takes effect
            self.n_buckets = int(n_buckets)
            return {"skipped": True, "n_buckets": self.n_buckets}
        if int(n_buckets) == self.n_buckets:
            return {"skipped": True, "n_buckets": self.n_buckets}
        df = self.read(version=m["version"])
        old_n = self.n_buckets
        self.n_buckets = int(n_buckets)
        try:
            df = df.drop(self.BUCKET_COL).withColumn(
                self.BUCKET_COL, F.expr(self.bucket_sql())
            )
            commit_rel, buckets_map, write_s = self._write_bucketed(
                df, f"c_{m['version'] + 1:06d}_rebucket", sort_within_buckets
            )
            lineage = {
                "epoch_id": "__rebucket",
                "rebucket": {"from": old_n, "to": self.n_buckets},
                "write_s": write_s,
            }

            def build_rebucket(snap):
                # a rebucket changes the hash function itself, so ANY
                # concurrent commit invalidates it and the op must be
                # re-run (stop-the-world by design; appenders can keep
                # running and simply win the race)
                if snap["version"] != m["version"]:
                    raise CommitConflictError(
                        "__rebucket: a concurrent commit landed during "
                        "this rebucket — re-run it"
                    )
                return _schema_of(snap), buckets_map, [], lineage

            return self._commit_loop(None, build_rebucket, commit_rel)
        except BaseException:
            # ANY failure before the manifest claim lands (write error,
            # version conflict, interrupt) leaves the on-disk table at
            # the OLD count: keep the handle consistent with it, or every
            # later merge on this handle would hash rows under the new
            # count and lookups would probe buckets the table never adopted
            self.n_buckets = old_n
            raise

    def compact_minor(self) -> dict:
        """Minor compaction (Hudi-style): collapse the pending DELTA CHAIN
        into one merged delta WITHOUT rewriting the base files — cost is
        O(deltas), not O(table). Correct because the LWW resolve
        (max_by over (_seq, tie)) is associative: resolving the deltas
        among themselves and later resolving against the base gives the
        same winner as resolving everything at once. Tombstones stay as
        rows, so the anti-resurrection guard survives. Use this when the
        chain grows but a full rewrite (``compact``) is too expensive —
        at 100 TB the base rewrite is a rare scheduled job while minor
        compaction can run every few epochs."""
        m = self.manifest()
        gdeltas = _deltas(m)
        if len(gdeltas) < 2:
            return {"skipped": True}
        schema = _schema_of(m)
        ddf = self.spark.read.schema(self._data_schema(schema)).parquet(
            *[os.path.join(self.root, d) for d in gdeltas]
        )
        ddf = conform(ddf, self._data_schema(schema))
        merged = self._resolve(ddf, schema)
        commit_rel = os.path.join(
            "commits",
            f"c_{m['version'] + 1:06d}_minor_{uuid.uuid4().hex[:6]}",
        )
        commit_abs = os.path.join(self.root, commit_rel)
        t0 = time.perf_counter()
        merged.write.mode("overwrite").parquet(commit_abs)
        # rebase-safe like compact(): deltas appended by concurrent MOR
        # writers survive AFTER the merged delta (resolve is order-free)
        return self._commit_rewrite(
            m, schema, _buckets(m), set(gdeltas),
            {"epoch_id": "__minor_compaction", "minor_compaction": True,
             "deltas_merged": len(gdeltas), "write_s": _since(t0)},
            commit_rel,
            # one row per key of the folded deltas, and a key's bucket
            # never changes: the union of their bucket sets (every
            # bucket when one of them has no record)
            own_delta_buckets=_bucket_mask(self._delta_buckets(m, gdeltas)),
        )

    def maybe_compact(self, max_deltas: int = 16) -> dict | None:
        """Maintenance policy: compact when the unresolved delta chain
        exceeds ``max_deltas`` — bounds MOR read amplification the way
        Hudi's compaction scheduling / Iceberg's rewrite policies do. Call
        it from the replay loop; it is a no-op otherwise. Runs MINOR
        compaction (collapse the delta chain, O(deltas)) — the full
        O(table) base rewrite is a rare scheduled job (``compact()``),
        not an every-few-epochs policy.

        A lost commit race (another worker compacted or rewrote buckets
        concurrently) is swallowed, not raised: this is a POLICY hook —
        the table was maintained either way, and the policy re-evaluates
        on the next epoch. Direct ``compact()``/``compact_minor()``
        calls still raise so a dedicated maintenance job sees the
        conflict."""
        m = self.manifest()
        if m is None or len(m.get("global_deltas", [])) < max_deltas:
            return None
        try:
            return self.compact_minor()
        except CommitConflictError:
            return None

    def expire_snapshots(self, keep_last: int = 8, older_than_s: float = 0.0) -> dict:
        """Metadata + data retention (Iceberg ``expire_snapshots``): keep
        only the newest ``keep_last`` version manifests, then remove every
        commit dir no kept manifest references. Without this, one manifest
        file per version accumulates forever — at an epoch a minute that
        is ~0.5M driver-side files a year. ``expire_orphans`` frees data
        but keeps every manifest (older ones then point at deleted dirs);
        this trims both together. Time travel stays available within the
        kept horizon and raises FileNotFoundError beyond it.

        Like ``expire_orphans``, the commit-dir sweep can race an
        in-flight writer (its data dir exists before the manifest claim):
        pass ``older_than_s`` greater than the longest expected commit
        duration when writers may be live — Iceberg's
        remove_orphan_files retention interval. ``older_than_s`` also
        guards MANIFEST removal (a manifest file doubles as the
        exclusive version-claim marker: deleting a version a stalled
        writer is about to claim would let the stale claim SUCCEED and
        silently strand its epoch — a writer stalled longer than the
        retention interval is outside the contract, as in Iceberg)."""
        versions = self._versions()
        out = {"removed_manifests": [], "removed_commits": []}
        if not versions:
            return out
        horizon = versions[-1] - max(1, keep_last) + 1
        mdir = os.path.join(self.root, "manifests")
        mcutoff = time.time() - older_than_s
        live: set[str] = set()
        for v in versions:
            name = f"v{v:06d}.json"
            keep = v >= horizon
            if not keep and older_than_s > 0:
                try:
                    keep = os.path.getmtime(os.path.join(mdir, name)) > mcutoff
                except FileNotFoundError:
                    continue
            if keep:
                m = self.manifest(v)
                live |= {d for dirs in m["buckets"].values() for d in dirs}
                live |= set(m.get("global_deltas", []))
            else:
                os.remove(os.path.join(mdir, name))
                out["removed_manifests"].append(name)
        out["removed_commits"] = self._sweep_commits(live, older_than_s)
        return out

    def _sweep_commits(self, live: set[str], older_than_s: float) -> list[str]:
        """Remove every ``commits/`` dir not in ``live`` whose mtime is at
        least ``older_than_s`` old; returns the removed ``commits/<d>``
        paths. The mtime guard keeps an in-flight writer's data dir, which
        exists before its manifest claim."""
        cdir = os.path.join(self.root, "commits")
        # a table whose only committed epochs were empty has manifests but
        # no commits dir (the empty-batch path commits a manifest without
        # ever writing commit data) — nothing to sweep there
        if not os.path.isdir(cdir):
            return []
        removed = []
        cutoff = time.time() - older_than_s
        for d in os.listdir(cdir):
            rel = os.path.join("commits", d)
            path = os.path.join(cdir, d)
            if rel in live:
                continue
            try:
                if older_than_s > 0 and os.path.getmtime(path) > cutoff:
                    continue  # possibly an in-flight commit: keep
            except FileNotFoundError:
                continue  # a concurrent vacuum got it first
            shutil.rmtree(path)
            removed.append(rel)
        return removed

    def expire_orphans(self, older_than_s: float = 0.0) -> list[str]:
        """Remove commit dirs unreferenced by the latest manifest (vacuum).
        Old manifests lose time-travel to expired commits, like Iceberg's
        expire_snapshots.

        ``older_than_s``: only remove dirs whose mtime is at least this
        old (Iceberg remove_orphan_files' ``older_than``). With
        CONCURRENT writers an in-flight commit's data dir exists before
        its manifest claim, so a zero-interval vacuum racing a writer
        could delete data about to be committed — set this to comfortably
        more than the longest expected commit duration (e.g. 600+) when
        writers may be live; 0 (the default) keeps the single-operator
        semantics where the caller knows no commit is in flight."""
        m = self.manifest()
        if m is None:
            return []
        live = {d for dirs in m["buckets"].values() for d in dirs} | set(
            m.get("global_deltas", [])
        )
        return self._sweep_commits(live, older_than_s)
