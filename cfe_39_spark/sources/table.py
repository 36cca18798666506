"""SequenceTable — a from-scratch, Parquet-backed table format with Iceberg
snapshot semantics (SURVEY.md §2.1 S3/S6/S8, §4.2 O2/O3/O4).

No iceberg/delta jars exist in the sandbox and the north rule wants this
built from scratch anyway (BASELINE.json:14).  The format:

    <root>/
      metadata/
        snap-<id>.json      one immutable snapshot descriptor per commit
        manifests/m-*.json  immutable manifest segments (file-entry lists)
        _LATEST             current snapshot id (atomic pointer swap)
      data/
        commit-<batch>-<nonce>/_bucket=<b>/part-*.parquet

A snapshot descriptor holds the schema registry (every schema version ever
committed), the batch_id that produced it, lineage, and a **manifest list**:
references to immutable manifest segments, each holding a slice of the
data-file manifest (per-file bucket, row count, min/max doc_id, schema
version).  Commit = write descriptor, then atomically swap ``_LATEST``.

Manifest segmentation is the Iceberg manifest-list design and it is what
keeps commit metadata O(batch) instead of O(table): a streaming MOR apply
reuses the parent's segment references verbatim and writes ONE new segment
holding only its own delta files, so at 10^10 rows / millions of live files
a trigger's metadata write is a few KB, not a rewrite of a multi-MB inline
file list.  Segments are coalesced (smallest-first) once the list exceeds
``_MANIFEST_TARGET`` (32) so the per-snapshot segment count — and therefore
descriptor size and read-side planning fan-out — stays bounded regardless
of stream lifetime.

Exactly-once (SURVEY.md §4.3 layer 1): ``commit`` is **idempotent on
batch_id** — recommitting a batch_id already in the committed chain is a
no-op returning the existing snapshot id.  Spark's streaming checkpoint
replays a crashed micro-batch with the same batchId, so replay-after-crash
cannot double-apply.  Single-writer per table is assumed (one stream per
table), as in the reference's one-consumer-group-per-output design.

Scale notes (the 100 TB story):
  * Key-partitioned layout (O2): every data file belongs to exactly one of
    ``n_buckets`` hash buckets of ``doc_id`` (pmod(xxhash64(doc_id), B),
    computed in Spark at write AND at merge planning, and by its
    driver-side twin ``bucket_of`` at lookup — one hash function, one
    source of truth).  MERGE touches only the buckets the batch hashes
    to, so per-trigger cost is O(touched data), not O(table).
  * Manifest pruning (O3): per-file min/max doc_id lets the merge planner
    skip files inside a touched bucket whose key range cannot intersect the
    batch.  At 10^10 rows this is the difference between rewriting a bucket
    and rewriting a handful of files.
  * Snapshot expiry (S8): reachability over retained snapshots, delete
    orphan data dirs — the TTL-pruning role of the reference ingester.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schema import (
    BOOKKEEPING_COLS,
    BOOKKEEPING_FIELDS,
    CDC_META_COLS,
    SEQUENCE_SCHEMA_V1,
    sql_cast,
    sql_ident,
    sql_str,
    storage_schema,
)
from . import fs

EPOCH0 = "1970-01-01 00:00:00"

# Sentinel for SequenceTable.commit(carried_files=...): "carry exactly the
# parent snapshot's files".  The O(batch)-metadata hot path — the commit
# reuses the parent's manifest segments by reference and never loads,
# diffs, or rewrites the live file list.  Callers that carry a *computed*
# list (compaction, DML) pass it materialized and pay a segment diff.
PARENT_FILES = object()

# Metadata format version stamped into every snapshot descriptor (the
# Iceberg format-version role): readers accept <= FORMAT_VERSION and
# refuse newer with a clear upgrade message instead of misreading keys
# they do not understand.  Descriptors written before the stamp existed
# read as version 1.
FORMAT_VERSION = 1

# Per-snapshot manifest-segment budget: commits coalesce the smallest
# segments into one once the list grows past this, so segment count is
# bounded by the budget, not by stream lifetime (amortized O(1) extra
# writes per commit — each coalesce buys budget/2 commits of headroom).
_MANIFEST_TARGET = 32

# Manifest segments are immutable once written (same discipline as data
# files), so a process-wide content cache keyed by absolute path is safe;
# it bounds repeated snapshot()["files"] materializations to one read per
# segment per process.  LRU-bounded: a long-lived streaming driver writes
# one segment per trigger (millions over a stream's life) — an unbounded
# cache is a slow driver-memory leak even though each entry is small.
_MANIFEST_CACHE_MAX = 256


class _LRUCache(dict):
    """Process-wide LRU; the lock matters because READ paths are lock-free
    by design (only commits take the table mutex) — two driver threads
    materializing the same snapshot, or a metrics listener racing a query,
    would otherwise hit the get()'s pop/reinsert recency refresh mid-flight
    and crash a read with KeyError."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self._lock = threading.Lock()

    def __setitem__(self, key, value):
        with self._lock:
            super().pop(key, None)
            super().__setitem__(key, value)
            while len(self) > _MANIFEST_CACHE_MAX:
                super().pop(next(iter(self)), None)

    def get(self, key, default=None):
        with self._lock:
            miss = object()
            val = super().pop(key, miss)
            if val is miss:
                return default
            super().__setitem__(key, val)  # refresh recency
            return val

    def pop(self, key, default=None):
        with self._lock:
            return super().pop(key, default)


_MANIFEST_CACHE: dict[str, list[dict]] = _LRUCache()


class _Snapshot(dict):
    """A snapshot descriptor.  ``snap["files"]`` lazily concatenates the
    manifest segments, so metadata-only readers (idempotency probes, chain
    walks, lineage scans) never materialize the O(live files) list.  The
    lazy value is NOT stored back into the dict: serializing or copying a
    descriptor must see only its real on-disk keys."""

    def __init__(self, data: dict, table: "SequenceTable"):
        super().__init__(data)
        self._table = table

    def __missing__(self, key: str):
        if key == "files" and "manifests" in self:
            return self._table._manifest_files(self)
        raise KeyError(key)


class CommitConflictError(RuntimeError):
    """Another writer committed since this writer planned its snapshot.
    Applies recover by re-planning the carried manifest (cheap — their
    delta files are parent-independent); group-scoped commits (compaction,
    DML) must redo their work against the new parent."""


def bucket_expr(doc_id_col: str, n_buckets: int):
    """The one true doc_id -> bucket function (computed JVM-side)."""
    return F.expr(f"CAST(pmod(xxhash64({sql_ident(doc_id_col)}), {int(n_buckets)}) AS INT)")


def bucketed(df: DataFrame, n_buckets: int, key: str = "doc_id") -> DataFrame:
    """``df`` with its ``_bucket`` column (``bucket_expr`` of ``key``),
    hash-partitioned on it: the one shuffle of a bucketed write.  An
    aggregation grouped by ``(_bucket, key)`` over it needs no other
    shuffle, and ``_write_data_files`` reuses its partitioning."""
    return df.withColumn("_bucket", bucket_expr(key, n_buckets)).repartition(
        n_buckets, "_bucket"
    )


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int (the reference
    algorithm; Spark's ``XXH64.hashUnsafeBytes`` computes the same)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _xxh_round(v[j], int.from_bytes(data[i : i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = _xxh_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def bucket_of(doc_id: str, n_buckets: int) -> int:
    """``bucket_expr``'s driver-side twin: Spark's ``xxhash64`` (seed 42,
    over the UTF-8 bytes) read as a signed long, then ``pmod``.  Lets a
    read plan its buckets without a Spark job; the two must never drift
    (pinned by a property test against Spark)."""
    h = _xxh64(doc_id.encode("utf-8"), 42)
    return (h - (1 << 64) if h >> 63 else h) % n_buckets


def lww_pick(df: DataFrame, event_time: str, offset: str, src_partition: str) -> DataFrame:
    """One row per doc_id: the row whose ``(event_time, offset,
    src_partition)`` ordering triple is greatest — the engine's single LWW
    rule, shared by write-side winner selection (``lww_winners``) and
    read-side resolution (``lww_resolve``).  The triple is given as SQL
    expressions.  One ``max_by`` aggregation, executed as a
    ``SortAggregate`` (its struct buffer is not hash-aggregatable).  Every
    input row pays its sort, so callers filter the rows they do not need
    before this, not after.

    On plain input it hash-partitions on ``doc_id``, and the partial
    aggregate collapses a hot key to one row per map task before that
    shuffle.  A write instead passes rows already repartitioned on their
    ``_bucket`` (``bucket_expr``): the grouping is then ``(_bucket,
    doc_id)``, ``_bucket`` passes through as a grouping column, and the
    output stays hash-partitioned on it, so the bucketed file write needs
    no second shuffle.  Exact, since ``_bucket`` is a function of
    ``doc_id``.  The trade: no partial combine runs before that one
    shuffle, so a hot key's copies all travel to its bucket's task."""
    keys = ["_bucket", "doc_id"] if "_bucket" in df.columns else ["doc_id"]
    cols = ", ".join(sql_ident(c) for c in df.columns if c != "_bucket")
    return (
        df.groupBy(*keys)
        .agg(
            F.expr(
                f"max_by(struct({cols}), "
                f"struct({event_time}, {offset}, {src_partition})) AS _w"
            )
        )
        .select(*keys[:-1], "_w.*")
    )


def lww_resolve(df: DataFrame) -> DataFrame:
    """Collapse a multi-version row set (base + merge-on-read deltas) to one
    winner per doc_id by the engine's single ordering rule: max
    (_last_event_time, _last_offset, _last_src_partition) — the same
    triple (event_time, offset, src_partition) the write side orders by,
    so read-time resolution of merge-on-read deltas picks the exact row
    applying the events one by one would have kept, whatever batch
    slicing produced the deltas."""
    return lww_pick(
        df,
        "_last_event_time",
        "_last_offset",
        # legacy rows without the persisted tiebreak sort lowest
        "coalesce(_last_src_partition, -1) AS _sp",
    )


def _live_rows(state: DataFrame, user_cols: list[str]) -> DataFrame:
    """The user-facing projection of resolved state: live rows, user
    columns only."""
    return state.filter("NOT _deleted").selectExpr(*map(sql_ident, user_cols))


def changes_as_events(changes: DataFrame) -> DataFrame:
    """Convert a ``read_changes`` feed back into a raw change-event batch
    (the shape ``apply_batch`` ingests), closing the CDC loop: table A's
    changelog becomes table B's input log.  The full ordering TRIPLE
    survives the round trip ((_last_event_time, _last_offset,
    _last_src_partition) -> (event_time, offset, src_partition)), so a
    chained apply reaches the exact same LWW outcome as the original —
    including ties on (event_time, offset) that break by src_partition.
    Commit provenance stays available as ``_commit_snapshot_id`` on the
    raw feed; the mirror derives its lineage hint from span metadata
    (``SequenceTable.span_src_partitions``), not from this column."""
    user_cols = [
        c
        for c in changes.columns
        if c not in BOOKKEEPING_COLS
        and c
        not in (
            "_change_type",
            "_commit_snapshot_id",
            "_commit_batch_id",
            "_schema_version",
            "doc_id",
        )
    ]
    # carry the feed's real schema version (read_changes stamps the target
    # snapshot's version — the one its rows are reconciled to); only a
    # pre-stamp feed from an older engine falls back to 1
    sv = (
        F.col("_schema_version")
        if "_schema_version" in changes.columns
        else F.lit(1)
    )
    return changes.select(
        "doc_id",
        F.when(F.col("_change_type") == "delete", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("_last_offset").alias("offset"),
        F.col("_last_event_time").alias("event_time"),
        F.col("_last_epoch").alias("epoch"),
        F.coalesce(F.col("_last_src_partition"), F.lit(-1))
        .cast("int")
        .alias("src_partition"),
        sv.alias("schema_version"),
        *user_cols,
    )


def _schema_to_json(schema: T.StructType) -> str:
    return schema.json()


def _backfill_field_ids(
    schemas: dict[str, str], fids: dict[str, dict[str, int]] | None
) -> dict[str, dict[str, int]]:
    """Field-id registry covering every registered schema version
    (Iceberg's column-identity mechanism: a rename keeps its id, a drop
    retires it, a re-add allocates a fresh one so old values never
    resurrect).  Versions recorded before this registry existed are
    reconstructed by NAME CHAINING in version order — exact for
    add/widen-only history, which is the only history a map-less version
    can have (DDL commits always write their own maps).  Deterministic:
    same inputs, same ids; O(versions x columns) driver-side, no IO."""
    out = {k: dict(v) for k, v in (fids or {}).items()}
    next_id = 1 + max(
        (i for m in out.values() for i in m.values()), default=0
    )
    prev: dict[str, int] = {}
    for ver in sorted(schemas, key=int):
        if ver in out:  # before the parse: this runs on every read
            prev = out[ver]
            continue
        names = [f.name for f in _schema_from_json(schemas[ver]).fields]
        m: dict[str, int] = {}
        for n in names:
            if n in prev:
                m[n] = prev[n]
            else:
                m[n] = next_id
                next_id += 1
        out[ver] = m
        prev = m
    return out


def _schema_from_json(js: str) -> T.StructType:
    return T.StructType.fromJson(__import__("json").loads(js))


_EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _dt_micros_exact(v: datetime.datetime) -> int:
    """datetime → epoch micros by INTEGER timedelta arithmetic.  The float
    detour (``int(v.timestamp() * 1e6)``) truncates one microsecond low
    for ~1% of instants — enough to unsoundly prune a file whose true
    ceiling EQUALS the query bound.  Exact math, not rounding, is the
    fix: stats are a correctness boundary."""
    if v.tzinfo is None:
        v = v.replace(tzinfo=datetime.timezone.utc)
    td = v - _EPOCH_UTC
    return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds


def _ts_micros(v) -> int | None:
    """Parquet footer timestamp statistic → epoch microseconds (UTC).

    pyarrow hands back ``datetime`` objects; Spark writes
    ``_last_event_time`` with the session timeZone pinned to UTC
    (session.py), so a naive datetime here IS a UTC instant."""
    if v is None:
        return None
    if isinstance(v, datetime.datetime):
        return _dt_micros_exact(v)
    if isinstance(v, (int, float)):  # physical int64 micros
        return int(v)
    return None


def _bound_micros(v: "datetime.datetime | float | int") -> int:
    """User-facing time bound → epoch microseconds (naive datetime = UTC,
    numbers = epoch seconds; rounded, so a float that *represents* a
    whole microsecond converts to exactly it)."""
    if isinstance(v, datetime.datetime):
        return _dt_micros_exact(v)
    return round(float(v) * 1_000_000)


def _file_stats(
    path: str,
) -> tuple[int, str | None, str | None, int | None, int | None]:
    """(rows, min_doc_id, max_doc_id, min_event_time, max_event_time)
    from the parquet footer; event-time bounds are epoch microseconds.

    Driver-side footer read is fine here: files-per-commit is bounded by
    touched buckets.  On a real cluster this becomes a Spark-side stat
    collection over the written-files listing (documented trade-off).
    """
    md = pq.ParquetFile(path).metadata
    rows = md.num_rows
    doc_idx = et_idx = None
    for i in range(len(md.schema)):
        name = md.schema.column(i).name
        if name == "doc_id":
            doc_idx = i
        elif name == "_last_event_time":
            et_idx = i
    mn = mx = None
    if doc_idx is not None:
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(doc_idx).statistics
            if st is None or not st.has_min_max:
                mn = mx = None
                break
            lo = st.min if isinstance(st.min, str) else st.min.decode()
            hi = st.max if isinstance(st.max, str) else st.max.decode()
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
    et_mn = et_mx = None
    if et_idx is not None:
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(et_idx).statistics
            lo = _ts_micros(st.min) if st is not None and st.has_min_max else None
            hi = _ts_micros(st.max) if st is not None and st.has_min_max else None
            if lo is None or hi is None:
                et_mn = et_mx = None
                break
            et_mn = lo if et_mn is None or lo < et_mn else et_mn
            et_mx = hi if et_mx is None or hi > et_mx else et_mx
    return rows, mn, mx, et_mn, et_mx


class SequenceTable:
    """Handle to one table root.  All metadata ops are driver-side Python;
    all data ops are Spark DataFrames."""

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")

    # ------------------------------------------------------------------ #
    # creation
    # ------------------------------------------------------------------ #
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        initial: DataFrame | None = None,
        n_buckets: int = 16,
        user_schema: T.StructType = SEQUENCE_SCHEMA_V1,
        schema_version: int = 1,
        sort_order: list[str] | None = None,
        bloom_filter_cols: list[str] | None = None,
        bloom_filter_ndv: int | None = None,
        zorder_cols: list[str] | None = None,
        zorder_domains: "dict[str, tuple] | None" = None,
        zorder_bits: int = 12,
    ) -> "SequenceTable":
        """``sort_order`` (opt-in, Iceberg write.sort-order role): column
        names every data write locally sorts by WITHIN each bucket file
        (``sortWithinPartitions`` — no extra shuffle).  Parquet row-group
        stats on the sort key become tight and disjoint, so point lookups
        and key-range scans skip row groups inside the files bucket
        pruning already narrowed to — the intra-file layer of the same
        skipping stack.  Costs one local sort per write; leave None on
        ingest-bound tables where scan latency doesn't matter.

        ``bloom_filter_cols`` (opt-in, Iceberg write.parquet.bloom-filter-
        enabled.column.* role): columns every data write builds a parquet
        bloom filter for (``parquet.bloom.filter.enabled#col`` writer
        option — built by parquet-mr inside the existing write job, no
        extra pass).  The skipping layer sort_order cannot provide:
        an equality lookup on an UNSORTED table skips row groups whose
        bloom rejects the key, even though min/max stats there span the
        whole key space.  ``bloom_filter_ndv`` optionally hints expected
        distinct values per file so parquet-mr sizes the filter exactly
        (unset → its adaptive/max-bytes sizing, ~<1% of a full row
        group).  Both persist as table properties inherited by every
        commit (MOR and DML deltas, compaction, rebucket).

        ``zorder_cols`` (opt-in, the Delta OPTIMIZE ZORDER / Iceberg
        z-order-rewrite role; mutually exclusive with ``sort_order``):
        >=2 numeric/timestamp columns whose bit-interleaved Morton key
        replaces the linear sort — every write locally sorts each bucket
        file by the key, so row groups cover small hyper-rectangles and
        parquet min/max pruning engages for range filters on ANY z
        column, not just the first (functions/zorder.py has the why and
        the cost model).  ``zorder_domains`` maps each z column to its
        fixed (lo, hi) quantization domain — declared once here, clamped
        outside, so key ordering stays comparable across commits with
        zero per-batch stats jobs.  ``zorder_bits`` is the per-column
        resolution (bits * ncols <= 63)."""
        t = cls(root)
        if fs.exists(os.path.join(t.meta_dir, "_LATEST")):
            raise ValueError(f"table already exists at {root}")
        known = {f.name for f in user_schema.fields}
        if sort_order:
            bad = [c for c in sort_order if c not in known]
            if bad:
                raise ValueError(f"sort_order columns not in schema: {bad}")
        bloom: dict | None = None
        if bloom_filter_cols:
            bad = [c for c in bloom_filter_cols if c not in known]
            if bad:
                raise ValueError(f"bloom_filter columns not in schema: {bad}")
            bloom = {"cols": list(bloom_filter_cols)}
            if bloom_filter_ndv is not None:
                if bloom_filter_ndv <= 0:
                    raise ValueError("bloom_filter_ndv must be positive")
                bloom["ndv"] = int(bloom_filter_ndv)
        elif bloom_filter_ndv is not None:
            raise ValueError("bloom_filter_ndv given without bloom_filter_cols")
        zorder: dict | None = None
        if zorder_cols:
            from ..functions.zorder import validate_zorder

            if sort_order:
                raise ValueError("zorder_cols and sort_order are mutually exclusive")
            bad = [c for c in zorder_cols if c not in known]
            if bad:
                raise ValueError(f"zorder columns not in schema: {bad}")
            ztypes = {f.name: f.dataType.simpleString() for f in user_schema.fields}
            nonnum = [
                c
                for c in zorder_cols
                if ztypes[c]
                not in ("tinyint", "smallint", "int", "bigint", "float", "double", "timestamp", "date")
            ]
            if nonnum:
                raise ValueError(
                    f"zorder columns must be numeric/timestamp: {nonnum} "
                    "(strings belong to the bucket/bloom layers)"
                )
            validate_zorder(
                list(zorder_cols),
                {c: tuple(v) for c, v in (zorder_domains or {}).items() if c in zorder_cols},
                zorder_bits,
            )
            zorder = {
                "cols": list(zorder_cols),
                "domains": {c: [float(zorder_domains[c][0]), float(zorder_domains[c][1])] for c in zorder_cols},
                "bits": int(zorder_bits),
                # per-column source types: DATE needs the unix_date bridge
                # in zorder_key (Spark 4 rejects cast(date as double));
                # date domains are declared in DAYS since 1970-01-01
                "types": {c: ztypes[c] for c in zorder_cols},
            }
        elif zorder_domains is not None:
            raise ValueError("zorder_domains given without zorder_cols")
        files: list[dict] = []
        if initial is not None:
            stamped = (
                initial.select([F.col(f.name).cast(f.dataType) for f in user_schema.fields])
                .withColumn("_last_offset", F.lit(-1).cast("long"))
                .withColumn("_last_event_time", F.lit(EPOCH0).cast("timestamp"))
                .withColumn("_last_epoch", F.lit(-1).cast("long"))
                .withColumn("_last_src_partition", F.lit(-1).cast("int"))
                .withColumn("_deleted", F.lit(False))
            )
            files = t._write_data_files(
                stamped, n_buckets, schema_version, batch_tag="init",
                sort_cols=sort_order, bloom=bloom, zorder=zorder,
            )
        snap = {
            "format_version": FORMAT_VERSION,
            "snapshot_id": 1,
            "parent_id": None,
            "batch_id": "__create__",
            "committed_at": time.time(),
            "n_buckets": n_buckets,
            "schema_version": schema_version,
            "schemas": {str(schema_version): _schema_to_json(user_schema)},
            "field_ids": {
                str(schema_version): {
                    f.name: i + 1 for i, f in enumerate(user_schema.fields)
                }
            },
            "manifests": [t._write_manifest(1, files)] if files else [],
        }
        if sort_order:
            snap["sort_order"] = list(sort_order)
        if bloom:
            snap["bloom_filter"] = bloom
        if zorder:
            snap["zorder"] = zorder
        fs.write_json_atomic(t._snap_path(1), snap)
        fs.write_atomic(os.path.join(t.meta_dir, "_LATEST"), "1")
        t._write_marker("__create__", 1)
        return t

    # ------------------------------------------------------------------ #
    # snapshot metadata
    # ------------------------------------------------------------------ #
    def _snap_path(self, sid: int) -> str:
        return os.path.join(self.meta_dir, f"snap-{sid:012d}.json")

    def latest_snapshot_id(self) -> int:
        try:
            return int(fs.read_text(os.path.join(self.meta_dir, "_LATEST")))
        except FileNotFoundError:
            # rename-no-overwrite backends (HDFS contract) swap the pointer
            # by delete+rename, leaving a short no-pointer window; a writer
            # crash inside it must not brick readers.  The append-only
            # batches log trails every pointer swap (swap, THEN log line;
            # the pre-commit find_batch probe self-heals any unlogged
            # suffix first), so its newest entry is the last snapshot whose
            # commit fully completed — exactly the recovery answer.  One
            # exception: fast_forward journals its log lines BEFORE its
            # swap (under a _PUBLISH_INTENT marker), so a crashed publish
            # may have logged a staged span main never adopted — a pending
            # intent's span is excluded, keeping recovery on audited state.
            logged = self._batches_log()
            try:
                staged = set(fs.read_json(self._publish_intent_path())["span"])
            except (FileNotFoundError, ValueError, KeyError):
                staged = set()
            cands = [v for v in logged.values() if v not in staged]
            if cands:
                return max(cands)
            raise

    def snapshot(self, sid: "int | str | None" = None) -> dict[str, Any]:
        if isinstance(sid, str):
            sid = self.resolve_ref(sid)
        sid = sid if sid is not None else self.latest_snapshot_id()
        data = fs.read_json(self._snap_path(sid))
        fv = int(data.get("format_version", 1))
        if fv > FORMAT_VERSION:
            raise ValueError(
                f"table {self.root}: snapshot {sid} has format_version {fv} "
                f"but this library reads <= {FORMAT_VERSION} — written by a "
                "newer engine; upgrade before reading (refusing beats "
                "silently ignoring metadata keys we do not understand)"
            )
        return _Snapshot(data, self)

    # -- named refs (tags): pinned, expiry-proof snapshots --------------- #
    def _refs_path(self) -> str:
        return os.path.join(self.meta_dir, "refs.json")

    def _read_refs(self) -> dict:
        """Lock-free refs read with a one-step fallback: on HDFS-style
        rename-no-overwrite backends the writer's delete+rename swap opens
        a short no-file window on ``refs.json`` (the same window ``_LATEST``
        recovers from via the batches log).  Writers keep ``refs.json.prev``
        — the pre-swap state — so a reader caught in the window (or after a
        writer crash mid-swap) sees the previous consistent ref set instead
        of crashing or reading every tag as gone."""
        for path in (self._refs_path(), self._refs_path() + ".prev"):
            try:
                return fs.read_json(path)
            except FileNotFoundError:
                continue
        return {}

    def _write_refs(self, refs: dict) -> None:
        """Swap ``refs.json`` under the commit mutex (callers hold it),
        preserving the previous state as the reader fallback above."""
        p = self._refs_path()
        try:
            fs.write_atomic(p + ".prev", fs.read_text(p))
        except FileNotFoundError:
            pass
        fs.write_json_atomic(p, refs)

    @staticmethod
    def _ref_sid(v) -> int:
        # a ref value is a bare snapshot id (legacy / no TTL) or a dict
        # {"sid", "created_at", "max_age_s"} when the ref carries a TTL
        return int(v["sid"]) if isinstance(v, dict) else int(v)

    @staticmethod
    def _ref_expired(v, now: float) -> bool:
        return (
            isinstance(v, dict)
            and v.get("max_age_s") is not None
            and now - float(v.get("created_at", now)) > float(v["max_age_s"])
        )

    def tags(self) -> dict[str, int]:
        """name -> snapshot_id for every tag (empty when none)."""
        return {
            k: self._ref_sid(v)
            for k, v in self._read_refs().get("tags", {}).items()
        }

    def resolve_ref(self, name: str) -> int:
        """Tag or branch name -> snapshot id (branch = its current head,
        so ``read(spark, "audit")`` is the WAP audit read)."""
        t = self.tags()
        if name in t:
            return t[name]
        b = self.branches()
        if name in b:
            return b[name]
        raise KeyError(
            f"no ref named {name!r} (tags: {sorted(t)}, branches: {sorted(b)})"
        )

    def snapshot_as_of(self, ts: float) -> int:
        """Iceberg's ``TIMESTAMP AS OF``: the snapshot id whose state was
        current at wall-clock ``ts`` — the newest chain snapshot with
        ``committed_at <= ts``.  Candidates are ordered by CHAIN POSITION,
        not by raw timestamp, so a backwards clock step between commits
        (the skew the retention path already defends against) cannot make
        time travel non-deterministic: the rule is "the last snapshot
        committed at-or-before ``ts`` in commit order".

        Raises ``KeyError`` when ``ts`` precedes every retained snapshot —
        that state has been expired, and the caller must re-bootstrap from
        a current read (the same contract as an expired changelog cursor).
        Cost: O(retained chain) driver-side metadata reads, no data I/O.
        """
        chain = self.committed_chain()  # newest -> oldest
        for s in chain:
            if float(s.get("committed_at", 0.0)) <= ts:
                return int(s["snapshot_id"])
        oldest = chain[-1]
        raise KeyError(
            f"no snapshot at or before ts={ts}: oldest retained snapshot "
            f"{oldest['snapshot_id']} was committed at "
            f"{oldest.get('committed_at')} — earlier state has been "
            "expired; re-bootstrap from a current read"
        )

    def tag(
        self,
        name: str,
        snapshot_id: int | None = None,
        replace: bool = False,
        max_age_s: float | None = None,
    ) -> int:
        """Pin ``snapshot_id`` (default: latest) under ``name`` — Iceberg's
        tag ref.  A tagged snapshot is excluded from retention: its
        descriptor, manifest segments and data files survive
        ``expire_snapshots`` until the tag is removed, so a consumer can
        freeze the exact table state a model was trained on ("the
        reproducible-training-snapshot contract") while normal retention
        keeps rolling ahead.

        Once retention passes a tagged snapshot it becomes DETACHED: still
        readable by tag or id (``read(spark, "prod-v1")``), but no longer
        on the committed chain — so ``read_changes`` spans and ``rollback``
        (which require chain ancestry) exclude it, exactly like Iceberg
        tags vs the main branch.  Refs live in one atomically-swapped
        ``refs.json``; updates run under the commit mutex.

        ``max_age_s`` (Iceberg's maxRefAge): the tag auto-expires on the
        first ``expire_snapshots`` pass after that age — a forgotten pin
        is a RETENTION LEAK (it holds descriptor, segments and data dirs
        forever), so time-bound pins are the production default for
        anything not meant to outlive its consumer.  Default None = pinned
        until removed."""
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")):
            sid = (
                int(snapshot_id)
                if snapshot_id is not None
                else self.latest_snapshot_id()
            )
            if not fs.exists(self._snap_path(sid)):
                raise ValueError(
                    f"cannot tag snapshot {sid}: no such snapshot (expired "
                    "or never committed)"
                )
            t = self.tags()
            if name in t and t[name] != sid and not replace:
                raise ValueError(
                    f"tag {name!r} already points at snapshot {t[name]}; "
                    "pass replace=True to move it"
                )
            if name in self.branches():
                raise ValueError(f"ref {name!r} is a branch; tags and branches share one namespace")
            refs = self._read_refs()
            traw = dict(refs.get("tags", {}))
            traw[name] = (
                sid
                if max_age_s is None
                else {
                    "sid": sid,
                    "created_at": time.time(),
                    "max_age_s": float(max_age_s),
                }
            )
            self._write_refs(dict(refs, tags=traw))
            return sid

    def remove_tag(self, name: str) -> int:
        """Drop the tag; its snapshot re-enters normal retention on the
        next ``expire_snapshots`` pass.  Returns the unpinned id."""
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")):
            refs = self._read_refs()
            traw = dict(refs.get("tags", {}))
            if name not in traw:
                raise KeyError(f"no tag named {name!r}")
            sid = self._ref_sid(traw.pop(name))
            self._write_refs(dict(refs, tags=traw))
            return sid

    # -- branches: staged commit lines + write-audit-publish ------------ #
    def branches(self) -> dict[str, int]:
        """name -> head snapshot_id for every branch (empty when none)."""
        return {
            k: self._ref_sid(v)
            for k, v in self._read_refs().get("branches", {}).items()
        }

    def create_branch(
        self,
        name: str,
        at: "int | str | None" = None,
        max_age_s: float | None = None,
    ) -> int:
        """Open a branch at ``at`` (default: latest) — Iceberg branch-ref
        semantics on the from-scratch format.  A branch is a movable named
        head: commits made through ``branch(name)`` extend it WITHOUT
        touching ``_LATEST``, so main readers never see staged work.  The
        write-audit-publish (WAP) pattern is create_branch("audit") →
        apply batches to ``branch("audit")`` → validate by reading the
        branch → ``fast_forward("audit")`` to publish atomically.

        Branch heads (and every staged snapshot down to the main chain)
        are pinned against retention like tags, so expiry can run mid-WAP
        without reaping the unpublished line.  That pin is unbounded: an
        ABANDONED branch is a retention leak, so ``max_age_s`` (Iceberg's
        maxRefAge) auto-drops the branch — with the full forget discipline
        — on the first ``expire_snapshots`` pass after that age.  Default
        None = lives until dropped/published."""
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
            sid = (
                self.resolve_ref(at)
                if isinstance(at, str)
                else (int(at) if at is not None else self.latest_snapshot_id())
            )
            if not fs.exists(self._snap_path(sid)):
                raise ValueError(f"cannot branch at snapshot {sid}: no such snapshot")
            refs = self._read_refs()
            if name in refs.get("tags", {}) or name in refs.get("branches", {}):
                raise ValueError(f"ref {name!r} already exists")
            try:
                lk.verify()
            except fs.LockLostError as e:
                raise CommitConflictError(str(e)) from None
            b = dict(refs.get("branches", {}))
            # the fork sid is part of the ref: it is the PRECISE lower
            # boundary of the staged suffix, needed when the fork ancestry
            # later expires off the main chain — without it, drop-forget
            # and the expiry pin walk cannot tell detached main history
            # from branch-created work
            val: dict = {"sid": sid, "fork": sid}
            if max_age_s is not None:
                val["created_at"] = time.time()
                val["max_age_s"] = float(max_age_s)
            b[name] = val
            self._write_refs(dict(refs, branches=b))
            return sid

    def branch(self, name: str) -> "BranchHandle":
        """Handle whose tip is the branch head: ``apply_batch``,
        ``run_stream``, ``compact`` — the whole write machinery — work
        against it unchanged and commit to the branch."""
        if name not in self.branches():
            raise KeyError(f"no branch named {name!r} (have: {sorted(self.branches())})")
        return BranchHandle(self.root, name)

    def fast_forward(self, name: str) -> int:
        """Publish a branch: atomically move main to the branch head —
        Iceberg's fastForwardBranch, the WAP publish step.  Requires main
        to be an ancestor of the head (fast-forward only): if main moved
        since the branch was cut, the staged span was audited against a
        stale base — replay it onto a fresh branch instead of silently
        rebasing.

        The publish is journaled: a ``_PUBLISH_INTENT`` marker (branch,
        head, span ids) lands first, then the span's batch-id log lines,
        then the pointer swap, then the intent is deleted.  A crash at any
        point is safe: pointer recovery EXCLUDES a pending intent's span
        from the batches-log fallback, so an abandoned half-publish can
        never be adopted as main (re-running fast_forward completes it;
        ``drop_branch`` cancels it and scrubs its log lines).  The branch
        ref stays at the head after publishing."""
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
            heads = self.branches()
            if name not in heads:
                raise KeyError(f"no branch named {name!r}")
            head = heads[name]
            main = self.latest_snapshot_id()
            if head == main:
                # retry after a crash between pointer swap and intent
                # delete: the publish completed — clear the journal and
                # heal the fork mark (the crash may have hit before it).
                # Only THIS branch's journal: a pending intent from a
                # DIFFERENT branch's crashed publish is still protecting
                # pointer recovery from adopting that unpublished span.
                try:
                    intent = fs.read_json(self._publish_intent_path())
                except (FileNotFoundError, ValueError):
                    intent = None
                if intent and intent.get("branch") == name:
                    fs.unlink(self._publish_intent_path())
                self._mark_published(name, head)
                return main
            span: list[dict] = []
            sid: int | None = head
            while sid is not None and sid != main:
                try:
                    span.append(self.snapshot(sid))
                except FileNotFoundError:
                    # the walk fell off the staged suffix into EXPIRED main
                    # ancestry: the fork point predates retention, so main
                    # has necessarily moved on — this is divergence, give
                    # the guided error instead of a raw missing-file trace
                    sid = None
                    break
                sid = span[-1]["parent_id"]
            if sid != main:
                raise ValueError(
                    f"branch {name!r} (head {head}) does not descend from "
                    f"the current snapshot {main}; publish is fast-forward "
                    "only — drop the branch and replay its batches onto a "
                    "fresh one cut from the new main"
                )
            try:
                lk.verify()
            except fs.LockLostError as e:
                raise CommitConflictError(str(e)) from None
            fs.write_json_atomic(
                self._publish_intent_path(),
                {
                    "branch": name,
                    "head": head,
                    "span": [s["snapshot_id"] for s in span],
                },
            )
            for s in reversed(span):  # oldest first: log order = commit order
                fs.append_line(
                    self._batches_log_path(),
                    f"{s['batch_id']} {s['snapshot_id']}",
                )
            fs.write_atomic(os.path.join(self.meta_dir, "_LATEST"), str(head))
            # the span is main history now: move the ref's fork mark up to
            # the head BEFORE clearing the journal.  Without this the fork
            # goes stale, and once retention shrinks the chain below the
            # published head, a later drop_branch would walk PUBLISHED
            # history as if it were staged work and erase its idempotency
            # markers (the same marker-erasure class the fork mark exists
            # to prevent, reachable through the publish path).
            self._mark_published(name, head)
            fs.unlink(self._publish_intent_path())
            return head

    def _resolve_publish_intent(self) -> None:
        """Finish a publish that crashed between the pointer swap and the
        journal delete.  Caller holds the commit mutex.

        If a pending intent's head is reachable from the current main tip,
        the swap happened — the publish COMPLETED — so heal the branch's
        fork mark and clear the journal.  Without this, the stale fork
        survives until a ``fast_forward`` retry that nothing forces: an
        expiry pass could detach the published head from the chain first,
        after which ``drop_branch`` (or the ref-TTL sweep) would walk the
        PUBLISHED span as staged work and erase its idempotency markers.
        Run at the top of every operation that scrubs markers (drop,
        expiry) — ancestry is still intact there, so the completed/crashed
        ambiguity is decidable.  An unreachable head means the swap never
        happened: leave the intent for retry/cancel."""
        try:
            intent = fs.read_json(self._publish_intent_path())
        except (FileNotFoundError, ValueError):
            return
        head = int(intent.get("head", -1))
        sid: int | None = self.latest_snapshot_id()
        while sid is not None:
            if sid == head:
                self._mark_published(str(intent.get("branch")), head)
                fs.unlink(self._publish_intent_path())
                return
            try:
                sid = self.snapshot(sid)["parent_id"]
            except FileNotFoundError:
                return

    def _mark_published(self, name: str, head: int) -> None:
        """Re-point branch ``name``'s ref at ``head`` with fork == head
        (nothing staged).  Caller holds the commit mutex."""
        refs = self._read_refs()
        b = dict(refs.get("branches", {}))
        cur = b.get(name)
        if cur is None:
            return
        env = cur if isinstance(cur, dict) else {}
        if env.get("sid") == head and env.get("fork") == head:
            return
        b[name] = dict(env, sid=head, fork=head)
        self._write_refs(dict(refs, branches=b))

    def _publish_intent_path(self) -> str:
        return os.path.join(self.meta_dir, "_PUBLISH_INTENT")

    def drop_branch(self, name: str) -> int:
        """Abandon a branch.  The staged (branch-only) suffix's batch ids
        are FORGOTTEN — markers deleted and any published-by-a-crashed-
        publish log lines filtered — so the same batches can later apply
        to main for real (the rollback forget discipline; without it an
        abandoned audit line would make the production replay silently
        no-op).  The staged descriptors/segments/data dirs become orphans
        for the next ``expire_snapshots`` pass.  Returns the dropped
        head."""
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
            # mutations below: abort first if our lock was stale-broken
            # (a waiter may be mid-commit; scrubbing the log or markers
            # under it would erase its commit record)
            try:
                lk.verify()
            except fs.LockLostError as e:
                raise CommitConflictError(str(e)) from None
            return self._drop_branch_locked(name)

    @staticmethod
    def _ref_fork(v) -> int | None:
        return v.get("fork") if isinstance(v, dict) else None

    def _drop_branch_locked(self, name: str) -> int:
        """The drop-forget core; the caller holds (and has verified) the
        commit mutex — also invoked by expiry's ref-TTL sweep.

        Only snapshots CREATED ON THE BRANCH (strictly above its recorded
        fork point) are forgotten: when the fork ancestry has expired off
        the main chain, the detached fork snapshot is main history whose
        batch really applied — erasing its marker would break replay
        suppression for published state."""
        # finish a crashed-but-completed publish FIRST: it may be this
        # branch's, and its healed fork mark is what stops the walk below
        # from treating published history as staged work
        self._resolve_publish_intent()
        braw = self._read_refs().get("branches", {})
        if name not in braw:
            raise KeyError(f"no branch named {name!r}")
        head = self._ref_sid(braw[name])
        fork = self._ref_fork(braw[name])
        main_ids = {s["snapshot_id"] for s in self.committed_chain()}
        other = set()
        for n2, v2 in braw.items():  # keep batches shared with sibling branches
            if n2 == name:
                continue
            sid2: int | None = self._ref_sid(v2)
            # the sibling walk must NOT stop at the sibling's fork: a
            # sibling cut from THIS branch's staged suffix has fork ==
            # head == a shared staged snapshot, and stopping there would
            # let the drop below erase a marker the sibling still
            # references.  Extra ids in ``other`` only ever PREVENT
            # deletions, so walking all the way to main (or a missing
            # descriptor) is always safe.
            while sid2 is not None and sid2 not in main_ids:
                try:
                    s2 = self.snapshot(sid2)
                except FileNotFoundError:
                    break  # expired fork ancestry: past the staged suffix
                other.add(sid2)
                sid2 = s2["parent_id"]
        dropped: list[dict] = []
        sid: int | None = head
        while (
            sid is not None
            and sid != fork
            and sid not in main_ids
            and sid not in other
        ):
            try:
                s = self.snapshot(sid)
            except FileNotFoundError:
                break  # expired fork ancestry: past the staged suffix
            dropped.append(s)
            sid = s["parent_id"]
        # cancel a crashed half-publish of THIS branch before scrubbing:
        # its journaled log lines are part of the staged record
        try:
            intent = fs.read_json(self._publish_intent_path())
        except (FileNotFoundError, ValueError):
            intent = None
        if intent and intent.get("branch") == name:
            fs.unlink(self._publish_intent_path())
        for s in dropped:
            fs.unlink(self._marker_path(s["batch_id"]))
        drop_ids = {s["snapshot_id"] for s in dropped}
        if drop_ids:
            self._filter_batches_log(drop_ids=drop_ids)
        refs = self._read_refs()
        refs["branches"] = {
            k: v for k, v in refs.get("branches", {}).items() if k != name
        }
        self._write_refs(refs)
        return head

    # -- manifest segments (Iceberg manifest-list role) ----------------- #
    def _manifest_dir(self) -> str:
        return os.path.join(self.meta_dir, "manifests")

    def _write_manifest(self, sid: int, entries: list[dict]) -> dict:
        """Write one immutable manifest segment; return its reference.
        The reference carries the aggregates metadata-only consumers need
        (per-bucket delta counts for the compaction gauge, file/row totals
        for coalescing and stats) so they never load the segment body."""
        name = f"m-{sid:012d}-{uuid.uuid4().hex[:8]}.json"
        rel = os.path.join("manifests", name)
        path = os.path.join(self.meta_dir, rel)
        fs.write_json_atomic(path, {"entries": entries})
        _MANIFEST_CACHE[path] = list(entries)
        dc: dict[str, int] = {}
        for e in entries:
            if e.get("kind", "base") == "delta":
                b = str(e["bucket"])
                dc[b] = dc.get(b, 0) + 1
        # key-range aggregate: valid only if EVERY entry has bounds — one
        # unknown range makes the segment range unknown (never range-pruned)
        mins = [e.get("min_doc_id") for e in entries]
        maxs = [e.get("max_doc_id") for e in entries]
        known = entries and None not in mins and None not in maxs
        et_maxs = [e.get("max_event_time") for e in entries]
        et_known = entries and None not in et_maxs
        return {
            "path": rel,
            "n_files": len(entries),
            "n_rows": sum(int(e.get("rows", 0)) for e in entries),
            "delta_counts": dc,
            # distinct bucket specs in this segment (0 = legacy/unknown):
            # lets _files_for_buckets translate wanted current-spec buckets
            # into each spec's id space before the disjointness test
            "specs": sorted({int(e.get("spec_nb") or 0) for e in entries}),
            "buckets": sorted({int(e["bucket"]) for e in entries}),
            "min_doc_id": min(mins) if known else None,
            "max_doc_id": max(maxs) if known else None,
            # segment-level time bound: valid only if EVERY entry knows its
            # event-time ceiling — one unknown makes the segment unknown
            # (never time-pruned); only the MAX is aggregated because only
            # the lower-bound read (min_event_time) can skip soundly
            "max_event_time": max(et_maxs) if et_known else None,
        }

    def _load_manifest(self, ref: dict) -> list[dict]:
        path = os.path.join(self.meta_dir, ref["path"])
        hit = _MANIFEST_CACHE.get(path)
        if hit is None:
            hit = fs.read_json(path)["entries"]
            _MANIFEST_CACHE[path] = hit
        return hit

    def _manifest_files(self, snap: dict) -> list[dict]:
        out: list[dict] = []
        for ref in snap.get("manifests", []):
            out.extend(self._load_manifest(ref))
        return out

    # ------------------------------------------------------------------ #
    # bucket-spec resolution (lazy spec evolution, evolve_bucket_spec)
    #
    # Invariant: every live spec s divides the current n_buckets B
    # (evolve only multiplies; create/rebucket/compact write single-spec),
    # so a key's bucket under s is its bucket under B taken mod s — every
    # pruning site below translates current-spec bucket ids with one mod.
    # ------------------------------------------------------------------ #
    def _entry_spec(self, snap: dict, e: dict) -> int:
        """The n_buckets a file entry's bucket id was computed under."""
        return e.get("spec_nb") or self._parent_legacy_spec(snap)

    def _min_live_spec(self, snap: dict) -> int:
        """Smallest bucket spec among the snapshot's live files — the
        granularity at which bucket GROUPS are key-disjoint across specs
        (== n_buckets on a single-spec table, making every group check
        collapse to the plain bucket check).  O(segments) off the refs'
        ``specs`` aggregate; never loads a segment body."""
        nb = snap["n_buckets"]
        legacy = self._parent_legacy_spec(snap)
        if "manifests" not in snap:
            specs = {self._entry_spec(snap, e) for e in snap.get("files", [])}
            return min(specs) if specs else nb
        mn = nb
        for ref in snap["manifests"]:
            for s in ref.get("specs") or [0]:
                s = s or legacy
                if s < mn:
                    mn = s
        return mn

    def _files_for_buckets(
        self,
        snap: dict,
        wanted: set[int],
        lo: str | None = None,
        hi: str | None = None,
    ) -> list[dict]:
        """Candidate file entries for the given buckets (and, optionally,
        doc_id range [lo, hi]) — Iceberg's manifest-list pruning: a segment
        whose reference-level bucket set misses ``wanted``, or whose key
        range is disjoint from [lo, hi], is skipped WITHOUT loading its
        body.  Point lookups touch O(segments-with-the-key) metadata, not
        O(live files).  Refs lacking the aggregates (pre-upgrade) and v1
        inline descriptors degrade to the full scan — superset-safe.

        ``wanted`` holds CURRENT-spec bucket ids; files written under an
        older (coarser) spec match through the divisibility rule: a
        spec-s file can hold a wanted key iff its bucket equals some
        ``b % s``."""
        legacy = self._parent_legacy_spec(snap)
        nb = snap["n_buckets"]
        per_spec: dict[int, set[int]] = {nb: set(wanted)}

        def wanted_under(s: int) -> set[int]:
            got = per_spec.get(s)
            if got is None:
                got = {b % s for b in wanted}
                per_spec[s] = got
            return got

        def entry_hit(e: dict) -> bool:
            return e["bucket"] in wanted_under(e.get("spec_nb") or legacy)

        if "manifests" not in snap:
            return [e for e in snap["files"] if entry_hit(e)]
        out: list[dict] = []
        for ref in snap["manifests"]:
            bs = ref.get("buckets")
            if bs is not None:
                ref_specs = {s or legacy for s in (ref.get("specs") or [0])}
                if all(wanted_under(s).isdisjoint(bs) for s in ref_specs):
                    continue
            rmin, rmax = ref.get("min_doc_id"), ref.get("max_doc_id")
            if (
                lo is not None
                and rmin is not None
                and rmax is not None
                and (rmax < lo or rmin > hi)
            ):
                continue
            out.extend(e for e in self._load_manifest(ref) if entry_hit(e))
        return out

    def _files_min_event_time(self, snap: dict, micros: int) -> list[dict]:
        """File entries that can hold a row with ``_last_event_time >=
        micros`` — manifest-level time skipping for recent-state reads.

        Two stages, both driver-side metadata only: a manifest segment
        whose reference-level ``max_event_time`` ceiling is below the
        bound is skipped WITHOUT loading its body; surviving segments'
        entries are kept unless their per-file ceiling is below the
        bound.  Entries or refs lacking the stat (written before the
        stats landed) are kept — correctness over skipping."""
        if "manifests" not in snap:
            return [
                e
                for e in snap["files"]
                if e.get("max_event_time") is None
                or e["max_event_time"] >= micros
            ]
        out: list[dict] = []
        for ref in snap["manifests"]:
            ceil = ref.get("max_event_time")
            if ceil is not None and ceil < micros:
                continue
            out.extend(
                e
                for e in self._load_manifest(ref)
                if e.get("max_event_time") is None
                or e["max_event_time"] >= micros
            )
        return out

    def _parent_legacy_spec(self, parent: dict) -> int:
        """The bucket spec of entries that predate spec stamping, under
        ``parent``: explicit legacy marker if an evolution set one, else
        the parent's own n_buckets (single-spec table)."""
        return parent.get("legacy_spec_nb") or parent["n_buckets"]

    def _plan_manifests(
        self, sid: int, parent: dict, new_files: list[dict], carried_files
    ) -> list[dict]:
        """Compute the child snapshot's manifest list.

        ``carried_files is PARENT_FILES`` (the streaming hot path): reuse
        the parent's segment references and write one segment for
        ``new_files`` — O(batch) metadata, no segment ever loaded.

        Materialized ``carried_files`` (compaction / DML / legacy
        callers): per parent segment, reuse it iff every entry survives
        unchanged in the carried list; otherwise pool its survivors into
        the new segment alongside ``new_files``.  Carried entries the
        parent never knew (caller-rewritten manifests) are appended too.
        This path loads parent segments — the accepted cost of the rare
        maintenance commits; triggers never take it."""
        if carried_files is PARENT_FILES:
            reused = list(parent.get("manifests", []))
            # v1 inline-descriptor parent: fold its list into segments once
            if "manifests" not in parent and parent.get("files"):
                new_files = list(parent["files"]) + list(new_files)
            new_entries = list(new_files)
        elif not carried_files:
            # full-rewrite commit (rebucket): nothing carried, no diff needed
            reused, new_entries = [], list(new_files)
        else:
            by_path = {e["path"]: e for e in carried_files}
            reused, pool, consumed = [], [], set()
            parent_refs = parent.get("manifests")
            if parent_refs is None:
                # v1 parent: treat its inline list as one rewritable segment
                segments = [parent.get("files", [])]
                refs: list[dict | None] = [None]
            else:
                segments = [self._load_manifest(r) for r in parent_refs]
                refs = list(parent_refs)
            for ref, entries in zip(refs, segments):
                if (
                    ref is not None
                    and entries
                    and all(by_path.get(e["path"]) == e for e in entries)
                ):
                    reused.append(ref)
                    consumed.update(e["path"] for e in entries)
                else:
                    for e in entries:
                        c = by_path.get(e["path"])
                        if c is not None and e["path"] not in consumed:
                            pool.append(c)
                            consumed.add(e["path"])
            extra = [e for e in carried_files if e["path"] not in consumed]
            new_entries = pool + extra + list(new_files)
        # stamp unstamped entries entering a NEW segment with their spec
        # (a file's spec is a property of the file, constant across
        # snapshots, so in-place setdefault is safe for cached lists):
        # within freshly-written segments, spec_nb is then always explicit
        legacy = self._parent_legacy_spec(parent)
        for e in new_entries:
            e.setdefault("spec_nb", legacy)
        refs_out = reused + (
            [self._write_manifest(sid, new_entries)] if new_entries else []
        )
        return self._coalesce_manifests(sid, refs_out, legacy)

    def _coalesce_manifests(
        self, sid: int, refs: list[dict], legacy_spec: int | None = None
    ) -> list[dict]:
        """Bound the segment count: when the list exceeds the budget, merge
        the smallest segments into one, down to budget/2 — so a coalesce
        happens every ~budget/2 commits and mostly touches small segments
        (amortized O(1) segment writes per commit, LSM-style)."""
        if len(refs) <= _MANIFEST_TARGET:
            return refs
        srt = sorted(refs, key=lambda r: r["n_files"])
        n_merge = len(refs) - max(_MANIFEST_TARGET // 2, 1) + 1
        merged_entries: list[dict] = []
        for r in srt[:n_merge]:
            merged_entries.extend(self._load_manifest(r))
        if legacy_spec is not None:
            for e in merged_entries:
                e.setdefault("spec_nb", legacy_spec)
        keep = srt[n_merge:]
        return keep + [self._write_manifest(sid, merged_entries)]

    def inspect(
        self, spark, view: str, at: "int | str | None" = None
    ) -> "Any":
        """Metadata inspection tables (Iceberg's snapshots / history /
        refs / manifests / files metadata-table role) as DataFrames —
        see ``sources/inspect.py`` for each view's schema and scale
        discipline.  ``at`` (manifests/files only): snapshot id or ref."""
        from . import inspect as _inspect

        return _inspect.inspect_df(spark, self, view, at)

    def committed_chain(self) -> list[dict[str, Any]]:
        """Snapshots reachable from _LATEST via parent links (committed only —
        a descriptor orphaned by a crash before pointer swap is excluded)."""
        out = []
        sid: int | None = self.latest_snapshot_id()
        while sid is not None:
            s = self.snapshot(sid)
            out.append(s)
            sid = s["parent_id"]
        return out

    def _batches_log_path(self) -> str:
        return os.path.join(self.meta_dir, "batches.log")

    # -- per-batch marker objects: the O(1) idempotency probe ---------- #
    def _marker_path(self, bid: str) -> str:
        # sha1 of the batch id: ids are caller-chosen strings (may hold
        # path separators); the id itself is stored inside for verification
        import hashlib

        h = hashlib.sha1(bid.encode()).hexdigest()
        return os.path.join(self.meta_dir, "batches", f"{h}.json")

    def _read_marker(self, bid: str) -> int | None:
        p = self._marker_path(bid)
        if not fs.exists(p):
            return None
        m = fs.read_json(p)
        return int(m["snapshot_id"]) if m.get("batch_id") == bid else None

    def _write_marker(self, bid: str, sid: int) -> None:
        fs.write_json_atomic(
            self._marker_path(bid), {"batch_id": bid, "snapshot_id": sid}
        )

    def _batches_log(self) -> dict[str, int]:
        """batch_id -> snapshot_id from the append-only commit log."""
        path = self._batches_log_path()
        out: dict[str, int] = {}
        if fs.exists(path):
            for line in fs.read_text(path).splitlines():
                if line:
                    bid, _, sid = line.rpartition(" ")
                    out[bid] = int(sid)
        return out

    def _filter_batches_log(
        self,
        drop_ids: set[int] | None = None,
        keep_ids: set[int] | None = None,
        extra_lines: list[str] | None = None,
    ) -> None:
        """Atomically rewrite the batches log, dropping lines whose
        snapshot id is in ``drop_ids`` (or not in ``keep_ids``), appending
        ``extra_lines`` — the one shared implementation for rollback's
        forget, drop_branch's scrub and forget_batches GC, so the line
        format lives in exactly one place.  No-op when the log is absent
        (append-less backends) and nothing is to be added."""
        logp = self._batches_log_path()
        kept: list[str] = []
        if fs.exists(logp):
            for ln in fs.read_text(logp).splitlines():
                if not ln.strip():
                    continue
                sid = int(ln.rsplit(" ", 1)[1])
                if drop_ids is not None and sid in drop_ids:
                    continue
                if keep_ids is not None and sid not in keep_ids:
                    continue
                kept.append(ln)
        elif not extra_lines:
            return
        kept.extend(extra_lines or [])
        fs.write_atomic(logp, "\n".join(kept) + "\n" if kept else "")

    def find_batch(self, batch_id: str, _locked: bool = False) -> int | None:
        """Snapshot id that committed ``batch_id``, or None (idempotency probe).

        TRUE O(1) via one per-batch marker object (one atomic PUT per
        commit, one point read per probe) — unlike a log-file lookup this
        neither grows with stream lifetime (a 10^10-event stream commits
        millions of triggers; reparsing an ever-growing log on every probe
        is O(commits) driver time per trigger) nor needs appends (object
        stores have none; the append-only batches.log is retained as the
        audit trail and the pointer-recovery source, but is never reparsed
        on the probe hot path).

        Markers are written AFTER the pointer swap, so a crash can leave
        the newest commits unmarked — but ONLY a tip suffix: the walk
        below descends from the tip exactly until the first snapshot whose
        marker is in place (amortized 0-1 steps) and self-heals marker +
        log line for everything it visits, oldest first.  Because
        ``commit`` probes ``find_batch`` first, the repair runs before any
        newer marker lands, so an unmarked snapshot can never be buried
        below a marked one (the exactly-once hole a crash between pointer
        swap and marker write would otherwise open).  Rollback deletes the
        dropped batches' markers and marks its own snapshot BEFORE the
        swap, so the walk always stops at the rollback boundary and never
        resurrects a rolled-back batch id.

        The self-heal WRITES are serialized with commit/rollback: a probe
        that finds an unmarked suffix re-walks under the commit mutex
        before repairing (``_locked=True`` when the caller already holds
        it).  Without that, a probe walking the pre-rollback chain could
        re-create markers a concurrent rollback just deleted — and the
        corrected batch's redelivery would then no-op, the exact
        exactly-once hole rollback's forget-before-swap discipline
        closes."""
        bid = str(batch_id)
        hit = self._read_marker(bid)
        if hit is not None:
            return hit
        found, unmarked = self._walk_unmarked(bid)
        if unmarked and not _locked:
            with fs.mutex(os.path.join(self.meta_dir, "_LOCK")):
                # the chain may have changed while we waited (a rollback,
                # a new commit): re-walk under the lock, heal THAT suffix
                found, unmarked = self._walk_unmarked(bid)
                self._heal_markers(unmarked)
        elif unmarked:
            self._heal_markers(unmarked)
        return found

    def _walk_unmarked(
        self, bid: str
    ) -> "tuple[int | None, list[tuple[str, int]]]":
        """Descend from the tip to the first marker-complete snapshot;
        return (bid's snapshot id if seen, the unmarked suffix tip-first)."""
        found: int | None = None
        unmarked: list[tuple[str, int]] = []
        sid: int | None = self.latest_snapshot_id()
        while sid is not None:
            s = self.snapshot(sid)
            if self._read_marker(s["batch_id"]) == s["snapshot_id"]:
                break  # fully recorded; everything below is too
            unmarked.append((s["batch_id"], s["snapshot_id"]))
            if s["batch_id"] == bid:
                found = s["snapshot_id"]
            sid = s["parent_id"]
        return found, unmarked

    def _heal_markers(self, unmarked: list[tuple[str, int]]) -> None:
        for b, s2 in reversed(unmarked):  # oldest first: marker order = commit order
            self._write_marker(b, s2)
            fs.append_line(self._batches_log_path(), f"{b} {s2}")

    def user_schema(self, snap: dict | None = None) -> T.StructType:
        snap = snap or self.snapshot()
        return _schema_from_json(snap["schemas"][str(snap["schema_version"])])

    # ------------------------------------------------------------------ #
    # data-file IO
    # ------------------------------------------------------------------ #
    def _write_data_files(
        self,
        df: DataFrame,
        n_buckets: int,
        schema_version: int,
        batch_tag: str,
        kind: str = "base",
        sort_cols: "list[str] | None" = None,
        bloom: "dict | None" = None,
        zorder: "dict | None" = None,
    ) -> list[dict]:
        """Write one commit's data files, bucketed by doc_id hash; return
        their manifest entries.  ``repartition(_bucket)`` then
        ``partitionBy(_bucket)`` yields ~one file per touched bucket.  A
        ``_bucket`` column already on ``df`` (``bucket_expr`` under
        ``n_buckets``) is reused: when ``df`` is already hash-partitioned
        on it (``lww_pick`` over bucket-partitioned rows), Spark drops the
        repartition and the write adds no shuffle.
        ``sort_cols`` (the table's opt-in sort order): a LOCAL sort within
        each bucket partition before writing — no extra shuffle; row-group
        stats on the sort key become tight for intra-file skipping.
        ``bloom`` (the table's opt-in ``bloom_filter`` property,
        ``{"cols": [...], "ndv": N?}``): per-column parquet bloom
        filters, built by parquet-mr inside this same write job.
        ``zorder`` (the table's opt-in ``zorder`` property, ``{"cols":
        [...], "domains": {...}, "bits": b}``): local sort by the Morton
        interleaved key instead — row-group stats become tight on EVERY
        z column (functions/zorder.py); same no-extra-shuffle cost."""
        nonce = uuid.uuid4().hex[:8]
        out_dir = os.path.join(self.data_dir, f"commit-{batch_tag}-{nonce}")
        if "_bucket" not in df.columns:
            df = df.withColumn("_bucket", bucket_expr("doc_id", n_buckets))
        staged = df.repartition(n_buckets, "_bucket")
        if zorder:
            from ..functions.zorder import zorder_key

            staged = (
                staged.withColumn("_zkey", zorder_key(zorder))
                .sortWithinPartitions("_bucket", "_zkey")
                .drop("_zkey")
            )
        elif sort_cols:
            staged = staged.sortWithinPartitions("_bucket", *sort_cols)
        writer = staged.write
        if bloom:
            for c in bloom["cols"]:
                writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
                if bloom.get("ndv"):
                    writer = writer.option(
                        f"parquet.bloom.filter.expected.ndv#{c}", str(bloom["ndv"])
                    )
        writer.partitionBy("_bucket").parquet(out_dir)
        # restart the orphan-grace clock now the write is COMPLETE: the
        # dir's top-level mtime dates from job start (task files land in
        # subdirs), so a write longer than the grace would otherwise look
        # abandoned to a concurrent expire_snapshots while the commit is
        # still heading for the mutex
        fs.touch(out_dir)
        paths: list[tuple[str, int]] = []
        for bdir in fs.listdir(out_dir):
            if not bdir.startswith("_bucket="):
                continue
            b = int(bdir.split("=", 1)[1])
            for fn in fs.listdir(os.path.join(out_dir, bdir)):
                if fn.endswith(".parquet"):
                    paths.append((os.path.join(out_dir, bdir, fn), b))
        # footer reads release the GIL inside pyarrow; a thread pool turns
        # the per-commit stats collection from B sequential opens into one
        # parallel sweep — this loop is on the per-trigger driver floor that
        # caps streaming scaling efficiency, so it must not be O(B) serial
        entries = []
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(paths)))) as pool:
            for (p, b), (rows, mn, mx, et_mn, et_mx) in zip(
                paths, pool.map(lambda pb: _file_stats(pb[0]), paths)
            ):
                if rows == 0:
                    continue
                entries.append(
                    {
                        "path": os.path.relpath(p, self.root),
                        "bucket": b,
                        "rows": rows,
                        "min_doc_id": mn,
                        "max_doc_id": mx,
                        # epoch-micros bounds of _last_event_time: drives
                        # manifest-level file skipping for recent-state
                        # reads (read(min_event_time=...)); None (legacy
                        # entries predate the key) is never skipped
                        "min_event_time": et_mn,
                        "max_event_time": et_mx,
                        "schema_version": schema_version,
                        "kind": kind,
                        # bucket-spec identity: the n_buckets this file's
                        # bucket id was computed under.  Lazy spec evolution
                        # (evolve_bucket_spec) leaves old-spec files in
                        # place, so every bucket-pruning site resolves a
                        # file's bucket AGAINST ITS OWN SPEC (divisibility
                        # contract: live specs all divide the current B,
                        # hence bucket-under-s == bucket-under-B % s)
                        "spec_nb": n_buckets,
                    }
                )
        return entries

    # ------------------------------------------------------------------ #
    # commit (S6) — idempotent on batch_id
    # ------------------------------------------------------------------ #
    def commit(
        self,
        batch_id: str,
        new_files: list[dict],
        carried_files: list[dict],
        schema_version: int | None = None,
        new_schema: T.StructType | None = None,
        lineage: dict | None = None,
        n_buckets: int | None = None,
        change_files: list[dict] | None = None,
        expected_parent_id: int | None = None,
        field_ids: dict[str, int] | None = None,
    ) -> int:
        """``carried_files``: the surviving parent files — pass the
        ``PARENT_FILES`` sentinel to carry the parent's file set by
        manifest-segment *reference* (the streaming hot path: O(batch)
        metadata per commit, nothing loaded), or a materialized entry list
        when the commit is scoped to bucket groups (compaction, DML).

        ``change_files``: manifest entries holding this commit's logical
        change rows (the CDC feed, S10).  Kept OUTSIDE ``files`` so state
        reads never see them; every logical write (apply, DML,
        ``merge_into``) passes its delta entries (the deltas ARE the change
        data — zero extra write).  Snapshots from older versions may list
        separate change-set files here; readers handle both.  Maintenance
        commits (compaction/rebucket) pass none: they change no logical
        row, and ``read_changes`` correctly skips them.

        ``expected_parent_id``: optimistic-concurrency guard — raise
        ``CommitConflictError`` if another writer committed since this
        writer planned against that snapshot (Iceberg's CAS-on-metadata
        role).  The whole critical section (probe -> descriptor -> pointer
        swap -> log line) runs under an O_EXCL metadata lock, so concurrent
        local writers are linearized; the lock guards milliseconds of
        metadata IO, never data writes.  Immediately before the pointer
        swap the holder re-verifies its lock token: a holder that overran
        the stale budget (and was legitimately broken by a waiter) aborts
        with ``CommitConflictError`` instead of racing the new holder."""
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
            return self._commit_locked(
                batch_id, new_files, carried_files, schema_version, new_schema,
                lineage, n_buckets, change_files, expected_parent_id, lock=lk,
                field_ids=field_ids,
            )

    def commit_rebase(
        self,
        batch_id: str,
        new_files: list[dict],
        planned_snap: dict,
        touched_groups,
        lineage: dict | None = None,
        change_files: list[dict] | None = None,
        max_retries: int = 5,
    ) -> int:
        """Commit a group-scoped rewrite with Iceberg-style optimistic
        conflict RESOLUTION: when another writer committed between this
        operation's plan and its commit, re-validate instead of failing —
        if every interleaved commit touched only OTHER bucket groups, the
        rewrite is still exactly what a serial execution would produce, so
        rebase it onto the new head (recompute the carried file list from
        the new parent, CAS again).  Two writers on disjoint groups both
        succeed with no caller-side retry; at 10^10 rows this is what lets
        compaction, predicate DML and MERGE INTO run concurrently with the
        ingest stream instead of serializing behind it.

        The rewrite is re-planned from scratch (CommitConflictError) when
        rebasing cannot be proven equivalent to a serial schedule:

        * an interleaved commit added or removed files in one of THIS
          operation's ``touched_groups`` (its rewrite read stale data);
        * the schema version moved (the rewrite rendered old-schema rows —
          e.g. it must not resurrect a column a concurrent DDL dropped);
        * the bucket spec changed (the group arithmetic is stale).

        Conflict detection is a manifest diff — O(live-file entries) per
        conflicting retry, driver-side only, nothing re-read or re-written;
        the no-conflict fast path costs one extra path-set build."""
        gset = set(touched_groups)
        planned_files = planned_snap["files"]
        s_min = self._min_live_spec(planned_snap)
        last: CommitConflictError | None = None
        for _ in range(max_retries):
            cur = (
                planned_snap
                if self.latest_snapshot_id() == planned_snap["snapshot_id"]
                else self.snapshot()
            )
            cur_files = cur["files"]
            if cur["snapshot_id"] != planned_snap["snapshot_id"]:
                if (
                    cur["n_buckets"] != planned_snap["n_buckets"]
                    or self._min_live_spec(cur) != s_min
                ):
                    raise CommitConflictError(
                        f"{batch_id}: bucket spec changed mid-operation "
                        f"({planned_snap['n_buckets']}->{cur['n_buckets']}); "
                        "re-plan against the new head"
                    )
                if cur["schema_version"] != planned_snap["schema_version"]:
                    raise CommitConflictError(
                        f"{batch_id}: schema version moved "
                        f"{planned_snap['schema_version']}->"
                        f"{cur['schema_version']} mid-operation; re-plan"
                    )
                planned_paths = {e["path"] for e in planned_files}
                cur_paths = {e["path"] for e in cur_files}
                touched_other = {
                    e["bucket"] % s_min
                    for e in cur_files
                    if e["path"] not in planned_paths
                } | {
                    e["bucket"] % s_min
                    for e in planned_files
                    if e["path"] not in cur_paths
                }
                overlap = touched_other & gset
                if overlap:
                    raise CommitConflictError(
                        f"{batch_id}: a concurrent commit touched groups "
                        f"{sorted(overlap)} this operation rewrote; re-plan"
                    )
            rest = [e for e in cur_files if e["bucket"] % s_min not in gset]
            try:
                return self.commit(
                    batch_id,
                    new_files,
                    rest,
                    lineage=lineage,
                    change_files=change_files,
                    expected_parent_id=cur["snapshot_id"],
                )
            except CommitConflictError as e:
                last = e
                continue
        raise CommitConflictError(
            f"{batch_id}: commit lost the race {max_retries} times"
        ) from last

    def _commit_locked(
        self,
        batch_id: str,
        new_files: list[dict],
        carried_files: list[dict],
        schema_version: int | None,
        new_schema: T.StructType | None,
        lineage: dict | None,
        n_buckets: int | None,
        change_files: list[dict] | None,
        expected_parent_id: int | None,
        lock: fs.mutex | None = None,
        field_ids: dict[str, int] | None = None,
        layout_override: "dict | None" = None,
    ) -> int:
        existing = self.find_batch(str(batch_id), _locked=True)
        if existing is not None:
            return existing  # replayed batch: no-op (exactly-once layer 1)
        parent = self.snapshot()
        if expected_parent_id is not None and parent["snapshot_id"] != expected_parent_id:
            raise CommitConflictError(
                f"planned against snapshot {expected_parent_id}, "
                f"but latest is {parent['snapshot_id']}"
            )
        # a crash after descriptor write but before pointer swap leaves an
        # orphan snap-N.json; never reuse its id.  Probe forward from the
        # parent with point-existence checks: orphans are rare (one crash
        # window each), so this is O(1 + orphans) stat calls per commit —
        # NOT a directory listing, which is O(total commits) driver time on
        # a long-lived stream and an expensive LIST on object stores.
        # The probe starts at the GLOBAL floor, not just parent+1: a branch
        # commit from an old head would otherwise recycle the id of an
        # EXPIRED main snapshot whose (replay-suppressing) marker and log
        # line still reference it — ids are never reused while anything can
        # point at them.  Main ids only grow and branch heads are tracked,
        # so max(_LATEST, branch heads) bounds every still-referenced id.
        sid = max(parent["snapshot_id"], self._alloc_floor()) + 1
        while fs.exists(self._snap_path(sid)):
            sid += 1
        schemas = dict(parent["schemas"])
        sv = schema_version if schema_version is not None else parent["schema_version"]
        if new_schema is not None:
            incoming = _schema_to_json(new_schema)
            registered = schemas.get(str(sv))
            if registered is not None and registered != incoming:
                # two racing writers derived DIFFERENT schemas for the same
                # version number (e.g. both evolved off the same parent);
                # silently overwriting would make files written under the
                # first registration decode with the second's column set —
                # force the retrying writer to re-derive sv against the new
                # parent instead
                raise CommitConflictError(
                    f"schema version {sv} already registered with a different "
                    f"schema; re-plan against snapshot {parent['snapshot_id']}"
                )
            schemas[str(sv)] = incoming
        # field-id registry: existing maps carry over untouched (a
        # DDL-written map is never clobbered); map-less versions (legacy
        # tables, batch-evolution history) are reconstructed by name
        # chaining, which is exact for the add/widen-only history they can
        # have.  A DDL commit supplies this commit's map explicitly —
        # name-chaining would mint a fresh id for a renamed column and
        # orphan its old files' values.
        if field_ids is not None:
            prior = {k: v for k, v in schemas.items() if k != str(sv)}
            fids = _backfill_field_ids(prior, parent.get("field_ids"))
            fids[str(sv)] = dict(field_ids)
        else:
            fids = _backfill_field_ids(schemas, parent.get("field_ids"))
        # legacy bucket spec: the n_buckets that file entries WITHOUT a
        # spec_nb stamp were written under.  Set when a lazy spec evolution
        # first changes n_buckets while carrying the parent's files by
        # reference; dropped by full rewrites (rebucket carries nothing, so
        # no unstamped entry survives); otherwise inherited unchanged.
        legacy_spec = parent.get("legacy_spec_nb")
        if (
            n_buckets is not None
            and n_buckets != parent["n_buckets"]
            and carried_files is PARENT_FILES
        ):
            legacy_spec = legacy_spec or parent["n_buckets"]
        elif n_buckets is not None and n_buckets != parent["n_buckets"]:
            legacy_spec = None  # full rewrite: single spec again
        snap = {
            "format_version": FORMAT_VERSION,
            "snapshot_id": sid,
            "parent_id": parent["snapshot_id"],
            "batch_id": str(batch_id),
            "committed_at": time.time(),
            "n_buckets": n_buckets if n_buckets is not None else parent["n_buckets"],
            "schema_version": sv,
            "schemas": schemas,
            "field_ids": fids,
            "manifests": self._plan_manifests(sid, parent, new_files, carried_files),
            "change_files": change_files or [],
            "lineage": lineage or {},
        }
        if legacy_spec is not None:
            snap["legacy_spec_nb"] = legacy_spec
        # layout properties inherit from the parent; a column-DDL commit
        # passes layout_override so rename/drop keep them in sync with the
        # new schema (a dangling sort/bloom/z column would break every
        # later write at its sortWithinPartitions / writer option)
        layout_src = parent if layout_override is None else layout_override
        for prop in ("sort_order", "bloom_filter", "zorder"):
            if layout_src.get(prop):
                snap[prop] = layout_src[prop]
        fs.write_json_atomic(self._snap_path(sid), snap)
        if lock is not None:
            # the pointer swap is the irreversible step: if our lock was
            # stale-broken (we overran the budget, or lost the break-restore
            # race), another writer may already be past the probe — abort;
            # the descriptor above is an orphan (never reused, expiry-cleaned)
            try:
                lock.verify()
            except fs.LockLostError as e:
                raise CommitConflictError(str(e)) from None
        self._advance_tip(str(batch_id), sid)
        self._write_marker(str(batch_id), sid)
        return sid

    def _alloc_floor(self) -> int:
        """Highest snapshot id a live pointer other than the commit's own
        parent can reference — for a MAIN commit the parent IS the tip, so
        only branch heads matter (one small refs read; ``BranchHandle``
        adds the main tip).  Expired ids never exceed the floor, and
        dropped-branch ids have their markers deleted, so allocating above
        ``max(parent, floor)`` never recycles a still-referenced id."""
        return max(self.branches().values(), default=0)

    def _advance_tip(self, batch_id: str, sid: int) -> None:
        """Make ``sid`` the visible tip.  Main: swap the ``_LATEST``
        pointer, then trail it in the batches log (the no-pointer-window
        recovery source).  ``BranchHandle`` overrides this to move its ref
        in ``refs.json`` instead — branch commits never touch ``_LATEST``
        or the log, so pointer recovery can never land on unpublished
        staged work."""
        fs.write_atomic(os.path.join(self.meta_dir, "_LATEST"), str(sid))
        fs.append_line(self._batches_log_path(), f"{batch_id} {sid}")

    def rollback(self, to_snapshot_id: "int | str") -> int:
        """Roll the table back to an earlier snapshot (Iceberg
        rollback-to-snapshot role) — the bad-batch recovery path: roll
        back, then replay corrected batches.

        Append-only: a NEW snapshot is committed whose file manifest,
        bucket count and schema version are copied from the target, so
        history (and time travel over it) is preserved and concurrent
        readers never see a pointer move backwards.  The batches log
        forgets every rolled-back commit's batch_id — a corrected batch
        re-submitted under the SAME batch_id must APPLY, not no-op, or
        the recovery replay would silently skip the fix.  The schema
        registry keeps every version ever registered (files in older
        snapshots still reference them).

        Downstream note: ``read_changes`` consumers that already consumed
        the rolled-back span hold reverted rows; a replayed corrected
        batch repairs them through normal LWW flow only if it carries new
        (event_time, offset) pairs — otherwise reset the mirror cursor to
        ``to_snapshot_id`` and re-bootstrap (the same rule Delta/Iceberg
        CDF consumers follow after a rollback).

        Runs under the commit mutex; returns the new snapshot id (or the
        current one when the table is already at the target).  Accepts a
        tag name — rolling back to a pinned release state ("redeploy
        train-v1") — provided the tag is still chain-reachable: a DETACHED
        tag (retention already passed it) fails the ancestry check below,
        because the commits between it and the live tip are gone and a
        rollback could not preserve history."""
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
            if isinstance(to_snapshot_id, str):
                to_snapshot_id = self.resolve_ref(to_snapshot_id)
            latest = self.latest_snapshot_id()
            if latest == to_snapshot_id:
                return latest
            target = self.snapshot(to_snapshot_id)
            # the target must be an ancestor of the live tip; collect the
            # rolled-back suffix on the way down
            rolled: list[dict] = []
            sid: int | None = latest
            while sid is not None and sid != to_snapshot_id:
                s = self.snapshot(sid)
                rolled.append(s)
                sid = s["parent_id"]
            if sid != to_snapshot_id:
                raise ValueError(
                    f"snapshot {to_snapshot_id} is not an ancestor of the "
                    f"current snapshot {latest}; cannot roll back to it"
                )
            parent = self.snapshot(latest)
            taken = [
                int(f[5:-5])
                for f in fs.listdir(self.meta_dir)
                if f.startswith("snap-")
            ]
            new_sid = max(taken + [latest]) + 1
            snap = {
                "format_version": FORMAT_VERSION,
                "snapshot_id": new_sid,
                "parent_id": latest,
                "batch_id": f"__rollback_to_{to_snapshot_id}__",
                "committed_at": time.time(),
                "n_buckets": target["n_buckets"],
                "schema_version": target["schema_version"],
                # keep the full registry: files of intermediate snapshots
                # still decode by their registered version.  Field ids ride
                # along — losing them would make a later name-chaining
                # backfill re-derive WRONG identity for renamed history.
                "schemas": dict(parent["schemas"]),
                "field_ids": _backfill_field_ids(
                    parent["schemas"], parent.get("field_ids")
                ),
                # segments are immutable: sharing the target's references is
                # a metadata-only copy (expiry GC counts refs across ALL
                # retained snapshots, so sharing is safe)
                "manifests": list(target["manifests"])
                if "manifests" in target
                else [self._write_manifest(new_sid, list(target["files"]))],
                "change_files": [],
                "lineage": {"rollback_of": [s["snapshot_id"] for s in rolled]},
            }
            # layout properties travel with the state being restored (like
            # n_buckets/schema_version they come from TARGET, not parent):
            # _commit_locked inherits layout from its parent, so omitting
            # them here would silently strip sort/bloom/zorder from every
            # commit after a rollback — and fsck could never flag it
            # (nothing dangles, the props are just gone)
            for prop in ("sort_order", "bloom_filter", "zorder"):
                if target.get(prop):
                    snap[prop] = target[prop]
            fs.write_json_atomic(self._snap_path(new_sid), snap)
            # log rewrite + pointer swap mutate shared state: abort first
            # if our lock was stale-broken (see commit())
            try:
                lk.verify()
            except fs.LockLostError as e:
                raise CommitConflictError(str(e)) from None
            # forget rolled-back batch ids BEFORE the pointer swap: once
            # the new tip is visible, find_batch must already say "never
            # applied" for them (crash between the two writes leaves the
            # rollback invisible — retry-safe, never half-forgotten)
            dropped = {s["snapshot_id"] for s in rolled}
            # the rollback marker goes into the SAME atomic log write (not
            # a separate append): it is what stops find_batch's chain walk
            # at the rollback boundary — without it, the walk from the new
            # tip descends through the (append-only) parent link into the
            # rolled-back snapshots and resurrects their batch ids.  On
            # append-less backends a separate append would be a no-op.
            marker_line = f"__rollback_to_{to_snapshot_id}__ {new_sid}"
            if fs.exists(self._batches_log_path()):
                self._filter_batches_log(
                    drop_ids=dropped, extra_lines=[marker_line]
                )
            else:
                # backends without appends (object stores) may have no log
                # file at all — find_batch degrades to the chain walk there.
                # But rollback's "forget" CANNOT: the walk from the new tip
                # still reaches rolled-back snapshots (the tip's parent is
                # the old tip), so an empty log would make a corrected
                # batch no-op.  Reconstruct the kept log from the chain
                # (one atomic write — available on every backend).
                self._filter_batches_log(
                    extra_lines=[
                        f"{s['batch_id']} {s['snapshot_id']}"
                        for s in reversed(self.committed_chain())
                        if s["snapshot_id"] not in dropped
                    ]
                    + [marker_line]
                )
            # marker objects, same forget-before-swap discipline: delete
            # the dropped batches' markers and mark the rollback snapshot
            # itself BEFORE the pointer moves — once the new tip is
            # visible, the probe walk must already stop at it (a marked
            # boundary) instead of descending into the rolled-back span
            for s in rolled:
                fs.unlink(self._marker_path(s["batch_id"]))
            self._write_marker(f"__rollback_to_{to_snapshot_id}__", new_sid)
            fs.write_atomic(os.path.join(self.meta_dir, "_LATEST"), str(new_sid))
            return new_sid

    # ------------------------------------------------------------------ #
    # column DDL (C7 metadata side): rename / drop / add without rewrite
    # ------------------------------------------------------------------ #
    #: Columns the engine's contract pins: ``doc_id`` is the merge key and
    #: ``tokens`` carries the bit-for-bit per-row invariant — renaming or
    #: dropping either would orphan the write path, not evolve the schema.
    CONTRACT_COLS = ("doc_id", "tokens")

    def _ddl_validate_name(self, name: str) -> None:
        if not name.isidentifier():
            raise ValueError(f"column name {name!r} is not a valid identifier")
        if name.startswith("_"):
            raise ValueError(f"column name {name!r} is reserved (underscore prefix)")
        if name in BOOKKEEPING_COLS or name in CDC_META_COLS:
            raise ValueError(
                f"column name {name!r} collides with an engine envelope column"
            )

    def _ddl_commit(
        self,
        op: str,
        new_schema: T.StructType,
        new_map: dict[str, int],
        lineage: dict,
        lock: "fs.mutex",
        snap: dict,
        layout_override: "dict | None" = None,
    ) -> int:
        """Metadata-only schema commit: the parent's files are carried by
        manifest reference (zero data IO — Iceberg's ALTER TABLE shape),
        the new schema version registers alongside every prior one, and
        the explicit field-id map records column identity so the read path
        reconciles every old file to the new shape."""
        sv = max(int(k) for k in snap["schemas"]) + 1
        return self._commit_locked(
            batch_id=f"__ddl_{op}_v{sv}__",
            new_files=[],
            carried_files=PARENT_FILES,
            schema_version=sv,
            new_schema=new_schema,
            lineage={"ddl": lineage},
            n_buckets=None,
            change_files=None,
            expected_parent_id=snap["snapshot_id"],
            lock=lock,
            field_ids=new_map,
            layout_override=layout_override,
        )

    @staticmethod
    def _layout_after_ddl(snap: dict, renames: "dict[str, str]", dropped: "str | None") -> dict:
        """The table's layout properties (sort_order / bloom_filter /
        zorder) after a rename/drop DDL, so they track the schema instead
        of dangling: a renamed column follows its new name; a dropped
        column is stripped (the property disappears when it empties, and
        a zorder below 2 columns disappears whole — a 1-column Morton key
        is just a linear sort with different quantization, not what the
        user declared).  Always returned non-None so _commit_locked can
        distinguish 'override with nothing' from 'inherit'."""
        out: dict = {}
        so = [renames.get(c, c) for c in snap.get("sort_order") or [] if c != dropped]
        if so:
            out["sort_order"] = so
        bloom = snap.get("bloom_filter")
        if bloom:
            bc = [renames.get(c, c) for c in bloom["cols"] if c != dropped]
            if bc:
                out["bloom_filter"] = {**bloom, "cols": bc}
        z = snap.get("zorder")
        if z:
            zc = [renames.get(c, c) for c in z["cols"] if c != dropped]
            if len(zc) >= 2:
                out["zorder"] = {
                    **z,
                    "cols": zc,
                    "domains": {
                        renames.get(c, c): v
                        for c, v in z["domains"].items()
                        if c != dropped
                    },
                    **(
                        {
                            "types": {
                                renames.get(c, c): t
                                for c, t in z["types"].items()
                                if c != dropped
                            }
                        }
                        if z.get("types")
                        else {}
                    ),
                }
        return out

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE ... RENAME COLUMN: metadata-only (no file rewrite).
        The column keeps its field id, so files written under the old name
        keep serving their values under the new one (Iceberg rename
        semantics).  Returns the new snapshot id."""
        self._ddl_validate_name(new)
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
            snap = self.snapshot()
            schema = self.user_schema(snap)
            names = [f.name for f in schema.fields]
            if old in self.CONTRACT_COLS:
                raise ValueError(f"cannot rename contract column {old!r}")
            if old not in names:
                raise ValueError(f"no such column: {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            reg = _backfill_field_ids(snap["schemas"], snap.get("field_ids"))
            cur = reg[str(snap["schema_version"])]
            new_schema = T.StructType(
                [
                    T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                    for f in schema.fields
                ]
            )
            new_map = {(new if n == old else n): i for n, i in cur.items()}
            return self._ddl_commit(
                f"rename_{old}_{new}", new_schema, new_map,
                {"op": "rename", "from": old, "to": new}, lk, snap,
                layout_override=self._layout_after_ddl(snap, {old: new}, None),
            )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE ... DROP COLUMN: metadata-only.  The field id
        retires with the column — a later ``add_column`` under the same
        name mints a FRESH id, so dropped values never resurrect from old
        files (the Iceberg no-resurrection rule)."""
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
            snap = self.snapshot()
            schema = self.user_schema(snap)
            if name in self.CONTRACT_COLS:
                raise ValueError(f"cannot drop contract column {name!r}")
            if name not in [f.name for f in schema.fields]:
                raise ValueError(f"no such column: {name!r}")
            reg = _backfill_field_ids(snap["schemas"], snap.get("field_ids"))
            cur = reg[str(snap["schema_version"])]
            new_schema = T.StructType([f for f in schema.fields if f.name != name])
            new_map = {n: i for n, i in cur.items() if n != name}
            return self._ddl_commit(
                f"drop_{name}", new_schema, new_map,
                {"op": "drop", "name": name}, lk, snap,
                layout_override=self._layout_after_ddl(snap, {}, name),
            )

    def widen_column(self, name: str, dtype: T.DataType) -> int:
        """ALTER TABLE ... ALTER COLUMN TYPE: metadata-only widen, gated
        to the SAME matrix batch-driven evolution honors
        (``ALLOWED_WIDENINGS``) — old files cast up at read, never
        rewritten.  The field id is unchanged: widening does not change
        column identity.  ``tokens`` stays array<int32> (the bit-for-bit
        invariant forbids widening it; ``doc_id`` is a string key)."""
        from ..schema import ALLOWED_WIDENINGS

        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
            snap = self.snapshot()
            schema = self.user_schema(snap)
            cur_field = next((f for f in schema.fields if f.name == name), None)
            if cur_field is None:
                raise ValueError(f"no such column: {name!r}")
            if name in self.CONTRACT_COLS:
                raise ValueError(f"cannot widen contract column {name!r}")
            pair = (cur_field.dataType.simpleString(), dtype.simpleString())
            if pair not in ALLOWED_WIDENINGS:
                raise ValueError(f"illegal type change for {name}: {pair}")
            reg = _backfill_field_ids(snap["schemas"], snap.get("field_ids"))
            cur = reg[str(snap["schema_version"])]
            new_schema = T.StructType(
                [
                    T.StructField(name, dtype, True) if f.name == name else f
                    for f in schema.fields
                ]
            )
            return self._ddl_commit(
                f"widen_{name}", new_schema, dict(cur),
                {"op": "widen", "name": name, "from": pair[0], "to": pair[1]},
                lk, snap,
            )

    def add_column(
        self, name: str, dtype: T.DataType, nullable: bool = True
    ) -> int:
        """ALTER TABLE ... ADD COLUMN: metadata-only; existing rows read
        as null.  Allocates a fresh field id above every id ever used —
        including retired ones — which is exactly what keeps a re-added
        name from resurrecting dropped data."""
        self._ddl_validate_name(name)
        if not nullable:
            raise ValueError(
                "added columns must be nullable: existing rows have no value"
            )
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
            snap = self.snapshot()
            schema = self.user_schema(snap)
            if name in [f.name for f in schema.fields]:
                raise ValueError(f"column {name!r} already exists")
            reg = _backfill_field_ids(snap["schemas"], snap.get("field_ids"))
            cur = reg[str(snap["schema_version"])]
            fresh = 1 + max((i for m in reg.values() for i in m.values()), default=0)
            new_schema = T.StructType(
                list(schema.fields) + [T.StructField(name, dtype, True)]
            )
            new_map = dict(cur) | {name: fresh}
            return self._ddl_commit(
                f"add_{name}", new_schema, new_map,
                {"op": "add", "name": name, "type": dtype.simpleString()}, lk, snap,
            )

    # ------------------------------------------------------------------ #
    # reads (S3) with schema reconciliation (C7 read side)
    # ------------------------------------------------------------------ #
    def _column_plan(
        self,
        snap: dict,
        target: T.StructType,
        ver: int,
        target_version: int | None = None,
    ) -> "list[tuple[str, str | None]]":
        """The field-id column mapping for reading files written at schema
        version ``ver`` under the ``target`` storage schema: one
        ``(target_name, stored_name_or_None)`` pair per target field
        (``None`` = no stored column serves this field at ``ver`` → null-
        fill).  Column identity is FIELD IDS, not names (Iceberg's
        mechanism): a target field reads the stored column that carries the
        same id at the file's schema version.  Rename → old files keep
        serving their values under the new name; drop-then-re-add → fresh
        id, so old files' values never resurrect even though the physical
        column name matches.  Tables predating the registry get a
        deterministic name-chained backfill (identical to the old
        name-matching).

        ``target_version``: the registered version whose ids the target
        fields carry — defaults to the snapshot's tip version (plain and
        merge reads); the changelog stream reader passes its PINNED
        stream-start version while ``snap`` supplies the full (append-only)
        registry, so files written under versions registered after stream
        start still map correctly."""
        reg = _backfill_field_ids(snap["schemas"], snap.get("field_ids"))
        tv = target_version if target_version is not None else snap["schema_version"]
        cur_ids = reg.get(str(tv), {})
        inv = {i: n for n, i in reg.get(str(ver), {}).items()}
        plan: list[tuple[str, str | None]] = []
        for f in target.fields:
            fid = cur_ids.get(f.name)
            if fid is not None:
                stored = inv.get(fid)  # None: no such id at ver → null
            elif f.name in BOOKKEEPING_COLS:
                stored = f.name  # engine columns: physical name match
            else:
                # a user column with NO id at the tip is brand-new
                # (a batch is registering it in this very commit): no
                # existing file can hold its values — even one whose
                # RETIRED same-named column physically remains (the
                # no-resurrection rule must hold through the merge
                # read, not just plain reads)
                stored = None
            plan.append((f.name, stored))
        return plan

    def _read_files(
        self,
        spark: SparkSession,
        snap: dict,
        files: list[dict],
        user_schema: T.StructType | None = None,
    ) -> DataFrame:
        """Read manifest entries, reconciling every file group to the
        snapshot's latest schema — or an explicit ``user_schema`` (the merge
        pipeline passes the batch's *evolved* schema so old files are
        null-filled/cast on the fly; Iceberg-style read-side evolution —
        old files are never rewritten).

        Each schema-version group is read with the storage schema
        registered for that version, so planning starts no Spark job (no
        footer-inference pass).  A registered column a file lacks reads as
        null: bookkeeping columns added after a file group was written
        (e.g. ``_last_src_partition`` landed after v1 tables existed)
        null-fill like any other read-side evolution, and downstream LWW
        ordering coalesces the nulls to the legacy sentinel."""
        target = storage_schema(user_schema or self.user_schema(snap))
        if not files:
            return spark.createDataFrame([], target)
        by_ver: dict[int, list[str]] = {}
        for e in files:
            by_ver.setdefault(e["schema_version"], []).append(
                os.path.join(self.root, e["path"])
            )
        parts = []
        for ver, paths in sorted(by_ver.items()):
            plan = self._column_plan(snap, target, ver)
            stored_schema = storage_schema(_schema_from_json(snap["schemas"][str(ver)]))
            stored_types = {f.name: f.dataType for f in stored_schema.fields}
            exprs = [
                f"{sql_cast(stored, stored_types.get(stored), f.dataType)} "
                f"AS {sql_ident(f.name)}"
                for (_, stored), f in zip(plan, target.fields)
            ]
            parts.append(
                spark.read.schema(stored_schema).parquet(*paths).selectExpr(*exprs)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _resolve(
        self,
        spark: SparkSession,
        snap: dict,
        files: list[dict],
        where: "str | DataFrame | None" = None,
        user_schema: T.StructType | None = None,
        write_nb: int | None = None,
    ) -> DataFrame:
        """The state ``files`` hold: one row per key, bookkeeping and
        tombstones included — the one place merge-on-read resolution is
        decided, for every read, every rewrite (compaction) and every
        read-modify-write (DML, ``merge_into``).

        Group-scoped resolution: only bucket groups holding a DELTA among
        ``files`` pay ``lww_resolve`` (its sort and shuffle); the clean
        groups' rows stream through a plain union-scan.  Exact because a
        key lives in exactly one group (same hash at write and read) and
        base files are key-unique per group (create, compact and rebucket
        write whole groups; every other write appends deltas), so
        resolving per group and unioning equals resolving everything — at
        10^10 rows with 1 dirty bucket of 1024, ~1000x less shuffle.  ``files`` may be any
        pruned selection: a group whose deltas were all pruned away
        streams its kept base rows unresolved, by the same invariant.

        Under mixed bucket specs (mid spec-evolution) the group is the
        bucket id under the smallest live spec (``bucket % s_min`` —
        sound because every live spec divides the current B); on a
        single-spec table it is the plain bucket id.

        ``where`` filters the file rows BEFORE resolution: a SQL
        predicate, or a DataFrame of ``doc_id`` keys to semi-join.  It
        must keep or drop whole keys (every version of a key carries the
        same ``doc_id``), so the winner is unchanged and only the kept
        keys' versions enter the resolving sort and shuffle; a predicate
        reaches the parquet scans as a pushed filter.  ``user_schema``
        is ``_read_files``'s target schema.

        ``write_nb`` is for rewrites (compaction, DML, ``rebucket``): the
        bucket count the result is written under.  The rows then carry
        that ``_bucket`` and are repartitioned on it before resolution,
        so the resolving aggregation and the bucketed write share one
        shuffle (``lww_pick``).  Reads leave it unset."""
        s_min = self._min_live_spec(snap)
        dirty_groups = {
            e["bucket"] % s_min for e in files if e.get("kind", "base") == "delta"
        }

        def rows(part: list[dict]) -> DataFrame:
            df = self._read_files(spark, snap, part, user_schema=user_schema)
            if isinstance(where, str):
                df = df.filter(where)
            elif where is not None:
                df = df.join(where, "doc_id", "left_semi")
            return df if write_nb is None else bucketed(df, write_nb)

        clean = [e for e in files if e["bucket"] % s_min not in dirty_groups]
        if not dirty_groups:
            return rows(clean)
        out = lww_resolve(
            rows([e for e in files if e["bucket"] % s_min in dirty_groups])
        )
        if clean:
            out = out.unionByName(rows(clean))
        return out

    def read_state(
        self, spark: SparkSession, snapshot_id: "int | str | None" = None
    ) -> DataFrame:
        """Full internal state (bookkeeping + tombstones included), merge-
        on-read deltas LWW-resolved to one winner per key (Iceberg-v2-style
        read path); only bucket groups holding deltas pay the resolving
        shuffle (``_resolve``)."""
        snap = self.snapshot(snapshot_id)
        return self._resolve(spark, snap, snap["files"])

    def read(
        self,
        spark: SparkSession,
        snapshot_id: "int | str | None" = None,
        *,
        as_of_ts: float | None = None,
        min_event_time: "datetime.datetime | float | None" = None,
    ) -> DataFrame:
        """User-facing read: live rows, user columns only.

        ``snapshot_id`` accepts an id, a tag, or a branch name;
        ``as_of_ts`` (mutually exclusive) is ``TIMESTAMP AS OF`` — the
        state current at that wall-clock time (``snapshot_as_of``).  The
        resolved id composes with every other surface (``lookup``,
        ``read_changelog``, ``rollback``), so only this entry point needs
        the timestamp spelling.

        ``min_event_time`` (a datetime, naive = UTC, or epoch seconds)
        returns only live rows whose winning event is at or after the
        bound — ``read().filter(_last_event_time >= X)`` semantics — at
        file-skipping cost: files whose footer event-time ceiling is
        below the bound are never planned (``_files_min_event_time``).
        This is the dominant 100 TB query ("state touched in the last
        day") and the skip is SOUND under MOR: resolve-then-filter over
        the kept subset equals resolve-then-filter over all files —
        * a doc whose true winner is >= X has that winner in a kept file
          (the winner's own file ceiling is >= X), and the subset winner
          equals the true winner (subset ⊆ all, true winner ∈ subset);
        * a doc whose true winner is < X can only surface a subset
          winner ordered <= the true winner, i.e. < X — the post-filter
          drops it, matching the full read.
        The mirror-image UPPER bound cannot skip (a doc whose true
        winner is above the ceiling would resurface via an older kept
        row), so only the lower bound is offered.
        """
        if as_of_ts is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or as_of_ts, not both")
            snapshot_id = self.snapshot_as_of(as_of_ts)
        snap = self.snapshot(snapshot_id)
        user_cols = [f.name for f in self.user_schema(snap).fields]
        if min_event_time is None:
            return _live_rows(self.read_state(spark, snapshot_id), user_cols)
        micros = _bound_micros(min_event_time)
        # the bound is on the WINNER's event time, so it filters after
        # resolution; a group whose deltas were all time-pruned streams
        # its kept base rows unresolved (``_resolve``)
        state = self._resolve(spark, snap, self._files_min_event_time(snap, micros))
        return _live_rows(
            state.filter(f"_last_event_time >= timestamp_micros({micros})"), user_cols
        )

    def lookup(
        self, spark: SparkSession, doc_ids: list[str], snapshot_id: "int | str | None" = None
    ) -> DataFrame:
        """Point reads by key, at file-skipping cost: O(files that can hold
        the keys), never O(table).  Two pruning stages, both driver-side
        metadata only:

        1. **bucket pruning** — a key lives in exactly one bucket; the
           bucket ids are computed on the driver by ``bucket_of``, the
           pure-Python twin of the write path's Spark hash (a property
           test pins the two together, so write/read hashing cannot
           drift);
        2. **min/max skipping** — within the kept buckets, a file is read
           only if some key falls inside its footer ``[min_doc_id,
           max_doc_id]`` range (files with no stats are kept — correctness
           over skipping).

        All surviving files of a key's bucket are read, so every MOR
        version of the key is present and the winner is the one a full
        ``read`` returns.  The key predicate is applied to the file rows
        BEFORE resolution (every version of a key carries the same
        ``doc_id``, so pre-filtering picks the same winner as
        post-filtering): it reaches the parquet scan as a pushed ``In``
        filter and only the keys' versions enter the resolving sort and
        shuffle, not every row of the kept files.  Only bucket groups
        holding a delta among the kept files are resolved at all
        (``_resolve``): a lookup whose keys all hash to compacted buckets
        is a plain filtered scan, no shuffle.  At 10^10 rows / 1024
        buckets a 10-key lookup touches ~10 buckets' worth of files and
        resolves only the keys' rows — the serving path a CDC validator
        needs next to the scan path.
        """
        snap = self.snapshot(snapshot_id)
        if not doc_ids:
            return spark.createDataFrame([], storage_schema(self.user_schema(snap))).select(
                [f.name for f in self.user_schema(snap).fields]
            )
        nb = snap["n_buckets"]
        key_bucket = {d: bucket_of(d, nb) for d in set(doc_ids)}
        wanted = set(key_bucket.values())
        keep = []
        ids = sorted(key_bucket)
        # segment-level pruning first (bucket set + key range on the refs),
        # then per-file min/max against the exact keys that hash into the
        # file's bucket UNDER THE FILE'S OWN SPEC (an old-spec file during
        # a lazy spec evolution matches keys via current-bucket % spec)
        by_spec_bucket: dict[tuple[int, int], list[str]] = {}
        for e in self._files_for_buckets(snap, wanted, ids[0], ids[-1]):
            s = self._entry_spec(snap, e)
            cand = by_spec_bucket.get((s, e["bucket"]))
            if cand is None:
                cand = [d for d, b in key_bucket.items() if b % s == e["bucket"]]
                by_spec_bucket[(s, e["bucket"])] = cand
            if e["min_doc_id"] is None or e["max_doc_id"] is None:
                keep.append(e)
                continue
            if any(e["min_doc_id"] <= d <= e["max_doc_id"] for d in cand):
                keep.append(e)
        user_cols = [f.name for f in self.user_schema(snap).fields]
        in_keys = f"doc_id IN ({', '.join(map(sql_str, ids))})"
        return _live_rows(self._resolve(spark, snap, keep, in_keys), user_cols)

    def scan_range(
        self,
        spark: SparkSession,
        lo: str,
        hi: str,
        snapshot_id: "int | str | None" = None,
    ) -> DataFrame:
        """Key-range read: live user rows with ``lo <= doc_id <= hi`` at
        file-skipping cost — O(files whose footer key range intersects),
        never O(table).  Hash bucketing scatters a key range across all
        buckets, so unlike ``lookup`` there is no bucket pruning; the
        skipping layers here are the footer ``[min_doc_id, max_doc_id]``
        per file (tight when the table has a ``sort_order``) and, inside
        kept files, parquet row-group stats via the BETWEEN pushed into
        every scan, clean and dirty files alike.

        Sound under MOR for the same reason ``lookup`` is: every version
        of an in-range key lives in a file whose range contains the key
        (hence intersects [lo, hi] and is kept), and every version carries
        the same doc_id, so filtering the file rows before resolution
        keeps the key's whole history and the winner IS the true winner;
        out-of-range rows never reach the resolving shuffle.  Dirty-group
        resolution as in ``read_state`` (``_resolve``, mixed-spec safe)."""
        if lo > hi:
            raise ValueError(f"empty range: {lo!r} > {hi!r}")
        snap = self.snapshot(snapshot_id)
        kept = [
            e
            for e in snap["files"]
            if e.get("min_doc_id") is None
            or e.get("max_doc_id") is None
            or not (e["max_doc_id"] < lo or e["min_doc_id"] > hi)
        ]
        in_range = f"doc_id BETWEEN {sql_str(lo)} AND {sql_str(hi)}"
        user_cols = [f.name for f in self.user_schema(snap).fields]
        return _live_rows(self._resolve(spark, snap, kept, in_range), user_cols)

    # ------------------------------------------------------------------ #
    # incremental changelog scan (S10) — the CDC *read* surface
    # ------------------------------------------------------------------ #
    def change_span(
        self,
        from_snapshot_id: "int | str",
        to_snapshot_id: "int | str | None" = None,
    ) -> "tuple[dict, list[dict]]":
        """Resolve a ``(from, to]`` changelog span: returns ``(target_snap,
        snapshots)`` with the span newest-first (``read_changes`` iterates
        it reversed).  Tag names resolve to ids up front ("changes since
        the pinned training snapshot" — the incremental-refresh pattern);
        note a detached tag (retention passed it) is no longer
        chain-reachable, so the walk correctly refuses it with the
        ancestry error.  Shared by ``read_changes`` and the Structured
        Streaming changelog source (``sources/datasource.py``), so both
        surfaces raise the SAME expired-cursor / not-an-ancestor errors."""
        if isinstance(from_snapshot_id, str):
            from_snapshot_id = self.resolve_ref(from_snapshot_id)
        if isinstance(to_snapshot_id, str):
            to_snapshot_id = self.resolve_ref(to_snapshot_id)
        to_sid = to_snapshot_id if to_snapshot_id is not None else self.latest_snapshot_id()
        target = self.snapshot(to_sid)
        span: list[dict] = []
        sid: int | None = to_sid
        while sid is not None and sid != from_snapshot_id:
            try:
                s = self.snapshot(sid)
            except FileNotFoundError:
                # the walk hit an expired snapshot: the consumer's cursor
                # fell behind retention.  Surface a clear re-bootstrap
                # signal (Iceberg's dedicated error here), not a raw
                # missing-file trace.
                retained = [
                    int(f[5:-5])
                    for f in fs.listdir(self.meta_dir)
                    if f.startswith("snap-") and f.endswith(".json")
                ]
                raise ValueError(
                    f"changes from snapshot {from_snapshot_id} have expired "
                    f"(oldest retained snapshot is "
                    f"{min(retained) if retained else 'none'}); re-bootstrap "
                    "from a full table read"
                ) from None
            span.append(s)
            sid = s["parent_id"]
        if sid is None and from_snapshot_id != 0:
            # the chain ended without reaching the cursor: either the span
            # was expired away (expire_snapshots reparents the oldest
            # retained snapshot to None) or the cursor never existed —
            # tell the consumer which
            retained = [
                int(f[5:-5])
                for f in fs.listdir(self.meta_dir)
                if f.startswith("snap-") and f.endswith(".json")
            ]
            oldest = min(retained) if retained else None
            if oldest is not None and from_snapshot_id < oldest:
                raise ValueError(
                    f"changes from snapshot {from_snapshot_id} have expired "
                    f"(oldest retained snapshot is {oldest}); re-bootstrap "
                    "from a full table read"
                )
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of {to_sid}"
            )
        return target, span

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: "int | str",
        to_snapshot_id: "int | str | None" = None,
        net: bool = False,
    ) -> DataFrame:
        """Change rows committed AFTER ``from_snapshot_id`` up to and
        including ``to_snapshot_id`` (default: latest) — the Iceberg
        incremental-scan / Delta-CDF role, which turns the table into a
        change-event *producer* so downstream tables can tail it
        (``changes_as_events`` converts the feed back to a raw event batch
        for ``apply_batch``).

        Each emitted row is one committed winner: user columns plus
        ``_change_type`` ('upsert' | 'delete'), the ordering pair
        (``_last_event_time``, ``_last_offset``) consumers resolve by, and
        ``_commit_snapshot_id`` / ``_commit_batch_id`` provenance.  In
        merge-on-read commits a stale winner that later loses at read-time
        resolution is still part of the feed (same redelivery semantics the
        write side has) — downstream consumers apply the same LWW rule, so
        the net state is unaffected.  ``net=True`` collapses the span to
        one final row per key driver-side of the consumer (one hash agg).

        Cost: O(changed rows in the span) — only change files are read,
        never table state; at 10^10 rows an incremental consumer pays for
        its delta, not the table.
        """
        target, span = self.change_span(from_snapshot_id, to_snapshot_id)
        schema = storage_schema(self.user_schema(target))
        parts = []
        for s in reversed(span):  # oldest commit first
            entries = s.get("change_files") or []
            if not entries:
                continue
            df = self._read_files(spark, target, entries, user_schema=self.user_schema(target))
            parts.append(
                df.selectExpr(
                    "*",
                    f"CAST({int(s['snapshot_id'])} AS BIGINT) AS _commit_snapshot_id",
                    f"{sql_str(s['batch_id'])} AS _commit_batch_id",
                    # rows are reconciled to the TARGET snapshot's schema
                    # above, so that is the version a re-emitted event must
                    # carry
                    f"CAST({int(target['schema_version'])} AS INT) AS _schema_version",
                )
            )
        if not parts:
            empty = T.StructType(
                schema.fields
                + [
                    T.StructField("_commit_snapshot_id", T.LongType()),
                    T.StructField("_commit_batch_id", T.StringType()),
                    T.StructField("_schema_version", T.IntegerType()),
                    T.StructField("_change_type", T.StringType()),
                ]
            )
            return spark.createDataFrame([], empty)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if net:
            out = lww_resolve(out)
        return out.selectExpr(
            "*", "CASE WHEN _deleted THEN 'delete' ELSE 'upsert' END AS _change_type"
        )

    def read_changelog(
        self,
        spark: SparkSession,
        from_snapshot_id: "int | str",
        to_snapshot_id: "int | str | None" = None,
    ) -> DataFrame:
        """Iceberg-changelog-view-style NET diff of the span (from, to]:
        unlike ``read_changes`` (the raw redelivery-tolerant feed), each
        changed key is classified against its BEFORE image so a consumer
        maintaining derived state (an incremental aggregate, a search
        index) gets the retractions it needs:

        * ``insert``         — absent/deleted at *from*, live at *to*
          (after image);
        * ``update_before`` + ``update_after`` — live at both endpoints
          with the LWW triple advanced (old image, then new image);
        * ``delete``         — live at *from*, deleted/absent at *to*
          (before image).

        Keys the span touched only with stale redeliveries (winner
        unchanged) emit nothing — exactly the rows a downstream
        ``SUM``-maintainer must NOT double-count.

        Scale: the changed-key set comes from the span's change files
        (O(delta), never table state); both endpoint images come from
        bucket- and min/max-PRUNED endpoint reads (O(touched buckets) —
        at 10^10 rows / 1024 buckets a 3-key span reads ~3 buckets'
        files); the driver holds only per-bucket key bounds
        (<= n_buckets rows per endpoint).  Output: ``doc_id`` + user
        columns (reconciled to the *to* schema) + the LWW ordering
        triple + ``_change_type``.
        """
        if isinstance(from_snapshot_id, str):
            from_snapshot_id = self.resolve_ref(from_snapshot_id)
        if isinstance(to_snapshot_id, str):
            to_snapshot_id = self.resolve_ref(to_snapshot_id)
        to_sid = to_snapshot_id if to_snapshot_id is not None else self.latest_snapshot_id()
        snap_to = self.snapshot(to_sid)
        user = self.user_schema(snap_to)
        user_cols = [f.name for f in user.fields]
        img_cols = [c for c in user_cols if c != "doc_id"]
        ord_cols = ["_last_event_time", "_last_offset", "_last_src_partition"]
        bk = {f.name: f for f in BOOKKEEPING_FIELDS}
        out_schema = T.StructType(
            [f for f in user.fields if f.name == "doc_id"]
            + [f for f in user.fields if f.name != "doc_id"]
            + [bk[c] for c in ord_cols]  # same order as the non-empty path
            + [T.StructField("_change_type", T.StringType())]
        )
        if from_snapshot_id == 0:
            # bootstrap: no before state exists, and the create commit's
            # base load is not part of the change feed — emit the FULL
            # live state as inserts (the "re-bootstrap from a full table
            # read" the expired-cursor error directs consumers to, in
            # changelog shape so one code path feeds the consumer)
            live = self.read_state(spark, to_sid).filter(~F.col("_deleted"))
            return live.select(
                "doc_id",
                *[F.col(c) for c in img_cols],
                *[F.col(c) for c in ord_cols],
                F.lit("insert").alias("_change_type"),
            )
        # the raw span feed is validation + key discovery only — O(delta)
        keys = self.read_changes(spark, from_snapshot_id, to_sid).select("doc_id")
        stats_by_nb: dict[int, list] = {}  # one span scan per DISTINCT
        # bucket count — endpoints share it unless a rebucket hit the span

        def endpoint(sid: int) -> "DataFrame | None":
            """LWW-resolved image of the changed keys at snapshot ``sid``,
            via bucket + min/max file pruning (the ``lookup`` strategy,
            but with the key set staying DISTRIBUTED: the driver collects
            only per-bucket bounds)."""
            snap = self.snapshot(sid)
            nb = snap["n_buckets"]
            if nb not in stats_by_nb:
                stats_by_nb[nb] = (
                    keys.groupBy(bucket_expr("doc_id", nb).alias("_b"))
                    .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
                    .collect()  # <= n_buckets rows: metadata-scale
                )
            stats = stats_by_nb[nb]
            if not stats:
                return None
            bounds = {r["_b"]: (r["lo"], r["hi"]) for r in stats}
            lo = min(b[0] for b in bounds.values())
            hi = max(b[1] for b in bounds.values())
            # per-file bound: an old-spec file (mid spec evolution) maps
            # to every wanted current-spec bucket congruent to it, so its
            # range check uses the union of those buckets' key bounds
            spec_bounds: dict[tuple[int, int], "tuple[str, str] | None"] = {}

            def file_bounds(e: dict) -> "tuple[str, str] | None":
                s = self._entry_spec(snap, e)
                key = (s, e["bucket"])
                if key not in spec_bounds:
                    hits = [
                        bounds[b] for b in bounds if b % s == e["bucket"]
                    ]
                    spec_bounds[key] = (
                        (min(h[0] for h in hits), max(h[1] for h in hits))
                        if hits
                        else None
                    )
                return spec_bounds[key]

            files = []
            for e in self._files_for_buckets(snap, set(bounds), lo, hi):
                fb = file_bounds(e)
                if fb is None:
                    continue
                if (
                    e.get("min_doc_id") is None
                    or e.get("max_doc_id") is None
                    or not (e["max_doc_id"] < fb[0] or e["min_doc_id"] > fb[1])
                ):
                    files.append(e)
            if not files:
                return None
            # the semi-join goes BELOW the resolution (every version of a
            # key carries its doc_id, so the winner is the same): only the
            # changed keys' versions enter the resolving shuffle
            return self._resolve(spark, snap, files, keys.distinct(), user)

        def pack(df: DataFrame, side: str) -> DataFrame:
            img = F.struct(
                *[F.col(c) for c in img_cols], *[F.col(c) for c in ord_cols]
            )
            # legacy rows without the persisted tiebreak sort as -1, the
            # same coalesce lww_resolve applies — equality stays aligned
            ordv = F.struct(
                F.col("_last_event_time"),
                F.col("_last_offset"),
                F.coalesce(F.col("_last_src_partition"), F.lit(-1)).alias("_sp"),
            )
            return df.select(
                "doc_id",
                img.alias(f"_{side}"),
                (~F.col("_deleted")).alias(f"_{side}_live"),
                ordv.alias(f"_{side}_ord"),
            )

        after = endpoint(to_sid)
        before = endpoint(from_snapshot_id)
        if after is None and before is None:
            return spark.createDataFrame([], out_schema)
        ref = after if after is not None else before
        a = pack(after, "a") if after is not None else pack(ref, "a").limit(0)
        b = pack(before, "b") if before is not None else pack(ref, "b").limit(0)
        j = a.join(b, "doc_id", "full_outer")
        a_live = F.coalesce(F.col("_a_live"), F.lit(False))
        b_live = F.coalesce(F.col("_b_live"), F.lit(False))
        same = F.col("_a_ord").eqNullSafe(F.col("_b_ord"))
        ev = lambda ct, img: F.struct(  # noqa: E731
            F.lit(ct).alias("_ct"), F.col(img).alias("_img")
        )
        # a missing when-branch yields a NULL array, which explode drops —
        # that is the "nothing to emit" case (stale-only touch, double
        # delete), no .otherwise needed
        events = (
            F.when(a_live & ~b_live, F.array(ev("insert", "_a")))
            .when(
                a_live & b_live & ~same,
                F.array(ev("update_before", "_b"), ev("update_after", "_a")),
            )
            .when(~a_live & b_live & ~same, F.array(ev("delete", "_b")))
        )
        return j.select("doc_id", F.explode(events).alias("_e")).select(
            "doc_id",
            *[F.col(f"_e._img.{c}").alias(c) for c in img_cols],
            *[F.col(f"_e._img.{c}").alias(c) for c in ord_cols],
            F.col("_e._ct").alias("_change_type"),
        )

    def span_src_partitions(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> list[int] | None:
        """The set of source partitions whose events are present in the
        change span (from, to] — derived purely from the span snapshots'
        lineage metadata (driver-side, O(span) JSON reads, no data scan).

        This is the ``known_partitions`` hint a changelog CONSUMER passes
        to ``apply_batch``, sparing it the jobs that list the feed's
        partitions: ``changes_as_events`` emits each row's ORIGINAL
        ``src_partition`` (persisted as ``_last_src_partition``), and
        every commit's lineage records exactly which partitions it
        ingested, so the union over the span is the feed's partition
        set.  Returns None when any span commit with change files lacks
        per-partition lineage (pre-upgrade tables) — ``apply_batch`` then
        lists the partitions itself (correct, two more Spark jobs)."""
        to_sid = (
            to_snapshot_id if to_snapshot_id is not None else self.latest_snapshot_id()
        )
        parts: set[int] = set()
        sid: int | None = to_sid
        while sid is not None and sid != from_snapshot_id:
            s = self.snapshot(sid)
            if s.get("change_files"):
                pp = (s.get("lineage") or {}).get("per_partition")
                if not pp:
                    return None
                parts.update(int(r["src_partition"]) for r in pp)
            sid = s["parent_id"]
        return sorted(parts)

    # ------------------------------------------------------------------ #
    # maintenance: merge-on-read compaction
    # ------------------------------------------------------------------ #
    def delta_file_counts(self, snap: dict | None = None) -> dict[int, int]:
        """Delta files per bucket GROUP — the read-amplification gauge.
        Runs every trigger (the compaction trip-wire), so it reads the
        per-segment aggregates off the manifest references and never loads
        a segment body: O(segments) driver work, not O(live files).

        Keys are group ids under the smallest live spec — the unit
        ``compact`` rewrites.  ``bucket % s_min`` maps a bucket of ANY
        live spec to its group (divisibility rule), so no per-entry spec
        is needed; on a single-spec table group == bucket, unchanged."""
        snap = snap or self.snapshot()
        s_min = self._min_live_spec(snap)
        out: dict[int, int] = {}
        if "manifests" in snap:
            for ref in snap["manifests"]:
                for b, n in ref.get("delta_counts", {}).items():
                    g = int(b) % s_min
                    out[g] = out.get(g, 0) + int(n)
            return out
        for e in snap["files"]:
            if e.get("kind", "base") == "delta":
                g = e["bucket"] % s_min
                out[g] = out.get(g, 0) + 1
        return out

    def compact(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        drop_tombstones_before: "datetime.datetime | str | None" = None,
        migrate_specs: bool = False,
    ) -> int | None:
        """Rewrite the given bucket groups (default: every group holding
        deltas) as LWW-resolved base files and drop their deltas — the
        background job that keeps merge-on-read read amplification bounded.
        Commit is idempotent on the parent snapshot id; tombstones are
        retained BY DEFAULT (they carry the _last_offset watermark that
        keeps late redeliveries no-ops).

        The rewrite unit is the GROUP (bucket id under the smallest live
        spec — identical to the bucket on a single-spec table): all of a
        group's files, whatever spec they were written under, merge into
        current-spec base files, so compaction doubles as the incremental
        migration path after ``evolve_bucket_spec``.  ``migrate_specs=True``
        additionally targets groups that still hold old-spec files even
        when they carry no deltas — run it (optionally a few groups per
        call via ``buckets``) until ``inspect("files")`` shows a single
        spec; at 10^10 rows this spreads the one-off rewrite over as many
        maintenance windows as you like instead of one monolithic
        ``rebucket``.

        ``drop_tombstones_before`` bounds delete-heavy growth: on a
        10^10-event stream with churn, tombstones otherwise accumulate
        forever.  It is an EVENT-TIME watermark (timestamp or ISO string —
        the caller derives it from their source's late-data bound, exactly
        as for a streaming watermark): a tombstone whose
        ``_last_event_time`` is strictly older is physically dropped during
        the rewrite, correct under the contract that no event older than
        the watermark can still arrive.  A redelivery OLDER than a dropped
        tombstone would re-insert the doc (the documented hazard of every
        tombstone-retention scheme — Iceberg/Delta make the identical
        trade); redeliveries at or after the watermark still no-op against
        the retained tombstones."""
        snap = self.snapshot()
        s_min = self._min_live_spec(snap)
        nb = snap["n_buckets"]
        candidates = set(self.delta_file_counts(snap))
        if migrate_specs:
            candidates |= {
                e["bucket"] % s_min
                for e in snap["files"]
                if self._entry_spec(snap, e) != nb
            }
        groups = set(candidates if buckets is None else set(buckets) & candidates)
        if not groups:
            return None
        buckets = sorted(groups)
        target = [e for e in snap["files"] if e["bucket"] % s_min in groups]
        resolved = self._resolve(spark, snap, target, write_nb=nb)
        if drop_tombstones_before is not None:
            resolved = resolved.filter(
                (~F.col("_deleted"))
                | (
                    F.col("_last_event_time")
                    >= F.lit(drop_tombstones_before).cast("timestamp")
                )
            )
        new_files = self._write_data_files(
            resolved,
            nb,
            snap["schema_version"],
            batch_tag=f"compact{snap['snapshot_id']}",
            sort_cols=snap.get("sort_order"), bloom=snap.get("bloom_filter"), zorder=snap.get("zorder"),
        )
        lineage: dict[str, Any] = {"compacted_buckets": buckets}
        if drop_tombstones_before is not None:
            # auditable: which watermark authorized dropping replay guards
            lineage["tombstones_dropped_before"] = str(drop_tombstones_before)
        # rebase over concurrent commits on OTHER groups (the ingest
        # stream keeps flowing while maintenance runs); a commit into a
        # group being compacted re-plans loudly rather than silently
        # dropping the concurrent writer's files from the carried manifest
        # the bid carries the group set: two compactions planned at the
        # SAME parent over DISJOINT groups are distinct operations (both
        # land via rebase) — only an identical (parent, groups) re-run
        # no-ops on the replay guard
        gtag = hashlib.md5(",".join(map(str, buckets)).encode()).hexdigest()[:8]
        return self.commit_rebase(
            f"__compact__-{snap['snapshot_id']}-{gtag}",
            new_files,
            snap,
            groups,
            lineage=lineage,
        )

    # ------------------------------------------------------------------ #
    # maintenance: rebucketing (SURVEY.md §4.2 O2 — "B fixed per table,
    # rebucketing = maintenance op")
    # ------------------------------------------------------------------ #
    def evolve_bucket_spec(self, new_n_buckets: int) -> int | None:
        """Grow the bucket spec WITHOUT rewriting a byte of data — the
        Iceberg partition-spec-evolution role (Iceberg spec §partition-
        evolution; SURVEY.md §4.2 O2).

        A metadata-only commit: existing files stay in place under their
        old spec; every subsequent write (MOR and DML deltas, compaction,
        create-like rewrites) lands under the new spec, and
        compaction migrates old groups incrementally (``compact(...,
        migrate_specs=True)``).  At 10^10 rows this is THE way to grow B:
        ``rebucket`` is a full-table rewrite in one commit, while this is
        O(1) now plus O(group) rewrites amortized over normal maintenance.

        Divisibility contract: ``new_n_buckets`` must be a strict multiple
        of the current count.  That makes a key's bucket under any live
        spec derivable from its current bucket (``b % s``), which is what
        keeps every pruning site (lookup, manifest skipping, DML planning,
        dirty-group resolution) exact during the migration window.
        Returns the new snapshot id, or None if the count is unchanged.
        """
        snap = self.snapshot()
        cur = snap["n_buckets"]
        if new_n_buckets == cur:
            return None
        if new_n_buckets < cur or new_n_buckets % cur != 0:
            raise ValueError(
                f"evolve_bucket_spec requires a strict multiple of the "
                f"current bucket count ({cur}); got {new_n_buckets}. "
                "Shrinking or non-multiple growth needs rebucket() — a "
                "full rewrite."
            )
        return self.commit(
            f"__evolve__-{snap['snapshot_id']}-{new_n_buckets}",
            [],
            PARENT_FILES,
            lineage={
                "spec_evolved_from": cur,
                "spec_evolved_to": new_n_buckets,
            },
            n_buckets=new_n_buckets,
            expected_parent_id=snap["snapshot_id"],
        )

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> int | None:
        """Rewrite the table into ``new_n_buckets`` doc_id hash buckets.

        At 10^10 rows a table created with too few buckets makes every
        MERGE touch huge files; growing B is mandatory.  This is a normal
        snapshot commit (time travel to the old layout still works, expiry
        reclaims it), resolving MOR deltas on the way through — after it,
        the table is fully-resolved base files in the new layout and every
        subsequent MERGE prunes against the new bucket count.

        Cost model: a full-table rewrite, one shuffle on the new bucket
        key — the same cost Iceberg pays for a RewriteDataFiles over a
        changed partition spec.  When B' is a multiple of B, a cheaper
        incremental variant (split one old bucket into B'/B new ones at a
        time, since pmod(h, B') within an old bucket only yields keys
        congruent mod B) is possible; not needed at sandbox scale and a
        full rewrite keeps the commit atomic.
        """
        snap = self.snapshot()
        if new_n_buckets == snap["n_buckets"]:
            return None
        # MOR-resolved, tombstones retained, partitioned for the new layout
        state = self._resolve(spark, snap, snap["files"], write_nb=new_n_buckets)
        new_files = self._write_data_files(
            state,
            new_n_buckets,
            snap["schema_version"],
            sort_cols=snap.get("sort_order"), bloom=snap.get("bloom_filter"), zorder=snap.get("zorder"),
            batch_tag=f"rebucket{snap['snapshot_id']}",
        )
        return self.commit(
            f"__rebucket__-{snap['snapshot_id']}-{new_n_buckets}",
            new_files,
            [],
            lineage={"rebucket_from": snap["n_buckets"], "rebucket_to": new_n_buckets},
            n_buckets=new_n_buckets,
            expected_parent_id=snap["snapshot_id"],
        )

    # ------------------------------------------------------------------ #
    # maintenance (S8)
    # ------------------------------------------------------------------ #
    def expire_snapshots(
        self,
        keep_last: int = 2,
        older_than_s: float | None = None,
        orphan_grace_s: float = 21600.0,
        forget_batches: bool = False,
    ) -> dict[str, int]:
        """Drop expired committed snapshots and delete data directories
        unreachable from the retained set.

        Two retention contracts, matching Iceberg's ``expireSnapshots``:

        * count-based (default): keep the newest ``keep_last`` snapshots;
        * time-based (``older_than_s``): keep every snapshot committed
          within the last ``older_than_s`` seconds — the wall-clock
          contract production CDC retention is usually written in
          ("downstream consumers may lag up to N hours") — while always
          retaining at least ``max(keep_last, 1)`` newest as a floor.

        TAGGED snapshots (``tag()``) are pinned outside both rules: their
        descriptors, manifest segments and data files survive every pass
        until the tag is removed — the reproducible-training-snapshot
        contract.  They do not extend the committed chain: once retention
        passes them they are detached (readable by tag/id only).

        Both use the per-snapshot ``committed_at`` stamp.  The retained
        set is FORCED to be a prefix of the committed chain (newest-first)
        — time-based retention cuts at the first too-old snapshot and
        expires everything below it, so multi-writer clock skew (which can
        make ``committed_at`` non-monotone along the chain) can never
        expire a mid-chain snapshot out from under kept descendants.  The
        oldest survivor is reparented to None.  A ``read_changes`` consumer whose cursor
        falls behind retention gets the explicit re-bootstrap error, never
        a silent gap.

        Safe concurrent with writers (Iceberg's expire/orphan split):

        * The whole pass runs under the commit mutex, so metadata written
          under that lock (descriptors, manifest segments, markers) cannot
          be mid-commit while we list-and-delete — an in-flight commit
          either landed (its artifacts are retained-reachable) or hasn't
          started its critical section yet.
        * Data directories are written BEFORE the writer takes the lock,
          so a dir referenced by no snapshot may be a commit in flight —
          not garbage.  Dirs referenced by an *expired committed* snapshot
          are deleted immediately (they were superseded under the lock);
          dirs referenced by NOTHING (crash orphans / in-flight writes)
          are deleted only when older than ``orphan_grace_s`` — Iceberg's
          ``deleteOrphanFiles(olderThan=...)`` contract (its default is
          3 days for the same reason ours is hours, not minutes: the
          grace must exceed the gap between a stage's last write activity
          and its commit; writers restamp the dir when the data write
          completes, so the clock starts at write END, and the remaining
          exposure is only the mutex-bound commit tail).

        ``forget_batches=True`` additionally GCs the idempotency layer for
        the snapshots this pass expires: their per-batch marker objects
        are deleted and their batches-log lines dropped.  Without it the
        marker set grows O(total commits) forever — millions of metadata
        objects over a 10^10-event stream.  The trade is explicit and
        state-safe: batch-id suppression for the forgotten span is gone,
        so a source that somehow redelivers an ancient batch re-applies
        it — but row-level LWW idempotency (layer 2: the (event_time,
        offset) monotonicity test against stored bookkeeping) makes that
        re-apply a state no-op; only wasted work, never corruption.  Run
        it when the redelivery horizon (the stream's checkpoint) is past
        the expired span — the same contract tombstone GC encodes.
        Markers of retained, tagged and branch-staged snapshots are
        always kept."""
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
            return self._expire_locked(
                keep_last, older_than_s, orphan_grace_s, forget_batches, lock=lk
            )

    def _expire_locked(
        self,
        keep_last: int,
        older_than_s: float | None,
        orphan_grace_s: float,
        forget_batches: bool = False,
        lock: "fs.mutex | None" = None,
    ) -> dict[str, int]:
        chain = self.committed_chain()
        if older_than_s is None:
            keep = chain[:keep_last]
        else:
            cutoff = time.time() - older_than_s
            floor = max(keep_last, 1)
            # the retained set MUST be a chain prefix: commit stamps come
            # from writer wall clocks, and multi-writer clock skew can make
            # committed_at non-monotone along the chain — a per-snapshot
            # filter would then expire a MID-chain snapshot, leaving kept
            # descendants with a dangling parent link.  Cut at the first
            # too-old snapshot (past the floor) and expire everything below
            # it, stamps notwithstanding (Iceberg expires by ancestry the
            # same way).
            keep = list(chain[:floor])
            for s in chain[floor:]:
                if s.get("committed_at", 0.0) < cutoff:
                    break
                keep.append(s)
        # mutations start here: abort first if our lock was stale-broken
        # (a waiter may be mid-commit; deleting metadata or scrubbing the
        # log under it would erase its commit record)
        if lock is not None:
            try:
                lock.verify()
            except fs.LockLostError as e:
                raise CommitConflictError(str(e)) from None
        # finish a crashed-but-completed publish while chain ancestry is
        # still intact: after this pass detaches the published head, the
        # completed/crashed ambiguity becomes undecidable and a stale fork
        # mark would let a later drop erase published markers
        self._resolve_publish_intent()
        # ref-TTL sweep FIRST (Iceberg maxRefAge): time-bound tags simply
        # unpin; time-bound branches are dropped with the full forget
        # discipline — the pinning below then reasons over survivors only,
        # so an expired ref stops holding metadata on this very pass
        now = time.time()
        refs = self._read_refs()
        stale_tags = [
            n for n, v in refs.get("tags", {}).items() if self._ref_expired(v, now)
        ]
        if stale_tags:
            traw = dict(refs.get("tags", {}))
            for n in stale_tags:
                traw.pop(n)
            self._write_refs(dict(refs, tags=traw))
        for n, v in list(refs.get("branches", {}).items()):
            if self._ref_expired(v, now):
                self._drop_branch_locked(n)
        # tagged snapshots are pinned OUTSIDE the retention rule: their
        # descriptors, data dirs and manifest segments all survive, but
        # they do NOT extend ``keep`` (the chain prefix) — once retention
        # passes them they are detached refs, readable by tag/id only
        # (Iceberg tag semantics).  A tag whose snapshot is already gone
        # (created pre-feature, or raced an old expiry) pins nothing.
        keep_ids = {s["snapshot_id"] for s in keep}
        tagged: list[dict] = []
        for tsid in sorted(set(self.tags().values()) - keep_ids):
            try:
                tagged.append(self.snapshot(tsid))
            except FileNotFoundError:
                continue
        # branches pin their whole STAGED suffix (head down to the first
        # main-chain snapshot): an in-flight WAP line must survive retention
        # until published or dropped.  Like tags, pinning keeps descriptor,
        # segments and data dirs alive via the reachability sweeps below —
        # even if the fork-point main snapshot itself expires (the staged
        # descriptors carry the full file set by manifest reference).
        chain_ids = {s["snapshot_id"] for s in chain}
        pinned_ids = keep_ids | {s["snapshot_id"] for s in tagged}
        # forks reached by a walk whose descriptor an earlier pass already
        # expired: nothing left to pin but their idempotency marker
        marker_only: set[int] = set()
        for bval in self._read_refs().get("branches", {}).values():
            sid: int | None = self._ref_sid(bval)
            fork = self._ref_fork(bval)
            head = True
            # the head is pinned even when it sits ON the main chain (a
            # branch cut from an old snapshot with nothing staged yet must
            # not be bricked by count-based expiry); parents are walked
            # only through the staged suffix, stopping at the recorded
            # fork (inclusive) so detached main history BELOW the fork is
            # not pinned forever
            while sid is not None and (head or sid not in chain_ids) and sid not in pinned_ids:
                try:
                    s = self.snapshot(sid)
                except FileNotFoundError:
                    # the fork was still on main's chain when a previous
                    # pass expired its descriptor; detached now, it is the
                    # branch's base and keeps its marker
                    if sid == fork:
                        marker_only.add(sid)
                    break
                tagged.append(s)
                pinned_ids.add(sid)
                if sid == fork:
                    break
                sid = s["parent_id"]
                head = False
        pinned = keep + tagged
        forgotten = 0
        if forget_batches:
            # sweep-based idempotency GC: drop every marker whose snapshot
            # is no longer pinned (covers leftovers from earlier passes
            # that ran without the flag), and the matching log lines.  The
            # recovery invariant survives: the tip is always in ``keep``,
            # so the log's newest entry still names the last commit.
            keep_sids = {s["snapshot_id"] for s in pinned} | marker_only
            bdir = os.path.join(self.meta_dir, "batches")
            for f in fs.listdir(bdir):
                p = os.path.join(bdir, f)
                try:
                    m = fs.read_json(p)
                except (FileNotFoundError, ValueError):
                    continue
                if int(m.get("snapshot_id", -1)) not in keep_sids:
                    fs.unlink(p)
                    forgotten += 1
            self._filter_batches_log(keep_ids=keep_sids)
        def _commit_dirs(snaps) -> set[str]:
            return {
                os.path.dirname(
                    os.path.dirname(os.path.join(self.root, e["path"]))
                )
                for s in snaps
                for e in (s["files"] + s.get("change_files", []))
            }
        live_commit_dirs = _commit_dirs(pinned)
        # dirs referenced by expired committed snapshots: superseded under
        # the commit lock, safe to delete right now
        expired_commit_dirs = _commit_dirs(chain[len(keep):]) - live_commit_dirs
        now = time.time()
        removed_files = 0
        for d in fs.listdir(self.data_dir):
            full = os.path.join(self.data_dir, d)
            if full in live_commit_dirs:
                continue
            if full not in expired_commit_dirs:
                # referenced by NO snapshot: crash orphan or an in-flight
                # commit that staged its files before taking the lock —
                # only reap it once it is unambiguously abandoned
                try:
                    age = now - fs.getmtime(full)
                except OSError:
                    continue
                if age < orphan_grace_s:
                    continue
            removed_files += sum(len(fns) for _, _, fns in os.walk(full))
            fs.remove_tree(full)
        # orphan descriptors (crash leftovers) + expired ones — descriptors
        # are written under the lock we hold, so none can be in flight
        committed_ids = {s["snapshot_id"] for s in pinned}
        removed_snaps = 0
        for f in fs.listdir(self.meta_dir):
            if f.startswith("snap-") and int(f[5:-5]) not in committed_ids:
                fs.unlink(os.path.join(self.meta_dir, f))
                removed_snaps += 1
        # manifest segments unreferenced by any retained snapshot (expired
        # commits' segments and crash orphans) — segments are written under
        # the lock too, so list-minus-live is exact here
        live_manifests = {
            ref["path"] for s in pinned for ref in s.get("manifests", [])
        }
        mdir = self._manifest_dir()
        for f in fs.listdir(mdir):
            rel = os.path.join("manifests", f)
            if rel not in live_manifests:
                fs.unlink(os.path.join(mdir, f))
                _MANIFEST_CACHE.pop(os.path.join(self.meta_dir, rel), None)
        # keep_last snapshots now form the full chain; reparent the oldest
        if keep:
            oldest = keep[-1]
            if oldest["parent_id"] is not None:
                oldest = dict(oldest, parent_id=None)
                fs.write_json_atomic(self._snap_path(oldest["snapshot_id"]), oldest)
        return {
            "removed_snapshots": removed_snaps,
            "removed_files": removed_files,
            "forgotten_batches": forgotten,
        }


class BranchHandle(SequenceTable):
    """A ``SequenceTable`` whose visible tip is a branch head instead of
    ``_LATEST`` — the write-audit-publish staging surface.

    The whole write machinery (``apply_batch``, ``run_stream``, ``compact``,
    time travel, ``read_changes``) works against a handle unchanged: it only
    ever consults the tip through ``latest_snapshot_id()`` / ``snapshot()``
    and advances it through ``_advance_tip``, both re-pointed here.  Commits
    through a handle extend the branch in ``refs.json`` and never touch
    ``_LATEST`` or the batches log, so main readers cannot observe staged
    work and pointer recovery cannot land on it; ``fast_forward`` publishes
    the line atomically.

    Batch-id idempotency is table-GLOBAL (markers are shared): a batch
    staged on a branch no-ops if redelivered to main before publishing —
    the same exactly-once guarantee, one id space.  ``drop_branch`` forgets
    the staged ids so an abandoned audit line can be replayed for real.
    """

    def __init__(self, root: str, name: str):
        super().__init__(root)
        self.branch_name = name

    def latest_snapshot_id(self) -> int:
        heads = self.branches()
        if self.branch_name not in heads:
            raise KeyError(
                f"no branch named {self.branch_name!r} (dropped or published "
                f"and removed); have: {sorted(heads)}"
            )
        return heads[self.branch_name]

    def _advance_tip(self, batch_id: str, sid: int) -> None:
        # runs under the commit mutex (commit holds it); drop_branch holds
        # the same mutex, so a vanished ref here is a real conflict
        refs = self._read_refs()
        b = dict(refs.get("branches", {}))
        if self.branch_name not in b:
            raise CommitConflictError(
                f"branch {self.branch_name!r} was dropped while this commit "
                "was in flight"
            )
        cur = b[self.branch_name]
        # preserve the TTL envelope (max_age_s/created_at) across head moves
        b[self.branch_name] = dict(cur, sid=sid) if isinstance(cur, dict) else sid
        self._write_refs(dict(refs, branches=b))

    def _walk_unmarked(
        self, bid: str
    ) -> "tuple[int | None, list[tuple[str, int]]]":
        """The base walk, bounded by the fork: only snapshots CREATED ON
        this branch (strictly above its fork) are the branch's to heal.
        The fork and everything below it are history another line owns,
        and an unmarked fork is not necessarily a crash window — a main
        rollback deletes the markers of the span it rolls back, and that
        span may hold this branch's fork.  Healing it from here would
        resurrect batch ids the rollback forgot, so a redelivery to main
        would no-op instead of applying.  An unmarked fork is therefore
        healed only when main's own walk reaches it (main's crash-window
        tip suffix); otherwise the walk stops there."""
        fork = self._ref_fork(
            self._read_refs().get("branches", {}).get(self.branch_name)
        )
        if fork is None:
            return super()._walk_unmarked(bid)
        found: int | None = None
        unmarked: list[tuple[str, int]] = []
        sid: int | None = self.latest_snapshot_id()
        while sid is not None:
            s = self.snapshot(sid)
            if self._read_marker(s["batch_id"]) == s["snapshot_id"]:
                break  # fully recorded; everything below is too
            if sid == fork:
                _, main_unmarked = SequenceTable(self.root)._walk_unmarked(bid)
                main_sids = [s2 for _, s2 in main_unmarked]
                if fork in main_sids:
                    for b2, s2 in main_unmarked[main_sids.index(fork):]:
                        unmarked.append((b2, s2))
                        if b2 == bid:
                            found = s2
                break
            unmarked.append((s["batch_id"], s["snapshot_id"]))
            if s["batch_id"] == bid:
                found = s["snapshot_id"]
            sid = s["parent_id"]
        return found, unmarked

    def _heal_markers(self, unmarked: list[tuple[str, int]]) -> None:
        # markers only: the batches log records MAIN pointer swaps, and a
        # staged commit's line must not enter it before fast_forward does
        for b, s2 in reversed(unmarked):
            self._write_marker(b, s2)

    def _alloc_floor(self) -> int:
        # a branch commit's parent is the branch head, which can trail the
        # main tip (and expired main ids below the tip must never be
        # recycled while their markers reference them) — include it
        floor = super()._alloc_floor()
        try:
            floor = max(
                floor, int(fs.read_text(os.path.join(self.meta_dir, "_LATEST")))
            )
        except FileNotFoundError:
            pass
        return floor

    def fast_forward(self, name: str | None = None) -> int:
        """Publish (defaults to this handle's own branch) via the root
        table, where main's tip and log live."""
        return SequenceTable(self.root).fast_forward(name or self.branch_name)

    def drop_branch(self, name: str | None = None) -> int:
        return SequenceTable(self.root).drop_branch(name or self.branch_name)

    def expire_snapshots(self, *a, **kw):
        # retention reasons over MAIN's chain plus pinned refs
        return SequenceTable(self.root).expire_snapshots(*a, **kw)

    def rollback(self, to_snapshot_id):
        raise ValueError(
            "rollback moves main's tip and rewrites the batches log; run it "
            "on the root SequenceTable — to discard staged branch work, "
            "drop_branch() and cut a fresh branch instead"
        )
