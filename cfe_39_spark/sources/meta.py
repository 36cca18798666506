"""The metadata core of the SequenceTable format: snapshots, manifests,
refs, batch markers, commit and expiry — driver-side JSON on the three
``sources/fs.py`` primitives (atomic write, append, mutex), with no Spark
import.  ``sources/table.py``'s ``SequenceTable`` inherits it and adds the
Spark half: data-file writes, reads, compaction and DDL.

A Parquet-backed table format with Iceberg snapshot semantics (SURVEY.md
§2.1 S3/S6/S8, §4.2 O2/O3/O4).  No iceberg/delta jars exist in the
sandbox and the north rule wants this built from scratch anyway
(BASELINE.json:14).  The format:

    <root>/
      metadata/
        snap-<id>.json      one immutable snapshot descriptor per commit
        manifests/m-*.json  immutable manifest segments (file-entry lists)
        refs.json           tags and branches
        batches/<sha1>.json one idempotency marker per committed batch id
        batches.log         append-only batch_id -> snapshot_id log
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

Snapshot expiry (S8): reachability over retained snapshots, delete orphan
data dirs — the TTL-pruning role of the reference ingester.  Every walk
down parent links goes through ``_ancestors``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import time
import uuid
from itertools import takewhile
from typing import TYPE_CHECKING, Any, Iterator

from . import fs

if TYPE_CHECKING:
    from pyspark.sql.types import StructType

# Sentinel for TableMeta.commit(carried_files=...): "carry exactly the
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

    def __init__(self, data: dict, table: "TableMeta"):
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


def _verify_lock(lock: "fs.mutex") -> None:
    """Abort a metadata write whose commit mutex was stale-broken (we
    overran the budget, or lost the break-restore race): a waiter may be
    mid-commit, and writing under it would clobber its record.  Called
    after the last read and before the first write of every mutation."""
    try:
        lock.verify()
    except fs.LockLostError as e:
        raise CommitConflictError(str(e)) from None


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
        names = [f["name"] for f in json.loads(schemas[ver])["fields"]]
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


class TableMeta:
    """Handle to one table root's metadata: every operation here is
    driver-side JSON, no Spark job and no data file read."""

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")

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
            staged = set((self._pending_intent() or {}).get("span", []))
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

    def _ancestors(self, sid: int | None) -> Iterator[dict]:
        """The descriptors from ``sid`` down its parent links, newest
        first: the one parent-chain walk.  It stops at the root or at the
        first missing (expired) descriptor; the caller tells the two apart
        by the last yielded ``parent_id``, which is None only at the root."""
        while sid is not None:
            try:
                s = self.snapshot(sid)
            except FileNotFoundError:
                return
            yield s
            sid = s["parent_id"]

    def _retained_ids(self) -> list[int]:
        """Ids of every descriptor on disk, ascending."""
        return [
            int(f[5:-5])
            for f in fs.listdir(self.meta_dir)
            if f.startswith("snap-") and f.endswith(".json")
        ]

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
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
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
            _verify_lock(lk)
            self._write_refs(dict(refs, tags=traw))
            return sid

    def remove_tag(self, name: str) -> int:
        """Drop the tag; its snapshot re-enters normal retention on the
        next ``expire_snapshots`` pass.  Returns the unpinned id."""
        with fs.mutex(os.path.join(self.meta_dir, "_LOCK")) as lk:
            refs = self._read_refs()
            traw = dict(refs.get("tags", {}))
            if name not in traw:
                raise KeyError(f"no tag named {name!r}")
            sid = self._ref_sid(traw.pop(name))
            _verify_lock(lk)
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
            _verify_lock(lk)
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

    def branch(self, name: str) -> "BranchMeta":
        """Handle whose tip is the branch head: ``apply_batch``,
        ``run_stream``, ``compact`` — the whole write machinery — work
        against it unchanged and commit to the branch.  A handle of the
        table's own kind (``_branch_cls``): a ``SequenceTable`` hands out
        a ``BranchHandle``."""
        if name not in self.branches():
            raise KeyError(f"no branch named {name!r} (have: {sorted(self.branches())})")
        return self._branch_cls(self.root, name)

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
                if (self._pending_intent() or {}).get("branch") == name:
                    fs.unlink(self._publish_intent_path())
                self._mark_published(name, head)
                return main
            span = list(takewhile(lambda s: s["snapshot_id"] != main, self._ancestors(head)))
            # a walk that ends short of main reached the root or fell off
            # the staged suffix into EXPIRED main ancestry (the fork point
            # predates retention, so main has necessarily moved on): both
            # are divergence, so give the guided error
            if (span[-1]["parent_id"] if span else head) != main:
                raise ValueError(
                    f"branch {name!r} (head {head}) does not descend from "
                    f"the current snapshot {main}; publish is fast-forward "
                    "only — drop the branch and replay its batches onto a "
                    "fresh one cut from the new main"
                )
            _verify_lock(lk)
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
        intent = self._pending_intent()
        if intent is None:
            return
        head = int(intent.get("head", -1))
        if any(s["snapshot_id"] == head for s in self._ancestors(self.latest_snapshot_id())):
            self._mark_published(str(intent.get("branch")), head)
            fs.unlink(self._publish_intent_path())

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

    def _pending_intent(self) -> dict | None:
        try:
            return fs.read_json(self._publish_intent_path())
        except (FileNotFoundError, ValueError):
            return None

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
            _verify_lock(lk)
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
        suppression for published state.  A legacy bare-int ref records no
        fork, so its walk stops at the first snapshot any tag's line
        reaches too (a tag can keep the detached fork readable)."""
        # finish a crashed-but-completed publish FIRST: it may be this
        # branch's, and its healed fork mark is what stops the walk below
        # from treating published history as staged work
        self._resolve_publish_intent()
        braw = self._read_refs().get("branches", {})
        if name not in braw:
            raise KeyError(f"no branch named {name!r}")
        head = self._ref_sid(braw[name])
        fork = self._ref_fork(braw[name])
        # the walk stops at the fork, on main's chain, or on a snapshot
        # another line reaches: a sibling branch's (walked past ITS fork —
        # a sibling cut from this branch's staged suffix has its fork on a
        # shared staged snapshot) and, with no recorded fork, a tag's.
        # Extra stops only ever PREVENT deletions, so walking every line
        # down to main (or a missing descriptor) is always safe.
        stop = {s["snapshot_id"] for s in self.committed_chain()} | {fork}
        lines = [self._ref_sid(v) for n, v in braw.items() if n != name]
        if fork is None:
            lines += self.tags().values()
        for top in lines:
            for s in takewhile(lambda s: s["snapshot_id"] not in stop, self._ancestors(top)):
                stop.add(s["snapshot_id"])
        dropped = list(takewhile(lambda s: s["snapshot_id"] not in stop, self._ancestors(head)))
        # cancel a crashed half-publish of THIS branch before scrubbing:
        # its journaled log lines are part of the staged record
        if (self._pending_intent() or {}).get("branch") == name:
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
            # lets _select_files match a segment's buckets under each
            # spec without loading its body
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
    # so a key's bucket under s is its bucket under B taken mod s: bucket
    # groups (``_min_live_spec``) are one mod, and ``_select_files``
    # matches buckets of any two specs through their gcd.
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

    def _select_files(
        self,
        snap: dict,
        keys: "dict[tuple[int, int], list[tuple[str | None, str | None]]] | None" = None,
        min_event_time: int | None = None,
    ) -> list[dict]:
        """The file entries of ``snap`` that can hold a sought key and a
        row with ``_last_event_time >= min_event_time`` (epoch micros):
        the one file-pruning rule every keyed or time-bounded read plans
        through, driver-side metadata only.  ``None`` leaves that side
        unfiltered.

        ``keys`` maps ``(spec, bucket)`` to ``(lo, hi)`` doc_id intervals
        (``None`` = unbounded): keys in those intervals that hash into
        ``bucket`` under ``spec`` buckets.  A file of spec ``s`` and bucket
        ``b`` can hold one iff ``b ≡ bucket (mod gcd(s, spec))`` — both ids
        are residues of the same hash — and an interval overlaps its
        ``[min_doc_id, max_doc_id]``.  One rule thus covers same-spec
        files, old-spec files mid ``evolve_bucket_spec`` and, with
        ``spec`` 1, every bucket at once.

        Iceberg's manifest-list pruning: a segment whose reference-level
        ``specs``/``buckets``, key range or ``max_event_time`` ceiling
        rules it out is skipped WITHOUT loading its body.  A missing stat
        (pre-upgrade refs and entries, v1 inline descriptors) never
        skips — correctness over skipping.  Entries come back in manifest
        order, so a plan built from them is stable."""
        legacy = self._parent_legacy_spec(snap) if keys is not None else 0
        by_spec: dict[int, dict[int, list]] = {}

        def wanted(s: int) -> dict[int, list]:
            """bucket under spec ``s`` -> the intervals a file there may hold"""
            w = by_spec.get(s)
            if w is None:
                w = by_spec[s] = {}
                for (q, bq), ivs in keys.items():
                    g = math.gcd(s, q)
                    for b in range(bq % g, s, g):
                        w.setdefault(b, []).extend(ivs)
            return w

        def overlaps(ivs: list, lo: "str | None", hi: "str | None") -> bool:
            if lo is None or hi is None:
                return bool(ivs)
            return any((a is None or a <= hi) and (z is None or z >= lo) for a, z in ivs)

        def hit(e: dict) -> bool:
            if min_event_time is not None:
                ceil = e.get("max_event_time")
                if ceil is not None and ceil < min_event_time:
                    return False
            if keys is None:
                return True
            ivs = wanted(e.get("spec_nb") or legacy).get(e["bucket"])
            return ivs is not None and overlaps(ivs, e.get("min_doc_id"), e.get("max_doc_id"))

        if "manifests" not in snap:
            return [e for e in snap["files"] if hit(e)]
        out: list[dict] = []
        for ref in snap["manifests"]:
            ceil = ref.get("max_event_time")
            if min_event_time is not None and ceil is not None and ceil < min_event_time:
                continue
            bs = ref.get("buckets")
            if keys is not None and bs is not None:
                lo, hi = ref.get("min_doc_id"), ref.get("max_doc_id")
                if not any(
                    b in w and overlaps(w[b], lo, hi)
                    for w in (wanted(s or legacy) for s in ref.get("specs") or [0])
                    for b in bs
                ):
                    continue
            out.extend(e for e in self._load_manifest(ref) if hit(e))
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

    def committed_chain(self) -> list[dict[str, Any]]:
        """Snapshots reachable from _LATEST via parent links (committed only —
        a descriptor orphaned by a crash before pointer swap is excluded)."""
        return list(self._ancestors(self.latest_snapshot_id()))

    def _batches_log_path(self) -> str:
        return os.path.join(self.meta_dir, "batches.log")

    # -- per-batch marker objects: the O(1) idempotency probe ---------- #
    def _marker_path(self, bid: str) -> str:
        # sha1 of the batch id: ids are caller-chosen strings (may hold
        # path separators); the id itself is stored inside for verification
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
        self, bid: str, stop: int | None = None
    ) -> "tuple[int | None, list[tuple[str, int]]]":
        """Descend from the tip to the first marker-complete snapshot (or
        to ``stop``, exclusive); return (bid's snapshot id if seen, the
        unmarked suffix tip-first)."""
        found: int | None = None
        unmarked: list[tuple[str, int]] = []
        for s in self._ancestors(self.latest_snapshot_id()):
            if s["snapshot_id"] == stop or self._read_marker(s["batch_id"]) == s["snapshot_id"]:
                break  # the stop, or fully recorded: everything below is too
            unmarked.append((s["batch_id"], s["snapshot_id"]))
            if s["batch_id"] == bid:
                found = s["snapshot_id"]
        return found, unmarked

    def _heal_markers(self, unmarked: list[tuple[str, int]]) -> None:
        for b, s2 in reversed(unmarked):  # oldest first: marker order = commit order
            self._write_marker(b, s2)
            fs.append_line(self._batches_log_path(), f"{b} {s2}")

    # ------------------------------------------------------------------ #
    # commit (S6) — idempotent on batch_id
    # ------------------------------------------------------------------ #
    def commit(
        self,
        batch_id: str,
        new_files: list[dict],
        carried_files: list[dict],
        schema_version: int | None = None,
        new_schema: "StructType | None" = None,
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
        new_schema: "StructType | None",
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
            incoming = new_schema.json()
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
            _verify_lock(lock)
        self._advance_tip(str(batch_id), sid)
        self._write_marker(str(batch_id), sid)
        return sid

    def _alloc_floor(self) -> int:
        """Highest snapshot id a live pointer other than the commit's own
        parent can reference — for a MAIN commit the parent IS the tip, so
        only branch heads matter (one small refs read; ``BranchMeta``
        adds the main tip).  Expired ids never exceed the floor, and
        dropped-branch ids have their markers deleted, so allocating above
        ``max(parent, floor)`` never recycles a still-referenced id."""
        return max(self.branches().values(), default=0)

    def _advance_tip(self, batch_id: str, sid: int) -> None:
        """Make ``sid`` the visible tip.  Main: swap the ``_LATEST``
        pointer, then trail it in the batches log (the no-pointer-window
        recovery source).  ``BranchMeta`` overrides this to move its ref
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
            rolled = list(
                takewhile(lambda s: s["snapshot_id"] != to_snapshot_id, self._ancestors(latest))
            )
            if (rolled[-1]["parent_id"] if rolled else latest) != to_snapshot_id:
                raise ValueError(
                    f"snapshot {to_snapshot_id} is not an ancestor of the "
                    f"current snapshot {latest}; cannot roll back to it"
                )
            parent = rolled[0]
            new_sid = max(self._retained_ids() + [latest]) + 1
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
            _verify_lock(lk)
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
        span = list(
            takewhile(lambda s: s["snapshot_id"] != from_snapshot_id, self._ancestors(to_sid))
        )
        end = span[-1]["parent_id"] if span else to_sid
        # at main's reparented root, its expired parent (recorded by
        # ``expire_snapshots``) is a readable cursor: the span needs only
        # retained change files
        if end is None and span and from_snapshot_id == span[-1].get("expired_parent_id"):
            end = from_snapshot_id
        if end != from_snapshot_id and not (end is None and from_snapshot_id == 0):
            # the walk stopped short of the cursor.  At an expired
            # descriptor, the consumer's cursor fell behind retention; at
            # the root (expire_snapshots reparents the oldest retained
            # snapshot to None), a cursor below it with no descriptor left
            # was expired away, while a readable one (a detached tag, a
            # branch's staged snapshot) or a higher id is off the chain.
            # Tell the consumer which, with a clear re-bootstrap signal
            # (Iceberg's dedicated error here) naming the oldest snapshot
            # the walk still reaches.
            oldest = span[-1]["snapshot_id"] if span else to_sid
            if end is not None or (
                from_snapshot_id < oldest
                and not fs.exists(self._snap_path(from_snapshot_id))
            ):
                raise ValueError(
                    f"changes from snapshot {from_snapshot_id} have expired "
                    f"(oldest retained snapshot is {oldest}); re-bootstrap "
                    "from a full table read"
                )
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of {to_sid}"
            )
        return target, span

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
        lists the partitions itself (correct, two more Spark jobs).  The
        span is ``change_span``'s, with its errors."""
        parts: set[int] = set()
        for s in self.change_span(from_snapshot_id, to_snapshot_id)[1]:
            if s.get("change_files"):
                pp = (s.get("lineage") or {}).get("per_partition")
                if not pp:
                    return None
                parts.update(int(r["src_partition"]) for r in pp)
        return sorted(parts)

    # ------------------------------------------------------------------ #
    # maintenance metadata: the compaction gauge, lazy spec evolution
    # (SURVEY.md §4.2 O2 — "B fixed per table, rebucketing = maintenance op")
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
            _verify_lock(lock)
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
            head, fork = self._ref_sid(bval), self._ref_fork(bval)
            # the head is pinned even when it sits ON the main chain (a
            # branch cut from an old snapshot with nothing staged yet must
            # not be bricked by count-based expiry); parents are walked
            # only through the staged suffix, stopping at the recorded
            # fork (inclusive) so detached main history BELOW the fork is
            # not pinned forever
            end = head
            for s in self._ancestors(head):
                sid = s["snapshot_id"]
                if sid in pinned_ids or (sid != head and sid in chain_ids):
                    break
                tagged.append(s)
                pinned_ids.add(sid)
                if sid == fork:
                    break
                end = s["parent_id"]
            else:
                # the walk ended at a missing descriptor: a fork still on
                # main's chain when a previous pass expired it; detached
                # now, it is the branch's base and keeps its marker
                if end is not None and end == fork:
                    marker_only.add(fork)
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
        for sid in self._retained_ids():
            if sid not in committed_ids:
                fs.unlink(self._snap_path(sid))
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
        # keep_last snapshots now form the full chain; reparent the oldest,
        # recording the cut parent so a cursor there still reads
        # (``change_span``)
        if keep:
            oldest = keep[-1]
            if oldest["parent_id"] is not None:
                oldest = dict(oldest, parent_id=None, expired_parent_id=oldest["parent_id"])
                fs.write_json_atomic(self._snap_path(oldest["snapshot_id"]), oldest)
        return {
            "removed_snapshots": removed_snaps,
            "removed_files": removed_files,
            "forgotten_batches": forgotten,
        }


class BranchMeta(TableMeta):
    """A table whose visible tip is a branch head instead of ``_LATEST``
    — the write-audit-publish staging surface.

    The whole write machinery (``apply_batch``, ``run_stream``, ``compact``,
    time travel, ``read_changes``) works against a handle unchanged: it only
    ever consults the tip through ``latest_snapshot_id()`` / ``snapshot()``
    and advances it through ``_advance_tip``, both re-pointed here.  Commits
    through a handle extend the branch in ``refs.json`` and never touch
    ``_LATEST`` or the batches log, so main readers cannot observe staged
    work and pointer recovery cannot land on it; ``fast_forward`` publishes
    the line atomically.  ``table.BranchHandle`` adds the Spark half.

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
        self, bid: str, stop: int | None = None
    ) -> "tuple[int | None, list[tuple[str, int]]]":
        """The base walk, bounded by the fork: only snapshots CREATED ON
        this branch (strictly above its fork) are the branch's to heal.
        The fork and everything below it are history another line owns,
        and an unmarked fork is not necessarily a crash window — a main
        rollback deletes the markers of the span it rolls back, and that
        span may hold this branch's fork.  Healing it from here would
        resurrect batch ids the rollback forgot, so a redelivery to main
        would no-op instead of applying.  An unmarked fork is therefore
        healed only when it lies in main's own unmarked tip suffix (main's
        crash window), and the walk then continues below it as main's
        does; otherwise the walk stops there."""
        fork = self._ref_fork(
            self._read_refs().get("branches", {}).get(self.branch_name)
        )
        if fork is not None:
            _, main_unmarked = TableMeta(self.root)._walk_unmarked(bid)
            if fork not in {s2 for _, s2 in main_unmarked}:
                stop = fork
        return super()._walk_unmarked(bid, stop)

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
        return TableMeta(self.root).fast_forward(name or self.branch_name)

    def drop_branch(self, name: str | None = None) -> int:
        return TableMeta(self.root).drop_branch(name or self.branch_name)

    def expire_snapshots(self, *a, **kw):
        # retention reasons over MAIN's chain plus pinned refs
        return TableMeta(self.root).expire_snapshots(*a, **kw)

    def rollback(self, to_snapshot_id):
        raise ValueError(
            "rollback moves main's tip and rewrites the batches log; run it "
            "on the root SequenceTable — to discard staged branch work, "
            "drop_branch() and cut a fresh branch instead"
        )


# the handle class ``branch()`` returns; ``SequenceTable`` sets its own
TableMeta._branch_cls = BranchMeta
