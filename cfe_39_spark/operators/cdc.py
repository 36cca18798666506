"""The CDC hot path: one micro-batch of change events -> one table snapshot.

Implements SURVEY.md §2.2 C1-C8 as a single declarative Spark plan per
micro-batch, executed by ``apply_batch`` (called from foreachBatch in
streaming mode and from the batch replayer — one pipeline, two drivers,
SURVEY.md §3.3).

Determinism rule (SURVEY.md §4.3): an event wins over stored state iff its
``(event_time, offset, src_partition)`` triple is lexicographically greater
than the row's ``(_last_event_time, _last_offset, _last_src_partition)``.
The tertiary key exists because offsets are only monotone per source
partition, so two DIFFERENT events on different partitions can tie on
(event_time, offset) — without the tiebreak, which copy survives would be
engine-scheduling-dependent.  The winner's src_partition is PERSISTED as
``_last_src_partition`` bookkeeping, so the same tertiary rule applies
across batch boundaries, at merge-on-read resolution (``lww_resolve``, in
reads and compaction) — a tie split across two micro-batches resolves
exactly as it would inside one batch.  (A tie on the FULL triple
is the same event redelivered: the stored row is kept, idempotently.)  One
ordering rule everywhere => the final table state is invariant under batch
re-slicing, duplicate delivery, intra-batch shuffling and parallelism
level — the properties the replay tests assert.

Scale notes:
  * Dedup (C1) and LWW (C2) are ONE aggregation,
    ``max_by(struct(*cols), struct(event_time, offset, src_partition))``
    (``lww_pick``, the same helper read-time ``lww_resolve`` uses),
    executed as a ``SortAggregate`` (a struct buffer is not
    hash-aggregatable).  The events are repartitioned on their bucket
    (``bucket_expr``) first and grouped by ``(_bucket, doc_id)``, so the
    winners leave the aggregation already partitioned for the bucketed
    delta write: one shuffle per trigger, not one on ``doc_id`` and a
    second on ``_bucket``.  On a 4-core host (``local[2]``, perfbench
    triggers of 2k-4k events) a steady fused trigger runs 2 Spark jobs
    (3 with two shuffles) and a compacting one 4 (6).
  * Skew (C3): no partial combine runs before that shuffle, so a hot
    doc_id's copies all reach its bucket's task — the task that writes
    that bucket's file anyway — where the sort-based aggregation folds
    them into one row.  Nothing is salted; a bucket is as skewed as its
    keys' event counts, and the trade buys one exchange per write.
  * The MERGE (C5) is merge-on-read: the winners are written as bucketed
    delta files and nothing of the table is read, so per-trigger cost is
    O(batch), never O(table).  Readers and compaction resolve base+delta
    per bucket group, and compaction rewrites only the groups over
    ``compact_threshold``.
  * Plan construction is driver cost paid on every trigger: each PySpark
    Column call is one or more py4j round trips, so the hot path
    builds its stats, LWW and delta projection from SQL strings
    (``selectExpr``/``F.expr``).  With 8 source partitions a steady fused
    trigger sends 111 py4j commands where per-column Column chains sent
    2,566; on a 4-core host (perfbench ``serve_mixed``) that cut the
    median commit work CPU from 1.06 s to 0.78 s.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from ..functions.tokens import n_tok_sql, validate_tokens_arrow
from ..schema import (
    ALLOWED_WIDENINGS,
    CDC_META_COLS,
    sql_cast,
    sql_ident,
)
from ..sources.meta import PARENT_FILES, CommitConflictError
from ..sources.table import (
    SequenceTable,
    bucketed,
    changes_as_events,
    lww_pick,
)


def _register_version(
    snap: dict, batch_sv: int, new_schema: T.StructType, changes
) -> "tuple[int, T.StructType | None]":
    """Pick the schema version this batch's rows are stamped with, and the
    schema to register (None when the table shape is unchanged).  Normally
    the source's stamp governs, but when that version number is already
    registered with a DIFFERENT shape — a column-DDL commit or a rollback
    outran the source's stamps — allocate the next free table version
    instead of tripping the same-version-different-schema commit guard."""
    sv = max(int(batch_sv), snap["schema_version"])
    register = new_schema if (changes or sv > snap["schema_version"]) else None
    if register is not None:
        taken = snap["schemas"].get(str(sv))
        if taken is not None and taken != register.json():
            sv = max(int(k) for k in snap["schemas"]) + 1
    return sv, register


def _per_partition_sql(parts: list[int], agg: Callable[[int], str]) -> str:
    """One array-valued aggregate over the source partitions: element i is
    ``agg(parts[i])``, a SQL aggregate.  Observed metrics are named by
    statistic and indexed by position, so any partition id (a negative
    one included) is safe, and a statistic costs one expression however
    many partitions there are."""
    return "array(" + ", ".join(agg(int(p)) for p in parts) + ")"


def _per_partition(prog: list, applied_rows: list) -> list[dict]:
    applied_by_part = {r["src_partition"]: r["count"] for r in applied_rows}
    return [
        {
            "src_partition": r["src_partition"],
            "min_offset": r["min_offset"],
            "max_offset": r["max_offset"],
            "events_in": r["events_in"],
            "rows_applied": applied_by_part.get(r["src_partition"], 0),
        }
        for r in sorted(prog, key=lambda x: x["src_partition"])
    ]


@dataclass
class ApplyResult:
    batch_id: str
    snapshot_id: int
    rows_applied: int
    events_in: int
    noop: bool = False
    wall_ms: int = 0
    per_partition: list[dict] = field(default_factory=list)
    events_quarantined: int = 0


# ------------------------------------------------------------------ #
# C1 + C2 + C3: dedup -> last-writer-wins, skew-defused
# ------------------------------------------------------------------ #
def lww_winners(events: DataFrame) -> DataFrame:
    """Reduce a raw event batch to exactly one winning event per doc_id:
    the greatest ``(event_time, offset, src_partition)`` triple wins.

    C1 (dedup by (doc_id, offset)) is subsumed: redelivered copies are
    identical rows and tie on the full ordering triple, so whichever copy
    the aggregation keeps, the output row is the same — an explicit
    dropDuplicates would only add a shuffle.  DIFFERENT events tying on
    (event_time, offset) across source partitions break by src_partition,
    so the same winner is picked on every run."""
    return lww_pick(events, "event_time", sql_ident("offset"), "src_partition")


# ------------------------------------------------------------------ #
# C7 write side: schema evolution from the batch's shape
# ------------------------------------------------------------------ #
def evolve_schema(
    table_schema: T.StructType, batch_schema: T.StructType
) -> tuple[T.StructType, list[str]]:
    """Reconcile the table's user schema with an evolved batch schema.

    Returns (new_schema, change_log).  Allowed: add nullable column, widen
    per ALLOWED_WIDENINGS.  ``tokens`` must stay array<int32> — the
    bit-for-bit token invariant (BASELINE.json:15) forbids widening it.
    """
    batch_user = {
        f.name: f for f in batch_schema.fields if f.name not in CDC_META_COLS
    }
    changes: list[str] = []
    out_fields = []
    for f in table_schema.fields:
        bf = batch_user.get(f.name)
        if bf is not None and bf.dataType != f.dataType:
            pair = (f.dataType.simpleString(), bf.dataType.simpleString())
            if f.name == "tokens":
                raise ValueError("tokens is pinned to array<int32>; cannot widen")
            if pair in ALLOWED_WIDENINGS:
                out_fields.append(T.StructField(f.name, bf.dataType, True))
                changes.append(f"widen:{f.name}:{pair[0]}->{pair[1]}")
            elif (pair[1], pair[0]) in ALLOWED_WIDENINGS:
                # batch is NARROWER than the table (a widen_column DDL
                # outran the source's stamps): keep the table's type — the
                # batch's values cast up losslessly at union/read time
                out_fields.append(f)
            else:
                raise ValueError(f"illegal type change for {f.name}: {pair}")
        else:
            out_fields.append(f)
    known = {f.name for f in table_schema.fields}
    for name, bf in batch_user.items():
        if name not in known:
            out_fields.append(T.StructField(name, bf.dataType, True))
            changes.append(f"add:{name}:{bf.dataType.simpleString()}")
    return T.StructType(out_fields), changes


def quarantine_bad_events(
    events: DataFrame, quarantine_dir: str, batch_id: str
) -> tuple[DataFrame, int]:
    """Split malformed change events out of the batch (opt-in DLQ — the
    engine-level counterpart of the Kafka decoder's dead-letter stream).

    A CDC event is malformed when it cannot participate in the engine's
    ordering/merge contract: null ``doc_id`` (no merge key), null
    ``event_time``/``offset``/``src_partition`` (no LWW position; the
    partition is also the lineage key), or an op outside
    {I, U, D}.  Without a quarantine such rows flow into the LWW aggregation
    (null keys group together, null ordering fields sort below every real
    event) and materialize garbage table rows that only a rollback can
    remove.  Bad rows land in ``<quarantine_dir>/batch-<id>/`` with a
    ``_quarantine_reason`` column — OVERWRITE per batch id, so a crashed
    trigger's checkpoint replay rewrites identical content instead of
    appending duplicates — and are counted by an ``Observation`` riding
    the quarantine write job itself.

    Cost when enabled: one extra scan of the batch per trigger (the
    quarantine write); the kept-rows filter fuses into the downstream
    plan.  Zero cost when disabled (the default) — the hot path is
    untouched.
    """
    # NULL-safe: isin() is NULL for a NULL op, and a NULL predicate would
    # drop the row from BOTH the quarantine and the kept set — coalesce
    # pins it to "malformed" so every input row lands on exactly one side
    op_ok = F.coalesce(F.col("op").isin("I", "U", "D"), F.lit(False))
    bad = (
        F.col("doc_id").isNull()
        | F.col("event_time").isNull()
        | F.col("offset").isNull()
        | F.col("src_partition").isNull()
        | ~op_ok
    )
    reason = (
        F.when(F.col("doc_id").isNull(), F.lit("null_doc_id"))
        .when(
            F.col("event_time").isNull()
            | F.col("offset").isNull()
            | F.col("src_partition").isNull(),
            F.lit("null_ordering_field"),
        )
        .otherwise(F.lit("unknown_op"))
    )
    obs = Observation()
    (
        events.filter(bad)
        .withColumn("_quarantine_reason", reason)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .parquet(os.path.join(quarantine_dir, f"batch-{batch_id}"))
    )
    n_bad = int(obs.get["n"] or 0)
    return (events.filter(~bad) if n_bad else events), n_bad


# ------------------------------------------------------------------ #
# C4 + C5 + C6: idempotent merge-on-read apply, lineage — one batch
# ------------------------------------------------------------------ #
def _null_partition_error(bid: str) -> ValueError:
    return ValueError(
        f"batch {bid}: events with a null src_partition (the LWW "
        "tiebreak and the lineage key); pass quarantine_dir to divert them"
    )


def apply_batch(
    spark: SparkSession,
    table: SequenceTable,
    events: DataFrame,
    batch_id: str | int,
    compact_threshold: int | None = 16,
    known_partitions: list[int] | None = None,
    quarantine_dir: str | None = None,
) -> ApplyResult:
    """Apply one micro-batch of change events to the table, exactly once,
    merge-on-read: the batch's LWW winners (``lww_winners``, one
    ``max_by`` aggregation) are stamped with bookkeeping columns and
    committed as bucketed DELTA files.  Nothing of the existing table is
    read or rewritten, so per-trigger cost is O(batch).  Readers resolve
    base+delta by the same ordering rule (``lww_resolve``), and
    ``compact_threshold`` bounds read amplification by folding a bucket's
    deltas back into base files once it accumulates that many delta files
    (Iceberg v2 equality-delete + RewriteDataFiles, rebuilt from scratch).
    ``compact_threshold=1`` is the read-optimized table: each trigger
    compacts the buckets it dirtied, leaving key-unique base files.

    Idempotent on batch_id (S6): a replayed batch returns the existing
    snapshot without touching data.  Row-level idempotency (C4) comes from
    resolution itself: a redelivered or out-of-order event is written too
    and loses (or ties, as the same event) against the stored row's
    ``(_last_event_time, _last_offset, _last_src_partition)`` — table
    state IS the dedup state, so no Spark state store grows with the key
    space (SURVEY.md §4.3 layer 2).

    Lineage stats (per source partition: offset range, events in, winners
    written) and the batch's max schema_version ride the delta-write job
    itself, as ``Observation``s on the events and winners relations
    indexed by the batch's source partitions.  ``known_partitions`` only
    decides where that partition list comes from: the source's partition
    ids when the caller knows them (a Kafka consumer always does — topic
    partition count), else one column-pruned distinct over
    ``src_partition`` (its shuffle costs two more Spark jobs per trigger:
    5 instead of 3 for a steady one; the job-scheduling floor is what
    caps streaming scaling efficiency, BENCH.md §1).  Events outside the
    hinted set are detected from the observed totals and recounted with
    grouped stats jobs (correct, just not fused).

    ``rows_applied`` means "winners written": a stale winner that later
    loses at resolution is still counted, because counting true applies
    would need the stored-bookkeeping join this path exists to avoid.
    The lineage row records this (``rows_applied_semantics``).

    A null ``src_partition`` is rejected with a ValueError and nothing is
    committed (``quarantine_dir`` diverts such events instead).  Unhinted,
    the partition listing finds it before any write; hinted, the recount
    does, after the delta files were staged — they stay uncommitted
    orphans for expiry's GC, like an aborted DML.
    """
    t0 = time.monotonic()
    bid = str(batch_id)
    existing = table.find_batch(bid)
    if existing is not None:
        return ApplyResult(bid, existing, 0, 0, noop=True)

    # opt-in DLQ: malformed events (null key / null ordering / unknown op)
    # leave the batch BEFORE any stats or winner selection, so lineage
    # counts describe exactly what the merge consumed
    quarantined = 0
    if quarantine_dir is not None:
        events, quarantined = quarantine_bad_events(events, quarantine_dir, bid)

    snap = table.snapshot()
    n_buckets = snap["n_buckets"]

    # ---- C7: reconcile schemas (metadata-only; no data rewrite) ----
    new_schema, changes = evolve_schema(table.user_schema(snap), events.schema)

    if known_partitions is not None:
        parts = sorted(set(known_partitions))
    else:
        # column-pruned: the token column never leaves the footers
        found = [r[0] for r in events.select("src_partition").distinct().collect()]
        if None in found:
            raise _null_partition_error(bid)
        parts = sorted(found)

    obs_ev = Observation()
    stats = [F.expr("max(schema_version) AS sv"), F.expr("count(1) AS n_total")]
    if parts:
        off = sql_ident("offset")
        stats += [
            F.expr(f"{_per_partition_sql(parts, agg)} AS {name}")
            for name, agg in (
                ("mn", lambda p: f"min(CASE WHEN src_partition = {p} THEN {off} END)"),
                ("mx", lambda p: f"max(CASE WHEN src_partition = {p} THEN {off} END)"),
                ("n", lambda p: f"count_if(src_partition = {p})"),
            )
        ]
    # one shuffle for the whole write: LWW groups by (_bucket, doc_id) on
    # rows already partitioned by bucket, and the delta write reuses that
    # partitioning (lww_pick, SequenceTable._write_data_files).  The stats
    # observe sits above the repartition: below it, Spark prunes the
    # observed node of a provably empty batch (an empty local relation)
    # and the observation never reports
    winners = lww_winners(bucketed(events, n_buckets).observe(obs_ev, *stats))
    # one selectExpr, not a Column chain per column (schema.py, SQL rendering)
    have = {f.name: f.dataType for f in winners.schema.fields}
    typed = {f.name: f.dataType for f in new_schema.fields}

    def value(c: str) -> str:
        return sql_cast(c if c in have else None, have.get(c), typed[c])

    is_del = "op = 'D'"
    cols = ["_bucket", "doc_id"]
    for f in new_schema.fields:
        if f.name == "doc_id":
            continue
        src = f"CASE WHEN {is_del} THEN NULL ELSE {value(f.name)} END"
        if f.name == "n_tok":
            tok = f"CASE WHEN NOT ({is_del}) THEN {value('tokens')} END"
            src = f"coalesce({src}, {n_tok_sql(tok)})"
        cols.append(f"{src} AS {sql_ident(f.name)}")
    cols += [
        f"{sql_ident('offset')} AS _last_offset",
        "event_time AS _last_event_time",
        "epoch AS _last_epoch",
        "CAST(src_partition AS INT) AS _last_src_partition",
        f"{is_del} AS _deleted",
    ]
    # C6 lineage counts ride the delta-write job itself (observe = JVM-side
    # aggregates collected during the action) — no persist, no second scan;
    # this is per-trigger serial floor, and the floor is what caps
    # streaming scaling efficiency (BENCH.md §1)
    obs = Observation()
    if parts:
        winners = winners.observe(
            obs,
            F.expr(
                _per_partition_sql(parts, lambda p: f"count_if(src_partition = {p})")
                + " AS applied"
            ),
        )
    delta = winners.selectExpr(*cols)
    if os.environ.get("CFE39_VALIDATE_TOKENS"):
        # C8 opt-in: Arrow-side vocab validation (functions.tokens).  Off
        # by default: the hot path's token handling is all JVM built-ins,
        # and a JVM->Python->JVM Arrow round trip of every token array
        # costs more than the check is worth unless the source is
        # untrusted (UDFs are the slow path; prefer built-ins).
        delta = validate_tokens_arrow(delta)
    new_files = table._write_data_files(
        delta, n_buckets, 0, batch_tag=bid, kind="delta",
        sort_cols=snap.get("sort_order"), bloom=snap.get("bloom_filter"), zorder=snap.get("zorder"),
    )
    # the batch's schema version is known only now (observed above):
    # stamp the entries with it
    got_ev = obs_ev.get
    sv, register = _register_version(snap, int(got_ev["sv"] or 0), new_schema, changes)
    for e in new_files:
        e["schema_version"] = sv
    applied = obs.get["applied"] if parts else []
    applied_rows = [
        {"src_partition": p, "count": int(n)} for p, n in zip(parts, applied)
    ]
    observed = zip(*(got_ev[k] for k in ("mn", "mx", "n"))) if parts else []
    prog = [
        {"src_partition": p, "min_offset": mn, "max_offset": mx, "events_in": int(n)}
        for p, (mn, mx, n) in zip(parts, observed)
        if int(n) > 0
    ]
    if int(got_ev["n_total"]) != sum(r["events_in"] for r in prog):
        # events outside a hinted partition set: recompute stats + winner
        # counts the exact way (two extra jobs — the rare correction path;
        # the data write above is already correct)
        prog = (
            events.groupBy("src_partition")
            .agg(
                F.min("offset").alias("min_offset"),
                F.max("offset").alias("max_offset"),
                F.count(F.lit(1)).alias("events_in"),
            )
            .collect()
        )
        if any(r["src_partition"] is None for r in prog):
            raise _null_partition_error(bid)
        applied_rows = (
            lww_winners(events)
            .groupBy("src_partition")
            .count()
            .collect()
        )
    per_partition = _per_partition(prog, applied_rows)
    events_in = sum(p["events_in"] for p in per_partition)
    rows_applied = sum(p["rows_applied"] for p in per_partition)
    wall_ms = int((time.monotonic() - t0) * 1000)
    lineage = {
        "batch_id": bid,
        "mode": "mor",
        "events_in": events_in,
        "rows_applied": rows_applied,
        "rows_applied_semantics": "winners_written",
        "events_quarantined": quarantined,
        "schema_changes": [],
        "per_partition": per_partition,
        "wall_ms": wall_ms,
    }
    # Optimistic-concurrency commit loop: a MOR apply's delta files are
    # parent-independent, so a conflicting concurrent commit only requires
    # re-planning the carried manifest against the new parent.  A bucket-
    # count change mid-apply is fine when the new count is a MULTIPLE of
    # the planned one (a lazy evolve_bucket_spec, or a rebucket to a finer
    # multiple): the deltas are stamped spec_nb=planned, which is then
    # simply one more live spec the group-based read resolution handles —
    # the online-resize race costs nothing.  Only an incompatible count
    # (shrink / non-multiple full rebucket) invalidates the stamped
    # layout and forces a whole-batch retry.
    sid: int | None = None
    for _ in range(5):
        cur = snap if table.latest_snapshot_id() == snap["snapshot_id"] else table.snapshot()
        if cur["n_buckets"] % n_buckets != 0:
            raise CommitConflictError(
                f"table rebucketed {n_buckets}->{cur['n_buckets']} mid-apply "
                "(not a multiple); delta bucket layout is stale — retry "
                "the whole batch"
            )
        if cur is not snap and register is not None:
            # a concurrent commit (e.g. column DDL) may have claimed this
            # batch's version number with a DIFFERENT shape; re-derive
            # against the new parent and restamp the entries — the same
            # _register_version rule the plan applies when a DDL outran
            # the source's stamps, now also on the retry path.  Without
            # it every retry replays the identical stale (sv, register)
            # pair into the same-version-different-schema guard
            new_sv, _ = _register_version(cur, sv, register, True)
            if new_sv != sv:
                sv = new_sv
                for e in new_files:
                    e["schema_version"] = sv
        try:
            sid = table.commit(
                bid,
                new_files,
                # by-reference carry: the commit reuses the parent's
                # manifest segments verbatim — per-trigger metadata stays
                # O(batch) no matter how many files the table has
                PARENT_FILES,
                schema_version=max(sv, cur["schema_version"]),
                new_schema=register,
                lineage=lineage,
                # S10: the delta files ARE this commit's change feed — zero extra IO
                change_files=new_files,
                expected_parent_id=cur["snapshot_id"],
            )
            break
        except CommitConflictError:
            continue
    else:
        raise CommitConflictError(f"batch {bid}: commit lost the race 5 times")
    if compact_threshold:
        # compact ONLY the buckets at/over the threshold: each trigger's
        # compaction pause is O(offending buckets), not a whole-table
        # rewrite the moment one bucket crosses — at 1024 buckets the
        # difference between a bounded hiccup and a stream stall.  Buckets
        # below threshold keep their deltas (read amp stays bounded by the
        # threshold either way) and get their turn when they cross.
        offenders = [
            b
            for b, n in table.delta_file_counts().items()
            if n >= compact_threshold
        ]
        if offenders:
            table.compact(spark, buckets=offenders)
    return ApplyResult(
        bid, sid, rows_applied, events_in, wall_ms=wall_ms,
        per_partition=per_partition, events_quarantined=quarantined,
    )


def cherry_pick(
    spark: SparkSession,
    table: SequenceTable,
    snapshot_id: "int | str",
    from_snapshot_id: "int | str | None" = None,
    **apply_kwargs,
) -> ApplyResult:
    """Apply a reachable commit's change rows onto the CURRENT head as a
    new commit — git's cherry-pick / Iceberg's ``cherrypick_snapshot``,
    and the escape hatch the WAP flow needs when main moved after the
    branch was cut (``fast_forward`` correctly refuses divergence; this
    re-lands the audited span on the new main).

    Semantics are pure LWW redelivery: the picked span's change feed is
    converted back to raw events (``changes_as_events`` — the ORIGINAL
    ordering triple survives the round trip) and applied through the
    ordinary ``apply_batch``.  Conflicts therefore resolve by event time
    exactly like racing sources do: a row main has since overwritten
    with a NEWER event keeps main's value (the pick no-ops row-wise),
    older main state is overwritten, deletes carry as tombstones.
    Picking an already-published snapshot is a row-wise no-op, and the
    derived batch id makes re-picking the same span commit-level
    idempotent.

    ``snapshot_id``: the commit (or tag/branch name) to pick — any
    snapshot whose metadata is retained, on main or any branch.
    ``from_snapshot_id``: pick the whole ``(from, to]`` span instead of
    the single commit (pass the branch's fork point to re-land an entire
    staged line in one atomic batch; within-span ties collapse by LWW,
    which equals sequential application of the span).

    Cost: O(changed rows in the picked span) — one changelog read plus
    one ordinary MOR apply; main's state is never scanned.  Targeting a
    BranchHandle picks ONTO that branch instead of main.
    """
    sid = (
        table.resolve_ref(snapshot_id)
        if isinstance(snapshot_id, str) else int(snapshot_id)
    )
    src = table.snapshot(sid)
    frm = from_snapshot_id if from_snapshot_id is not None else src["parent_id"]
    if frm is None:
        raise ValueError(
            f"cherry_pick: snapshot {sid} is the create commit — its base "
            "load is not part of the change feed (re-bootstrap from a "
            "full table read instead)"
        )
    if isinstance(frm, str):
        frm = table.resolve_ref(frm)
    feed = table.read_changes(spark, from_snapshot_id=frm, to_snapshot_id=sid)
    return apply_batch(
        spark, table, changes_as_events(feed),
        batch_id=f"__cherrypick__-{frm}-{sid}", **apply_kwargs,
    )
