"""Predicate DML — ``delete_where`` / ``update_where`` (the Iceberg
``DELETE FROM`` / ``UPDATE`` role, BASELINE.json north_star's "lake
upsert" surface completed for OUT-OF-BAND corrections).

A CDC table's state is normally written only by the change stream, but a
real lake deployment also needs direct row-level DML that bypasses the
log: GDPR erasure, bad-upstream-data correction, backfill fixes.  Both
operators here are copy-on-write group rewrites that slot into the same
snapshot/commit/changelog machinery the stream uses, so every downstream
surface keeps working:

* **O(matching groups), never O(table)** — one shuffle-free column-pruned
  scan finds the bucket groups holding ANY raw row matching the
  predicate (a superset is fine: the rewrite re-evaluates on resolved
  winners; a false-positive group just gets an incidental compaction),
  then only those groups are rewritten.  At 10^10 rows a delete of one
  key rewrites ~1/B of the table's files.
* **Mirror-convergent** — DML emits change rows (``kind="changelog"``)
  beside its rewritten files, and stamps the affected rows with an ordering
  triple STRICTLY ABOVE their previous version (event_time bumped to the
  DML wall clock, or offset+1 when the row's event time is already at or
  past it).  A mirror tailing ``read_changes`` therefore applies the DML
  through the normal LWW rule and converges to the primary's state —
  the invariant the whole engine sells.  Consequences, documented as
  semantics: a redelivery of the pre-DML winning event no-ops (strictly
  below the bump), and a genuinely NEW source event newer than the DML
  timestamp overwrites the manual edit — "the fix holds until the source
  speaks again".
* **Exactly-once** — commits carry ``expected_parent_id``, so a DML
  racing a stream trigger fails loudly and is retried against the new
  snapshot instead of silently dropping the trigger's files.

Zero matching rows ⇒ no commit (returns None); staged files from the
aborted attempt are orphans the existing expiry GC reclaims.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokens import n_tok_expr
from ..sources.table import (
    PARENT_FILES,
    CommitConflictError,
    SequenceTable,
    bucket_expr,
)

BOOKKEEPING = (
    "_last_offset",
    "_last_event_time",
    "_last_epoch",
    "_last_src_partition",
    "_deleted",
)


@dataclass
class DmlResult:
    snapshot_id: int
    rows_affected: int
    groups_rewritten: int
    wall_ms: int


@dataclass
class MergeResult(DmlResult):
    rows_deleted: int = 0
    rows_updated: int = 0
    rows_inserted: int = 0


class MergeCardinalityError(ValueError):
    """The MERGE source has duplicate or NULL merge keys — the result
    would depend on join row multiplicity (Iceberg raises the same)."""


def _affected_groups(
    spark: SparkSession, table: SequenceTable, snap: dict, predicate: str
) -> list[int]:
    """Bucket groups (ids under the smallest live spec) holding any RAW
    row matching the predicate — one column-pruned, shuffle-free scan
    (only doc_id + the predicate's columns leave the parquet footers).
    Raw rows (not LWW winners) keep this job aggregation-free; the
    superset only costs an incidental compaction of a stale-match group."""
    s_min = table._min_live_spec(snap)
    rows = (
        table._read_files(spark, snap, snap["files"])
        .filter(F.expr(predicate))
        .select(bucket_expr("doc_id", s_min).alias("_g"))
        .distinct()
        .collect()
    )
    return sorted(r["_g"] for r in rows)


def _bump(ts: float):
    """Ordering-triple bump: strictly above the row's current
    (_last_event_time, _last_offset) however the DML wall clock relates
    to source event time (clock skew included), so mirrors applying the
    change rows under plain LWW always accept them."""
    lit_ts = F.lit(ts).cast("timestamp")
    new_et = F.greatest(F.col("_last_event_time"), lit_ts)
    new_off = F.when(
        F.col("_last_event_time") >= lit_ts, F.col("_last_offset") + F.lit(1)
    ).otherwise(F.col("_last_offset"))
    return new_et, new_off


def _run_dml(
    spark: SparkSession,
    table: SequenceTable,
    predicate: str,
    transform,
    op_name: str,
    lineage_extra: dict,
    mode: str = "cow",
) -> DmlResult | None:
    if mode not in ("cow", "mor"):
        raise ValueError(f"{op_name}: mode must be 'cow' or 'mor', got {mode!r}")
    t0 = time.monotonic()
    snap = table.snapshot()
    groups = _affected_groups(spark, table, snap, predicate)
    if not groups:
        return None
    s_min = table._min_live_spec(snap)
    gset = set(groups)
    target = [e for e in snap["files"] if e["bucket"] % s_min in gset]

    if mode == "mor":
        # merge-on-read DML (the 10^10-scale path for sparse predicates):
        # the matched winners become delta rows with the bumped ordering
        # triple — the SAME append the stream's MOR apply writes — so the
        # commit is O(matched rows) with NO group rewrite at all, however
        # many buckets the predicate scatters across.  Old versions stay
        # in place and lose at read-time resolution; compaction drops
        # them physically later.  COW pays the rewrite up front and keeps
        # reads resolution-free — the trade apply_batch's
        # compact_threshold makes for the stream.
        hit = F.coalesce(F.expr(predicate), F.lit(False)) & ~F.col("_deleted")
        ts = time.time()
        sv = snap["schema_version"]
        bid = f"__{op_name}__-{snap['snapshot_id']}-{uuid.uuid4().hex[:8]}"
        resolved = table._resolve(spark, snap, target)
        delta_files = table._write_data_files(
            transform(resolved.filter(hit), ts),
            snap["n_buckets"], sv, batch_tag=bid, kind="delta",
            sort_cols=snap.get("sort_order"), bloom=snap.get("bloom_filter"), zorder=snap.get("zorder"),
        )
        rows = sum(e["rows"] for e in delta_files)
        if rows == 0:
            return None
        wall_ms = int((time.monotonic() - t0) * 1000)
        # MOR deltas are parent-independent (the same property the MOR
        # apply's retry loop exploits), and an interleaved newer source
        # event beating the bump is exactly the documented "fix holds
        # until the source speaks again" LWW semantics — so retry the
        # commit across concurrent commits instead of failing; only a
        # stale bucket layout or a schema move forces a re-plan.
        for _ in range(5):
            cur = (snap if table.latest_snapshot_id() == snap["snapshot_id"]
                   else table.snapshot())
            if cur["n_buckets"] % snap["n_buckets"] != 0:
                raise CommitConflictError(
                    f"{op_name}: table rebucketed {snap['n_buckets']}->"
                    f"{cur['n_buckets']} mid-DML (not a multiple); re-plan"
                )
            if cur["schema_version"] != snap["schema_version"]:
                raise CommitConflictError(
                    f"{op_name}: schema version moved mid-DML; re-plan"
                )
            try:
                sid = table.commit(
                    bid, delta_files, PARENT_FILES,
                    lineage={
                        "dml": op_name, "mode": "mor", "predicate": predicate,
                        "rows_affected": rows, "groups_rewritten": [],
                        "wall_ms": wall_ms, **lineage_extra,
                    },
                    # the delta files ARE this commit's change feed
                    change_files=delta_files,
                    expected_parent_id=cur["snapshot_id"],
                )
                return DmlResult(sid, rows, 0, wall_ms)
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"{op_name}: commit lost the race 5 times"
        )

    resolved = table._resolve(spark, snap, target).persist()
    try:
        # three-valued logic guard: a NULL-evaluating predicate (e.g. a
        # payload column compared on a row with nulls) must read as
        # "not hit", or filter(~hit) would silently DROP the row from
        # the rewrite instead of carrying it
        hit = F.coalesce(F.expr(predicate), F.lit(False)) & ~F.col("_deleted")
        ts = time.time()
        sv = snap["schema_version"]
        bid = f"__{op_name}__-{snap['snapshot_id']}-{uuid.uuid4().hex[:8]}"
        # change set first: zero affected winners ⇒ abort commit-free
        # (the raw-row group scan matched only stale versions)
        change_files = table._write_data_files(
            transform(resolved.filter(hit), ts),
            snap["n_buckets"],
            sv,
            batch_tag=f"{bid}chg",
            kind="changelog",
        )
        rows = sum(e["rows"] for e in change_files)
        if rows == 0:
            return None
        rewritten = transform(resolved.filter(hit), ts).unionByName(
            resolved.filter(~hit)
        )
        new_files = table._write_data_files(
            rewritten,
            snap["n_buckets"],
            sv,
            batch_tag=bid,
            sort_cols=snap.get("sort_order"),
            bloom=snap.get("bloom_filter"),
            zorder=snap.get("zorder"),
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        # group-scoped rebase: a concurrent commit on OTHER groups (the
        # ingest stream, another DML) does not force this rewrite to redo
        sid = table.commit_rebase(
            bid,
            new_files,
            snap,
            gset,
            lineage={
                "dml": op_name,
                "mode": "cow",
                "predicate": predicate,
                "rows_affected": rows,
                "groups_rewritten": groups,
                "wall_ms": wall_ms,
                **lineage_extra,
            },
            change_files=change_files,
        )
        return DmlResult(sid, rows, len(groups), wall_ms)
    finally:
        resolved.unpersist()


def delete_where(
    spark: SparkSession, table: SequenceTable, predicate: str,
    mode: str = "cow",
) -> DmlResult | None:
    """Row-level DELETE by SQL predicate over the user columns (Iceberg
    ``DELETE FROM t WHERE ...``).  Matching live rows become tombstones
    (payload nulled, ``_deleted`` true) with a bumped ordering triple —
    see the module docstring for cost, mirror-convergence and
    redelivery/resurrection semantics.

    ``mode='cow'`` (default) rewrites the matched groups — reads stay
    resolution-free.  ``mode='mor'`` appends the tombstones as delta
    rows instead (Iceberg's merge-on-read DELETE role): O(matched rows)
    written, no rewrite — the right shape when a sparse predicate
    scatters across many buckets of a huge table; compaction reclaims
    the superseded rows later."""
    snap = table.snapshot()
    user_fields = table.user_schema(snap).fields

    def to_tombstones(df: DataFrame, ts: float) -> DataFrame:
        new_et, new_off = _bump(ts)
        cols = [
            F.col("doc_id")
            if f.name == "doc_id"
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in user_fields
        ]
        return df.select(
            *cols,
            new_off.alias("_last_offset"),
            new_et.alias("_last_event_time"),
            F.col("_last_epoch"),
            F.col("_last_src_partition"),
            F.lit(True).alias("_deleted"),
        )

    return _run_dml(spark, table, predicate, to_tombstones, "delete_where",
                    {}, mode=mode)


def update_where(
    spark: SparkSession,
    table: SequenceTable,
    set_exprs: dict[str, str],
    predicate: str,
    mode: str = "cow",
) -> DmlResult | None:
    """Row-level UPDATE by SQL predicate (Iceberg ``UPDATE t SET ...
    WHERE ...``).  ``set_exprs`` maps user columns to SQL expressions
    evaluated against the row's PRE-update values (standard UPDATE
    semantics — all right-hand sides see the old row) and cast to the
    column's current type.  ``doc_id`` is the merge key and immutable.
    The ``n_tok`` invariant column is recomputed automatically when
    ``tokens`` is set without an explicit ``n_tok``."""
    snap = table.snapshot()
    user_fields = table.user_schema(snap).fields
    known = {f.name for f in user_fields}
    bad = sorted(set(set_exprs) - known)
    if bad:
        raise ValueError(f"update_where: unknown columns {bad}")
    if "doc_id" in set_exprs:
        raise ValueError("update_where: doc_id is the merge key (immutable)")
    if not set_exprs:
        raise ValueError("update_where: empty SET")
    dtypes = {f.name: f.dataType for f in user_fields}

    def apply_set(df: DataFrame, ts: float) -> DataFrame:
        new_et, new_off = _bump(ts)
        cols = []
        for f in user_fields:
            if f.name in set_exprs:
                c = F.expr(set_exprs[f.name]).cast(f.dataType)
            elif f.name == "n_tok" and "tokens" in set_exprs:
                c = n_tok_expr(F.expr(set_exprs["tokens"]).cast(dtypes["tokens"]))
            else:
                c = F.col(f.name)
            cols.append(c.alias(f.name))
        return df.select(
            *cols,
            new_off.alias("_last_offset"),
            new_et.alias("_last_event_time"),
            F.col("_last_epoch"),
            F.col("_last_src_partition"),
            F.lit(False).alias("_deleted"),
        )

    return _run_dml(
        spark, table, predicate, apply_set, "update_where",
        {"set": dict(set_exprs)}, mode=mode,
    )


def merge_into(
    spark: SparkSession,
    table: SequenceTable,
    source: DataFrame,
    *,
    when_matched_update: "dict[str, str] | None" = None,
    when_matched_delete: "str | None" = None,
    when_matched_condition: "str | None" = None,
    when_not_matched_insert: bool = True,
) -> "MergeResult | None":
    """Generic ``MERGE INTO`` (the Iceberg/Delta statement), completing
    the DML triad next to :func:`delete_where` / :func:`update_where`:
    reconcile the table against an arbitrary *source* DataFrame in ONE
    atomic snapshot — the bulk-upsert/backfill surface a lake user
    reaches for when the correction is a dataset, not a predicate.

    Merge key is ``doc_id`` (the table's one merge key).  Clause
    semantics, matching Iceberg's:

    * matched + ``when_matched_delete`` condition true  -> row deleted;
    * matched + ``when_matched_condition`` (default: always) -> row
      updated by ``when_matched_update`` — a ``{col: SQL-expr}`` dict
      evaluated over a namespace holding the target row's columns by
      name and the source row's as ``src_<name>`` (so ``{"tokens":
      "src_tokens"}`` or ``{"n_tok": "n_tok + src_n_tok"}``).  Default
      (both matched args None) = update every user column to the source
      value, i.e. classic UPSERT; passing ONLY ``when_matched_delete``
      makes a delete-only merge (no update clause);
    * not matched (no live target row — absent or tombstoned) + source
      row -> inserted when ``when_not_matched_insert`` (``n_tok``
      derived from ``tokens`` when the source lacks it);
    * matched rows failing every condition, and target rows the source
      does not mention, carry through unchanged.

    Duplicate or NULL ``doc_id`` in the source raises
    :class:`MergeCardinalityError` (multiplicity would make the result
    nondeterministic — same rule as Iceberg).

    Scale shape: candidate bucket groups come from the SOURCE'S keys
    (one distinct over ``hash(doc_id) % B`` — no table scan at all, so a
    small-source merge into a 10^10-row table plans O(|source|) +
    rewrites O(touched groups)); the source joins only the resolved
    winners of those groups (shuffle hash join, broadcast under AQE when
    the source is small).  Everything else — the strictly-above ordering
    bump (mirror convergence, redelivery no-op, newer-source-event
    override), ``expected_parent_id`` exactly-once commit, changelog
    emission, sort-order/bloom inheritance — is shared with the
    predicate DML path above.
    """
    t0 = time.monotonic()
    snap = table.snapshot()
    user_fields = table.user_schema(snap).fields
    user_names = {f.name for f in user_fields}

    if when_matched_update is not None:
        bad = sorted(set(when_matched_update) - user_names)
        if bad:
            raise ValueError(f"merge_into: unknown columns {bad}")
        if "doc_id" in when_matched_update:
            raise ValueError("merge_into: doc_id is the merge key (immutable)")
        if not when_matched_update:
            raise ValueError("merge_into: empty SET (pass None for upsert)")
    # default upsert clause; delete-only merges get no update clause
    update_exprs = when_matched_update
    if update_exprs is None and when_matched_delete is None:
        # n_tok left out when the source lacks it: _upd derives it from
        # the tokens expression (same invariant rule as update_where)
        update_exprs = {
            f.name: f"src_{f.name}" for f in user_fields
            if f.name != "doc_id" and f.name in source.columns
        }
    if "doc_id" not in source.columns:
        raise ValueError("merge_into: source must carry the doc_id merge key")
    needs_full = when_not_matched_insert or when_matched_update is None
    if needs_full:
        missing = sorted(
            user_names - set(source.columns) - {"n_tok"}  # n_tok derivable
        )
        if missing:
            raise ValueError(
                f"merge_into: source lacks {missing} (needed for the "
                "insert/default-upsert clause)"
            )

    # materialize the (possibly expensive) source ONCE: the cardinality
    # check, the bucket-group planning and the merge join all read this
    # persisted projection instead of recomputing the caller's plan
    src = source.select(
        *[F.col(c).alias(f"src_{c}") for c in source.columns],
        F.lit(True).alias("_src_present"),
    ).persist()

    # cardinality + key sanity in one bounded job (partial-agg combine,
    # LIMIT 1 — O(|source|) scan, O(1) driver)
    bad_key = (
        src.groupBy("src_doc_id").agg(F.count(F.lit(1)).alias("_c"))
        .filter((F.col("_c") > 1) | F.col("src_doc_id").isNull())
        .limit(1).collect()
    )
    if bad_key:
        src.unpersist()
        k = bad_key[0]["src_doc_id"]
        raise MergeCardinalityError(
            "merge_into: source has a NULL merge key" if k is None
            else f"merge_into: source has {bad_key[0]['_c']} rows for "
                 f"doc_id {k!r} — deduplicate first (e.g. lww_winners)"
        )

    s_min = table._min_live_spec(snap)
    groups = sorted(
        r["_g"]
        for r in src.select(bucket_expr("src_doc_id", s_min).alias("_g"))
        .distinct().collect()
    )
    if not groups:
        src.unpersist()
        return None
    gset = set(groups)
    target = [e for e in snap["files"] if e["bucket"] % s_min in gset]

    resolved = table._resolve(spark, snap, target)
    joined = resolved.join(
        src, resolved["doc_id"] == src["src_doc_id"], "full_outer"
    )

    ts = time.time()
    lit_ts = F.lit(ts).cast("timestamp")
    tgt = F.col("_last_offset").isNotNull()
    srcp = F.col("_src_present").isNotNull()
    live = tgt & ~F.coalesce(F.col("_deleted"), F.lit(False))
    del_hit = (
        live & srcp & F.coalesce(F.expr(when_matched_delete), F.lit(False))
        if when_matched_delete is not None else F.lit(False)
    )
    upd_gate = (
        F.coalesce(F.expr(when_matched_condition), F.lit(False))
        if when_matched_condition is not None else F.lit(True)
    )
    upd_hit = (
        live & srcp & ~del_hit & upd_gate
        if update_exprs is not None else F.lit(False)
    )
    ins_hit = srcp & ~live & F.lit(bool(when_not_matched_insert))
    changed = del_hit | upd_hit | ins_hit

    dtypes = {f.name: f.dataType for f in user_fields}

    def _upd(f):
        if update_exprs is not None and f.name in update_exprs:
            return F.expr(update_exprs[f.name]).cast(f.dataType)
        if (f.name == "n_tok" and update_exprs is not None
                and "tokens" in update_exprs):
            return n_tok_expr(
                F.expr(update_exprs["tokens"]).cast(dtypes["tokens"])
            )
        return F.col(f.name)

    def _ins(f):
        if f"src_{f.name}" in src.columns:
            return F.col(f"src_{f.name}").cast(f.dataType)
        if f.name == "n_tok":
            return n_tok_expr(F.col("src_tokens").cast(dtypes["tokens"]))
        return F.lit(None).cast(f.dataType)

    new_et = F.when(tgt, F.greatest(F.col("_last_event_time"), lit_ts)) \
        .otherwise(lit_ts)
    new_off = (
        F.when(tgt & (F.col("_last_event_time") >= lit_ts),
               F.col("_last_offset") + F.lit(1))
        .when(tgt, F.col("_last_offset"))
        .otherwise(F.lit(0).cast("long"))
    )
    out_cols = [
        F.coalesce(F.col("doc_id"), F.col("src_doc_id")).alias("doc_id")
        if f.name == "doc_id"
        else F.when(del_hit, F.lit(None).cast(f.dataType))
        .when(upd_hit, _upd(f)).when(ins_hit, _ins(f))
        .otherwise(F.col(f.name)).alias(f.name)
        for f in user_fields
    ] + [
        F.when(changed, new_off).otherwise(F.col("_last_offset"))
        .alias("_last_offset"),
        F.when(changed, new_et).otherwise(F.col("_last_event_time"))
        .alias("_last_event_time"),
        F.when(tgt, F.col("_last_epoch")).cast("long").alias("_last_epoch"),
        F.when(tgt, F.col("_last_src_partition")).cast("int")
        .alias("_last_src_partition"),
        F.when(del_hit, F.lit(True)).when(upd_hit | ins_hit, F.lit(False))
        .otherwise(F.coalesce(F.col("_deleted"), F.lit(False)))
        .alias("_deleted"),
    ]
    merged = joined.select(
        *out_cols,
        del_hit.alias("_m_del"), upd_hit.alias("_m_upd"),
        ins_hit.alias("_m_ins"), (tgt | ins_hit).alias("_m_keep"),
    ).persist()
    try:
        counts = merged.agg(
            F.sum(F.col("_m_del").cast("long")).alias("d"),
            F.sum(F.col("_m_upd").cast("long")).alias("u"),
            F.sum(F.col("_m_ins").cast("long")).alias("i"),
        ).collect()[0]
        n_del, n_upd, n_ins = (int(counts[k] or 0) for k in ("d", "u", "i"))
        rows = n_del + n_upd + n_ins
        if rows == 0:
            return None
        helper = ["_m_del", "_m_upd", "_m_ins", "_m_keep"]
        sv = snap["schema_version"]
        bid = f"__merge_into__-{snap['snapshot_id']}-{uuid.uuid4().hex[:8]}"
        change_files = table._write_data_files(
            merged.filter("_m_del OR _m_upd OR _m_ins").drop(*helper),
            snap["n_buckets"], sv, batch_tag=f"{bid}chg", kind="changelog",
        )
        new_files = table._write_data_files(
            merged.filter("_m_keep").drop(*helper),
            snap["n_buckets"], sv, batch_tag=bid,
            sort_cols=snap.get("sort_order"), bloom=snap.get("bloom_filter"), zorder=snap.get("zorder"),
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        sid = table.commit_rebase(
            bid, new_files, snap, gset,
            lineage={
                "dml": "merge_into",
                "rows_affected": rows,
                "rows_deleted": n_del,
                "rows_updated": n_upd,
                "rows_inserted": n_ins,
                "groups_rewritten": groups,
                "wall_ms": wall_ms,
            },
            change_files=change_files,
        )
        return MergeResult(sid, rows, len(groups), wall_ms,
                           rows_deleted=n_del, rows_updated=n_upd,
                           rows_inserted=n_ins)
    finally:
        merged.unpersist()
        src.unpersist()
