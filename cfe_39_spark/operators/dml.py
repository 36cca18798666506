"""Predicate DML — ``delete_where`` / ``update_where`` — and
``merge_into`` (the Iceberg ``DELETE FROM`` / ``UPDATE`` / ``MERGE INTO``
role, BASELINE.json north_star's "lake upsert" surface completed for
OUT-OF-BAND corrections).

A CDC table's state is normally written only by the change stream, but a
real lake deployment also needs direct row-level DML that bypasses the
log: GDPR erasure, bad-upstream-data correction, backfill fixes.  Every
operator here writes the stream's shape: the changed rows are appended
as merge-on-read delta files, so every downstream surface (reads,
compaction, the change feed, mirrors) keeps working unchanged:

* **O(matched rows) written, O(matching groups) read** — one
  shuffle-free column-pruned scan finds the bucket groups holding ANY
  raw row matching the predicate (a superset is fine: the hit test runs
  on resolved winners), only those groups are resolved, and only the
  changed winners are written.  The old versions stay in place and lose
  at read-time resolution; compaction drops them physically later.
* **Mirror-convergent** — the delta files are also the commit's change
  files, and the changed rows carry an ordering triple STRICTLY ABOVE
  their previous version (event_time bumped to the DML wall clock, or
  offset+1 when the row's event time is already at or past it).  A
  mirror tailing ``read_changes`` therefore applies the DML through the
  normal LWW rule and converges to the primary's state — the invariant
  the whole engine sells.  Consequences, documented as semantics: a
  redelivery of the pre-DML winning event no-ops (strictly below the
  bump), and a genuinely NEW source event newer than the DML timestamp
  overwrites the manual edit — "the fix holds until the source speaks
  again".
* **Exactly-once** — the commit goes through
  ``SequenceTable.commit_rebase`` over the touched groups: it rebases
  over a concurrent commit on OTHER groups and fails loudly
  (``CommitConflictError``, re-plan) over one on its own groups, so a
  DML never commits rows computed from a version another writer has
  since replaced (no lost update).

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
from ..schema import sql_ident
from ..sources.table import SequenceTable, bucket_expr, bucketed


@dataclass
class DmlResult:
    snapshot_id: int
    rows_affected: int
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
) -> set[int]:
    """Bucket groups (ids under the smallest live spec) holding any RAW
    row matching the predicate — one column-pruned, shuffle-free scan
    (only doc_id + the predicate's columns leave the parquet footers).
    Raw rows (not LWW winners) keep this job aggregation-free; the
    superset only costs resolving a stale-match group."""
    s_min = table._min_live_spec(snap)
    rows = (
        table._read_files(spark, snap, snap["files"])
        .filter(F.expr(predicate))
        .select(bucket_expr("doc_id", s_min).alias("_g"))
        .distinct()
        .collect()
    )
    return {r["_g"] for r in rows}


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


def _commit_deltas(
    table: SequenceTable,
    snap: dict,
    groups: set[int],
    target: list[dict],
    changed: DataFrame,
    t0: float,
    lineage: dict,
) -> DmlResult | None:
    """Write a DML's ``changed`` rows as delta files (laid out by the
    table's sort order, bloom filter and z-order) and commit them over
    ``groups``, whose planned file entries ``target`` are carried
    unchanged.  ``commit_rebase`` rebases the commit over concurrent
    commits on other groups and raises ``CommitConflictError`` over one
    on these groups, whose rows the DML read stale.  No changed row ⇒
    no commit (None).  ``changed`` carries its ``_bucket`` under the
    table's bucket count, partitioned on it (``bucketed``), so the write
    adds no shuffle."""
    bid = f"__{lineage['dml']}__-{snap['snapshot_id']}-{uuid.uuid4().hex[:8]}"
    deltas = table._write_data_files(
        changed, snap["n_buckets"], snap["schema_version"], batch_tag=bid,
        kind="delta", sort_cols=snap.get("sort_order"),
        bloom=snap.get("bloom_filter"), zorder=snap.get("zorder"),
    )
    rows = sum(e["rows"] for e in deltas)
    if rows == 0:
        return None
    wall_ms = int((time.monotonic() - t0) * 1000)
    sid = table.commit_rebase(
        bid, target + deltas, snap, groups,
        lineage={"mode": "mor", "rows_affected": rows, "wall_ms": wall_ms,
                 **lineage},
        # the delta files ARE this commit's change feed
        change_files=deltas,
    )
    return DmlResult(sid, rows, wall_ms)


def _run_dml(
    spark: SparkSession,
    table: SequenceTable,
    predicate: str,
    transform,
    lineage: dict,
) -> DmlResult | None:
    t0 = time.monotonic()
    snap = table.snapshot()
    groups = _affected_groups(spark, table, snap, predicate)
    if not groups:
        return None
    s_min = table._min_live_spec(snap)
    target = [e for e in snap["files"] if e["bucket"] % s_min in groups]
    # a NULL-evaluating predicate filters its row out, like false; no
    # live winner matching ⇒ the raw-row scan matched only stale versions
    hit = F.expr(predicate) & ~F.col("_deleted")
    resolved = table._resolve(spark, snap, target, write_nb=snap["n_buckets"])
    changed = transform(resolved.filter(hit), time.time())
    return _commit_deltas(table, snap, groups, target, changed, t0,
                          {"predicate": predicate, **lineage})


def delete_where(
    spark: SparkSession, table: SequenceTable, predicate: str
) -> DmlResult | None:
    """Row-level DELETE by SQL predicate over the user columns (Iceberg
    ``DELETE FROM t WHERE ...``).  Matching live rows become tombstones
    (payload nulled, ``_deleted`` true) with a bumped ordering triple —
    see the module docstring for cost, mirror-convergence and
    redelivery/resurrection semantics.  The tombstones are appended as
    delta rows (Iceberg's merge-on-read DELETE role); compaction drops
    the superseded versions later."""
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
            F.col("_bucket"),
        )

    return _run_dml(spark, table, predicate, to_tombstones,
                    {"dml": "delete_where"})


def update_where(
    spark: SparkSession,
    table: SequenceTable,
    set_exprs: dict[str, str],
    predicate: str,
) -> DmlResult | None:
    """Row-level UPDATE by SQL predicate (Iceberg ``UPDATE t SET ...
    WHERE ...``).  ``set_exprs`` maps user columns to SQL expressions
    evaluated against the row's PRE-update values (standard UPDATE
    semantics — all right-hand sides see the old row) and cast to the
    column's current type.  ``doc_id`` is the merge key and immutable.
    The ``n_tok`` invariant column is recomputed automatically when
    ``tokens`` is set without an explicit ``n_tok``.  The updated rows
    are appended as delta rows, like :func:`delete_where`'s."""
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
            F.col("_bucket"),
        )

    return _run_dml(spark, table, predicate, apply_set,
                    {"dml": "update_where", "set": dict(set_exprs)})


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
      does not mention, are left as they are (nothing is written).

    Duplicate or NULL ``doc_id`` in the source raises
    :class:`MergeCardinalityError` (multiplicity would make the result
    nondeterministic — same rule as Iceberg).

    Scale shape: candidate bucket groups come from the SOURCE'S keys
    (one distinct over ``hash(doc_id) % B`` — no table scan at all, so a
    small-source merge into a 10^10-row table plans O(|source|)); only
    the source keys' versions in those groups are resolved, the source
    left-joins their winners, and only the deleted, updated and inserted
    rows are written, as delta files.  Everything else — the
    strictly-above ordering bump (mirror convergence, redelivery no-op,
    newer-source-event override), the ``commit_rebase`` exactly-once
    commit, the deltas as change feed, sort-order/bloom inheritance — is
    shared with the predicate DML path above.
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
        *[F.col(c).alias(f"src_{c}") for c in source.columns]
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
    groups = {
        r["_g"]
        for r in src.select(bucket_expr("src_doc_id", s_min).alias("_g"))
        .distinct().collect()
    }
    if not groups:
        src.unpersist()
        return None
    target = [e for e in snap["files"] if e["bucket"] % s_min in groups]

    # only the source keys' versions enter resolution (the semi-join
    # keeps or drops whole keys, so each winner is unchanged); every
    # source row then meets its key's winner, if any.  The meeting is a
    # co-group on (_bucket, doc_id), not a join on doc_id: the winners
    # and the source rows are both hash-partitioned on the table's
    # bucket, so the resolution, the meeting and the delta write share
    # one shuffle of each side (a join would re-shuffle both on doc_id)
    nb = snap["n_buckets"]
    resolved = table._resolve(
        spark, snap, target, where=src.select(F.col("src_doc_id").alias("doc_id")),
        write_nb=nb,
    )
    t_cols = ", ".join(sql_ident(c) for c in resolved.columns if c != "_bucket")
    s_cols = ", ".join(sql_ident(c) for c in src.columns)
    joined = (
        resolved.selectExpr("_bucket", "doc_id AS _k", f"struct({t_cols}) AS _t")
        .unionByName(
            bucketed(src.selectExpr("src_doc_id AS _k", f"struct({s_cols}) AS _s"), nb, "_k"),
            allowMissingColumns=True,
        )
        .groupBy("_bucket", "_k")
        .agg(F.expr("first(_s, true) AS _s"), F.expr("first(_t, true) AS _t"))
        .filter("_s IS NOT NULL")
        .select("_bucket", "_s.*", "_t.*")
    )

    tgt = F.col("_last_offset").isNotNull()
    live = tgt & ~F.coalesce(F.col("_deleted"), F.lit(False))
    del_hit = (
        live & F.coalesce(F.expr(when_matched_delete), F.lit(False))
        if when_matched_delete is not None else F.lit(False)
    )
    upd_gate = (
        F.coalesce(F.expr(when_matched_condition), F.lit(False))
        if when_matched_condition is not None else F.lit(True)
    )
    upd_hit = (
        live & ~del_hit & upd_gate
        if update_exprs is not None else F.lit(False)
    )
    ins_hit = ~live if when_not_matched_insert else F.lit(False)

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

    # an insert with no prior version starts at offset 0; over a
    # tombstone it is bumped above it like any matched row
    new_et, new_off = _bump(time.time())
    changed = joined.filter(del_hit | upd_hit | ins_hit).select(
        *[
            F.col("src_doc_id").alias("doc_id")
            if f.name == "doc_id"
            else F.when(del_hit, F.lit(None).cast(f.dataType))
            .when(upd_hit, _upd(f)).otherwise(_ins(f)).alias(f.name)
            for f in user_fields
        ],
        F.coalesce(new_off, F.lit(0).cast("long")).alias("_last_offset"),
        new_et.alias("_last_event_time"),
        F.col("_last_epoch"),
        F.col("_last_src_partition"),
        del_hit.alias("_deleted"),
        upd_hit.alias("_m_upd"),
        ins_hit.alias("_m_ins"),
        F.col("_bucket"),
    ).persist()
    try:
        counts = changed.agg(
            F.sum(F.col("_deleted").cast("long")).alias("d"),
            F.sum(F.col("_m_upd").cast("long")).alias("u"),
            F.sum(F.col("_m_ins").cast("long")).alias("i"),
        ).collect()[0]
        n_del, n_upd, n_ins = (int(counts[k] or 0) for k in ("d", "u", "i"))
        if n_del + n_upd + n_ins == 0:
            return None
        r = _commit_deltas(
            table, snap, groups, target, changed.drop("_m_upd", "_m_ins"), t0,
            {"dml": "merge_into", "rows_deleted": n_del,
             "rows_updated": n_upd, "rows_inserted": n_ins},
        )
        return MergeResult(r.snapshot_id, r.rows_affected, r.wall_ms,
                           rows_deleted=n_del, rows_updated=n_upd,
                           rows_inserted=n_ins)
    finally:
        changed.unpersist()
        src.unpersist()
