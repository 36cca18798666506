#!/usr/bin/env python
"""spark-submit entry point for the CDC ingest engine (BASELINE.json
north_rule: "run via spark-submit --py-files on a multi-executor
cluster").

Cluster usage (the production path — master/executors come from
spark-submit, the engine adds only its session-level tuning):

    python tools/make_pyfiles.py dist/cfe39_spark.zip
    spark-submit --master yarn --deploy-mode cluster \
        --num-executors 64 --executor-cores 4 --executor-memory 16g \
        --py-files dist/cfe39_spark.zip \
        tools/submit_ingest.py stream \
        --log hdfs:///logs/changes --table hdfs:///lake/sequences \
        --checkpoint hdfs:///chk/sequences --continuous

Sandbox usage (same code, local master):

    python tools/submit_ingest.py --local 8 bootstrap \
        --table /tmp/t --initial /root/testdata/sf0.001/documents.parquet ...

Subcommands map 1:1 to the library API (`cfe_39_spark.streaming.ingest`,
`cfe_39_spark.sources.table`); this file is argument parsing only — no
engine logic lives here, so `--py-files` ships everything that matters.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local/sandbox runs from any cwd: the package sits next to tools/; under
# spark-submit --py-files the zip on PYTHONPATH wins (inserted after it)
sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_session(args):
    from pyspark.sql import SparkSession

    from cfe_39_spark.session import engine_conf, get_spark

    if args.local:
        # sandbox / smoke path: same GC + heap pinning the bench uses
        return get_spark(master=f"local[{args.local}]",
                         shuffle_partitions=args.shuffle_partitions)
    # spark-submit path: master, executor count/cores/memory arrive from
    # the submit command; the engine layers its session tuning on top.
    builder = SparkSession.builder.appName("cfe39-cdc-ingest")
    return engine_conf(builder, args.shuffle_partitions).getOrCreate()


def cmd_bootstrap(spark, args):
    from cfe_39_spark.sources.table import SequenceTable

    initial = spark.read.parquet(args.initial) if args.initial else None
    so = args.sort_order.split(",") if args.sort_order else None
    bf = args.bloom_filter.split(",") if args.bloom_filter else None
    zc, zd = None, None
    if args.zorder:
        # col:lo:hi,col:lo:hi — fixed quantization domains, declared once
        zc, zd = [], {}
        for part in args.zorder.split(","):
            c, lo, hi = part.split(":")
            zc.append(c)
            zd[c] = (float(lo), float(hi))
    SequenceTable.create(spark, args.table, initial, n_buckets=args.buckets,
                         sort_order=so, bloom_filter_cols=bf,
                         bloom_filter_ndv=args.bloom_ndv,
                         zorder_cols=zc, zorder_domains=zd,
                         zorder_bits=args.zorder_bits)
    return {"table": args.table, "snapshot_id": 1, "n_buckets": args.buckets,
            "sort_order": so, "bloom_filter": bf, "zorder": zc}


def cmd_stream(spark, args):
    from cfe_39_spark.sources.table import SequenceTable
    from cfe_39_spark.streaming.ingest import run_stream

    t = SequenceTable(args.table)
    if args.branch:
        t = t.branch(args.branch)
    known = list(range(args.known_partitions)) if args.known_partitions else None
    n = run_stream(
        spark,
        args.log,
        t,
        checkpoint=args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=not args.continuous,
        known_partitions=known,
        quarantine_dir=args.quarantine,
    )
    return {"batches": n, "snapshot_id": t.latest_snapshot_id()}


def cmd_route(spark, args):
    from cfe_39_spark.sources.table import SequenceTable
    from cfe_39_spark.streaming.routing import Route, run_routed_stream

    routes = []
    for spec in args.route:
        try:
            name, root, pred = spec.split("=", 2)
        except ValueError:
            raise SystemExit(
                f"--route {spec!r}: expected NAME=TABLE_ROOT=SQL_PREDICATE"
            )
        routes.append(Route(name, SequenceTable(root), pred))
    out = run_routed_stream(
        spark, args.log, routes, checkpoint=args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=not args.continuous,
        unrouted_dir=args.unrouted,
        max_concurrency=args.max_concurrency,
    )
    return {
        "batches": len(out),
        "events_in": sum(r.events_in for r in out),
        "events_unrouted": sum(r.events_unrouted for r in out),
        "snapshots": {r.name: r.table.latest_snapshot_id() for r in routes},
    }


def cmd_view_refresh(spark, args):
    from cfe_39_spark.sources.table import SequenceTable
    from cfe_39_spark.streaming.aggview import AggregateView

    aggs = {}
    for spec in args.agg or []:
        try:
            name, expr = spec.split("=", 1)
        except ValueError:
            raise SystemExit(f"--agg {spec!r}: expected OUT_COL=SQL_EXPR")
        aggs[name] = expr
    view = AggregateView(
        SequenceTable(args.table), args.view_dir,
        args.group.split(","), aggs,
    )
    new_cursor = view.refresh(spark)
    return {
        "view_dir": args.view_dir,
        "cursor": view.cursor(),
        "refreshed": new_cursor is not None,
        "groups": view.read(spark).count(),
    }


def cmd_replay(spark, args):
    from cfe_39_spark.sources.table import SequenceTable
    from cfe_39_spark.streaming.ingest import replay

    t = SequenceTable(args.table)
    if args.branch:
        t = t.branch(args.branch)
    results = replay(spark, args.log, t,
                     segments_per_batch=args.segments_per_batch,
                     quarantine_dir=args.quarantine)
    return {
        "batches": len(results),
        "rows_applied": sum(r.rows_applied for r in results),
        "snapshot_id": t.latest_snapshot_id(),
    }


def cmd_changes(spark, args):
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    if args.diff:
        # Iceberg-changelog-view shape: net classification with before
        # images (insert / update_before+update_after / delete)
        ch = t.read_changelog(spark, args.from_snapshot, args.to_snapshot)
    else:
        ch = t.read_changes(spark, args.from_snapshot, args.to_snapshot,
                            net=args.net)
    ch.write.mode("overwrite").parquet(args.out)
    return {"out": args.out, "rows": spark.read.parquet(args.out).count()}


def cmd_mirror(spark, args):
    from cfe_39_spark.sources.table import SequenceTable
    from cfe_39_spark.streaming.mirror import run_mirror

    src = SequenceTable(args.src)
    dst = SequenceTable(args.dst)
    known = list(range(args.known_partitions)) if args.known_partitions else None
    ticks = run_mirror(
        spark, src, dst, args.checkpoint,
        available_now=not args.continuous,
        poll_interval_s=args.poll_interval,
        max_triggers=args.max_triggers,
        known_partitions=known,
    )
    return {
        "triggers": len(ticks),
        "rows": sum(t.rows for t in ticks),
        "dst_snapshot_id": dst.latest_snapshot_id(),
    }


def cmd_compact(spark, args):
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    sid = t.compact(spark, drop_tombstones_before=args.drop_tombstones_before,
                    migrate_specs=args.migrate_specs)
    return {"snapshot_id": sid if sid is not None else t.latest_snapshot_id(),
            "compacted": sid is not None}


def cmd_evolve_spec(spark, args):
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    sid = t.evolve_bucket_spec(args.n_buckets)
    return {"snapshot_id": sid if sid is not None else t.latest_snapshot_id(),
            "evolved": sid is not None, "n_buckets": args.n_buckets}


def cmd_delete_where(spark, args):
    from cfe_39_spark.operators.dml import delete_where
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    r = delete_where(spark, t, args.predicate)
    if r is None:
        return {"deleted": False, "rows_affected": 0,
                "snapshot_id": t.latest_snapshot_id()}
    return {"deleted": True, "rows_affected": r.rows_affected,
            "snapshot_id": r.snapshot_id}


def cmd_update_where(spark, args):
    from cfe_39_spark.operators.dml import update_where
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    set_exprs = {}
    for kv in args.set:
        col, _, expr = kv.partition("=")
        if not _:
            raise SystemExit(f"--set expects col=expr, got {kv!r}")
        set_exprs[col.strip()] = expr
    r = update_where(spark, t, set_exprs, args.predicate)
    if r is None:
        return {"updated": False, "rows_affected": 0,
                "snapshot_id": t.latest_snapshot_id()}
    return {"updated": True, "rows_affected": r.rows_affected,
            "snapshot_id": r.snapshot_id}


def cmd_merge(spark, args):
    from cfe_39_spark.operators.dml import merge_into
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    set_exprs = None
    if args.set:
        set_exprs = {}
        for kv in args.set:
            col, _, expr = kv.partition("=")
            if not _:
                raise SystemExit(f"--set expects col=expr, got {kv!r}")
            set_exprs[col.strip()] = expr
    r = merge_into(
        spark, t, spark.read.parquet(args.source),
        when_matched_update=set_exprs,
        when_matched_delete=args.delete_cond,
        when_matched_condition=args.matched_cond,
        when_not_matched_insert=not args.no_insert,
    )
    if r is None:
        return {"merged": False, "rows_affected": 0,
                "snapshot_id": t.latest_snapshot_id()}
    return {"merged": True, "rows_affected": r.rows_affected,
            "rows_deleted": r.rows_deleted, "rows_updated": r.rows_updated,
            "rows_inserted": r.rows_inserted,
            "snapshot_id": r.snapshot_id}


def cmd_cherry_pick(spark, args):
    from cfe_39_spark.operators.cdc import cherry_pick
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    r = cherry_pick(spark, t, args.snapshot,
                    from_snapshot_id=args.from_snapshot)
    return {"snapshot_id": r.snapshot_id, "rows_applied": r.rows_applied,
            "noop": r.noop, "picked": args.snapshot,
            "from_snapshot": args.from_snapshot}


def cmd_txn_recover(spark, args):
    from cfe_39_spark.operators.txn import MultiTableTransaction

    done = MultiTableTransaction.recover(spark, args.coordinator)
    return {"recovered": done}


def cmd_fsck(spark, args):
    from cfe_39_spark.sources.fsck import check_table
    from cfe_39_spark.sources.table import SequenceTable

    rep = check_table(SequenceTable(args.table), deep=args.deep)
    return rep.to_dict()


def cmd_rollback(spark, args):
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    sid = t.rollback(args.to_snapshot)
    return {"snapshot_id": sid, "rolled_back_to": args.to_snapshot}


def cmd_expire(spark, args):
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    return t.expire_snapshots(
        keep_last=args.keep_last,
        older_than_s=args.older_than_s,
        orphan_grace_s=args.orphan_grace_s,
        forget_batches=args.forget_batches,
    )


def cmd_tag(spark, args):
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    if args.list:
        return {"tags": t.tags()}
    if args.remove:
        return {"removed": args.remove, "snapshot_id": t.remove_tag(args.remove)}
    if not args.name:
        raise SystemExit("tag: one of --name, --list, --remove is required")
    sid = t.tag(args.name, snapshot_id=args.snapshot, replace=args.replace,
                max_age_s=args.max_age_s)
    return {"tag": args.name, "snapshot_id": sid}


def cmd_branch(spark, args):
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    if args.list:
        return {"branches": t.branches()}
    if args.create:
        return {"branch": args.create,
                "snapshot_id": t.create_branch(args.create, at=args.at,
                                               max_age_s=args.max_age_s)}
    if args.drop:
        return {"dropped": args.drop, "head": t.drop_branch(args.drop)}
    if args.publish:
        return {"published": args.publish,
                "snapshot_id": t.fast_forward(args.publish)}
    raise SystemExit("branch: one of --create, --list, --drop, --publish "
                     "is required")


def cmd_ddl(spark, args):
    from pyspark.sql import types as T

    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    if args.rename:
        old, new = args.rename
        sid = t.rename_column(old, new)
        op = {"op": "rename", "from": old, "to": new}
    elif args.drop:
        sid = t.drop_column(args.drop)
        op = {"op": "drop", "name": args.drop}
    elif args.add:
        name, type_str = args.add
        # 'string' / 'array<int>' / 'double' ... — Spark's DDL type parser
        sid = t.add_column(name, T._parse_datatype_string(type_str))
        op = {"op": "add", "name": name, "type": type_str}
    elif args.widen:
        name, type_str = args.widen
        sid = t.widen_column(name, T._parse_datatype_string(type_str))
        op = {"op": "widen", "name": name, "to": type_str}
    else:
        raise SystemExit("ddl: one of --rename, --drop, --add, --widen is required")
    return {
        "snapshot_id": sid,
        "ddl": op,
        "schema": t.user_schema().simpleString(),
    }


def cmd_show(spark, args):
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    sid = t.snapshot_as_of(args.as_of_ts) if args.as_of_ts is not None else None
    snap = t.snapshot(sid)
    out = {
        "snapshot_id": snap["snapshot_id"],
        "n_buckets": snap["n_buckets"],
        "schema_version": snap["schema_version"],
        # metadata-only: ref aggregates, no segment loads (v1 fallback inline)
        "n_files": sum(r["n_files"] for r in snap["manifests"])
        if "manifests" in snap
        else len(snap["files"]),
        "rows": t.read(spark, sid).count(),
        "tags": t.tags(),
        "branches": t.branches(),
    }
    if args.min_event_time is not None:
        from cfe_39_spark.sources.table import _bound_micros

        # time-pruned recent-state read: rows whose winning event is at or
        # after the bound, planning only files whose footer ceiling reaches
        # it (table.py::read soundness note).  The planned-file count uses
        # the SAME bound conversion as the read, so the diagnostic can
        # never drift from the behavior it describes
        out["recent_rows"] = t.read(
            spark, sid, min_event_time=args.min_event_time
        ).count()
        out["recent_files_planned"] = len(
            t._select_files(snap, min_event_time=_bound_micros(args.min_event_time))
        )
    return out


def cmd_inspect(spark, args):
    from cfe_39_spark.sources.table import SequenceTable

    t = SequenceTable(args.table)
    df = t.inspect(spark, args.view, at=args.at)
    rows = df.limit(args.limit + 1).collect()  # +1 probe: exact truncation
    return {
        "view": args.view,
        "rows": [r.asDict(recursive=True) for r in rows[: args.limit]],
        "truncated": len(rows) > args.limit,
    }


def _sid_or_ref(v: str):
    """Snapshot selector: a bare integer id, or a tag name (the library
    resolves names via ``SequenceTable.resolve_ref``)."""
    try:
        return int(v)
    except ValueError:
        return v


def parse_args(argv):
    p = argparse.ArgumentParser(prog="submit_ingest")
    p.add_argument("--local", type=int, default=0,
                   help="sandbox master local[N]; omit under spark-submit")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bootstrap", help="create the target table")
    b.add_argument("--table", required=True)
    b.add_argument("--initial", help="parquet snapshot to seed from")
    b.add_argument("--buckets", type=int, default=16)
    b.add_argument("--sort-order", default=None,
                   help="comma-separated columns every write locally sorts "
                        "by within bucket files (row-group skipping for "
                        "point lookups; costs one local sort per write)")
    b.add_argument("--bloom-filter", default=None,
                   help="comma-separated columns every write builds parquet "
                        "bloom filters for (row-group skipping on equality "
                        "lookups without requiring a sort order)")
    b.add_argument("--bloom-ndv", type=int, default=None,
                   help="expected distinct values per file for bloom sizing")
    b.add_argument("--zorder", default=None,
                   help="z-order clustering spec col:lo:hi,col:lo:hi — "
                        ">=2 numeric/timestamp columns with fixed "
                        "quantization domains; every write sorts bucket "
                        "files by the interleaved Morton key so row-group "
                        "stats are tight on EVERY z column (mutually "
                        "exclusive with --sort-order)")
    b.add_argument("--zorder-bits", type=int, default=12,
                   help="per-column z-order resolution (bits*ncols <= 63)")

    s = sub.add_parser("stream", help="tail the change log (S1/S7)")
    s.add_argument("--log", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--max-files-per-trigger", type=int, default=4)
    s.add_argument("--continuous", action="store_true",
                   help="run until killed (default: availableNow bounded run)")
    s.add_argument("--known-partitions", type=int, default=0,
                   help="source partition count when known (Kafka topic "
                        "partitions) — enables the one-job-per-trigger path")
    s.add_argument("--quarantine", default=None,
                   help="DLQ dir: divert malformed events (null key/"
                        "ordering, unknown op) instead of merging them")
    s.add_argument("--branch", default=None,
                   help="stage commits on this branch (WAP); publish with "
                        "the branch --publish subcommand")

    rt = sub.add_parser(
        "route",
        help="tail ONE multiplexed log into N tables (Debezium-style "
             "one-topic-many-tables fan-out; per-route exactly-once)")
    rt.add_argument("--log", required=True)
    rt.add_argument("--checkpoint", required=True)
    rt.add_argument("--route", action="append", required=True,
                    metavar="NAME=TABLE_ROOT=SQL_PREDICATE",
                    help="repeatable; rows matching the predicate apply to "
                         "that table (an event may match several routes)")
    rt.add_argument("--max-files-per-trigger", type=int, default=4)
    rt.add_argument("--max-concurrency", type=int, default=1,
                    help=">1 applies routes on a thread pool (distinct "
                         "tables -> concurrent Spark jobs; trigger wall "
                         "becomes ~max of route applies instead of sum)")
    rt.add_argument("--continuous", action="store_true")
    rt.add_argument("--unrouted", default=None,
                    help="dir for events matching no route (counted either "
                         "way — never silently dropped)")

    vr = sub.add_parser(
        "view-refresh",
        help="advance an incrementally-maintained aggregate view "
             "(O(changed rows) per refresh; see streaming/aggview.py)")
    vr.add_argument("--table", required=True)
    vr.add_argument("--view-dir", required=True)
    vr.add_argument("--group", required=True,
                    help="comma-separated GROUP BY columns")
    vr.add_argument("--agg", action="append", metavar="OUT_COL=SQL_EXPR",
                    help="repeatable; each maintained as SUM(expr) "
                         "(n_rows count always included)")

    r = sub.add_parser("replay", help="deterministic batch replay (S2)")
    r.add_argument("--log", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--segments-per-batch", type=int, default=1)
    r.add_argument("--quarantine", default=None)
    r.add_argument("--branch", default=None,
                   help="stage commits on this branch (WAP)")

    c = sub.add_parser("changes", help="export incremental changelog (S10)")
    c.add_argument("--table", required=True)
    c.add_argument("--from-snapshot", type=_sid_or_ref, required=True)
    c.add_argument("--to-snapshot", type=_sid_or_ref, default=None)
    c.add_argument("--net", action="store_true")
    c.add_argument("--diff", action="store_true",
                   help="net diff with before images (insert/update_before/"
                        "update_after/delete) instead of the raw feed")
    c.add_argument("--out", required=True)

    m = sub.add_parser("mirror", help="tail another table's change feed")
    m.add_argument("--src", required=True)
    m.add_argument("--dst", required=True)
    m.add_argument("--checkpoint", required=True)
    m.add_argument("--continuous", action="store_true")
    m.add_argument("--poll-interval", type=float, default=1.0)
    m.add_argument("--max-triggers", type=int, default=None)
    m.add_argument("--known-partitions", type=int, default=0)

    k = sub.add_parser("compact", help="merge MOR deltas (S8 maintenance)")
    k.add_argument("--table", required=True)
    k.add_argument("--drop-tombstones-before", default=None,
                   help="event-time watermark: physically drop older "
                        "tombstones during the rewrite (late-data contract)")
    k.add_argument("--migrate-specs", action="store_true",
                   help="also rewrite delta-free groups still holding "
                        "old-bucket-spec files (incremental migration "
                        "after evolve-spec)")

    ev = sub.add_parser("evolve-spec",
                        help="grow the bucket count metadata-only (lazy "
                             "partition-spec evolution; new count must be "
                             "a multiple of the current one)")
    ev.add_argument("--table", required=True)
    ev.add_argument("--n-buckets", type=int, required=True)

    dw = sub.add_parser("delete-where",
                        help="row-level DELETE by SQL predicate (GDPR "
                             "erasure / bad-data removal; O(matched rows) "
                             "merge-on-read deltas, mirror-convergent)")
    dw.add_argument("--table", required=True)
    dw.add_argument("--predicate", required=True,
                    help="SQL boolean over the user columns, e.g. "
                         "\"doc_id = 'd1'\" or \"source = 'spam'\"")

    uw = sub.add_parser("update-where",
                        help="row-level UPDATE by SQL predicate (n_tok "
                             "recomputed when tokens change)")
    uw.add_argument("--table", required=True)
    uw.add_argument("--predicate", required=True)
    uw.add_argument("--set", action="append", required=True,
                    help="col=SQL-expr (repeatable); RHS sees the OLD row")

    mg = sub.add_parser("merge",
                        help="MERGE INTO from a parquet source dataset "
                             "(matched update/delete + not-matched insert "
                             "in one atomic snapshot; source keys must be "
                             "unique)")
    mg.add_argument("--table", required=True)
    mg.add_argument("--source", required=True,
                    help="parquet path of the source dataset (doc_id key)")
    mg.add_argument("--set", action="append", default=None,
                    help="col=SQL-expr matched-update clause (repeatable; "
                         "source columns visible as src_<name>); omit for "
                         "classic upsert-all")
    mg.add_argument("--delete-cond", default=None,
                    help="matched rows satisfying this are deleted")
    mg.add_argument("--matched-cond", default=None,
                    help="extra gate on the update clause")
    mg.add_argument("--no-insert", action="store_true",
                    help="skip the not-matched insert clause")

    cp = sub.add_parser("cherry-pick",
                        help="re-land a commit (or staged span) onto the "
                             "current head by LWW — the publish escape "
                             "hatch when main moved")
    cp.add_argument("--table", required=True)
    cp.add_argument("--snapshot", type=_sid_or_ref, required=True,
                    help="snapshot id / tag / branch name to pick")
    cp.add_argument("--from-snapshot", type=_sid_or_ref, default=None,
                    help="pick the whole (from, to] span (e.g. the "
                         "branch's fork point); default: single commit")

    tr = sub.add_parser("txn-recover",
                        help="finish multi-table transactions whose "
                             "process died after the decision record")
    tr.add_argument("--coordinator", required=True,
                    help="the transaction coordinator directory")

    fk = sub.add_parser("fsck", help="check table integrity (metadata walk "
                        "+ file existence; exit 3 on errors)")
    fk.add_argument("--table", required=True)
    fk.add_argument("--deep", action="store_true",
                    help="also verify each file's parquet footer row count "
                         "against its manifest stamp")

    rb = sub.add_parser("rollback", help="roll back to an earlier snapshot")
    rb.add_argument("--table", required=True)
    rb.add_argument("--to-snapshot", type=_sid_or_ref, required=True,
                    help="snapshot id or tag name (e.g. train-v1)")

    e = sub.add_parser("expire", help="expire old snapshots (S8)")
    e.add_argument("--table", required=True)
    e.add_argument("--keep-last", type=int, default=2)
    e.add_argument("--older-than-s", type=float, default=None,
                   help="wall-clock retention: keep snapshots newer than this")
    e.add_argument("--orphan-grace-s", type=float, default=21600.0,
                   help="min age before unreferenced (in-flight/crash) "
                        "data dirs are reaped")
    e.add_argument("--forget-batches", action="store_true",
                   help="also GC expired snapshots' idempotency markers + "
                        "log lines (bounds metadata on long streams; run "
                        "once the checkpoint is past the expired span)")

    tg = sub.add_parser("tag", help="pin/list/remove named snapshot refs "
                                    "(pinned snapshots survive expire)")
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", help="tag to create (default target: latest)")
    tg.add_argument("--snapshot", type=int, default=None)
    tg.add_argument("--replace", action="store_true")
    tg.add_argument("--list", action="store_true")
    tg.add_argument("--remove", metavar="NAME")
    tg.add_argument("--max-age-s", type=float, default=None,
                    help="auto-expire the tag after this age (maxRefAge; "
                         "unset = pinned until removed)")

    br = sub.add_parser("branch", help="create/list/drop/publish branches "
                                       "(write-audit-publish staging)")
    br.add_argument("--table", required=True)
    brx = br.add_mutually_exclusive_group(required=True)
    brx.add_argument("--create", metavar="NAME")
    brx.add_argument("--list", action="store_true")
    brx.add_argument("--drop", metavar="NAME",
                     help="abandon the branch; staged batch ids are "
                          "forgotten so they can be replayed to main")
    brx.add_argument("--publish", metavar="NAME",
                     help="fast-forward main to the branch head (WAP publish)")
    br.add_argument("--at", type=_sid_or_ref, default=None,
                    help="branch point for --create: snapshot id or ref "
                         "(default latest)")
    br.add_argument("--max-age-s", type=float, default=None,
                    help="auto-drop the branch (forget discipline) after "
                         "this age (maxRefAge; unset = until dropped)")

    w = sub.add_parser("show", help="print table status")
    w.add_argument("--table", required=True)
    w.add_argument("--as-of-ts", type=float, default=None,
                   help="TIMESTAMP AS OF: report the snapshot current at "
                        "this unix time instead of the latest")
    w.add_argument("--min-event-time", type=float, default=None,
                   help="also report the recent-state slice (winning event "
                        "at/after this unix time) and how many files the "
                        "time-skipping planner touched for it")

    dd = sub.add_parser("ddl", help="column DDL: rename/drop/add without "
                                    "rewriting data (Iceberg field-id "
                                    "semantics)")
    dd.add_argument("--table", required=True)
    dd.add_argument("--rename", nargs=2, metavar=("OLD", "NEW"), default=None)
    dd.add_argument("--drop", default=None, metavar="NAME")
    dd.add_argument("--add", nargs=2, metavar=("NAME", "TYPE"), default=None,
                    help="TYPE is a Spark DDL type string, e.g. string, "
                         "double, array<int>")
    dd.add_argument("--widen", nargs=2, metavar=("NAME", "TYPE"), default=None,
                    help="widen a column's type (same matrix as batch "
                         "evolution: int->bigint, float->double, ...)")

    ins = sub.add_parser("inspect", help="metadata tables (Iceberg "
                                         "snapshots/history/refs/manifests/"
                                         "files role)")
    ins.add_argument("--table", required=True)
    from cfe_39_spark.sources.inspect import VIEWS  # single source of truth

    ins.add_argument("--view", required=True, choices=list(VIEWS))
    ins.add_argument("--at", type=_sid_or_ref, default=None,
                     help="snapshot id or ref (manifests/files; default "
                          "latest)")
    ins.add_argument("--limit", type=int, default=100,
                     help="max rows printed (default 100)")

    return p.parse_args(argv)


COMMANDS = {
    "bootstrap": cmd_bootstrap,
    "stream": cmd_stream,
    "route": cmd_route,
    "view-refresh": cmd_view_refresh,
    "replay": cmd_replay,
    "changes": cmd_changes,
    "mirror": cmd_mirror,
    "delete-where": cmd_delete_where,
    "update-where": cmd_update_where,
    "merge": cmd_merge,
    "cherry-pick": cmd_cherry_pick,
    "txn-recover": cmd_txn_recover,
    "rollback": cmd_rollback,
    "fsck": cmd_fsck,
    "compact": cmd_compact,
    "evolve-spec": cmd_evolve_spec,
    "expire": cmd_expire,
    "tag": cmd_tag,
    "branch": cmd_branch,
    "ddl": cmd_ddl,
    "show": cmd_show,
    "inspect": cmd_inspect,
}


def main(argv=None):
    args = parse_args(argv if argv is not None else sys.argv[1:])
    spark = build_session(args)
    out = COMMANDS[args.cmd](spark, args)
    print(json.dumps(out))
    # integrity-check style commands report ok: False as a non-zero exit
    return 0 if not isinstance(out, dict) or out.get("ok", True) else 3


if __name__ == "__main__":
    sys.exit(main())
