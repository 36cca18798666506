"""SequenceTable — the Spark half of the from-scratch, Parquet-backed
table format (SURVEY.md §2.1 S3/S6/S8, §4.2 O2/O3/O4): data-file writes,
reads with schema reconciliation and merge-on-read resolution, changelog
reads, compaction, rebucketing and column DDL.  The on-disk format and the
commit protocol (descriptors, manifests, refs, markers, commit, expiry)
live in ``meta.py``, whose Spark-free ``TableMeta`` ``SequenceTable``
inherits.

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
"""

from __future__ import annotations

import datetime
import hashlib
import os
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
from .meta import (
    FORMAT_VERSION,
    PARENT_FILES,
    BranchMeta,
    TableMeta,
    _backfill_field_ids,
    bucket_of,
)

EPOCH0 = "1970-01-01 00:00:00"


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


class SequenceTable(TableMeta):
    """Handle to one table root.  All metadata ops are driver-side Python
    (inherited from ``TableMeta``); all data ops are Spark DataFrames."""

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
            "schemas": {str(schema_version): user_schema.json()},
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

    def inspect(
        self, spark, view: str, at: "int | str | None" = None
    ) -> "Any":
        """Metadata inspection tables (Iceberg's snapshots / history /
        refs / manifests / files metadata-table role) as DataFrames —
        see ``sources/inspect.py`` for each view's schema and scale
        discipline.  ``at`` (manifests/files only): snapshot id or ref."""
        from . import inspect as _inspect

        return _inspect.inspect_df(spark, self, view, at)

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
        one_task: bool = False,
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
        shuffle (``lww_pick``).  Reads leave it unset.

        ``one_task`` is for ``lookup``, whose key ``In`` leaves at most
        keys x versions rows: the dirty groups' filtered rows are gathered
        into one partition (``coalesce(1)`` above the filter, so the
        filter still reaches every scan), which satisfies the resolving
        aggregate's distribution, and the read runs as one Spark job with
        no ``Exchange``.  The trade: one task reads the keys' row groups
        of every dirty file.  ``read``, ``read_state``, ``scan_range``,
        compaction and DML keep the resolving shuffle, because their row
        counts are unbounded."""
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
        dirty = rows([e for e in files if e["bucket"] % s_min in dirty_groups])
        out = lww_resolve(dirty.coalesce(1) if one_task else dirty)
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
        below the bound are never planned (``_select_files``).
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
        state = self._resolve(spark, snap, self._select_files(snap, min_event_time=micros))
        return _live_rows(
            state.filter(f"_last_event_time >= timestamp_micros({micros})"), user_cols
        )

    def lookup(
        self, spark: SparkSession, doc_ids: list[str], snapshot_id: "int | str | None" = None
    ) -> DataFrame:
        """Point reads by key, at file-skipping cost: O(files that can hold
        the keys), never O(table).  Two pruning stages, both driver-side
        metadata only (``_select_files``):

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
        filter and only the keys' versions enter the resolving sort, not
        every row of the kept files.  Those few rows are resolved in one
        partition, so a lookup is one Spark job with no shuffle; the
        trade is that one task reads the keys' row groups of every dirty
        file (``_resolve``, ``one_task``).  Only bucket groups holding a
        delta among the kept files are resolved at all: a lookup whose
        keys all hash to compacted buckets is a plain filtered scan.  At
        10^10 rows / 1024 buckets a 10-key lookup touches ~10 buckets'
        worth of files and resolves only the keys' rows — the serving
        path a CDC validator needs next to the scan path.
        """
        snap = self.snapshot(snapshot_id)
        if not doc_ids:
            return spark.createDataFrame([], storage_schema(self.user_schema(snap))).select(
                [f.name for f in self.user_schema(snap).fields]
            )
        nb = snap["n_buckets"]
        ids = sorted(set(doc_ids))
        # one point interval per key, in the key's current-spec bucket
        keys: dict[tuple[int, int], list] = {}
        for d in ids:
            keys.setdefault((nb, bucket_of(d, nb)), []).append((d, d))
        keep = self._select_files(snap, keys)
        user_cols = [f.name for f in self.user_schema(snap).fields]
        in_keys = f"doc_id IN ({', '.join(map(sql_str, ids))})"
        return _live_rows(
            self._resolve(spark, snap, keep, in_keys, one_task=True), user_cols
        )

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
        # under spec 1 every key is in bucket 0: no bucket pruning
        kept = self._select_files(snap, {(1, 0): [(lo, hi)]})
        in_range = f"doc_id BETWEEN {sql_str(lo)} AND {sql_str(hi)}"
        user_cols = [f.name for f in self.user_schema(snap).fields]
        return _live_rows(self._resolve(spark, snap, kept, in_range), user_cols)

    # ------------------------------------------------------------------ #
    # incremental changelog reads (S10) over ``change_span``
    # ------------------------------------------------------------------ #
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

        Scale: the changed-key set comes from one scan of the span's
        change files (O(delta), never table state); both endpoint images
        come from bucket- and min/max-PRUNED endpoint reads (O(touched
        buckets) — at 10^10 rows / 1024 buckets a 3-key span reads ~3
        buckets' files).  The pruning bounds are the change files'
        manifest entries (spec, bucket, min/max ``doc_id``), a superset of
        the changed keys read on the driver, so planning starts no Spark
        job.  Output: ``doc_id`` + user columns (reconciled to the *to*
        schema) + the LWW ordering triple + ``_change_type``.
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
        # the span's change files hold every changed key: their manifest
        # entries give each endpoint read its pruning intervals on the
        # driver, and one scan of them gives the key set — O(delta)
        _, span = self.change_span(from_snapshot_id, to_sid)
        changed = [(s, e) for s in reversed(span) for e in s.get("change_files") or []]
        bounds: dict[tuple[int, int], list] = {}
        for s, e in changed:
            bounds.setdefault((self._entry_spec(s, e), e["bucket"]), []).append(
                (e.get("min_doc_id"), e.get("max_doc_id"))
            )
        keys = self._read_files(spark, snap_to, [e for _, e in changed], user).select("doc_id")

        def endpoint(sid: int) -> "DataFrame | None":
            """LWW-resolved image of the changed keys at snapshot ``sid``,
            reading only the files ``_select_files`` keeps for them (the
            ``lookup`` strategy, with the key set staying distributed)."""
            snap = self.snapshot(sid)
            files = self._select_files(snap, bounds)
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

    # ------------------------------------------------------------------ #
    # maintenance: compaction and rebucketing (data rewrites)
    # ------------------------------------------------------------------ #
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

class BranchHandle(BranchMeta, SequenceTable):
    """A ``SequenceTable`` whose visible tip is a branch head instead of
    ``_LATEST`` (``BranchMeta``): ``apply_batch``, ``run_stream`` and
    ``compact`` commit to the branch, and reads see its head."""


SequenceTable._branch_cls = BranchHandle
