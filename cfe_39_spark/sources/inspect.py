"""Metadata inspection tables — Iceberg's ``snapshots`` / ``history`` /
``refs`` / ``manifests`` / ``files`` metadata-table role (spec: SURVEY.md
§2 S3/S6 operational surface; the reference snapshot ships no code, so the
shape follows Iceberg's documented metadata tables).

Every view returns a DataFrame with an explicit schema (empty tables stay
typed).  Scale discipline:

* ``snapshots`` / ``history`` / ``refs`` / ``manifests`` are METADATA-ONLY:
  they read descriptors and manifest *references* (which carry n_files /
  n_rows aggregates), never a segment body — O(retained snapshots) driver
  work, which retention bounds.
* ``files`` is O(live files) and therefore DISTRIBUTED: manifest segment
  bodies are read by executors via ``spark.read.json`` + ``explode``, so a
  100 TB table's million-entry file listing never materializes on the
  driver (Iceberg's own files metadata table reads manifests the same way).
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

import pyspark.sql.functions as F
import pyspark.sql.types as T

from . import fs

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession
    from .table import SequenceTable

VIEWS = ("snapshots", "history", "refs", "manifests", "files", "schemas",
         "lineage", "metrics")

_SNAPSHOTS_SCHEMA = T.StructType([
    T.StructField("snapshot_id", T.LongType(), False),
    T.StructField("parent_id", T.LongType(), True),
    T.StructField("batch_id", T.StringType(), False),
    T.StructField("committed_at", T.DoubleType(), False),
    T.StructField("schema_version", T.IntegerType(), False),
    T.StructField("n_buckets", T.IntegerType(), False),
    T.StructField("n_manifests", T.IntegerType(), False),
    T.StructField("n_data_files", T.LongType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_change_files", T.IntegerType(), False),
    T.StructField("on_main_chain", T.BooleanType(), False),
])

_HISTORY_SCHEMA = T.StructType([
    T.StructField("committed_at", T.DoubleType(), False),
    T.StructField("snapshot_id", T.LongType(), False),
    T.StructField("parent_id", T.LongType(), True),
    T.StructField("batch_id", T.StringType(), False),
    T.StructField("is_current", T.BooleanType(), False),
])

_REFS_SCHEMA = T.StructType([
    T.StructField("name", T.StringType(), False),
    T.StructField("type", T.StringType(), False),  # 'tag' | 'branch'
    T.StructField("snapshot_id", T.LongType(), False),
    T.StructField("fork_snapshot_id", T.LongType(), True),  # branches only
    T.StructField("created_at", T.DoubleType(), True),      # TTL'd refs only
    T.StructField("max_age_s", T.DoubleType(), True),
])

_MANIFESTS_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("n_files", T.LongType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("buckets", T.ArrayType(T.IntegerType()), True),
    T.StructField("n_delta_files", T.LongType(), False),
    T.StructField("min_doc_id", T.StringType(), True),
    T.StructField("max_doc_id", T.StringType(), True),
    # segment-level event-time ceiling (epoch micros); null = unknown,
    # the time-skipping planner must load the body
    T.StructField("max_event_time", T.LongType(), True),
])

# matches the manifest entry shape written by SequenceTable._stat_entries
_FILE_ENTRY_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("rows", T.LongType()),
    T.StructField("min_doc_id", T.StringType()),
    T.StructField("max_doc_id", T.StringType()),
    # epoch-micros _last_event_time bounds (time-skipping stats); null on
    # entries written before the stat landed
    T.StructField("min_event_time", T.LongType()),
    T.StructField("max_event_time", T.LongType()),
    T.StructField("schema_version", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    # bucket spec the file was written under (n_buckets at write time);
    # null on entries predating spec stamping.  After evolve_bucket_spec,
    # "SELECT spec_nb, count(*) GROUP BY spec_nb" is the migration gauge
    T.StructField("spec_nb", T.IntegerType()),
])


def _snapshot_row(s: dict, on_chain: bool) -> tuple:
    refs = s.get("manifests")
    if refs is None:  # v1 inline-descriptor snapshot
        files = s.get("files", [])
        n_files = len(files)
        n_rows = sum(int(e.get("rows", 0)) for e in files)
        n_manifests = 0
    else:
        n_files = sum(int(r.get("n_files", 0)) for r in refs)
        n_rows = sum(int(r.get("n_rows", 0)) for r in refs)
        n_manifests = len(refs)
    return (
        int(s["snapshot_id"]),
        None if s["parent_id"] is None else int(s["parent_id"]),
        str(s["batch_id"]),
        float(s.get("committed_at", 0.0)),
        int(s["schema_version"]),
        int(s["n_buckets"]),
        n_manifests,
        n_files,
        n_rows,
        len(s.get("change_files", [])),
        on_chain,
    )


def snapshots_df(spark: "SparkSession", table: "SequenceTable") -> "DataFrame":
    """Every retained snapshot descriptor — the committed chain PLUS
    detached survivors (tagged snapshots past retention, staged branch
    work).  Aggregates come from manifest references; no segment body is
    loaded."""
    chain_ids = {s["snapshot_id"] for s in table.committed_chain()}
    rows = []
    for f in sorted(fs.listdir(table.meta_dir)):
        if not (f.startswith("snap-") and f.endswith(".json")):
            continue
        try:
            s = fs.read_json(os.path.join(table.meta_dir, f))
        except (FileNotFoundError, ValueError):
            continue  # torn/concurrent write: skip, never fail the view
        rows.append(_snapshot_row(s, s["snapshot_id"] in chain_ids))
    return spark.createDataFrame(rows, _SNAPSHOTS_SCHEMA)


def history_df(spark: "SparkSession", table: "SequenceTable") -> "DataFrame":
    """The committed main chain, newest first — Iceberg's history table."""
    chain = table.committed_chain()
    rows = [
        (
            float(s.get("committed_at", 0.0)),
            int(s["snapshot_id"]),
            None if s["parent_id"] is None else int(s["parent_id"]),
            str(s["batch_id"]),
            i == 0,
        )
        for i, s in enumerate(chain)
    ]
    return spark.createDataFrame(rows, _HISTORY_SCHEMA)


def refs_df(spark: "SparkSession", table: "SequenceTable") -> "DataFrame":
    """Tags and branches with their TTL envelopes and branch fork marks."""
    raw = table._read_refs()
    rows = []
    for name, v in raw.get("tags", {}).items():
        env = v if isinstance(v, dict) else {}
        rows.append((
            name, "tag", table._ref_sid(v), None,
            env.get("created_at"), env.get("max_age_s"),
        ))
    for name, v in raw.get("branches", {}).items():
        env = v if isinstance(v, dict) else {}
        fork = table._ref_fork(v)
        rows.append((
            name, "branch", table._ref_sid(v),
            None if fork is None else int(fork),
            env.get("created_at"), env.get("max_age_s"),
        ))
    return spark.createDataFrame(rows, _REFS_SCHEMA)


def manifests_df(
    spark: "SparkSession", table: "SequenceTable", at: "int | str | None" = None
) -> "DataFrame":
    """Manifest segment references of one snapshot (default: latest;
    ``at`` accepts a snapshot id or ref name like ``read``)."""
    snap = table.snapshot(at)
    rows = []
    for r in snap.get("manifests", []):
        rows.append((
            r["path"],
            int(r.get("n_files", 0)),
            int(r.get("n_rows", 0)),
            r.get("buckets"),
            sum(int(c) for c in r.get("delta_counts", {}).values()),
            r.get("min_doc_id"),
            r.get("max_doc_id"),
            r.get("max_event_time"),
        ))
    return spark.createDataFrame(rows, _MANIFESTS_SCHEMA)


def files_df(
    spark: "SparkSession", table: "SequenceTable", at: "int | str | None" = None
) -> "DataFrame":
    """Every live data-file entry of one snapshot — DISTRIBUTED: manifest
    segment bodies are parsed by executors (one JSON document per segment,
    entries exploded), so the driver holds only the segment path list.
    v1 inline-descriptor snapshots fall back to a local list (they are by
    construction small: the format migrated to segments at v2)."""
    snap = table.snapshot(at)
    refs = snap.get("manifests")
    if refs is None:
        entries = [
            tuple(e.get(f.name) for f in _FILE_ENTRY_SCHEMA.fields)
            for e in snap.get("files", [])
        ]
        return spark.createDataFrame(entries, _FILE_ENTRY_SCHEMA)
    paths = [os.path.join(table.meta_dir, r["path"]) for r in refs]
    if not paths:
        return spark.createDataFrame([], _FILE_ENTRY_SCHEMA)
    body = T.StructType([
        T.StructField("entries", T.ArrayType(_FILE_ENTRY_SCHEMA))
    ])
    return (
        spark.read.schema(body)
        .option("multiLine", "true")
        .json(paths)
        .select(F.explode("entries").alias("e"))
        .select("e.*")
    )


_SCHEMAS_SCHEMA = T.StructType([
    T.StructField("schema_version", T.IntegerType(), False),
    T.StructField("column", T.StringType(), False),
    T.StructField("field_id", T.IntegerType(), True),
    T.StructField("type", T.StringType(), False),
    T.StructField("nullable", T.BooleanType(), False),
    T.StructField("is_current", T.BooleanType(), False),
])


def schemas_df(
    spark: "SparkSession", table: "SequenceTable", at: "int | str | None" = None
) -> "DataFrame":
    """Every registered schema version of one snapshot, one row per
    column, with its Iceberg-style field id (column identity across
    rename/drop/re-add).  Metadata-only: one descriptor read."""
    from .meta import _backfill_field_ids
    from .table import _schema_from_json

    snap = table.snapshot(at)
    reg = _backfill_field_ids(snap["schemas"], snap.get("field_ids"))
    cur = snap["schema_version"]
    rows = []
    for ver in sorted(snap["schemas"], key=int):
        ids = reg.get(ver, {})
        for f in _schema_from_json(snap["schemas"][ver]).fields:
            rows.append((
                int(ver), f.name, ids.get(f.name),
                f.dataType.simpleString(), bool(f.nullable), int(ver) == cur,
            ))
    return spark.createDataFrame(rows, _SCHEMAS_SCHEMA)


def inspect_df(
    spark: "SparkSession",
    table: "SequenceTable",
    view: str,
    at: "int | str | None" = None,
) -> "DataFrame":
    """Dispatch: ``table.inspect(spark, view)`` entry point."""
    if view == "snapshots":
        return snapshots_df(spark, table)
    if view == "history":
        return history_df(spark, table)
    if view == "refs":
        return refs_df(spark, table)
    if view == "manifests":
        return manifests_df(spark, table, at)
    if view == "files":
        return files_df(spark, table, at)
    if view == "schemas":
        return schemas_df(spark, table, at)
    if view in ("lineage", "metrics"):
        return _trail_df(spark, table, view)
    raise ValueError(f"unknown metadata view {view!r}; have {VIEWS}")


def _trail_df(spark: "SparkSession", table: "SequenceTable", view: str) -> "DataFrame":
    """The two operational trails as metadata tables: ``lineage`` =
    per-batch × source-partition apply records (S5 data plane),
    ``metrics`` = per-trigger StreamingQueryProgress (S5 control plane).
    Both are ordinary parquet directories beside the table, so this is a
    distributed scan like ``files`` — the driver never holds the trail.
    A table that has not streamed yet yields a typed EMPTY frame (same
    schema), so dashboards need no existence special-case."""
    import os

    from pyspark.sql.pandas.types import from_arrow_schema

    from ..streaming.lineage import (
        LINEAGE_SCHEMA,
        METRICS_SCHEMA,
        lineage_dir,
        metrics_dir,
    )

    d = lineage_dir(table.root) if view == "lineage" else metrics_dir(table.root)
    arrow = LINEAGE_SCHEMA if view == "lineage" else METRICS_SCHEMA
    schema = from_arrow_schema(arrow)
    if not os.path.isdir(d):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(d)
