"""Read planning without Spark jobs.

``_read_files`` reads every schema-version file group with the storage
schema registered for that version instead of inferring it from the
footers, so two things must hold:

* the writer/reader contract: every data and change file any writer
  commits carries exactly the column names and Spark types registered for
  its ``schema_version`` (a drift would read a column as null, or fail
  the scan, where footer inference used to paper over it);
* the payoff: ``lookup``, ``read``, ``scan_range``, ``read_changes`` and
  ``read_changelog`` start no Spark job before the caller's action, and
  planning a lookup costs a bounded number of py4j round trips.
"""

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F, types as T
from pyspark.sql.pandas.types import from_arrow_type

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.operators.dml import delete_where, merge_into, update_where
from cfe_39_spark.schema import SEQUENCE_SCHEMA_V1, storage_schema
from cfe_39_spark.sources.table import SequenceTable, _schema_from_json

from .util import assert_lookup_in_one_job, jobs_started, py4j_round_trips


def _setup(spark, tmp_path, n_segments):
    fx = write_fixture(
        str(tmp_path / "fx"),
        GenConfig(n_docs_initial=40, n_events=40 * n_segments,
                  n_segments=n_segments, dup_rate=0.1, seed=523),
    )
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    return fx, t, [spark.read.parquet(s) for s in segs]


def _contract_violations(t):
    """Files of the latest snapshot (data and change files) whose footer
    differs from the storage schema registered for their version."""
    snap = t.snapshot()
    bad = []
    for e in list(snap["files"]) + list(snap.get("change_files") or []):
        reg = _schema_from_json(snap["schemas"][str(e["schema_version"])])
        want = {f.name: f.dataType.simpleString() for f in storage_schema(reg).fields}
        footer = pq.read_schema(os.path.join(t.root, e["path"]))
        got = {f.name: from_arrow_type(f.type).simpleString() for f in footer}
        if got != want:
            bad.append((e["path"], e["schema_version"], got, want))
    return bad


def test_every_writer_honours_the_registered_schema(spark, tmp_path):
    fx, t, segs = _setup(spark, tmp_path, n_segments=8)

    def check(label):
        bad = _contract_violations(t)
        assert not bad, (label, bad[:2])

    check("create")
    apply_batch(spark, t, segs[0], batch_id=0)
    check("mor apply")
    apply_batch(spark, t, segs[1], batch_id=1, compact_threshold=None)
    check("mor delta")
    assert t.compact(spark) is not None
    check("compaction")
    docs = sorted(r["doc_id"] for r in t.read(spark).select("doc_id").collect())
    update_where(spark, t, {"source": "'fixed'"}, f"doc_id = '{docs[0]}'")
    check("dml update")
    delete_where(spark, t, f"doc_id = '{docs[1]}'")
    check("dml delete")
    src = spark.createDataFrame(
        [(docs[3], [1, 2, 3], 3, "merged"), ("merge-new", [7], 1, "merged")],
        SEQUENCE_SCHEMA_V1,
    )
    merge_into(spark, t, src)
    check("merge into")
    t.evolve_bucket_spec(8)
    apply_batch(spark, t, segs[2], batch_id=2, compact_threshold=None)
    check("apply under evolved spec")
    t.compact(spark, migrate_specs=True)
    check("spec-migrating compaction")
    t.add_column("lang", T.StringType())
    apply_batch(spark, t, segs[3].withColumn("lang", F.lit("en")), batch_id=3,
                compact_threshold=None)
    check("apply after add")
    t.rename_column("source", "origin")
    apply_batch(spark, t, segs[4].withColumnRenamed("source", "origin"),
                batch_id=4, compact_threshold=1)
    check("apply + compaction after rename")
    t.drop_column("origin")
    apply_batch(spark, t, segs[5].drop("source"), batch_id=5,
                compact_threshold=None)
    check("apply after drop")
    t.widen_column("n_tok", T.LongType())
    apply_batch(spark, t, segs[6].drop("source"), batch_id=6,
                compact_threshold=1)
    check("apply + compaction after widen")
    t.compact(spark)
    check("compaction across versions")
    assert len(t.snapshot()["schemas"]) >= 5  # four DDL versions registered
    assert t.read(spark).groupBy("doc_id").count().filter("count > 1").count() == 0


def test_reads_plan_without_spark_jobs(spark, tmp_path):
    fx, t, segs = _setup(spark, tmp_path, n_segments=3)
    first = t.latest_snapshot_id()
    for i, s in enumerate(segs):
        apply_batch(spark, t, s, batch_id=i, compact_threshold=None)
    # MOR deltas in every read's buckets: the resolving plans
    assert max(t.delta_file_counts().values()) >= 2
    keys = sorted(fx["expected"]["doc_id"])[:10]
    for name, plan in [
        ("lookup", lambda: t.lookup(spark, keys)),
        ("read", lambda: t.read(spark)),
        ("read_state", lambda: t.read_state(spark)),
        ("scan_range", lambda: t.scan_range(spark, keys[0], keys[-1])),
        ("read_changes", lambda: t.read_changes(spark, from_snapshot_id=first)),
        ("read_changelog", lambda: t.read_changelog(spark, first)),
    ]:
        df, jobs = jobs_started(spark, plan)
        assert jobs == 0, (name, jobs)
        assert df.columns  # the plan is analysed, not deferred

    rows, jobs = jobs_started(spark, lambda: t.lookup(spark, keys).collect())
    assert len(rows) == 10
    assert jobs == 1  # the keys' rows resolve in one partition, no shuffle

    # the plan is built from SQL strings, not one Column chain per column
    # (each Column call costs several py4j round trips)
    _, trips = py4j_round_trips(spark, lambda: t.lookup(spark, keys))
    # measured: 74 (73 before the one-partition resolve added its
    # ``coalesce``); per-column Column chains made 956, and a per-key
    # ``isin`` Column chain 141
    assert trips <= 110, trips


def test_lookup_across_schema_versions_is_one_job(spark, tmp_path):
    """Deltas written under three schema versions (add, then rename a
    column) read as one union of per-version scans; a lookup over them
    still resolves in one job with no ``Exchange``, its key ``In`` pushed
    into each version's ``FileScan``."""
    fx, t, segs = _setup(spark, tmp_path, n_segments=3)
    apply_batch(spark, t, segs[0], batch_id=0, compact_threshold=None)
    t.add_column("lang", T.StringType())
    apply_batch(spark, t, segs[1].withColumn("lang", F.lit("en")), batch_id=1,
                compact_threshold=None)
    t.rename_column("source", "origin")
    apply_batch(spark, t, segs[2].withColumnRenamed("source", "origin"),
                batch_id=2, compact_threshold=None)
    snap = t.snapshot()
    assert len({e["schema_version"] for e in snap["files"]}) == 3
    assert set(t.delta_file_counts()) == set(range(4))
    full = {r["doc_id"]: r.asDict() for r in t.read(spark).collect()}
    keys = sorted(full)[::4][:10] + ["no-such-doc"]
    assert_lookup_in_one_job(spark, t, keys, full)
