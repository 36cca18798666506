"""Opt-in DLQ: malformed change events (null merge key, null ordering
fields, unknown op) are diverted to a quarantine instead of entering the
LWW merge (engine-level counterpart of the Kafka decoder's dead-letter
stream; SURVEY.md §2.2 C4 hardening)."""

import glob

import pytest

from pyspark.sql import functions as F

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources.table import SequenceTable

from .util import assert_state_equal


def _with_bad_rows(spark, seg_path):
    """A segment plus 4 malformed rows (one per reject reason + null op)."""
    good = spark.read.parquet(seg_path)
    one = good.limit(1)
    bad = (
        one.withColumn("doc_id", F.lit(None).cast("string"))
        .unionByName(one.withColumn("event_time", F.lit(None).cast("timestamp")))
        .unionByName(one.withColumn("offset", F.lit(None).cast("long")))
        .unionByName(one.withColumn("op", F.lit("X")))
        .unionByName(one.withColumn("op", F.lit(None).cast("string")))
    )
    return good.unionByName(bad), good


def test_quarantine_diverts_malformed(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=20, n_events=100, n_segments=2, seed=71)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    qdir = str(tmp_path / "quarantine")

    # batch 0: unfused stats path; batch 1: fused one-job path — the
    # quarantine split runs before either, so both must see clean input
    polluted0, _ = _with_bad_rows(spark, segs[0])
    r0 = apply_batch(spark, table, polluted0, batch_id=0, quarantine_dir=qdir)
    assert r0.events_quarantined == 5
    polluted1, _ = _with_bad_rows(spark, segs[1])
    r1 = apply_batch(
        spark, table, polluted1, batch_id=1, quarantine_dir=qdir,
        known_partitions=list(range(8)),
    )
    assert r1.events_quarantined == 5

    # table state is exactly the valid-events oracle
    assert_state_equal(table.read(spark), fx["expected"])
    # lineage records the diverted count per commit
    assert table.snapshot()["lineage"]["events_quarantined"] == 5

    # the DLQ holds every reject, labeled
    q = spark.read.parquet(qdir + "/batch-0")
    reasons = {r["_quarantine_reason"] for r in q.collect()}
    assert reasons == {"null_doc_id", "null_ordering_field", "unknown_op"}
    assert q.count() == 5
    # stats exclude the rejects: lineage counted only clean events
    n_clean = spark.read.parquet(segs[0]).count()
    assert r0.events_in == n_clean

    # replayed batch id -> noop, quarantine untouched (exactly-once)
    r0b = apply_batch(spark, table, polluted0, batch_id=0, quarantine_dir=qdir)
    assert r0b.noop
    assert spark.read.parquet(qdir + "/batch-0").count() == 5


def test_quarantine_clean_batch_and_disabled_default(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=15, n_events=60, n_segments=1, seed=73)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=4)
    seg = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))[0]
    qdir = str(tmp_path / "quarantine")
    # enabled but nothing malformed: zero count, state unaffected
    r = apply_batch(spark, table, spark.read.parquet(seg), batch_id=0,
                    quarantine_dir=qdir)
    assert r.events_quarantined == 0
    assert_state_equal(table.read(spark), fx["expected"])
    # disabled (default): result reports 0 without touching any DLQ path
    t2 = SequenceTable.create(spark, str(tmp_path / "t2"), init, n_buckets=4)
    r2 = apply_batch(spark, t2, spark.read.parquet(seg), batch_id=0)
    assert r2.events_quarantined == 0
    assert_state_equal(t2.read(spark), fx["expected"])


def _null_partition_batch(spark, tmp_path, seed):
    """A table plus a 5-event batch whose first 2 events carry a null
    ``src_partition``."""
    cfg = GenConfig(n_docs_initial=10, n_events=20, n_segments=1, seed=seed)
    write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=4)
    seg = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))[0]
    ev = spark.read.parquet(seg)
    rows = [r.asDict() for r in ev.orderBy("offset", "src_partition").limit(5).collect()]
    for r in rows[:2]:
        r["src_partition"] = None
    return table, spark.createDataFrame(rows, ev.schema)


@pytest.mark.parametrize("hinted", [False, True], ids=["unhinted", "hinted"])
def test_null_src_partition_quarantined_or_rejected(spark, tmp_path, hinted):
    """A null ``src_partition`` gives an event no LWW position (it is the
    ordering tiebreak) and no lineage row: with a quarantine it is
    diverted as ``null_ordering_field``; without one the batch is
    rejected with a ValueError that names the column, and nothing is
    committed."""
    table, batch = _null_partition_batch(spark, tmp_path, seed=79)
    hint = {"known_partitions": list(range(4))} if hinted else {}
    sid = table.latest_snapshot_id()
    with pytest.raises(ValueError, match="src_partition"):
        apply_batch(spark, table, batch, batch_id="nulls", **hint)
    assert table.latest_snapshot_id() == sid
    assert table.find_batch("nulls") is None

    qdir = str(tmp_path / "quarantine")
    r = apply_batch(spark, table, batch, batch_id="nulls", quarantine_dir=qdir,
                    **hint)
    assert (r.events_quarantined, r.events_in) == (2, 3)
    assert all(p["src_partition"] is not None for p in r.per_partition)
    q = spark.read.parquet(qdir + "/batch-nulls").collect()
    assert [x["_quarantine_reason"] for x in q] == ["null_ordering_field"] * 2
