"""Column DDL (SURVEY.md §2.2 C7 metadata side): rename / drop / add as
metadata-only commits with Iceberg field-id column identity — old files are
never rewritten, renames keep serving old files' values, and dropping then
re-adding a name must NOT resurrect the dropped values (fresh field id)."""

import glob

import pytest
from pyspark.sql import functions as F, types as T

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources.table import SequenceTable

from .util import APPLY_MODES


def _make_table(spark, tmp_path, n_docs=20, seed=311):
    cfg = GenConfig(n_docs_initial=n_docs, n_events=60, n_segments=2, seed=seed)
    write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    return table, segs


def test_rename_serves_old_files_under_new_name(spark, tmp_path):
    table, segs = _make_table(spark, tmp_path)
    before = {
        r["doc_id"]: r["source"]
        for r in table.read(spark).select("doc_id", "source").collect()
    }
    sid = table.rename_column("source", "origin")
    snap = table.snapshot()
    assert snap["snapshot_id"] == sid
    names = [f.name for f in table.user_schema().fields]
    assert "origin" in names and "source" not in names
    # metadata-only: no data files written by the DDL commit
    assert snap["lineage"]["ddl"] == {"op": "rename", "from": "source", "to": "origin"}
    # every pre-rename value still readable, now under the new name
    after = {
        r["doc_id"]: r["origin"]
        for r in table.read(spark).select("doc_id", "origin").collect()
    }
    assert after == before


def test_rename_then_merge_lww_across_old_and_new_files(spark, tmp_path):
    table, segs = _make_table(spark, tmp_path)
    table.rename_column("source", "origin")
    # post-rename batches arrive with the CURRENT name
    seg = spark.read.parquet(segs[0]).withColumnRenamed("source", "origin")
    apply_batch(spark, table, seg, batch_id="post-rename")
    out = table.read(spark)
    assert "origin" in out.columns and "source" not in out.columns
    # LWW resolved across files written before AND after the rename:
    # no doc appears twice, and no origin value was lost
    assert out.groupBy("doc_id").count().filter("count > 1").count() == 0
    assert out.filter(F.col("origin").isNull()).count() == 0


def test_drop_then_readd_does_not_resurrect(spark, tmp_path):
    table, _ = _make_table(spark, tmp_path)
    assert table.read(spark).filter(F.col("source").isNotNull()).count() > 0
    table.drop_column("source")
    assert "source" not in table.read(spark).columns
    table.add_column("source", T.StringType())
    # the old files still PHYSICALLY hold a 'source' column, but the
    # re-added column has a fresh field id: everything must read null
    out = table.read(spark)
    assert "source" in out.columns
    assert out.filter(F.col("source").isNotNull()).count() == 0


@pytest.mark.parametrize("mode", list(APPLY_MODES))
def test_batch_readd_after_drop_does_not_resurrect(spark, tmp_path, mode):
    # the subtler resurrection path: 'source' is dropped by DDL, then a
    # BATCH (not DDL) re-adds the name via schema evolution.  The merge
    # read reconciles old state at the evolved schema — a compaction
    # REWRITES old rows, so a name-based match there would persist the
    # dropped values forever, not just leak them into one read
    table, segs = _make_table(spark, tmp_path)
    table.drop_column("source")
    seg = spark.read.parquet(segs[0]).withColumn("source", F.lit("fresh"))
    touched = {r["doc_id"] for r in seg.select("doc_id").distinct().collect()}
    apply_batch(spark, table, seg, batch_id="readd", **APPLY_MODES[mode])
    rows = {r["doc_id"]: r["source"] for r in table.read(spark).collect()}
    assert all(v == "fresh" for d, v in rows.items() if d in touched)
    assert all(v is None for d, v in rows.items() if d not in touched)


def test_add_column_nulls_then_batch_fills(spark, tmp_path):
    table, segs = _make_table(spark, tmp_path)
    table.add_column("quality", T.DoubleType())
    assert (
        table.read(spark).filter(F.col("quality").isNotNull()).count() == 0
    )
    seg = spark.read.parquet(segs[0]).withColumn("quality", F.lit(0.5))
    apply_batch(spark, table, seg, batch_id="with-quality")
    out = table.read(spark)
    touched = {r["doc_id"] for r in seg.select("doc_id").distinct().collect()}
    got = {r["doc_id"]: r["quality"] for r in out.collect()}
    assert all(got[d] == 0.5 for d in touched if d in got)
    assert all(v is None for d, v in got.items() if d not in touched)


def test_time_travel_reads_each_snapshots_own_names(spark, tmp_path):
    table, _ = _make_table(spark, tmp_path)
    pre = table.latest_snapshot_id()
    table.rename_column("source", "origin")
    assert "source" in table.read(spark, snapshot_id=pre).columns
    assert "origin" in table.read(spark).columns


def test_batch_evolution_after_ddl_allocates_fresh_version(spark, tmp_path):
    # a source whose schema_version stamps lag the table's DDL-bumped
    # version must still be able to evolve (add a column): the registrar
    # allocates the next free version instead of tripping the
    # same-version-different-schema commit guard
    table, segs = _make_table(spark, tmp_path)
    table.rename_column("source", "origin")
    seg = (
        spark.read.parquet(segs[0])
        .withColumnRenamed("source", "origin")
        .withColumn("quality", F.lit(1.0))
    )
    apply_batch(spark, table, seg, batch_id="evolve-after-ddl")
    names = [f.name for f in table.user_schema().fields]
    assert "quality" in names and "origin" in names
    snap = table.snapshot()
    assert len(set(snap["schemas"].values())) == len(snap["schemas"])


def test_rollback_across_ddl_restores_old_shape(spark, tmp_path):
    table, segs = _make_table(spark, tmp_path)
    pre = table.latest_snapshot_id()
    table.rename_column("source", "origin")
    table.rollback(pre)
    assert "source" in table.read(spark).columns
    # field-id registry survives the rollback: the renamed version's map
    # is still recorded, so re-applying DDL and reading history stays exact
    assert str(table.snapshot()["schema_version"] + 1) in table.snapshot()["field_ids"]
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id="b0")
    assert "source" in table.read(spark).columns


def test_widen_column_ddl(spark, tmp_path):
    table, segs = _make_table(spark, tmp_path)
    before = {
        r["doc_id"]: r["n_tok"]
        for r in table.read(spark).select("doc_id", "n_tok").collect()
    }
    table.widen_column("n_tok", T.LongType())
    out = table.read(spark)
    fields = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert fields["n_tok"] == "bigint"
    assert fields["tokens"] == "array<int>"  # invariant untouched
    after = {r["doc_id"]: r["n_tok"] for r in out.select("doc_id", "n_tok").collect()}
    assert after == before  # values cast up, none lost
    # CDC keeps flowing after the widen
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id="b0")
    assert table.read(spark).groupBy("doc_id").count().filter("count > 1").count() == 0
    with pytest.raises(ValueError, match="illegal type change"):
        table.widen_column("n_tok", T.IntegerType())  # narrowing
    with pytest.raises(ValueError, match="contract"):
        table.widen_column("tokens", T.ArrayType(T.LongType()))


def test_ddl_guards(spark, tmp_path):
    table, _ = _make_table(spark, tmp_path)
    with pytest.raises(ValueError, match="contract"):
        table.rename_column("doc_id", "key")
    with pytest.raises(ValueError, match="contract"):
        table.drop_column("tokens")
    with pytest.raises(ValueError, match="already exists"):
        table.rename_column("source", "n_tok")
    with pytest.raises(ValueError, match="no such column"):
        table.rename_column("nope", "x")
    with pytest.raises(ValueError, match="identifier"):
        table.rename_column("source", "bad name")
    with pytest.raises(ValueError, match="reserved"):
        table.rename_column("source", "_secret")
    with pytest.raises(ValueError, match="envelope"):
        table.rename_column("source", "offset")
    with pytest.raises(ValueError, match="already exists"):
        table.add_column("source", T.StringType())
    with pytest.raises(ValueError, match="nullable"):
        table.add_column("extra", T.StringType(), nullable=False)


def test_legacy_table_backfill_is_name_exact(spark, tmp_path):
    # simulate a pre-registry table: strip field_ids from the snapshot
    # descriptor; reads must behave exactly like name matching, and the
    # next commit must persist a backfilled registry
    import json, os

    table, segs = _make_table(spark, tmp_path)
    sid = table.latest_snapshot_id()
    p = table._snap_path(sid)
    with open(p) as f:
        snap = json.load(f)
    snap.pop("field_ids", None)
    with open(p, "w") as f:
        json.dump(snap, f)
    before = table.read(spark).collect()
    assert len(before) > 0
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id="b0")
    assert "field_ids" in table.snapshot()
    assert table.read(spark).count() > 0


def test_mor_retry_rederives_sv_after_racing_ddl(spark, tmp_path, monkeypatch):
    """Optimistic-concurrency race the retry loop must absorb: a schema-
    evolving MOR batch plans (sv=2, register=v1+quality) off the current
    snapshot, but a concurrent add_column commits v2 with a DIFFERENT
    shape first.  The retry must re-derive the version against the new
    parent (bump to v3) and restamp the batch's entries — replaying the
    stale pair would trip the same-version-different-schema guard on all
    five attempts and fail the trigger.  Outcome must equal the already-
    supported sequential order (DDL lands, then a stale-stamped batch)."""
    import datetime

    t = SequenceTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    base_schema = (
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "op string, offset long, src_partition int, epoch long, "
        "schema_version int, event_time timestamp"
    )
    apply_batch(
        spark, t,
        spark.createDataFrame([("d0", [1], 1, "a", "I", 1, 0, 0, 1, ts)],
                              base_schema),
        batch_id="0", compact_threshold=None)

    orig = SequenceTable.commit
    fired = {}

    def racing(self, batch_id, *args, **kwargs):
        if batch_id == "1" and not fired:
            fired["x"] = True  # before the DDL: add_column commits via orig
            self.add_column("other", T.StringType())
        return orig(self, batch_id, *args, **kwargs)

    monkeypatch.setattr(SequenceTable, "commit", racing)
    ev_schema = (
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "quality double, op string, offset long, src_partition int, "
        "epoch long, schema_version int, event_time timestamp"
    )
    r = apply_batch(
        spark, t,
        spark.createDataFrame(
            [("d1", [2], 1, "b", 0.9, "I", 2, 0, 0, 2, ts)], ev_schema),
        batch_id="1", compact_threshold=None)
    assert fired and r.snapshot_id is not None
    snap = t.snapshot()
    # the DDL claimed v2, the batch re-derived to v3 — both registered
    assert snap["schema_version"] == 3
    assert set(snap["schemas"]) == {"1", "2", "3"}
    names = [f.name for f in t.user_schema().fields]
    # same outcome as the sequential order: the batch's shape (which
    # post-dates the DDL) wins the tip; 'other' stays registered at v2
    assert "quality" in names
    got = {r2["doc_id"]: r2.asDict() for r2 in t.read(spark).collect()}
    assert got["d1"]["quality"] == 0.9 and got["d0"]["quality"] is None
    assert list(got["d0"]["tokens"]) == [1] and list(got["d1"]["tokens"]) == [2]
