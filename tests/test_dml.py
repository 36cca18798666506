"""Predicate DML (operators/dml.py) — delete_where / update_where, the
Iceberg DELETE FROM / UPDATE role for out-of-band corrections (GDPR
erasure, bad-data fixes) alongside the CDC stream.  Pins: oracle-exact
state, O(matched rows) write scope, redelivery no-op vs
newer-event resurrection semantics, n_tok invariant maintenance, and —
the engine's headline invariant — mirror convergence through the
ordinary change feed."""

import glob

import pytest
from pyspark.sql import functions as F

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.operators.dml import delete_where, update_where
from cfe_39_spark.sources.table import SequenceTable, bucket_of
from cfe_39_spark.streaming import mirror
from tests.util import assert_state_equal


def _setup(spark, tmp_path, n_segments=4):
    fx = write_fixture(
        str(tmp_path / "fx"),
        GenConfig(n_docs_initial=60, n_events=300, n_segments=n_segments,
                  dup_rate=0.15, seed=419),
    )
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    for i, s in enumerate(segs):
        apply_batch(spark, t, spark.read.parquet(s), batch_id=i,
                    compact_threshold=None)
    return fx, t, segs


def test_delete_where_matches_oracle(spark, tmp_path):
    fx, t, _ = _setup(spark, tmp_path)
    exp = fx["expected"]
    cut = int(exp["n_tok"].median())
    r = delete_where(spark, t, f"n_tok > {cut}")
    kept = exp[exp["n_tok"] <= cut].reset_index(drop=True)
    assert r is not None
    assert r.rows_affected == len(exp) - len(kept)
    assert_state_equal(t.read(spark), kept)
    # the DML's commit is a first-class snapshot: time travel still shows
    # the pre-delete state
    assert t.read(spark, r.snapshot_id - 1).count() == len(exp)
    # and the change feed carries the deletes
    feed = t.read_changes(spark, from_snapshot_id=r.snapshot_id - 1)
    assert feed.filter("_change_type = 'delete'").count() == r.rows_affected


def test_delete_redelivery_noops_newer_event_resurrects(spark, tmp_path):
    """The documented LWW semantics of the ordering bump: re-delivering
    the pre-delete winning events does nothing, a source event NEWER
    than the DML timestamp overwrites the manual tombstone."""
    fx, t, segs = _setup(spark, tmp_path)
    victim = sorted(fx["expected"]["doc_id"])[0]
    r = delete_where(spark, t, f"doc_id = '{victim}'")
    assert r is not None and r.rows_affected == 1
    post = t.read(spark).toPandas()

    # redelivery of every old segment under NEW batch ids: row-level LWW
    # makes all of it a no-op, including the deleted doc's old events
    for i, s in enumerate(segs):
        apply_batch(spark, t, spark.read.parquet(s), batch_id=f"re{i}",
                    compact_threshold=None)
    assert_state_equal(t.read(spark), post)

    # a genuinely newer event resurrects the doc
    ev = spark.createDataFrame(
        [(victim, "U", 10 ** 9, 9999999, [7, 8, 9], 3, "manual", 1)],
        "doc_id string, op string, offset long, epoch long, "
        "tokens array<int>, n_tok int, source string, schema_version int",
    ).select(
        "doc_id", "op", "offset",
        F.current_timestamp().alias("event_time"),
        "epoch", F.lit(0).alias("src_partition"), "schema_version",
        "tokens", "n_tok", "source",
    )
    apply_batch(spark, t, ev, batch_id="resurrect", compact_threshold=None)
    got = t.read(spark).filter(f"doc_id = '{victim}'").collect()
    assert len(got) == 1 and list(got[0]["tokens"]) == [7, 8, 9]


def test_update_where_oracle_exact_and_n_tok_invariant(spark, tmp_path):
    fx, t, _ = _setup(spark, tmp_path)
    exp = fx["expected"].copy()
    r = update_where(
        spark, t,
        {"source": "'quarantined'", "tokens": "slice(tokens, 1, 2)"},
        "n_tok >= 2",
    )
    m = exp["n_tok"] >= 2
    assert r is not None and r.rows_affected == int(m.sum())
    exp.loc[m, "tokens"] = exp.loc[m, "tokens"].map(lambda a: a[:2])
    exp.loc[m, "n_tok"] = 2  # recomputed from the new tokens, not stale
    exp.loc[m, "source"] = "quarantined"
    assert_state_equal(t.read(spark), exp)


def test_update_where_validations(spark, tmp_path):
    fx, t, _ = _setup(spark, tmp_path, n_segments=1)
    with pytest.raises(ValueError, match="immutable"):
        update_where(spark, t, {"doc_id": "'x'"}, "true")
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, t, {"nope": "1"}, "true")
    with pytest.raises(ValueError, match="empty SET"):
        update_where(spark, t, {}, "true")


def test_dml_no_match_commits_nothing(spark, tmp_path):
    fx, t, _ = _setup(spark, tmp_path, n_segments=1)
    before = t.latest_snapshot_id()
    assert delete_where(spark, t, "doc_id = 'no-such-doc'") is None
    assert update_where(spark, t, {"source": "'x'"}, "doc_id = 'nope'") is None
    assert t.latest_snapshot_id() == before


def test_dml_rewrites_only_affected_groups(spark, tmp_path):
    """O(matched rows): every pre-DML file is carried as-is, and the only
    new entries are deltas in the victim key's group."""
    fx, t, _ = _setup(spark, tmp_path)
    victim = sorted(fx["expected"]["doc_id"])[0]
    before = {e["path"] for e in t.snapshot()["files"]}
    r = delete_where(spark, t, f"doc_id = '{victim}'")
    assert r is not None and r.rows_affected == 1
    after = t.snapshot()["files"]
    assert before <= {e["path"] for e in after}
    new = [e for e in after if e["path"] not in before]
    assert new and all(
        e["kind"] == "delta" and e["bucket"] == bucket_of(victim, 4) for e in new
    )


def test_dml_mor_mode_oracle_exact_appends_only(spark, tmp_path):
    """Iceberg's merge-on-read DML role: the commit appends O(matched)
    delta rows and rewrites nothing — every pre-existing file is carried
    as-is.  Compaction later resolves the deltas away without changing
    the state."""
    fx, t, _ = _setup(spark, tmp_path)
    exp = fx["expected"].copy()
    cut = int(exp["n_tok"].median())
    before_paths = {e["path"] for e in t.snapshot()["files"]}

    r = delete_where(spark, t, f"n_tok > {cut}")
    kept = exp[exp["n_tok"] <= cut].reset_index(drop=True)
    assert r is not None and r.rows_affected == len(exp) - len(kept)
    snap = t.snapshot()
    assert (snap.get("lineage") or {}).get("mode") == "mor"
    after = snap["files"]
    # append-only: every old file survives untouched; the additions are deltas
    assert before_paths <= {e["path"] for e in after}
    new = [e for e in after if e["path"] not in before_paths]
    assert new and all(e.get("kind") == "delta" for e in new)
    assert_state_equal(t.read(spark), kept)
    # time travel + change feed see the DML commit like any other
    assert t.read(spark, r.snapshot_id - 1).count() == len(exp)
    feed = t.read_changes(spark, from_snapshot_id=r.snapshot_id - 1)
    assert feed.filter("_change_type = 'delete'").count() == r.rows_affected

    # the update stacks on the delete; read-time LWW resolves both
    r2 = update_where(spark, t, {"source": "'fixed'"}, f"n_tok <= {cut}")
    assert r2 is not None
    kept = kept.copy()
    kept["source"] = "fixed"
    assert_state_equal(t.read(spark), kept)

    # compaction reclaims the superseded versions, state unchanged
    assert t.compact(spark) is not None
    snap = t.snapshot()
    assert not any(e.get("kind", "base") == "delta" for e in snap["files"])
    assert_state_equal(t.read(spark), kept)


def test_dml_mor_redelivery_noop_and_mirror_converges(spark, tmp_path):
    """The ordering bump written into the delta rows carries the LWW
    semantics: redelivered old events lose at resolution time, and a
    mirror applying the change feed reaches the primary's exact state."""
    fx, t, segs = _setup(spark, tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    dst = SequenceTable.create(spark, str(tmp_path / "dst"), init, n_buckets=4)
    chk = str(tmp_path / "chk")
    mirror.run_mirror(spark, t, dst, chk)

    victim = sorted(fx["expected"]["doc_id"])[0]
    assert delete_where(spark, t, f"doc_id = '{victim}'") is not None
    post = t.read(spark).toPandas()
    for i, s in enumerate(segs):
        apply_batch(spark, t, spark.read.parquet(s), batch_id=f"re{i}",
                    compact_threshold=None)
    assert_state_equal(t.read(spark), post)

    ticks = mirror.run_mirror(spark, t, dst, chk)
    assert ticks and ticks[-1].applied
    assert_state_equal(dst.read(spark), t.read(spark).toPandas())


def test_dml_mirror_converges(spark, tmp_path):
    """delete_where + update_where flow through read_changes like any
    commit; a mirror applying the feed under plain LWW reaches the
    primary's exact state."""
    fx, t, segs = _setup(spark, tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    dst = SequenceTable.create(spark, str(tmp_path / "dst"), init, n_buckets=4)
    chk = str(tmp_path / "chk")
    mirror.run_mirror(spark, t, dst, chk)
    assert_state_equal(dst.read(spark), t.read(spark).toPandas())

    cut = int(fx["expected"]["n_tok"].median())
    assert delete_where(spark, t, f"n_tok > {cut}") is not None
    assert update_where(spark, t, {"source": "'fixed'"}, f"n_tok <= {cut}") is not None
    ticks = mirror.run_mirror(spark, t, dst, chk)
    assert ticks and ticks[-1].applied
    assert_state_equal(dst.read(spark), t.read(spark).toPandas())
