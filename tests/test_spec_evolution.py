"""Lazy bucket-spec evolution (SequenceTable.evolve_bucket_spec):
metadata-only n_buckets growth, exact reads over mixed specs during the
migration window, and compaction as the incremental migration vehicle.

Spec reference: BASELINE.json north_rule ("partitioning / shuffle / skew
handled explicitly" at 10^10-event scale — growing B without a monolithic
full-table rewrite) and SURVEY.md §4.2 O2.
"""

import glob

import pytest

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources.table import SequenceTable
from tests.util import assert_state_equal


def _fixture(tmp_path, seed=77, n_segments=6):
    return write_fixture(
        str(tmp_path / "fx"),
        GenConfig(
            n_docs_initial=60,
            n_events=360,
            n_segments=n_segments,
            dup_rate=0.1,  # op mix already carries ~10% deletes
            seed=seed,
        ),
    )


def _segments(tmp_path):
    return sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))


def _apply_all(spark, t, segs, start=0):
    for i, seg in enumerate(segs):
        apply_batch(
            spark, t, spark.read.parquet(seg), batch_id=start + i,
            compact_threshold=None,
        )


def _specs_in_files(t):
    snap = t.snapshot()
    return {t._entry_spec(snap, e) for e in snap["files"]}


def test_evolve_validation(spark, tmp_path):
    fx = _fixture(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    assert t.evolve_bucket_spec(4) is None  # no-op
    with pytest.raises(ValueError):
        t.evolve_bucket_spec(6)  # not a multiple
    with pytest.raises(ValueError):
        t.evolve_bucket_spec(2)  # shrink


def test_evolve_is_metadata_only_and_state_exact(spark, tmp_path):
    """Half the stream lands under B=4, the table evolves to B=8 with NO
    data rewrite, the rest lands under B=8 (updating/deleting old-spec
    keys) — final state must equal the pandas oracle bit-for-bit."""
    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    _apply_all(spark, t, segs[:3])
    pre = {e["path"] for e in t.snapshot()["files"]}
    sid = t.evolve_bucket_spec(8)
    assert sid is not None
    snap = t.snapshot()
    assert snap["n_buckets"] == 8
    assert snap["legacy_spec_nb"] == 4
    # metadata-only: the file set is IDENTICAL (no rewrite, no new files)
    assert {e["path"] for e in snap["files"]} == pre
    _apply_all(spark, t, segs[3:], start=3)
    assert len(_specs_in_files(t)) == 2  # genuinely mixed mid-migration
    assert_state_equal(t.read(spark), fx["expected"])


def test_mixed_spec_lookup_exact_and_pruned(spark, tmp_path):
    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    _apply_all(spark, t, segs[:3])
    t.evolve_bucket_spec(8)
    _apply_all(spark, t, segs[3:], start=3)
    full = {r["doc_id"]: r.asDict() for r in t.read(spark).collect()}
    live = sorted(full)
    keys = [live[0], live[len(live) // 2], live[-1]]
    got = {r["doc_id"]: r.asDict() for r in t.lookup(spark, keys).collect()}
    assert got == {k: full[k] for k in keys if True} or all(
        got[k]["doc_id"] == k for k in keys
    )
    for k in keys:
        g, e = got[k], full[k]
        assert list(g["tokens"]) == list(e["tokens"])
        assert g == e
    # pruning still skips files across BOTH specs
    full_files = set(t.read(spark).inputFiles())
    look_files = set(t.lookup(spark, [live[0]]).inputFiles())
    assert look_files and look_files < full_files
    assert len(look_files) <= len(full_files) / 2


def test_compact_migrates_groups_incrementally(spark, tmp_path):
    """Normal compaction after an evolve folds each group's old-spec base
    + new-spec deltas into current-spec files; migrate_specs=True finishes
    the delta-free stragglers.  End state: single spec, exact rows."""
    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    _apply_all(spark, t, segs[:3])
    t.evolve_bucket_spec(8)
    _apply_all(spark, t, segs[3:], start=3)
    assert len(_specs_in_files(t)) == 2
    t.compact(spark)  # deltas fold; their groups migrate to spec 8
    # stragglers: groups with no deltas still hold spec-4 base files
    t.compact(spark, migrate_specs=True)
    assert _specs_in_files(t) == {8}
    assert_state_equal(t.read(spark), fx["expected"])
    # once single-spec, the group gauge is the plain per-bucket gauge again
    assert t._min_live_spec(t.snapshot()) == 8


def test_dml_after_evolve(spark, tmp_path):
    """A DML mid-migration: its delta lands, under the current spec, in a
    group holding old-spec files and deltas of both specs; final state
    exact."""
    from cfe_39_spark.operators.dml import delete_where

    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    _apply_all(spark, t, segs[:3])
    t.evolve_bucket_spec(8)
    _apply_all(spark, t, segs[3:], start=3)
    victim = min(fx["expected"]["doc_id"])
    r = delete_where(spark, t, f"doc_id = '{victim}'")
    assert r is not None and r.rows_affected == 1
    assert len(_specs_in_files(t)) == 2  # still mid-migration
    exp = fx["expected"]
    assert_state_equal(t.read(spark), exp[exp["doc_id"] != victim])
    # the DML's delta marks its group dirty -> read_state (which trusts
    # per-group uniqueness on its clean path) agrees with a brute-force
    # global LWW resolution
    from cfe_39_spark.sources.table import lww_resolve

    snap = t.snapshot()
    brute = lww_resolve(t._read_files(spark, snap, snap["files"]))
    a = t.read_state(spark).orderBy("doc_id").toPandas()
    b = brute.orderBy("doc_id").toPandas()
    assert len(a) == len(b) and list(a["doc_id"]) == list(b["doc_id"])


def test_min_event_time_read_across_specs(spark, tmp_path):
    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    _apply_all(spark, t, segs[:3])
    t.evolve_bucket_spec(8)
    _apply_all(spark, t, segs[3:], start=3)
    full = t.read_state(spark).filter("NOT _deleted")
    times = sorted(
        r["_last_event_time"] for r in full.select("_last_event_time").collect()
    )
    bound = times[len(times) // 2]
    exp = {
        r["doc_id"]
        for r in full.filter(full["_last_event_time"] >= bound).collect()
    }
    got = {
        r["doc_id"] for r in t.read(spark, min_event_time=bound).collect()
    }
    assert got == exp


def test_changelog_across_evolve_boundary(spark, tmp_path):
    """read_changelog over a span containing the evolve commit: endpoints
    have different n_buckets AND mixed-spec files — diff must match the
    brute-force state diff."""
    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    _apply_all(spark, t, segs[:3])
    from_sid = t.latest_snapshot_id()
    before = {
        r["doc_id"]: r.asDict()
        for r in t.read(spark, snapshot_id=from_sid).collect()
    }
    t.evolve_bucket_spec(8)
    _apply_all(spark, t, segs[3:], start=3)
    after = {r["doc_id"]: r.asDict() for r in t.read(spark).collect()}
    log = t.read_changelog(spark, from_sid).collect()
    for r in log:
        d = r["doc_id"]
        ct = r["_change_type"]
        if ct == "insert":
            assert d not in before and d in after
        elif ct == "delete":
            assert d in before and d not in after
        else:  # update_preimage / update_postimage pairs
            assert d in before and d in after
    touched = {r["doc_id"] for r in log}
    changed = {
        d
        for d in set(before) | set(after)
        if before.get(d) != after.get(d)
    }
    assert touched == changed


def test_streaming_ingest_across_evolve(spark, tmp_path):
    """The streaming tail keeps applying exactly-once across an evolve
    issued between triggers (the online-resize story: no stream restart,
    no rewrite, same final state)."""
    from cfe_39_spark.streaming.ingest import run_stream

    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    # stream the first half
    import os
    import shutil

    half = str(tmp_path / "log1")
    os.makedirs(half)
    for s in segs[:3]:
        shutil.copy(s, half)
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    ck = str(tmp_path / "ck")
    run_stream(spark, half, t, ck, max_files_per_trigger=2)
    t.evolve_bucket_spec(8)
    for s in segs[3:]:
        shutil.copy(s, half)
    run_stream(spark, half, t, ck, max_files_per_trigger=2)
    assert_state_equal(t.read(spark), fx["expected"])
    assert len(_specs_in_files(t)) == 2


def test_rebucket_collapses_specs(spark, tmp_path):
    """A full rebucket on a mid-migration table rewrites everything into
    one spec and drops the legacy marker."""
    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    _apply_all(spark, t, segs[:3])
    t.evolve_bucket_spec(8)
    _apply_all(spark, t, segs[3:], start=3)
    t.rebucket(spark, 6)  # full rewrite may pick ANY count
    snap = t.snapshot()
    assert "legacy_spec_nb" not in snap
    assert _specs_in_files(t) == {6}
    assert_state_equal(t.read(spark), fx["expected"])


def test_double_evolve_three_live_specs(spark, tmp_path):
    """Two evolutions with writes between: specs {2,4,8} all live, reads
    and migration still exact (divisibility chain 2 | 4 | 8)."""
    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=2)
    _apply_all(spark, t, segs[:2])
    t.evolve_bucket_spec(4)
    _apply_all(spark, t, segs[2:4], start=2)
    t.evolve_bucket_spec(8)
    _apply_all(spark, t, segs[4:], start=4)
    snap = t.snapshot()
    assert snap["legacy_spec_nb"] == 2
    assert _specs_in_files(t) == {2, 4, 8}
    assert t._min_live_spec(snap) == 2
    assert_state_equal(t.read(spark), fx["expected"])
    t.compact(spark, migrate_specs=True)
    assert _specs_in_files(t) == {8}
    assert_state_equal(t.read(spark), fx["expected"])


def test_evolve_racing_inflight_apply_commits_seamlessly(spark, tmp_path, monkeypatch):
    """An evolve landing between a MOR apply's delta write and its commit
    must NOT fail the trigger: the deltas are stamped with the planned
    (still live, divisibility-compatible) spec, so the commit proceeds and
    reads resolve them as old-spec files — the online-resize race is
    free.  An INCOMPATIBLE mid-apply change (non-multiple rebucket) must
    still raise."""
    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    _apply_all(spark, t, segs[:3])

    orig = SequenceTable.commit
    fired = {}

    def racing(self, batch_id, *args, **kwargs):
        if str(batch_id).startswith("3") and "x" not in fired:
            fired["x"] = True
            self.evolve_bucket_spec(8)  # commits via orig underneath
        return orig(self, batch_id, *args, **kwargs)

    monkeypatch.setattr(SequenceTable, "commit", racing)
    _apply_all(spark, t, segs[3:4], start=3)
    monkeypatch.setattr(SequenceTable, "commit", orig)
    assert fired
    snap = t.snapshot()
    assert snap["n_buckets"] == 8
    # batch 3's deltas landed under the planned spec 4 post-evolve
    assert 4 in _specs_in_files(t)
    _apply_all(spark, t, segs[4:], start=4)
    assert_state_equal(t.read(spark), fx["expected"])


def test_incompatible_rebucket_mid_apply_still_raises(spark, tmp_path, monkeypatch):
    from cfe_39_spark.sources.meta import CommitConflictError

    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    _apply_all(spark, t, segs[:2])

    orig = SequenceTable.commit
    fired = {}

    def racing(self, batch_id, *args, **kwargs):
        if str(batch_id).startswith("2") and "x" not in fired:
            fired["x"] = True
            self.rebucket(spark, 6)  # NOT a multiple of 4
        return orig(self, batch_id, *args, **kwargs)

    monkeypatch.setattr(SequenceTable, "commit", racing)
    with pytest.raises(CommitConflictError, match="not a multiple"):
        _apply_all(spark, t, segs[2:3], start=2)


def test_inspect_files_shows_spec_migration_gauge(spark, tmp_path):
    fx = _fixture(tmp_path)
    segs = _segments(tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    _apply_all(spark, t, segs[:3])
    t.evolve_bucket_spec(8)
    _apply_all(spark, t, segs[3:], start=3)
    df = t.inspect(spark, "files")
    specs = {r["spec_nb"] for r in df.select("spec_nb").distinct().collect()}
    assert specs == {4, 8}
