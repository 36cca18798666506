"""Manifest segmentation (Iceberg manifest-list role; SURVEY.md §4.2 O4,
§10.5): commit metadata must be O(batch), not O(live files).

Every streaming commit writes ONE new segment holding only its own files
and carries the parent's segments by reference; coalescing bounds the
per-snapshot segment count; expiry GCs unreachable segments; v1 inline
descriptors stay readable and are folded into segments by the next commit.
"""

import glob
import json
import os

from cfe_39_spark import fixtures
from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources import fs
from cfe_39_spark.sources import meta as table_mod
from cfe_39_spark.sources.meta import PARENT_FILES
from cfe_39_spark.sources.table import SequenceTable

from .util import assert_state_equal


def _fixture(spark, tmp_path, cfg, n_buckets=4):
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=n_buckets)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    return table, fx, segs


def test_mor_commit_metadata_is_o_batch(spark, tmp_path):
    """The scale property itself: a MOR trigger's descriptor write must not
    grow with the live file count — parent segments are reused by
    REFERENCE (same path strings), and each commit adds at most one new
    segment holding only its own delta files."""
    cfg = GenConfig(n_docs_initial=30, n_events=240, n_segments=6, seed=71)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    sizes, seg_paths = [], []
    for i, seg in enumerate(segs):
        # compaction off: let segments accumulate so growth is observable
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i,
                    compact_threshold=None)
        snap = table.snapshot()
        sizes.append(os.path.getsize(table._snap_path(snap["snapshot_id"])))
        seg_paths.append([r["path"] for r in snap["manifests"]])
    # by-reference carry: every parent segment appears verbatim in the child
    for prev, cur in zip(seg_paths, seg_paths[1:]):
        assert set(prev) <= set(cur)
        assert len(cur) == len(prev) + 1  # exactly one new segment per trigger
    # descriptor growth per commit is the ~100-byte segment ref, not a file
    # list: successive descriptors differ by well under one file entry's JSON
    deltas = [b - a for a, b in zip(sizes, sizes[1:])]
    assert max(deltas) < 400, (sizes, deltas)
    assert_state_equal(table.read(spark), fx["expected"])


def test_coalescing_bounds_segment_count(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(table_mod, "_MANIFEST_TARGET", 4)
    cfg = GenConfig(n_docs_initial=20, n_events=300, n_segments=10, seed=73)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i,
                    compact_threshold=None)
        snap = table.snapshot()
        assert len(snap["manifests"]) <= 4
        # ref aggregates stay truthful through coalesces
        assert sum(r["n_files"] for r in snap["manifests"]) == len(snap["files"])
    assert_state_equal(table.read(spark), fx["expected"])
    # the compaction gauge (read off ref aggregates, no segment loads)
    # agrees with a full entry scan
    by_scan: dict[int, int] = {}
    for e in table.snapshot()["files"]:
        if e.get("kind", "base") == "delta":
            by_scan[e["bucket"]] = by_scan.get(e["bucket"], 0) + 1
    assert table.delta_file_counts() == by_scan


def test_compaction_rewrites_only_touched_segments(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=25, n_events=200, n_segments=4, seed=79)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i,
                    compact_threshold=None)
    dirty = sorted(table.delta_file_counts())
    assert len(dirty) >= 2
    before = table.snapshot()
    table.compact(spark, buckets=[dirty[0]])
    after = table.snapshot()
    # a segment whose entries all survive the compaction is carried by
    # reference; only segments holding the compacted bucket are rewritten
    kept = {r["path"] for r in before["manifests"]} & {
        r["path"] for r in after["manifests"]
    }
    untouched = [
        r["path"]
        for r in before["manifests"]
        if all(e["bucket"] != dirty[0] for e in table._load_manifest(r))
    ]
    assert set(untouched) <= kept
    assert dirty[0] not in table.delta_file_counts()
    assert_state_equal(table.read(spark), fx["expected"])


def test_expiry_gcs_unreachable_segments(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=20, n_events=160, n_segments=4, seed=83)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    # compaction rewrites the delta segments, leaving the pre-compaction
    # ones reachable only through history — expiry must reclaim them
    table.compact(spark)
    mdir = table._manifest_dir()
    n_before = len(fs.listdir(mdir))
    table.expire_snapshots(keep_last=1)
    live = {r["path"] for r in table.snapshot()["manifests"]}
    on_disk = {os.path.join("manifests", f) for f in fs.listdir(mdir)}
    assert on_disk == live, "exactly the reachable segments survive"
    assert len(on_disk) < n_before
    assert_state_equal(table.read(spark), fx["expected"])


def test_rollback_shares_segments(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=20, n_events=160, n_segments=4, seed=89)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    target_sid = table.latest_snapshot_id()
    want = table.read(spark).toPandas()
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id=1)
    rb_sid = table.rollback(target_sid)
    rb = table.snapshot(rb_sid)
    assert [r["path"] for r in rb["manifests"]] == [
        r["path"] for r in table.snapshot(target_sid)["manifests"]
    ], "rollback copies segment references, not file lists"
    assert_state_equal(table.read(spark), want)


def test_v1_inline_descriptor_backcompat(spark, tmp_path):
    """A pre-segmentation table (inline "files") stays readable, and the
    first commit on top folds the inline list into segments."""
    cfg = GenConfig(n_docs_initial=20, n_events=120, n_segments=2, seed=97)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    # rewrite the tip descriptor in v1 form (inline files, no manifests)
    snap = table.snapshot()
    v1 = {k: v for k, v in snap.items() if k != "manifests"}
    v1["files"] = list(snap["files"])
    fs.write_json_atomic(table._snap_path(snap["snapshot_id"]), v1)
    t2 = SequenceTable(table.root)
    assert len(t2.snapshot()["files"]) == len(v1["files"])
    # MOR commit on a v1 parent (PARENT_FILES carry) folds inline -> segments
    apply_batch(spark, t2, spark.read.parquet(segs[0]), batch_id=0)
    child = t2.snapshot()
    assert child["manifests"] and "files" not in dict(child)
    # the general (materialized-carry) path on a v1 parent too
    t2.commit("noop-carry", [], t2.snapshot()["files"])
    apply_batch(spark, t2, spark.read.parquet(segs[1]), batch_id=1)
    assert_state_equal(t2.read(spark), fx["expected"])


def test_parent_files_sentinel_equals_materialized_carry(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=15, n_events=80, n_segments=1, seed=101)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    base = table.snapshot()["files"]
    s1 = table.commit("by-ref", [], PARENT_FILES)
    s2 = table.commit("by-list", [], table.snapshot()["files"])
    f1 = sorted(json.dumps(e, sort_keys=True) for e in table.snapshot(s1)["files"])
    f2 = sorted(json.dumps(e, sort_keys=True) for e in table.snapshot(s2)["files"])
    f0 = sorted(json.dumps(e, sort_keys=True) for e in base)
    assert f0 == f1 == f2


def test_long_stream_metadata_stays_bounded(spark, tmp_path):
    """Integration soak for the whole metadata lifecycle: 40 triggers with
    auto-compaction on and retention running every 10 triggers must leave
    BOUNDED metadata — segment count under the coalesce target, descriptor
    under a fixed size, on-disk segments exactly the reachable set — while
    the final state still equals the oracle and expired batch ids stay
    replay-suppressed (markers survive retention by design)."""
    cfg = GenConfig(n_docs_initial=40, n_events=800, n_segments=40,
                    dup_rate=0.1, seed=131)
    table, fx, segs = _fixture(spark, tmp_path, cfg, n_buckets=4)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i,
                    compact_threshold=3)
        if (i + 1) % 10 == 0:
            table.expire_snapshots(keep_last=3)
    table.expire_snapshots(keep_last=2)
    snap = table.snapshot()
    assert len(snap["manifests"]) <= table_mod._MANIFEST_TARGET
    assert os.path.getsize(table._snap_path(snap["snapshot_id"])) < 32_768
    live = {r["path"] for s in table.committed_chain() for r in s["manifests"]}
    on_disk = {os.path.join("manifests", f) for f in fs.listdir(table._manifest_dir())}
    assert on_disk == live
    # replay suppression outlives retention: an expired batch id is still a
    # committed no-op, not a re-apply
    r = apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    assert r.noop
    assert_state_equal(table.read(spark), fx["expected"])


def test_crashed_commit_leaves_only_gc_able_orphan_segment(spark, tmp_path):
    """A writer that dies after writing its manifest segment but before the
    pointer swap must leave readers untouched; the orphan segment and
    descriptor are reaped by the next retention pass (under the commit
    mutex, so nothing in flight can be confused for garbage)."""
    cfg = GenConfig(n_docs_initial=20, n_events=120, n_segments=2, seed=211)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    tip = table.latest_snapshot_id()
    want = table.read(spark).toPandas()
    # simulate the torn commit: segment + descriptor exist, no pointer swap,
    # no log line, no marker (the exact crash window after fs sync)
    orphan_ref = table._write_manifest(tip + 1, [])
    snap = dict(table.snapshot())
    snap.pop("files", None)
    snap.update(snapshot_id=tip + 1, parent_id=tip, batch_id="torn",
                manifests=list(table.snapshot()["manifests"]) + [orphan_ref])
    fs.write_json_atomic(table._snap_path(tip + 1), snap)
    # readers: unaffected (pointer still at tip)
    t2 = SequenceTable(table.root)
    assert t2.latest_snapshot_id() == tip
    assert t2.read(spark).toPandas().sort_values("doc_id").equals(
        want.sort_values("doc_id"))
    # next writer proceeds (skips the orphan id), then expiry reaps both
    apply_batch(spark, t2, spark.read.parquet(segs[1]), batch_id=1)
    t2.expire_snapshots(keep_last=2)
    on_disk = {os.path.join("manifests", f) for f in fs.listdir(t2._manifest_dir())}
    live = {r["path"] for s in t2.committed_chain() for r in s["manifests"]}
    assert orphan_ref["path"] not in on_disk
    assert on_disk == live
    assert not os.path.exists(t2._snap_path(tip + 1))
    assert_state_equal(t2.read(spark), fx["expected"])
