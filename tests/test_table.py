"""Merge-on-read specifics: delta accumulation, read-time resolution,
compaction, auto-compaction, expiry (SURVEY.md §2.1
S3/S6/S8, §4.2 O2/O3)."""

import glob

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources.table import SequenceTable

from .util import assert_state_equal


def _fixture(spark, tmp_path, cfg):
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    return table, fx, segs


def test_mor_compact_preserves_state(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=25, n_events=150, n_segments=4, dup_rate=0.2, seed=51)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    assert table.delta_file_counts(), "MOR replay should leave delta files"
    n_files_before = len(table.snapshot()["files"])
    sid = table.compact(spark)
    assert sid is not None
    assert table.delta_file_counts() == {}
    assert len(table.snapshot()["files"]) < n_files_before
    assert_state_equal(table.read(spark), fx["expected"])
    # compaction is idempotent on the (now-changed) parent: second call is a no-op
    assert table.compact(spark) is None


def test_auto_compaction_triggers(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=15, n_events=120, n_segments=6, seed=59)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    for i, seg in enumerate(segs):
        apply_batch(
            spark, table, spark.read.parquet(seg), batch_id=i, compact_threshold=3
        )
    assert max(table.delta_file_counts().values(), default=0) < 3
    assert any(
        s["batch_id"].startswith("__compact__") for s in table.committed_chain()
    )
    assert_state_equal(table.read(spark), fx["expected"])


def test_expire_after_compact(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=15, n_events=80, n_segments=2, seed=61)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    table.compact(spark)
    stats = table.expire_snapshots(keep_last=1)
    assert stats["removed_snapshots"] >= 1
    assert_state_equal(table.read(spark), fx["expected"])


def test_find_batch_marker_and_crash_window(spark, tmp_path):
    """find_batch is O(1) via per-batch marker objects; an unmarked tip
    suffix (crash after pointer swap, before the marker/log writes) is
    covered by the bounded suffix walk, which self-heals; a table with no
    markers and no log at all (legacy) falls back to the full walk."""
    import os
    import shutil

    cfg = GenConfig(n_docs_initial=10, n_events=60, n_segments=3, seed=67)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    log_path = table._batches_log_path()
    assert os.path.exists(log_path)
    # fresh handle (restart): resolves via the marker, no log parse
    t2 = SequenceTable(table.root)
    assert t2.find_batch("1") is not None
    # crash window: newest commit's marker + log line never landed
    lines = open(log_path).read().splitlines()
    open(log_path, "w").write("\n".join(lines[:-1]) + "\n")
    os.unlink(table._marker_path("2"))
    assert SequenceTable(table.root).find_batch("2") is not None
    # ... and the walk healed the marker: next probe is a point read
    assert SequenceTable(table.root)._read_marker("2") is not None
    # legacy table: no markers, no log -> full walk, then fully healed
    shutil.rmtree(os.path.dirname(table._marker_path("0")))
    os.unlink(log_path)
    assert SequenceTable(table.root).find_batch("0") is not None
    assert SequenceTable(table.root).find_batch("nope") is None
    assert SequenceTable(table.root)._read_marker("1") is not None


def test_time_travel_across_modes(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=20, n_events=100, n_segments=2, seed=63)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    count_after_0 = table.read(spark).count()
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id=1)
    sid0 = table.find_batch("0")
    assert table.read(spark, sid0).count() == count_after_0
    assert_state_equal(table.read(spark), fx["expected"])


def test_timestamp_as_of(spark, tmp_path):
    """TIMESTAMP AS OF: resolve by wall-clock, equal to the id-based read;
    pre-history timestamps error with the re-bootstrap contract."""
    import time

    import pytest

    cfg = GenConfig(n_docs_initial=20, n_events=100, n_segments=2, seed=64)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    t_created = time.time()
    time.sleep(0.02)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    t_after_0 = time.time()
    time.sleep(0.02)
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id=1)

    sid0 = table.find_batch("0")
    assert table.snapshot_as_of(t_after_0) == sid0
    assert table.snapshot_as_of(time.time()) == table.latest_snapshot_id()
    assert table.snapshot_as_of(t_created) == 1  # the create snapshot
    assert_state_equal(
        table.read(spark, as_of_ts=t_after_0), table.read(spark, sid0).toPandas()
    )
    with pytest.raises(KeyError, match="re-bootstrap"):
        table.snapshot_as_of(t_created - 10.0)
    with pytest.raises(ValueError, match="not both"):
        table.read(spark, sid0, as_of_ts=t_after_0)
    # expiry drops old state out of the travel window: after keeping only
    # the latest snapshot, t_after_0 no longer resolves
    table.expire_snapshots(keep_last=1)
    with pytest.raises(KeyError, match="re-bootstrap"):
        table.snapshot_as_of(t_after_0)


def test_buried_unlogged_commit_stays_idempotent(spark, tmp_path):
    """Exactly-once hole regression: a crash between _LATEST swap and the
    batches.log append leaves a committed-but-unlogged snapshot.  The next
    commit's find_batch probe must repair the log BEFORE appending a newer
    line, so the orphan can never be buried below a logged snapshot (which
    would make a later redelivery of its batch double-commit)."""
    import os

    cfg = GenConfig(n_docs_initial=10, n_events=60, n_segments=3, seed=71)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id=1)
    # simulate the crash window: batch 1's log line + marker never landed
    log_path = table._batches_log_path()
    lines = open(log_path).read().splitlines()
    assert lines[-1].startswith("1 ")
    open(log_path, "w").write("\n".join(lines[:-1]) + "\n")
    os.unlink(table._marker_path("1"))
    # next commit (fresh handle = restarted driver) must self-heal the log
    t2 = SequenceTable(table.root)
    apply_batch(spark, t2, spark.read.parquet(segs[2]), batch_id=2)
    logged = open(log_path).read()
    assert any(ln.startswith("1 ") for ln in logged.splitlines())
    # redelivery of batch 1 through yet another fresh handle is a no-op
    res = apply_batch(
        spark, SequenceTable(table.root), spark.read.parquet(segs[1]), batch_id=1
    )
    assert res.noop
    assert_state_equal(SequenceTable(table.root).read(spark), fx["expected"])


def test_rebucket_preserves_state_and_new_layout(spark, tmp_path):
    """O2 maintenance: grow the bucket count mid-history; state must be
    bit-for-bit unchanged and subsequent MERGEs must plan against the new
    layout."""
    cfg = GenConfig(n_docs_initial=20, n_events=120, n_segments=3, seed=73)
    table, fx, segs = _fixture(spark, tmp_path, cfg)  # created with B=4
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id=1)
    before = table.read(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    sid = table.rebucket(spark, 16)
    assert sid is not None
    snap = table.snapshot()
    assert snap["n_buckets"] == 16
    assert table.delta_file_counts() == {}, "rebucket resolves MOR deltas"
    assert max(e["bucket"] for e in snap["files"]) >= 4, "files span new buckets"
    after = table.read(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert before.equals(after)
    # no-op when the count is unchanged; idempotent on batch_id otherwise
    assert table.rebucket(spark, 16) is None
    # a subsequent apply works against the new layout
    apply_batch(spark, table, spark.read.parquet(segs[2]), batch_id=2)
    assert_state_equal(table.read(spark), fx["expected"])


def test_mor_read_resolves_only_delta_buckets(spark, tmp_path):
    """Bucket-scoped MOR read: when deltas touch a subset of buckets, the
    read plan unions clean base files AROUND the LWW aggregate instead of
    shuffling the whole table through it."""
    from pyspark.sql import functions as F

    from cfe_39_spark.plans import plan_string
    from cfe_39_spark.sources.table import lww_resolve

    cfg = GenConfig(n_docs_initial=24, n_events=80, n_segments=2, seed=79)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    seg = spark.read.parquet(segs[0])
    one_doc = seg.select("doc_id").first()["doc_id"]
    apply_batch(spark, table, seg.filter(F.col("doc_id") == one_doc), batch_id=0)
    snap = table.snapshot()
    dirty = {e["bucket"] for e in snap["files"] if e.get("kind") == "delta"}
    assert len(dirty) == 1, "single-doc delta must dirty exactly one bucket"
    resolved = table.read_state(spark)
    p = plan_string(resolved)
    assert "Union" in p, "clean buckets must bypass the LWW aggregate"
    # semantics: bucket-scoped resolution == whole-table resolution
    full = lww_resolve(table._read_files(spark, snap, snap["files"]))
    a = resolved.orderBy("doc_id").toPandas().drop(columns=["tokens"])
    b = full.orderBy("doc_id").toPandas().drop(columns=["tokens"])
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_time_based_expiry(spark, tmp_path):
    """expire_snapshots(older_than_s=...) is the wall-clock retention
    contract (VERDICT r3 #7): snapshots committed within the window
    survive, older ones go, the keep_last floor always holds, and table
    state is untouched."""
    cfg = GenConfig(n_docs_initial=15, n_events=80, n_segments=4, seed=67)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    chain = table.committed_chain()
    assert all("committed_at" in s for s in chain)
    n = len(chain)
    # everything is seconds old: a 1-hour window keeps the full chain
    stats = table.expire_snapshots(keep_last=1, older_than_s=3600)
    assert stats["removed_snapshots"] == 0
    assert len(table.committed_chain()) == n
    # age the older half artificially (rewrite their committed_at stamps)
    from cfe_39_spark.sources import fs as fsmod
    import time as _t

    for s in chain[2:]:
        s2 = dict(s, committed_at=_t.time() - 7200)
        fsmod.write_json_atomic(table._snap_path(s["snapshot_id"]), s2)
    stats = table.expire_snapshots(keep_last=1, older_than_s=3600)
    assert stats["removed_snapshots"] == n - 2
    kept = table.committed_chain()
    assert len(kept) == 2 and kept[-1]["parent_id"] is None
    assert_state_equal(table.read(spark), fx["expected"])
    # keep_last floor: even with everything "old", the newest survives
    for s in table.committed_chain():
        s2 = dict(s, committed_at=_t.time() - 7200)
        fsmod.write_json_atomic(table._snap_path(s["snapshot_id"]), s2)
    table.expire_snapshots(keep_last=1, older_than_s=3600)
    assert len(table.committed_chain()) == 1
    assert_state_equal(table.read(spark), fx["expected"])


def test_expiry_with_live_changelog_cursor_raises_rebootstrap(spark, tmp_path):
    """A read_changes consumer whose cursor fell behind retention must get
    the explicit re-bootstrap error (Iceberg's dedicated error role), and
    the mirror loop surfaces it rather than silently skipping the gap."""
    import pytest

    from cfe_39_spark.streaming import mirror

    cfg = GenConfig(n_docs_initial=15, n_events=80, n_segments=4, seed=71)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    # live cursor at snapshot 2; retention then expires snapshots 2..n-1
    dst = SequenceTable.create(spark, str(tmp_path / "dst"), n_buckets=4)
    chk = str(tmp_path / "chk")
    from cfe_39_spark.sources import fs as fsmod

    fsmod.write_json_atomic(chk + "/mirror-cursor.json", {"from_snapshot_id": 2})
    table.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="re-bootstrap"):
        table.read_changes(spark, 2)
    with pytest.raises(ValueError, match="re-bootstrap"):
        mirror.mirror_once(spark, table, dst, chk)


def test_expiry_orphan_grace_protects_inflight_dirs(spark, tmp_path):
    """Expiry is safe concurrent with writers (metadata pass runs under the
    commit mutex; data dirs are staged BEFORE a writer takes that lock):
    a data dir referenced by NO snapshot — crash orphan or in-flight
    commit — survives until older than orphan_grace_s (Iceberg's
    deleteOrphanFiles(olderThan=...) contract), while expired-snapshot
    metadata is reaped immediately."""
    import os
    import time

    cfg = GenConfig(n_docs_initial=15, n_events=80, n_segments=2, seed=311)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    # simulate an in-flight writer: staged data dir, commit() not yet called
    inflight = os.path.join(table.data_dir, "commit-inflight-deadbeef")
    os.makedirs(os.path.join(inflight, "_bucket=0"))
    with open(os.path.join(inflight, "_bucket=0", "part-0.parquet"), "wb") as f:
        f.write(b"x")
    stats = table.expire_snapshots(keep_last=1)
    assert stats["removed_snapshots"] >= 1
    assert os.path.isdir(inflight), "fresh unreferenced dir must survive"
    assert_state_equal(table.read(spark), fx["expected"])
    # age the orphan past the (6 h default) grace: the next pass reaps it
    old = time.time() - 100_000
    os.utime(inflight, (old, old))
    table.expire_snapshots(keep_last=1)
    assert not os.path.exists(inflight)
    # the pass released the commit mutex: writers proceed normally after
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id="post-expiry")
    assert_state_equal(table.read(spark), fx["expected"])


def test_compact_tombstone_retention_watermark(spark, tmp_path):
    """Tombstones are retained by default (replay guards), but a
    delete-heavy 10^10-event stream must be able to bound their growth:
    compact(drop_tombstones_before=<event-time watermark>) physically
    drops tombstones older than the late-data bound during the rewrite,
    without touching live-row state."""
    cfg = GenConfig(n_docs_initial=30, n_events=200, n_segments=2, seed=401)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0,
                compact_threshold=None)
    n_tomb0 = table.read_state(spark).filter("_deleted").count()
    # default compact: replay guards survive
    table.compact(spark)
    assert table.read_state(spark).filter("_deleted").count() == n_tomb0
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id=1,
                compact_threshold=None)
    st = table.read_state(spark)
    n_tomb = st.filter("_deleted").count()
    assert n_tomb > 0, "fixture must produce deletes"
    # a mid-stream watermark drops only the strictly-older tombstones
    mid = st.filter("_deleted").selectExpr(
        "timestamp_micros(cast(percentile(unix_micros(_last_event_time), 0.5)"
        " as bigint)) as m").collect()[0]["m"]
    table.compact(spark, drop_tombstones_before=mid)
    kept = table.read_state(spark).filter("_deleted")
    assert kept.count() < n_tomb
    assert kept.filter(f"_last_event_time < timestamp'{mid}'").count() == 0
    # live state is untouched by tombstone GC
    assert_state_equal(table.read(spark), fx["expected"])
    # the watermark that authorized the drop is auditable in lineage
    tip = table.snapshot()
    assert tip["lineage"]["tombstones_dropped_before"] == str(mid)


def test_auto_compaction_targets_only_offending_buckets(spark, tmp_path):
    """Per-trigger compaction pause must be O(offending buckets): when one
    bucket crosses the threshold, only at-threshold buckets are rewritten
    (a whole-table rewrite inside a trigger is a stream stall at 1024
    buckets), and every bucket stays under the threshold afterwards."""
    cfg = GenConfig(n_docs_initial=25, n_events=60, n_segments=6,
                    key_dist="hot", seed=503)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    # 16 buckets x ~10 events/segment: deltas accumulate unevenly, so
    # buckets cross the threshold at different triggers
    table = SequenceTable.create(spark, str(tmp_path / "table"), init,
                                 n_buckets=16)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i,
                    compact_threshold=2)
    compactions = [s for s in table.committed_chain()
                   if s["batch_id"].startswith("__compact__")]
    assert compactions, "threshold 2 over 6 segments must trip compaction"
    nb = table.snapshot()["n_buckets"]
    assert all(len(s["lineage"]["compacted_buckets"]) < nb for s in compactions), \
        "a compaction pass rewrote every bucket"
    assert max(table.delta_file_counts().values(), default=0) < 2
    assert_state_equal(table.read(spark), fx["expected"])


def test_expire_forget_batches_bounds_idempotency_metadata(spark, tmp_path):
    """Opt-in marker GC: without it the per-batch marker set grows
    O(total commits) forever.  forget_batches=True drops expired
    snapshots' markers + log lines; a redelivery of a forgotten batch
    then RE-APPLIES, and row-level LWW idempotency (layer 2) makes that
    re-apply a state no-op — wasted work, never corruption."""
    import os

    cfg = GenConfig(n_docs_initial=15, n_events=90, n_segments=3, seed=313)
    table, fx, segs = _fixture(spark, tmp_path, cfg)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    table.tag("keep-me", table.find_batch("1"))
    bdir = os.path.join(table.meta_dir, "batches")
    n_before = len(os.listdir(bdir))
    stats = table.expire_snapshots(
        keep_last=1, orphan_grace_s=0.0, forget_batches=True
    )
    assert stats["forgotten_batches"] > 0
    # retained tip + tagged snapshot keep their markers; the rest are gone
    assert len(os.listdir(bdir)) == n_before - stats["forgotten_batches"]
    assert table.find_batch("2") is not None  # tip retained
    assert table._read_marker("1") is not None  # tagged: still suppressed
    assert table.find_batch("0") is None  # forgotten
    # the log's newest entry still names the tip (recovery invariant)
    logged = table._batches_log()
    assert max(logged.values()) == table.latest_snapshot_id()
    # redelivery of the forgotten batch re-applies but is a state no-op
    before = sorted(map(tuple, table.read(spark).collect()))
    r = apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    assert not r.noop
    after = sorted(map(tuple, SequenceTable(table.root).read(spark).collect()))
    assert after == before
    assert_state_equal(SequenceTable(table.root).read(spark), fx["expected"])
