"""Named snapshot refs (tags): pinned, expiry-proof table states — the
reproducible-training-snapshot contract (Iceberg tag-ref semantics on the
from-scratch SequenceTable; SURVEY.md §2.1 S3/S8)."""

import glob

import pytest

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources import fs
from cfe_39_spark.sources.table import SequenceTable

from .util import assert_state_equal


def _replayed(spark, tmp_path, n_segments=4, seed=61):
    cfg = GenConfig(
        n_docs_initial=20, n_events=120, n_segments=n_segments, dup_rate=0.2, seed=seed
    )
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    return table, fx, segs


def test_tag_read_and_validation(spark, tmp_path):
    table, fx, segs = _replayed(spark, tmp_path)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    sid = table.tag("after-b0")
    assert sid == table.latest_snapshot_id()
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id=1)
    # read by tag == read by id
    by_tag = table.read(spark, "after-b0").orderBy("doc_id").collect()
    by_id = table.read(spark, sid).orderBy("doc_id").collect()
    assert by_tag == by_id
    # lookup and read_changes accept tag names too
    some_doc = by_tag[0]["doc_id"]
    assert table.lookup(spark, [some_doc], "after-b0").count() == 1
    assert (
        table.read_changes(spark, "after-b0").count()
        == table.read_changes(spark, sid).count()
    )
    # a duplicate tag needs replace=True; unknown snapshots are rejected
    with pytest.raises(ValueError, match="already points"):
        table.tag("after-b0", snapshot_id=sid - 1)
    assert table.tag("after-b0", snapshot_id=sid - 1, replace=True) == sid - 1
    with pytest.raises(ValueError, match="no such snapshot"):
        table.tag("ghost", snapshot_id=9999)
    with pytest.raises(KeyError):
        table.resolve_ref("never-created")
    with pytest.raises(KeyError):
        table.remove_tag("never-created")


def test_tagged_snapshot_survives_expiry(spark, tmp_path):
    table, fx, segs = _replayed(spark, tmp_path)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    pinned_sid = table.tag("train-v1")
    pinned = table.read(spark, "train-v1").orderBy("doc_id").collect()
    for i, seg in enumerate(segs[1:], start=1):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    # retention rolls past the tag; its neighbours are reaped, it is not
    table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    retained = {
        int(f[5:-5])
        for f in fs.listdir(table.meta_dir)
        if f.startswith("snap-") and f.endswith(".json")
    }
    assert pinned_sid in retained
    assert retained == {pinned_sid, table.latest_snapshot_id()}
    # detached but bit-for-bit readable (descriptor + segments + data dirs)
    assert table.read(spark, "train-v1").orderBy("doc_id").collect() == pinned
    # live state unaffected
    assert_state_equal(table.read(spark), fx["expected"])
    # detached = off the committed chain: changelog spans refuse it clearly
    with pytest.raises(ValueError):
        table.read_changes(spark, "train-v1")
    # unpin -> next pass reaps it
    table.remove_tag("train-v1")
    table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert not fs.exists(table._snap_path(pinned_sid))
    assert_state_equal(table.read(spark), fx["expected"])


def test_tag_writes_abort_when_lock_stale_broken(tmp_path, monkeypatch):
    """Spark-free: ``tag`` and ``remove_tag`` verify the commit mutex
    before rewriting ``refs.json``, like every other metadata write.  A
    lock stale-broken mid-section raises ``CommitConflictError`` and
    leaves the refs untouched."""
    import os

    from cfe_39_spark.sources.meta import CommitConflictError

    from .test_refs_property import _fresh_table

    t = _fresh_table(str(tmp_path))
    t.tag("keep", 1)
    before = fs.read_text(t._refs_path())
    lockp = os.path.join(t.meta_dir, "_LOCK")
    real_verify = fs.mutex.verify

    def sabotage(self):
        # the lock broken and taken between acquisition and the write
        with open(self.path, "wb") as f:
            f.write(b"thief:token")
        return real_verify(self)

    monkeypatch.setattr(fs.mutex, "verify", sabotage)
    for call in (lambda: t.tag("new", 1), lambda: t.remove_tag("keep")):
        with pytest.raises(CommitConflictError):
            call()
        os.unlink(lockp)  # the thief releases its lock
    assert fs.read_text(t._refs_path()) == before
