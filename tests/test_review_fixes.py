"""Regressions for the round-4 self-review findings: legacy-file schema
evolution on bookkeeping columns, clock-skew-safe time-based retention,
refs.json pointer-swap window, thread-safe manifest cache, orphan-grace
restamping, and CLI snapshot selectors accepting tag names."""

import glob
import json
import os
import sys
import threading
import time

import pyarrow.parquet as pq

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources import fs
from cfe_39_spark.sources.meta import _LRUCache
from cfe_39_spark.sources.table import SequenceTable

from .util import assert_state_equal

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)
import submit_ingest  # noqa: E402


def _replayed(spark, tmp_path, n_segments=3, seed=83, dup_rate=0.2):
    cfg = GenConfig(
        n_docs_initial=20,
        n_events=120,
        n_segments=n_segments,
        dup_rate=dup_rate,
        seed=seed,
    )
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    return table, fx, segs


def test_legacy_files_missing_new_bookkeeping_col_readable(spark, tmp_path):
    """Data files written before a bookkeeping column existed (e.g.
    _last_src_partition landed after v1 tables were in production) must
    null-fill on read like any read-side schema evolution — not crash the
    select.  The LWW ordering coalesces the nulls to the legacy sentinel."""
    table, fx, segs = _replayed(spark, tmp_path)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    before = sorted(map(tuple, table.read(spark).collect()))
    # strip the column from EVERY physical file (base and MOR delta alike),
    # simulating a table whose files predate the column
    for e in table.snapshot()["files"]:
        p = os.path.join(table.root, e["path"])
        t = pq.read_table(p)
        assert "_last_src_partition" in t.column_names
        pq.write_table(t.drop_columns(["_last_src_partition"]), p)
        crc = os.path.join(os.path.dirname(p), "." + os.path.basename(p) + ".crc")
        if os.path.exists(crc):
            os.unlink(crc)  # stale Hadoop checksum sidecar from the original write
    # the in-place rewrite is a test device (real files are immutable);
    # drop Spark's cached file sizes so the reread sees the new footers
    spark.catalog.refreshByPath(table.root)
    t2 = SequenceTable(table.root)
    after = sorted(map(tuple, t2.read(spark).collect()))
    assert after == before
    assert_state_equal(t2.read(spark), fx["expected"])
    # and a new batch over the legacy files still merges cleanly
    # (compaction reads old files, writes them back with the column)
    t2.compact(spark)
    assert_state_equal(SequenceTable(table.root).read(spark), fx["expected"])


def test_time_based_expiry_is_prefix_under_clock_skew(spark, tmp_path):
    """Multi-writer clock skew can make committed_at non-monotone along
    the chain; time-based retention must cut at the FIRST too-old snapshot
    (a chain prefix), never expire a mid-chain snapshot out from under
    kept descendants."""
    table, fx, segs = _replayed(spark, tmp_path, n_segments=4, seed=89)
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    chain = table.committed_chain()  # newest first
    assert len(chain) == 5
    now = time.time()
    # newest two fresh; third OLD; fourth stamped in the future by a
    # skewed writer clock; fifth old — a naive per-snapshot filter would
    # keep the fourth and delete the third, bricking the chain
    stamps = [now, now, now - 10_000.0, now + 5_000.0, now - 10_000.0]
    for s, ts in zip(chain, stamps):
        p = table._snap_path(s["snapshot_id"])
        d = json.load(open(p))
        d["committed_at"] = ts
        fs.write_json_atomic(p, d)
    table.expire_snapshots(keep_last=1, older_than_s=3600.0)
    kept = SequenceTable(table.root).committed_chain()
    assert [s["snapshot_id"] for s in kept] == [
        chain[0]["snapshot_id"],
        chain[1]["snapshot_id"],
    ]
    assert kept[-1]["parent_id"] is None
    # the skew-stamped mid-chain snapshot is gone WITH everything below it
    assert not fs.exists(table._snap_path(chain[3]["snapshot_id"]))
    assert_state_equal(SequenceTable(table.root).read(spark), fx["expected"])


def test_refs_survive_pointer_swap_window(spark, tmp_path):
    """On rename-no-overwrite backends the refs.json swap opens a no-file
    window; readers must fall back to the previous consistent ref set
    instead of crashing or seeing every tag vanish."""
    table, fx, segs = _replayed(spark, tmp_path, n_segments=2, seed=97)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    sid_a = table.tag("a")
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id=1)
    table.tag("b")
    # simulate a crash mid-swap: refs.json deleted, new file never renamed
    fs.unlink(table._refs_path())
    t2 = SequenceTable(table.root)
    assert t2.tags() == {"a": sid_a}  # the pre-op state, not {} or a crash
    assert t2.resolve_ref("a") == sid_a
    # the next write recreates refs.json from the fallback state
    t2.tag("c")
    assert set(SequenceTable(table.root).tags()) == {"a", "c"}


def test_lru_cache_thread_safety():
    """Read paths are lock-free by design; the process-wide manifest cache
    must survive concurrent get/set/pop without KeyError."""
    c = _LRUCache()
    errs = []

    def worker(base):
        try:
            for k in range(800):
                key = f"k{(base * 131 + k) % 300}"
                c[key] = [k]
                c.get(f"k{(base + k * 7) % 300}")
                c.pop(f"k{(base + k * 3) % 300}", None)
        except Exception as e:  # pragma: no cover - the regression itself
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []


def test_staged_dir_restamped_after_write(spark, tmp_path, monkeypatch):
    """The orphan-grace clock must start when the data write COMPLETES: a
    Spark job longer than the grace leaves the staged dir's top-level
    mtime at job start, and a concurrent expire would reap the in-flight
    stage.  Writers restamp the dir after the write."""
    touched = []
    real_touch = fs.touch
    monkeypatch.setattr(fs, "touch", lambda p: (touched.append(p), real_touch(p)))
    cfg = GenConfig(n_docs_initial=10, n_events=40, n_segments=1, seed=101)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=2)
    assert any(os.sep + "data" + os.sep in p for p in touched)


def test_cli_snapshot_selector_accepts_tags(spark, tmp_path, capsys):
    """rollback --to-snapshot (and changes --from/--to) take tag names."""
    assert submit_ingest._sid_or_ref("5") == 5
    assert submit_ingest._sid_or_ref("train-v1") == "train-v1"
    table, fx, segs = _replayed(spark, tmp_path, n_segments=2, seed=103)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    table.tag("good")
    good_state = sorted(map(tuple, table.read(spark).collect()))
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id=1)
    rc = submit_ingest.main(
        ["rollback", "--table", table.root, "--to-snapshot", "good"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rolled_back_to"] == "good"
    now = sorted(map(tuple, SequenceTable(table.root).read(spark).collect()))
    assert now == good_state
