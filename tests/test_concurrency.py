"""Optimistic concurrency (multi-writer safety): commit CAS, metadata
lock, and the MOR property that concurrent appliers commute — LWW
resolution by (event_time, offset) makes the final state independent of
commit interleaving, so parallel writers need only linearized metadata
swaps, never coordinated data writes."""

import glob
from concurrent.futures import ThreadPoolExecutor

import pytest

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources import fs
from cfe_39_spark.sources.meta import CommitConflictError
from cfe_39_spark.sources.table import SequenceTable

from .util import assert_state_equal


def test_commit_cas_rejects_stale_parent(spark, tmp_path):
    fx = write_fixture(str(tmp_path / "fx"), GenConfig(n_docs_initial=10, n_events=40, n_segments=1, seed=83))
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    seg = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))[0]
    apply_batch(spark, t, spark.read.parquet(seg), batch_id=0)
    assert t.latest_snapshot_id() == 2
    with pytest.raises(CommitConflictError, match="planned against snapshot 1"):
        t.commit("stale", [], t.snapshot()["files"], expected_parent_id=1)


def test_mutex_excludes_and_breaks_stale(tmp_path):
    lock = str(tmp_path / "meta" / "_LOCK")
    with fs.mutex(lock):
        with pytest.raises(TimeoutError):
            with fs.mutex(lock, timeout_s=0.2):
                pass
    # a lock left behind by a crashed holder is broken after stale_s
    with fs.mutex(lock):
        pass  # released cleanly
    import os
    import time

    fd = open(lock, "w")
    fd.write("dead")
    fd.close()
    os.utime(lock, (time.time() - 120, time.time() - 120))
    with fs.mutex(lock, stale_s=60):
        pass  # broke the stale lock instead of timing out


def test_concurrent_mor_writers_converge(spark, tmp_path):
    """Three MOR appliers committing concurrently (own table handle each,
    shared root) must all land, and the final state must equal the oracle
    — MOR applies commute under the LWW rule, so any interleaving the
    lock+CAS loop linearizes is correct."""
    cfg = GenConfig(n_docs_initial=25, n_events=160, n_segments=4, dup_rate=0.2,
                    shuffle_within_segments=True, seed=85)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    root = str(tmp_path / "t")
    SequenceTable.create(spark, root, init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))

    def worker(i_seg):
        i, seg = i_seg
        handle = SequenceTable(root)  # independent writer
        return apply_batch(spark, handle, spark.read.parquet(seg), batch_id=i,
                           compact_threshold=None)

    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(worker, enumerate(segs)))
    assert all(r.snapshot_id for r in results)
    t = SequenceTable(root)
    chain = t.committed_chain()
    assert len(chain) == 1 + len(segs)  # create + one commit per writer
    assert_state_equal(t.read(spark), fx["expected"])


def test_commit_rejects_divergent_schema_for_same_version(spark, tmp_path):
    """Two writers racing to register DIFFERENT schemas under the same
    version number: the second must get CommitConflictError (round 2
    silently clobbered the registry entry, so files written under the
    first registration would decode with the second's column set)."""
    from pyspark.sql import types as T

    fx = write_fixture(str(tmp_path / "fx"),
                       GenConfig(n_docs_initial=10, n_events=30, n_segments=1, seed=91))
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    base = t.user_schema().fields
    s_a = T.StructType(base + [T.StructField("added_a", T.LongType(), True)])
    s_b = T.StructType(base + [T.StructField("added_b", T.StringType(), True)])
    files = t.snapshot()["files"]
    t.commit("sv2-a", [], files, schema_version=2, new_schema=s_a)
    with pytest.raises(CommitConflictError, match="schema version 2"):
        t.commit("sv2-b", [], files, schema_version=2, new_schema=s_b)
    # re-registering the SAME schema for the version stays idempotent
    t.commit("sv2-c", [], files, schema_version=2, new_schema=s_a)


def test_mutex_heartbeat_protects_slow_holder(tmp_path):
    """A slow-but-LIVE holder must never be broken: the heartbeat thread
    keeps the lock's mtime fresh, so a waiter with a tiny stale_s times
    out instead of stealing the lock mid-critical-section."""
    import threading
    import time

    lock = str(tmp_path / "meta" / "_LOCK")
    entered = threading.Event()
    release = threading.Event()

    def slow_holder():
        with fs.mutex(lock, stale_s=0.4):
            entered.set()
            release.wait(5)

    th = threading.Thread(target=slow_holder)
    th.start()
    assert entered.wait(5)
    time.sleep(1.0)  # well past stale_s; heartbeat must have refreshed mtime
    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        with fs.mutex(lock, timeout_s=0.5, stale_s=0.4):
            pass
    assert time.monotonic() - t0 >= 0.4  # waited, didn't steal
    release.set()
    th.join(5)
    # after a clean release the lock is acquirable again
    with fs.mutex(lock, timeout_s=2, stale_s=60):
        pass


def test_mutex_exit_does_not_unlink_next_holders_lock(tmp_path):
    """If a holder overruns and its lock is broken + re-acquired by another
    writer, the overrunning holder's __exit__ must leave the NEW lock in
    place (token-scoped unlink)."""
    import os

    lock = str(tmp_path / "meta" / "_LOCK")
    m1 = fs.mutex(lock, stale_s=60)
    m1.__enter__()
    m1._hb_stop.set()  # simulate a frozen holder: heartbeat dies
    m1._hb_thread.join(2)
    # another writer breaks the (now genuinely stale-looking) lock
    os.utime(lock, (1, 1))
    m2 = fs.mutex(lock, timeout_s=2, stale_s=0.1)
    m2.__enter__()
    # the frozen holder wakes up and exits: must NOT remove m2's lock
    m1.__exit__(None, None, None)
    assert os.path.exists(lock)
    m2.__exit__(None, None, None)
    assert not os.path.exists(lock)


def test_mutex_verify_detects_lost_lock(tmp_path):
    """A holder whose lock was stale-broken (or lost to the break-restore
    race) must fail verify() BEFORE the irreversible metadata swap — the
    hole ADVICE r3 flagged in the rename->link restore window."""
    lock_path = str(tmp_path / "_LOCK")
    with fs.mutex(lock_path) as lk:
        assert lk.still_held()
        lk.verify()  # held: no raise
        # simulate a waiter breaking the lock and acquiring it
        import os

        os.unlink(lock_path)
        with open(lock_path, "wb") as f:
            f.write(b"someone-else:token")
        assert not lk.still_held()
        with pytest.raises(fs.LockLostError):
            lk.verify()
    # __exit__ must NOT unlink the new holder's lock
    with open(lock_path, "rb") as f:
        assert f.read() == b"someone-else:token"


def test_mutex_heartbeat_survives_transient_missing_path(tmp_path):
    """The heartbeat must retry a transiently-missing lock file (the
    stale-breaker's rename->restore window) instead of dying — otherwise a
    restored holder silently loses stale protection (ADVICE r3)."""
    import os
    import time

    lock_path = str(tmp_path / "_LOCK")
    with fs.mutex(lock_path, stale_s=0.4) as lk:
        # simulate the breaker's window: file gone for a moment, restored
        os.rename(lock_path, lock_path + ".trash")
        time.sleep(0.3)  # heartbeat fires >=1x on the missing path
        os.rename(lock_path + ".trash", lock_path)
        st0 = os.stat(lock_path).st_mtime_ns
        time.sleep(0.3)  # heartbeat must still be alive and beating
        assert os.stat(lock_path).st_mtime_ns > st0
        assert lk.still_held()


def test_commit_aborts_when_lock_stale_broken(spark, tmp_path, monkeypatch):
    """End-to-end: a commit whose lock is lost mid-critical-section raises
    CommitConflictError at the pointer swap instead of clobbering the new
    holder's view."""
    t = SequenceTable.create(spark, str(tmp_path / "t"), n_buckets=2)

    real_verify = fs.mutex.verify

    def sabotage(self):
        # simulate the lock being broken+taken between acquisition and swap
        import os

        if os.path.exists(self.path):
            with open(self.path, "wb") as f:
                f.write(b"thief:token")
        return real_verify(self)

    monkeypatch.setattr(fs.mutex, "verify", sabotage)
    with pytest.raises(CommitConflictError):
        t.commit("b1", [], t.snapshot()["files"])
    monkeypatch.undo()
    # the "thief" releases its lock (in the real race, the breaking waiter
    # finishes its own critical section and unlinks)
    import os

    lockp = os.path.join(t.meta_dir, "_LOCK")
    if os.path.exists(lockp):
        os.unlink(lockp)
    # table unharmed: pointer never moved, next commit succeeds (the
    # aborted attempt's descriptor is an orphan — its id is never reused)
    assert t.latest_snapshot_id() == 1
    sid = t.commit("b1", [], t.snapshot()["files"])
    assert sid == 3 and t.latest_snapshot_id() == sid


def test_concurrent_main_and_branch_writers_stay_isolated(spark, tmp_path):
    """Writers racing on MAIN and on a BRANCH through the same commit
    mutex: all four land, each line sees exactly its own batches (the
    per-subset pandas oracle), and the diverged branch then refuses a
    fast-forward publish."""
    from cfe_39_spark.fixtures import expected_state

    cfg = GenConfig(n_docs_initial=25, n_events=160, n_segments=4, dup_rate=0.2,
                    shuffle_within_segments=True, seed=87)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    root = str(tmp_path / "t")
    t0 = SequenceTable.create(spark, root, init, n_buckets=4)
    t0.create_branch("audit")
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    main_segs, branch_segs = {0, 2}, {1, 3}

    def worker(i):
        handle = (
            SequenceTable(root)
            if i in main_segs
            else SequenceTable(root).branch("audit")
        )
        return apply_batch(spark, handle, spark.read.parquet(segs[i]),
                           batch_id=f"b{i}", compact_threshold=None)

    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(worker, range(4)))
    assert all(r.snapshot_id for r in results)

    t = SequenceTable(root)
    # each line holds exactly its own batches
    assert len(t.committed_chain()) == 1 + len(main_segs)
    oracle_main = expected_state(
        fx["initial"], [e for e in fx["events"] if e["_seg"] in main_segs]
    )
    oracle_branch = expected_state(
        fx["initial"], [e for e in fx["events"] if e["_seg"] in branch_segs]
    )
    assert_state_equal(t.read(spark), oracle_main)
    assert_state_equal(t.read(spark, "audit"), oracle_branch)
    # main moved after the fork: the audited span no longer applies
    with pytest.raises(ValueError, match="fast-forward"):
        t.fast_forward("audit")


# --------------------------------------------------------------------- #
# group-scoped optimistic rebase (commit_rebase): concurrent writers on
# DISJOINT bucket groups both succeed without caller retry; overlapping
# groups / moved schema still fail loudly for a full re-plan.
# --------------------------------------------------------------------- #
def _rebase_setup(spark, tmp_path):
    from pyspark.sql import functions as F

    from cfe_39_spark.sources.table import bucket_expr

    fx = write_fixture(str(tmp_path / "fx"),
                       GenConfig(n_docs_initial=40, n_events=160,
                                 n_segments=2, dup_rate=0.1, seed=311))
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    for i, s in enumerate(sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))):
        apply_batch(spark, t, spark.read.parquet(s), batch_id=i,
                    compact_threshold=None)
    docs = sorted(fx["expected"]["doc_id"])
    grp = {
        r["doc_id"]: r["g"]
        for r in spark.createDataFrame([(d,) for d in docs], "doc_id string")
        .select("doc_id", bucket_expr("doc_id", 4).alias("g")).collect()
    }
    victim = docs[0]
    other = next(d for d in docs if grp[d] != grp[victim])
    same = next(d for d in docs[1:] if grp[d] == grp[victim])
    return fx, t, victim, other, same


def _serve_stale(handle, stale, times):
    orig = SequenceTable.snapshot
    state = {"n": 0}

    def hook(self, sid=None):
        if sid is None and state["n"] < times:
            state["n"] += 1
            return stale
        return orig(self, sid)

    handle.snapshot = hook.__get__(handle)
    return state


def _concurrent_event(spark, root, doc):
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(doc, "U", 10 ** 9, 42, [9, 9, 9], 3, "concurrent", 1)],
        "doc_id string, op string, offset long, epoch long, "
        "tokens array<int>, n_tok int, source string, schema_version int",
    ).select(
        "doc_id", "op", "offset", F.current_timestamp().alias("event_time"),
        "epoch", F.lit(0).alias("src_partition"), "schema_version",
        "tokens", "n_tok", "source",
    )
    apply_batch(spark, SequenceTable(root), ev, batch_id=f"conc-{doc}",
                compact_threshold=None)


def test_dml_rebases_over_disjoint_concurrent_commit(spark, tmp_path):
    """A DML planned against a stale parent succeeds when the interleaved
    commit touched only other groups: the final state carries BOTH the
    delete and the concurrent writer's update."""
    from cfe_39_spark.operators.dml import delete_where

    fx, t, victim, other, _ = _rebase_setup(spark, tmp_path)
    handle = SequenceTable(t.root)
    stale = handle.snapshot()
    _concurrent_event(spark, t.root, other)  # lands in a different group
    # delete_where reads snapshot() twice (validation + plan) before commit
    _serve_stale(handle, stale, times=2)
    r = delete_where(spark, handle, f"doc_id = '{victim}'")
    assert r is not None and r.rows_affected == 1

    exp = fx["expected"].copy()
    m = exp["doc_id"] == other
    exp.loc[m, "tokens"] = exp.loc[m, "tokens"].map(lambda _: [9, 9, 9])
    exp.loc[m, "n_tok"] = 3
    exp.loc[m, "source"] = "concurrent"
    exp = exp[exp["doc_id"] != victim].reset_index(drop=True)
    assert_state_equal(t.read(spark), exp)


def test_dml_replans_on_overlapping_concurrent_commit(spark, tmp_path):
    """The interleaved commit hit the SAME group the DML rewrote: rebase
    must refuse (the rewrite read stale data) and a fresh attempt wins."""
    from cfe_39_spark.operators.dml import delete_where

    fx, t, victim, _, same = _rebase_setup(spark, tmp_path)
    handle = SequenceTable(t.root)
    stale = handle.snapshot()
    _concurrent_event(spark, t.root, same)  # same group as victim
    _serve_stale(handle, stale, times=2)
    with pytest.raises(CommitConflictError, match="touched groups"):
        delete_where(spark, handle, f"doc_id = '{victim}'")
    # the loud failure is recoverable: a fresh plan applies cleanly
    r = delete_where(spark, SequenceTable(t.root), f"doc_id = '{victim}'")
    assert r is not None and r.rows_affected == 1
    got = t.read(spark).toPandas()
    assert victim not in set(got["doc_id"])
    assert list(got.set_index("doc_id").loc[same, "tokens"]) == [9, 9, 9]


def test_concurrent_dml_on_same_key_replans(spark, tmp_path):
    """Two read-modify-write DMLs on one key: the second, planned against
    the snapshot before the first committed, must re-plan instead of
    committing a value computed from the stale row (a lost update)."""
    from cfe_39_spark.operators.dml import update_where

    fx, t, victim, _, _ = _rebase_setup(spark, tmp_path)
    n0 = int(fx["expected"].set_index("doc_id").loc[victim, "n_tok"])
    upd = ({"n_tok": "n_tok + 1"}, f"doc_id = '{victim}'")
    handle = SequenceTable(t.root)
    stale = handle.snapshot()
    assert update_where(spark, SequenceTable(t.root), *upd).rows_affected == 1
    # update_where reads snapshot() twice (validation + plan) before commit
    _serve_stale(handle, stale, times=2)
    with pytest.raises(CommitConflictError, match="touched groups"):
        update_where(spark, handle, *upd)
    assert update_where(spark, SequenceTable(t.root), *upd).rows_affected == 1
    got = t.read(spark).toPandas().set_index("doc_id")
    assert int(got.loc[victim, "n_tok"]) == n0 + 2


def test_merge_into_rebases_over_disjoint_concurrent_commit(spark, tmp_path):
    from cfe_39_spark.operators.dml import merge_into

    fx, t, victim, other, _ = _rebase_setup(spark, tmp_path)
    handle = SequenceTable(t.root)
    stale = handle.snapshot()
    _concurrent_event(spark, t.root, other)
    # merge_into reads snapshot() once at the top
    _serve_stale(handle, stale, times=1)
    src = spark.createDataFrame(
        [(victim, [5, 5], 2, "merged")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    r = merge_into(spark, handle, src)
    assert r is not None and r.rows_updated == 1
    got = t.read(spark).toPandas().set_index("doc_id")
    assert list(got.loc[victim, "tokens"]) == [5, 5]
    assert list(got.loc[other, "tokens"]) == [9, 9, 9]


def test_compact_rebases_over_disjoint_concurrent_commit(spark, tmp_path):
    """Maintenance no longer serializes behind ingest: a compaction of
    group A planned before a concurrent MOR commit into group B commits
    via rebase, keeping B's new delta live in the carried manifest."""
    fx, t, victim, other, _ = _rebase_setup(spark, tmp_path)
    from cfe_39_spark.sources.table import bucket_expr

    g = {
        r["doc_id"]: r["g"]
        for r in spark.createDataFrame([(victim,), (other,)], "doc_id string")
        .select("doc_id", bucket_expr("doc_id", 4).alias("g")).collect()
    }
    g_victim, g_other = g[victim], g[other]
    handle = SequenceTable(t.root)
    stale = handle.snapshot()
    _concurrent_event(spark, t.root, other)
    _serve_stale(handle, stale, times=1)
    sid = handle.compact(spark, buckets=[g_victim])
    assert sid is not None
    # the concurrent delta in the other group survived the rebase
    snap = t.snapshot()
    assert any(
        e.get("kind", "base") == "delta" and e["bucket"] % 4 == g_other
        for e in snap["files"]
    )
    exp = fx["expected"].copy()
    m = exp["doc_id"] == other
    exp.loc[m, "tokens"] = exp.loc[m, "tokens"].map(lambda _: [9, 9, 9])
    exp.loc[m, "n_tok"] = 3
    exp.loc[m, "source"] = "concurrent"
    assert_state_equal(t.read(spark), exp)


def test_compact_replans_on_overlapping_concurrent_commit(spark, tmp_path):
    """A compaction of the victim's group, planned before a concurrent
    event landed in that same group, must refuse to commit (its rewrite
    would drop the new delta); a fresh compaction keeps the event."""
    fx, t, victim, _, same = _rebase_setup(spark, tmp_path)
    from cfe_39_spark.sources.table import bucket_of

    handle = SequenceTable(t.root)
    stale = handle.snapshot()
    _concurrent_event(spark, t.root, same)  # same group as victim
    _serve_stale(handle, stale, times=1)
    with pytest.raises(CommitConflictError, match="touched groups"):
        handle.compact(spark, buckets=[bucket_of(victim, 4)])
    assert SequenceTable(t.root).compact(spark, buckets=[bucket_of(victim, 4)]) is not None
    exp = fx["expected"].copy()
    m = exp["doc_id"] == same
    exp.loc[m, "tokens"] = exp.loc[m, "tokens"].map(lambda _: [9, 9, 9])
    exp.loc[m, "n_tok"] = 3
    exp.loc[m, "source"] = "concurrent"
    assert_state_equal(t.read(spark), exp)
