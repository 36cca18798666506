"""Randomized crash-point fault injection over the commit protocol
(round-4 verdict item 5).

The hand-picked crash-window tests (pointer swap, marker write, rollback
boundary) cover the windows we THOUGHT about; this file kills the
protocol at a RANDOM mutating-metadata operation — seeded and
hypothesis-shrinkable — under each backend contract (POSIX, HDFS
rename-no-overwrite, S3 append-less) and asserts the recovery
invariants:

* the table stays readable (pointer resolves, chain walks);
* no lost batch: every batch committed before the crash is still found;
* retrying the crashed batch succeeds and commits it EXACTLY once (no
  resurrection, no duplication — the chain holds one snapshot per
  batch id);
* fsck reports no error-level findings after recovery.

Injection wraps the four mutating fs primitives (``_rename_file`` — the
final step of every atomic write, ``append_line``, ``unlink``,
``touch``) with a countdown that raises ``SimulatedCrash`` *before* the
k-th call.  ``SimulatedCrash`` subclasses BaseException so the
protocol's legitimate ``except Exception`` cleanup guards cannot
swallow it — exactly like a dead process, nothing downstream of the
crash point runs.  (The commit mutex is released on unwind, unlike a
real crash; orphaned-lock recovery is test_concurrency's subject.)

A smaller Spark-backed matrix then drives the full ``apply_batch``
pipeline (MOR and COW × each backend) through random crash points and
asserts final-state equality with the fixture oracle after retry.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cfe_39_spark.sources import fs
from cfe_39_spark.sources.fsck import check_table
from cfe_39_spark.sources.table import SequenceTable

MUTATORS = ("_rename_file", "append_line", "unlink", "touch")


class SimulatedCrash(BaseException):
    """Process death at a metadata op; BaseException so no cleanup
    handler can swallow it (nothing after the crash point may run)."""


def _hdfs_rename(src: str, dst: str) -> None:
    if os.path.exists(dst):
        raise FileExistsError(dst)
    os.rename(src, dst)


class _Patcher:
    """Manual save/patch/restore of fs seams (hypothesis re-enters the
    test function many times, so pytest's monkeypatch fixture scope does
    not fit)."""

    def __init__(self):
        self._saved = {}

    def set(self, name, fn):
        if name not in self._saved:
            self._saved[name] = getattr(fs, name)
        setattr(fs, name, fn)

    def restore(self):
        for name, fn in self._saved.items():
            setattr(fs, name, fn)
        self._saved.clear()


def _apply_backend(p: _Patcher, backend: str) -> None:
    if backend == "hdfs":
        p.set("_rename_file", _hdfs_rename)
    elif backend == "s3":
        p.set("append_line", lambda path, line: None)


def _count_ops(p: _Patcher) -> "list[int]":
    counter = [0]
    for name in MUTATORS:
        orig = getattr(fs, name)

        def counting(*a, _orig=orig, **k):
            counter[0] += 1
            return _orig(*a, **k)

        p.set(name, counting)
    return counter


def _arm_crash(p: _Patcher, step: int) -> None:
    remaining = [step]
    for name in MUTATORS:
        orig = getattr(fs, name)

        def crashing(*a, _orig=orig, _name=name, **k):
            if remaining[0] <= 0:
                raise SimulatedCrash(_name)
            remaining[0] -= 1
            return _orig(*a, **k)

        p.set(name, crashing)


def _assert_one_commit_per_batch(t: SequenceTable) -> None:
    """Each batch id commits exactly once in the LIVE lineage.  History is
    append-only: below a ``__rollback_to_*__`` marker the rolled-back
    copies legitimately remain (find_batch stops at the boundary), so
    uniqueness is asserted over the segment above the newest marker."""
    bids = []
    for s in t.committed_chain():
        if s["batch_id"].startswith("__rollback_to_"):
            break
        bids.append(s["batch_id"])
    assert len(bids) == len(set(bids)), f"duplicated batch ids in chain: {bids}"


@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=st.data())
def test_commit_survives_crash_at_any_metadata_op(data):
    backend = data.draw(st.sampled_from(["posix", "hdfs", "s3"]), label="backend")
    root = tempfile.mkdtemp(prefix="cfe39-crash-")
    p = _Patcher()
    try:
        _apply_backend(p, backend)
        t = SequenceTable.create(None, os.path.join(root, "t"), n_buckets=2)
        sid0 = t.commit("b0", [], t.snapshot()["files"])

        # probe an identical commit on a twin table to learn how many
        # mutating ops one commit performs under this backend
        twin = SequenceTable.create(None, os.path.join(root, "probe"), n_buckets=2)
        twin.commit("b0", [], twin.snapshot()["files"])
        counter = _count_ops(p)
        twin.commit("b1", [], twin.snapshot()["files"])
        n_ops = counter[0]
        p.restore()
        _apply_backend(p, backend)
        assert n_ops > 0

        step = data.draw(st.integers(min_value=0, max_value=n_ops), label="crash_step")
        _arm_crash(p, step)
        crashed = False
        try:
            t.commit("b1", [], t.snapshot()["files"])
        except SimulatedCrash:
            crashed = True
        p.restore()
        _apply_backend(p, backend)

        # ---- recovery invariants ---------------------------------- #
        # readable: the pointer resolves (possibly via the batches-log
        # fallback) and the chain walks
        tip = t.latest_snapshot_id()
        assert t.snapshot(tip) is not None
        # no lost batch
        assert t.find_batch("b0") == sid0
        # retry is exactly-once: either the crashed commit landed (retry
        # no-ops onto the same sid) or it did not (retry commits fresh)
        sid1 = t.commit("b1", [], t.snapshot()["files"])
        assert t.find_batch("b1") == sid1
        assert t.find_batch("b0") == sid0
        _assert_one_commit_per_batch(t)
        # replay after recovery stays a no-op
        assert t.commit("b1", [], t.snapshot()["files"]) == sid1
        if not crashed:
            assert step >= n_ops  # only a step past the end never fires
        # fsck: no error-level findings survive recovery
        rep = check_table(t)
        assert rep.ok, [vars(f) for f in rep.findings]
    finally:
        p.restore()
        shutil.rmtree(root, ignore_errors=True)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=st.data())
def test_rollback_survives_crash_at_any_metadata_op(data):
    backend = data.draw(st.sampled_from(["posix", "hdfs", "s3"]), label="backend")
    root = tempfile.mkdtemp(prefix="cfe39-crashrb-")
    p = _Patcher()
    try:
        _apply_backend(p, backend)
        t = SequenceTable.create(None, os.path.join(root, "t"), n_buckets=2)
        target = t.commit("b0", [], t.snapshot()["files"])
        t.commit("b1", [], t.snapshot()["files"])

        twin = SequenceTable.create(None, os.path.join(root, "probe"), n_buckets=2)
        tw_target = twin.commit("b0", [], twin.snapshot()["files"])
        twin.commit("b1", [], twin.snapshot()["files"])
        counter = _count_ops(p)
        twin.rollback(tw_target)
        n_ops = counter[0]
        p.restore()
        _apply_backend(p, backend)

        step = data.draw(st.integers(min_value=0, max_value=n_ops), label="crash_step")
        _arm_crash(p, step)
        try:
            t.rollback(target)
        except SimulatedCrash:
            pass
        p.restore()
        _apply_backend(p, backend)

        # readable either way
        tip = t.latest_snapshot_id()
        snap = t.snapshot(tip)
        assert snap is not None
        # b0 (the surviving ancestor) is never lost
        assert t.find_batch("b0") == target
        # retrying the rollback always converges to the rolled-back state
        t.rollback(target)
        # after a completed rollback, b1 must be forgotten: re-committing
        # it applies fresh instead of no-oping onto a rolled-back snapshot
        sid1b = t.commit("b1", [], t.snapshot()["files"])
        assert t.find_batch("b1") == sid1b
        rep = check_table(t)
        assert rep.ok, [vars(f) for f in rep.findings]
    finally:
        p.restore()
        shutil.rmtree(root, ignore_errors=True)


# ---- full apply_batch pipeline under random crash points -------------- #
@pytest.mark.parametrize("backend", ["posix", "hdfs", "s3"])
@pytest.mark.parametrize("mode", ["mor", "mor_compacted"])
def test_apply_batch_crash_retry_matches_oracle(spark, tmp_path, monkeypatch,
                                                backend, mode):
    """Drive the REAL apply pipeline (Spark writes + commit) through two
    seeded random crash points per (mode, backend) cell; after retry the
    final state must equal the fixture oracle bit-for-bit.  Under
    ``mor_compacted`` the crash points also land inside the compaction
    commit that follows the apply's own commit."""
    import glob
    import random

    from cfe_39_spark.fixtures import GenConfig, write_fixture
    from cfe_39_spark.operators.cdc import apply_batch

    from .util import APPLY_MODES, assert_state_equal

    if backend == "hdfs":
        monkeypatch.setattr(fs, "_rename_file", _hdfs_rename)
    elif backend == "s3":
        monkeypatch.setattr(fs, "append_line", lambda path, line: None)

    fx = write_fixture(
        str(tmp_path / "fx"),
        GenConfig(n_docs_initial=20, n_events=120, n_segments=2,
                  dup_rate=0.2, seed=211),
    )
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    apply_batch(spark, t, spark.read.parquet(segs[0]), batch_id=0, **APPLY_MODES[mode])

    # count the metadata ops of a full apply on a twin, then crash the
    # real one at two seeded points inside that range
    twin = SequenceTable.create(spark, str(tmp_path / "twin"), init, n_buckets=4)
    p = _Patcher()
    counter = _count_ops(p)
    apply_batch(spark, twin, spark.read.parquet(segs[0]), batch_id=0, **APPLY_MODES[mode])
    n_ops = counter[0]
    p.restore()
    if backend == "hdfs":
        p.set("_rename_file", _hdfs_rename)
    elif backend == "s3":
        p.set("append_line", lambda path, line: None)

    rng = random.Random(f"{backend}-{mode}")
    try:
        for step in sorted(rng.sample(range(n_ops), 2)):
            _arm_crash(p, step)
            try:
                apply_batch(spark, t, spark.read.parquet(segs[1]),
                            batch_id=1, **APPLY_MODES[mode])
            except SimulatedCrash:
                pass
            p.restore()
            if backend == "hdfs":
                p.set("_rename_file", _hdfs_rename)
            elif backend == "s3":
                p.set("append_line", lambda path, line: None)
            # recovery: retry must land the batch exactly once
            r = apply_batch(spark, t, spark.read.parquet(segs[1]),
                            batch_id=1, **APPLY_MODES[mode])
            assert t.find_batch("1") == r.snapshot_id
            _assert_one_commit_per_batch(t)
            assert_state_equal(t.read(spark), fx["expected"])
            rep = check_table(t)
            assert rep.ok, [vars(f) for f in rep.findings]
            # reset for the next crash point: roll back to after batch 0
            t.rollback(t.find_batch("0"))
    finally:
        p.restore()
