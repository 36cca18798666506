"""Branch refs + write-audit-publish (WAP): stage commits on a named
branch invisible to main readers, audit by reading the branch, publish by
fast-forwarding main to the branch head — Iceberg branch/fastForward
semantics rebuilt on the from-scratch SequenceTable (SURVEY.md §2.1 S3/S6)."""

import glob
import os

import pytest

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources import fs
from cfe_39_spark.sources.meta import PARENT_FILES
from cfe_39_spark.sources.table import BranchHandle, SequenceTable

from .util import assert_state_equal


def _replayed(spark, tmp_path, n_segments=3, seed=111):
    cfg = GenConfig(
        n_docs_initial=20, n_events=120, n_segments=n_segments,
        dup_rate=0.2, seed=seed,
    )
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    return table, fx, segs


def test_wap_stage_audit_publish(spark, tmp_path):
    """The full WAP cycle: staged commits are invisible to main, readable
    by branch name, and publish moves main atomically to the head."""
    table, fx, segs = _replayed(spark, tmp_path)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    main_state = sorted(map(tuple, table.read(spark).collect()))
    main_sid = table.latest_snapshot_id()

    table.create_branch("audit")
    b = table.branch("audit")
    assert isinstance(b, BranchHandle)
    for i, seg in enumerate(segs[1:], start=1):
        r = apply_batch(spark, b, spark.read.parquet(seg), batch_id=i)
        assert not r.noop
    # main is untouched: same tip, same state
    assert table.latest_snapshot_id() == main_sid
    assert sorted(map(tuple, table.read(spark).collect())) == main_state
    # the audit read: branch state is the fully-replayed oracle state
    assert_state_equal(table.read(spark, "audit"), fx["expected"])
    # staged commits never enter the batches log (pointer recovery must
    # not land on unpublished work)
    logged = table._batches_log()
    assert "1" not in logged and "2" not in logged

    head = table.fast_forward("audit")
    assert table.latest_snapshot_id() == head
    assert_state_equal(table.read(spark), fx["expected"])
    # the published span is now in the log, and pointer recovery agrees
    logged = table._batches_log()
    assert logged["1"] > main_sid and logged["2"] > main_sid
    fs.unlink(os.path.join(table.meta_dir, "_LATEST"))
    assert SequenceTable(table.root).latest_snapshot_id() == head
    fs.write_atomic(os.path.join(table.meta_dir, "_LATEST"), str(head))
    # publish is idempotent; batch ids stay exactly-once on main
    assert table.fast_forward("audit") == head
    assert apply_batch(
        spark, table, spark.read.parquet(segs[1]), batch_id=1
    ).noop


def test_publish_refuses_divergence(spark, tmp_path):
    """fast_forward is fast-forward ONLY: if main moved after the branch
    was cut, the audited span no longer applies to what main holds."""
    table, fx, segs = _replayed(spark, tmp_path)
    table.create_branch("audit")
    b = table.branch("audit")
    apply_batch(spark, b, spark.read.parquet(segs[0]), batch_id="staged-0")
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id="main-1")
    with pytest.raises(ValueError, match="fast-forward"):
        table.fast_forward("audit")


def test_branch_survives_retention_until_dropped(spark, tmp_path):
    """An in-flight WAP line is pinned against expiry (head down to the
    main chain); dropping the branch releases it AND forgets its batch
    ids so the same batches can be replayed to main for real."""
    table, fx, segs = _replayed(spark, tmp_path)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    table.create_branch("audit")
    b = table.branch("audit")
    apply_batch(spark, b, spark.read.parquet(segs[1]), batch_id="s1")
    apply_batch(spark, b, spark.read.parquet(segs[2]), batch_id="s2")
    staged = [s["snapshot_id"] for s in b.committed_chain()[:2]]
    # main churn + retention while the branch is in flight
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id="main-extra")
    table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    for sid in staged:
        assert fs.exists(table._snap_path(sid)), "staged snapshot reaped"
    assert table.read(spark, "audit").count() > 0  # audit read intact
    # abandon the audit line
    dropped_head = table.drop_branch("audit")
    assert dropped_head == staged[0]
    assert "audit" not in table.branches()
    table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    for sid in staged:
        assert not fs.exists(table._snap_path(sid)), "dropped snapshot retained"
    # forgotten ids: the same batch id now APPLIES to main instead of no-oping
    r = apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id="s1")
    assert not r.noop


def test_branch_head_on_main_chain_survives_expiry(spark, tmp_path):
    """A branch cut from an old main snapshot with nothing staged yet must
    not be bricked by count-based retention."""
    table, fx, segs = _replayed(spark, tmp_path)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    table.create_branch("wip")
    for i, seg in enumerate(segs[1:], start=1):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert table.read(spark, "wip").count() > 0
    # the detached-style head still accepts staged commits
    b = table.branch("wip")
    r = apply_batch(spark, b, spark.read.parquet(segs[1]), batch_id="wip-1")
    assert not r.noop


def test_forget_pass_keeps_marker_of_detached_fork(tmp_path):
    """Regression (Spark-free): a staged branch's fork that an earlier
    expiry pass detached from main keeps its idempotency marker through a
    later ``forget_batches`` pass.  The first pass expires the fork's
    descriptor (the fork is still on that pass's chain); the second pass's
    pin walk then finds no descriptor at the fork and used to stop without
    pinning it, so the marker GC erased ``__create__``."""
    from .test_refs_property import _fresh_table

    t = _fresh_table(str(tmp_path))
    t.create_branch("a")
    t.branch("a").commit("c0", [], PARENT_FILES)
    t.commit("m0", [], PARENT_FILES)
    t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    t.expire_snapshots(keep_last=1, orphan_grace_s=0.0, forget_batches=True)
    assert t.find_batch("__create__") == 1


@pytest.mark.parametrize("fork_tagged", [False, True])
def test_drop_branch_keeps_marker_of_detached_fork(tmp_path, fork_tagged):
    """Regression pin (Spark-free): dropping a branch whose fork an
    expiry pass detached from main forgets only the branch's own commits;
    the fork's idempotency marker stays.  Untagged, the expiry pass
    deleted the fork's descriptor; tagged, the descriptor survives
    off the main chain, where the walk would reach it as a staged
    snapshot if it did not stop at the recorded fork."""
    from .test_refs_property import _fresh_table

    t = _fresh_table(str(tmp_path))
    if fork_tagged:
        t.tag("base", 1)
    t.create_branch("a")
    t.branch("a").commit("c0", [], PARENT_FILES)
    t.commit("m0", [], PARENT_FILES)
    t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert 1 not in {s["snapshot_id"] for s in t.committed_chain()}
    assert fs.exists(t._snap_path(1)) == fork_tagged
    t.drop_branch("a")
    assert t._read_marker("__create__") == 1
    assert t.find_batch("__create__") == 1
    assert t._read_marker("c0") is None


def test_drop_bare_int_branch_keeps_marker_of_tagged_fork(tmp_path):
    """Regression (Spark-free): a legacy bare-int branch ref records no
    fork.  With a tag keeping the fork's descriptor alive off the main
    chain, the drop walk reached the fork as if it were staged work and
    erased ``__create__``'s marker.  The walk must stop at the first
    snapshot another ref reaches; the branch's own commit is still
    forgotten."""
    from .test_refs_property import _fresh_table

    t = _fresh_table(str(tmp_path))
    t.tag("base", 1)
    t.create_branch("a")
    t.branch("a").commit("c0", [], PARENT_FILES)
    t.commit("m0", [], PARENT_FILES)
    refs = t._read_refs()
    fs.write_json_atomic(t._refs_path(), dict(refs, branches={"a": t.branches()["a"]}))
    t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    t.drop_branch("a")
    assert t._read_marker("__create__") is not None
    assert t._read_marker("c0") is None


def _main_chain_with_staged_head(tmp_path, tag_root: bool):
    """Main 1 -> 2 -> 3 -> 5 -> 6 and branch ``a`` = 3 -> 4; after
    ``expire_snapshots(keep_last=1)`` only 6, the staged head 4 (and 1
    when tagged) keep their descriptors, so a walk down from 4 meets the
    expired 3."""
    from .test_refs_property import _fresh_table

    t = _fresh_table(str(tmp_path))
    if tag_root:
        t.tag("base", 1)
    t.commit("m0", [], PARENT_FILES)
    t.commit("m1", [], PARENT_FILES)
    t.create_branch("a")
    assert t.branch("a").commit("c0", [], PARENT_FILES) == 4
    t.commit("m2", [], PARENT_FILES)
    t.commit("m3", [], PARENT_FILES)
    t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert not fs.exists(t._snap_path(3)) and fs.exists(t._snap_path(4))
    return t


@pytest.mark.parametrize("tag_root", [False, True])
def test_change_span_across_expired_descriptor(tmp_path, tag_root):
    """Pin (Spark-free) of the walk ``cherry_pick`` takes: a span whose
    lower bound is the expired parent of a readable snapshot resolves; a
    span that must walk through the expired descriptor is an expired
    cursor, whether the bound below it is readable or not.  Main's
    reparented root 6 records its expired parent 5, so a cursor at 5
    reads; below it, a cursor with no descriptor left (3) is expired,
    while the readable staged head 4 is not an ancestor."""
    t = _main_chain_with_staged_head(tmp_path, tag_root)
    target, span = t.change_span(3, "a")
    assert target["snapshot_id"] == 4
    assert [s["snapshot_id"] for s in span] == [4]
    for frm in (0, 1, 2):
        with pytest.raises(ValueError, match="have expired"):
            t.change_span(frm, "a")
    assert [s["snapshot_id"] for s in t.change_span(5, 6)[1]] == [6]
    with pytest.raises(ValueError, match="have expired"):
        t.change_span(3, 6)
    with pytest.raises(ValueError, match="not an ancestor"):
        t.change_span(4, 6)


def test_change_span_expired_error_names_oldest_reached_snapshot(tmp_path):
    """The re-bootstrap hint names the oldest snapshot the walk reached,
    not the oldest descriptor on disk: here the tag keeps 1's descriptor
    (the cursor itself) while the walk from 4 stops at the expired 3."""
    t = _main_chain_with_staged_head(tmp_path, tag_root=True)
    with pytest.raises(ValueError, match="oldest retained snapshot is 4"):
        t.change_span(1, "a")
    with pytest.raises(ValueError, match="oldest retained snapshot is 6"):
        t.change_span(3, 6)


def test_change_span_from_the_roots_expired_parent(tmp_path):
    """Regression (Spark-free): expiry reparents the oldest retained
    snapshot to no parent, and the cut parent's id is kept on the root, so
    a cursor AT that parent still reads: every change file its span needs
    is retained.  A cursor further below stays expired, cursor 0 reads
    the retained changelog (``startingSnapshotId=earliest``), and a root
    descriptor written without the recorded cut keeps refusing."""
    from .test_refs_property import _fresh_table

    t = _fresh_table(str(tmp_path))
    for b in ("m0", "m1", "m2", "m3"):
        t.commit(b, [], PARENT_FILES)
    t.expire_snapshots(keep_last=2, orphan_grace_s=0.0)
    assert [s["snapshot_id"] for s in t.committed_chain()] == [5, 4]
    assert [s["snapshot_id"] for s in t.change_span(3)[1]] == [5, 4]
    assert [s["snapshot_id"] for s in t.change_span(3, 4)[1]] == [4]
    assert [s["snapshot_id"] for s in t.change_span(0)[1]] == [5, 4]
    with pytest.raises(ValueError, match="oldest retained snapshot is 4"):
        t.change_span(2)
    # a second pass cuts higher: the new root records its own parent
    t.commit("m4", [], PARENT_FILES)
    t.expire_snapshots(keep_last=2, orphan_grace_s=0.0)
    assert [s["snapshot_id"] for s in t.change_span(4)[1]] == [6, 5]
    with pytest.raises(ValueError, match="have expired"):
        t.change_span(3)
    # a root written before the cut was recorded decides as before
    root = {k: v for k, v in fs.read_json(t._snap_path(5)).items()
            if k != "expired_parent_id"}
    fs.write_json_atomic(t._snap_path(5), root)
    with pytest.raises(ValueError, match="oldest retained snapshot is 5"):
        t.change_span(4)


@pytest.mark.parametrize("head,resolved", [(3, True), (1, False)])
def test_publish_intent_resolution_stops_at_missing_descriptor(tmp_path, head, resolved):
    """Pin (Spark-free): a pending publish intent completes only when its
    head is reachable from the main tip.  Descriptor 2 is gone (an expiry
    that crashed before reparenting the oldest survivor), so the walk
    down from 4 reaches 3 but never 1."""
    from .test_refs_property import _fresh_table

    t = _fresh_table(str(tmp_path))
    t.create_branch("a")
    for b in ("m0", "m1", "m2"):
        t.commit(b, [], PARENT_FILES)
    fs.unlink(t._snap_path(2))
    fs.write_json_atomic(
        t._publish_intent_path(), {"branch": "a", "head": head, "span": [head]}
    )
    t._resolve_publish_intent()
    assert fs.exists(t._publish_intent_path()) != resolved
    ref = t._read_refs()["branches"]["a"]
    assert (ref["sid"], ref["fork"]) == ((head, head) if resolved else (1, 1))


def test_refs_share_one_namespace_and_handle_guards(spark, tmp_path):
    table, fx, segs = _replayed(spark, tmp_path, n_segments=2, seed=113)
    table.tag("pinned")
    with pytest.raises(ValueError, match="already exists"):
        table.create_branch("pinned")
    table.create_branch("audit")
    with pytest.raises(ValueError, match="namespace"):
        table.tag("audit")
    b = table.branch("audit")
    with pytest.raises(ValueError, match="root SequenceTable"):
        b.rollback(1)
    with pytest.raises(KeyError):
        table.branch("nope")


def test_branch_crash_heal_skips_batches_log(spark, tmp_path):
    """A staged commit's marker crash-heal must repair the marker WITHOUT
    writing the batch into the main batches log."""
    table, fx, segs = _replayed(spark, tmp_path, n_segments=2, seed=127)
    table.create_branch("audit")
    b = table.branch("audit")
    apply_batch(spark, b, spark.read.parquet(segs[0]), batch_id="staged")
    head = b.latest_snapshot_id()
    fs.unlink(table._marker_path("staged"))  # crash window: marker lost
    b2 = SequenceTable(table.root).branch("audit")
    assert b2.find_batch("staged") == head  # healed via the branch walk
    assert b2._read_marker("staged") == head
    assert "staged" not in SequenceTable(table.root)._batches_log()


def test_streaming_wap_stage_then_publish(spark, tmp_path):
    """The full streaming WAP deployment shape: run_stream tails the log
    into a BRANCH (main invisible throughout), the audit read validates,
    fast_forward publishes — and the checkpointed stream's exactly-once
    guarantees carry over unchanged because the handle IS a SequenceTable."""
    from cfe_39_spark.streaming.ingest import run_stream

    table, fx, segs = _replayed(spark, tmp_path, n_segments=4, seed=131)
    table.create_branch("audit")
    b = table.branch("audit")
    n = run_stream(
        spark, os.path.dirname(segs[0]), b,
        checkpoint=str(tmp_path / "cp"), max_files_per_trigger=1,
    )
    assert n >= 1
    assert table.latest_snapshot_id() == 1, "main moved during staged streaming"
    assert_state_equal(table.read(spark, "audit"), fx["expected"])
    table.fast_forward("audit")
    assert_state_equal(table.read(spark), fx["expected"])
    # resuming the published stream's checkpoint over the branch is a no-op
    n2 = run_stream(
        spark, os.path.dirname(segs[0]), SequenceTable(table.root).branch("audit"),
        checkpoint=str(tmp_path / "cp"), max_files_per_trigger=1,
    )
    assert_state_equal(SequenceTable(table.root).read(spark), fx["expected"])


def test_read_changes_audits_the_staged_span(spark, tmp_path):
    """The WAP audit diff: read_changes from main's tip to the branch head
    is exactly what publishing would add."""
    table, fx, segs = _replayed(spark, tmp_path, n_segments=2, seed=137)
    main_sid = table.latest_snapshot_id()
    table.create_branch("audit")
    b = table.branch("audit")
    apply_batch(spark, b, spark.read.parquet(segs[0]), batch_id="s0")
    apply_batch(spark, b, spark.read.parquet(segs[1]), batch_id="s1")
    diff = table.read_changes(spark, main_sid, "audit")
    n_events = (
        spark.read.parquet(segs[0]).count() + spark.read.parquet(segs[1]).count()
    )
    assert 0 < diff.count() <= n_events
    assert set(diff.select("_change_type").distinct().toPandas()["_change_type"]) <= {
        "upsert", "delete"
    }


def test_crashed_publish_never_poisons_pointer_recovery(spark, tmp_path, monkeypatch):
    """A fast_forward that crashes after journaling the span's log lines
    but before the pointer swap must not let pointer recovery adopt the
    unpublished staged span (the _PUBLISH_INTENT exclusion); retrying the
    publish completes it, dropping the branch cancels it."""
    table, fx, segs = _replayed(spark, tmp_path, n_segments=2, seed=139)
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id="m0")
    main_sid = table.latest_snapshot_id()
    table.create_branch("audit")
    b = table.branch("audit")
    apply_batch(spark, b, spark.read.parquet(segs[0]), batch_id="s0")
    head = b.latest_snapshot_id()

    # crash injection: die right before the pointer swap (after intent +
    # span log lines have landed)
    real_write_atomic = fs.write_atomic

    def crashing_write(path, data):
        if path.endswith("_LATEST"):
            raise RuntimeError("injected crash before pointer swap")
        real_write_atomic(path, data)

    monkeypatch.setattr(fs, "write_atomic", crashing_write)
    with pytest.raises(RuntimeError, match="injected"):
        table.fast_forward("audit")
    monkeypatch.setattr(fs, "write_atomic", real_write_atomic)

    # the staged span's lines are in the log, but recovery must not adopt
    # them: simulate the HDFS no-pointer window
    assert head in SequenceTable(table.root)._batches_log().values()
    fs.unlink(os.path.join(table.meta_dir, "_LATEST"))
    assert SequenceTable(table.root).latest_snapshot_id() == main_sid
    fs.write_atomic(os.path.join(table.meta_dir, "_LATEST"), str(main_sid))

    # retrying the publish completes it and clears the journal
    assert table.fast_forward("audit") == head
    assert not fs.exists(table._publish_intent_path())
    assert sorted(map(tuple, table.read(spark).collect())) == sorted(
        map(tuple, table.read(spark, "audit").collect())
    )


def test_crashed_publish_then_drop_scrubs_the_journal(spark, tmp_path, monkeypatch):
    table, fx, segs = _replayed(spark, tmp_path, n_segments=2, seed=149)
    main_sid = table.latest_snapshot_id()
    table.create_branch("audit")
    b = table.branch("audit")
    apply_batch(spark, b, spark.read.parquet(segs[0]), batch_id="s0")
    head = b.latest_snapshot_id()
    real_write_atomic = fs.write_atomic

    def crashing_write(path, data):
        if path.endswith("_LATEST"):
            raise RuntimeError("injected crash before pointer swap")
        real_write_atomic(path, data)

    monkeypatch.setattr(fs, "write_atomic", crashing_write)
    with pytest.raises(RuntimeError, match="injected"):
        table.fast_forward("audit")
    monkeypatch.setattr(fs, "write_atomic", real_write_atomic)
    # abandoning instead of retrying: drop cancels the intent AND scrubs
    # the journaled lines, so recovery and idempotency are both clean
    table.drop_branch("audit")
    assert not fs.exists(table._publish_intent_path())
    assert head not in SequenceTable(table.root)._batches_log().values()
    assert table.latest_snapshot_id() == main_sid
    r = apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id="s0")
    assert not r.noop  # forgotten: the batch applies to main for real


def test_ref_ttls_auto_expire(spark, tmp_path):
    """maxRefAge: a forgotten pin is a retention leak, so time-bound tags
    unpin and time-bound branches auto-drop (full forget discipline) on
    the first expiry pass after their age; untimed refs are untouched."""
    import json

    table, fx, segs = _replayed(spark, tmp_path, n_segments=3, seed=151)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    table.tag("forever")
    table.tag("short-lived", max_age_s=3600.0)
    table.create_branch("keep-branch")
    table.create_branch("stale-branch", max_age_s=3600.0)
    b = table.branch("stale-branch")
    apply_batch(spark, b, spark.read.parquet(segs[1]), batch_id="staged")
    staged_head = b.latest_snapshot_id()
    apply_batch(spark, table, spark.read.parquet(segs[2]), batch_id=2)

    # TTL'd branch heads move without losing their envelope
    raw = json.loads(open(table._refs_path()).read())
    assert raw["branches"]["stale-branch"]["max_age_s"] == 3600.0
    assert raw["branches"]["stale-branch"]["sid"] == staged_head

    # young refs survive an expiry pass
    table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert set(table.tags()) == {"forever", "short-lived"}
    assert set(table.branches()) == {"keep-branch", "stale-branch"}

    # age the TTL'd refs past their budget
    raw = json.loads(open(table._refs_path()).read())
    raw["tags"]["short-lived"]["created_at"] -= 10_000.0
    raw["branches"]["stale-branch"]["created_at"] -= 10_000.0
    fs.write_json_atomic(table._refs_path(), raw)
    table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert set(table.tags()) == {"forever"}
    assert set(table.branches()) == {"keep-branch"}
    # the dropped branch's staged work is forgotten and reaped
    assert not fs.exists(table._snap_path(staged_head))
    r = apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id="staged")
    assert not r.noop
    # the untimed tag still pins its (now detached) snapshot
    assert table.read(spark, "forever").count() > 0


# --------------------------------------------------------------------- #
# cherry-pick: re-land a commit (or a whole staged span) when publish
# cannot fast-forward because main moved — conflicts resolve by LWW.
# --------------------------------------------------------------------- #
def test_cherry_pick_publishes_despite_divergence(spark, tmp_path):
    """The WAP escape hatch: main moves after the branch was cut, so
    fast_forward refuses; cherry-picking the branch's staged span onto
    main lands the SAME final state a serial replay of all segments
    would have produced (LWW makes the interleaving irrelevant)."""
    from cfe_39_spark.operators.cdc import cherry_pick

    table, fx, segs = _replayed(spark, tmp_path)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    fork = table.latest_snapshot_id()
    table.create_branch("audit")
    b = table.branch("audit")
    apply_batch(spark, b, spark.read.parquet(segs[1]), batch_id="s1")
    apply_batch(spark, b, spark.read.parquet(segs[2]), batch_id="s2")
    # main moves underneath the audit
    apply_batch(spark, table, spark.read.parquet(segs[1]), batch_id="main-1")
    with pytest.raises(ValueError, match="fast-forward"):
        table.fast_forward("audit")

    r = cherry_pick(spark, table, b.latest_snapshot_id(),
                    from_snapshot_id=fork, compact_threshold=None)
    assert not r.noop and r.rows_applied > 0
    assert_state_equal(table.read(spark), fx["expected"])

    # commit-level idempotency: re-picking the same span no-ops
    again = cherry_pick(spark, table, b.latest_snapshot_id(),
                        from_snapshot_id=fork, compact_threshold=None)
    assert again.noop and again.snapshot_id == r.snapshot_id


def test_cherry_pick_single_commit_lww_conflicts(spark, tmp_path):
    """Row-wise conflict semantics are pure LWW: a doc main overwrote
    with a NEWER event keeps main's value through the pick; docs only
    the branch touched get the branch's value."""
    from pyspark.sql import functions as F

    from cfe_39_spark.operators.cdc import cherry_pick

    table, fx, segs = _replayed(spark, tmp_path)
    apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    docs = sorted(fx["expected"]["doc_id"])[:2]

    def ev(doc, toks, off, src):
        return spark.createDataFrame(
            [(doc, "U", off, 1, toks, len(toks), src, 1)],
            "doc_id string, op string, offset long, epoch long, "
            "tokens array<int>, n_tok int, source string, schema_version int",
        ).select(
            "doc_id", "op", "offset",
            F.current_timestamp().alias("event_time"), "epoch",
            F.lit(0).alias("src_partition"), "schema_version",
            "tokens", "n_tok", "source",
        )

    table.create_branch("fix")
    b = table.branch("fix")
    # branch updates BOTH docs first (older event times)
    apply_batch(spark, b, ev(docs[0], [1, 1], 10 ** 8, "branch")
                .unionByName(ev(docs[1], [2, 2], 10 ** 8, "branch")),
                batch_id="b1", compact_threshold=None)
    import time as _t
    _t.sleep(0.05)
    # main then overwrites docs[0] with a NEWER event
    apply_batch(spark, table, ev(docs[0], [9], 10 ** 8 + 1, "main"),
                batch_id="m1", compact_threshold=None)

    cherry_pick(spark, table, b.latest_snapshot_id(), compact_threshold=None)
    got = table.read(spark).toPandas().set_index("doc_id")
    assert list(got.loc[docs[0], "tokens"]) == [9], "newer main event must win"
    assert list(got.loc[docs[1], "tokens"]) == [2, 2], "branch-only doc lands"


def test_cherry_pick_create_commit_refused(spark, tmp_path):
    from cfe_39_spark.operators.cdc import cherry_pick

    table, fx, segs = _replayed(spark, tmp_path)
    with pytest.raises(ValueError, match="create commit"):
        cherry_pick(spark, table, 1)
