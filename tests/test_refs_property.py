"""Property test for the metadata/refs layer (Spark-free): random
interleavings of main commits, branch commits, publish, drop, rollback and
expiry run against an independent model of the ref semantics.

The commit API is pure driver metadata (empty file lists, parent carried by
reference), so hundreds of op sequences execute in seconds — hypothesis
shrinks any divergence between SequenceTable and the model to a minimal
counterexample.  Branches are always cut at the current main tip here
(`create_branch(at=staged-sid)` fan-out is exercised by test_branches.py).
"""

import os

import pyspark.sql.types as T
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from cfe_39_spark.sources import fs
from cfe_39_spark.sources.meta import PARENT_FILES, TableMeta as SequenceTable

SCHEMA = T.StructType([T.StructField("doc_id", T.StringType())])


def _fresh_table(tmpdir: str) -> SequenceTable:
    # metadata-only create: no SparkSession needed when initial is None
    t = SequenceTable(os.path.join(tmpdir, "t"))
    snap = {
        "snapshot_id": 1,
        "parent_id": None,
        "batch_id": "__create__",
        "committed_at": 0.0,
        "n_buckets": 4,
        "schema_version": 1,
        "schemas": {"1": '{"fields":[],"type":"struct"}'},
        "manifests": [],
    }
    fs.write_json_atomic(t._snap_path(1), snap)
    fs.write_atomic(os.path.join(t.meta_dir, "_LATEST"), "1")
    t._write_marker("__create__", 1)
    return t


def test_drop_after_publish_and_expiry_keeps_published_markers(tmp_path):
    """Regression: publishing must move the ref's fork mark to the head.
    With a stale fork, the sequence publish -> main advances -> expiry
    shrinks the chain below the published head -> drop_branch walked the
    published span as if it were staged work and DELETED its idempotency
    markers — erasing replay suppression for main history."""
    t = _fresh_table(str(tmp_path))
    t.create_branch("a")
    staged_sid = t.branch("a").commit("c1", [], PARENT_FILES)
    assert t.fast_forward("a") == staged_sid  # c1 is main history now
    t.commit("m1", [], PARENT_FILES)
    t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    t.drop_branch("a")
    # the published batch's marker must survive the drop: a replay of c1
    # is a duplicate delivery, not new work
    assert t.find_batch("c1") == staged_sid


def test_drop_keeps_markers_shared_with_sibling_forked_from_staged(tmp_path):
    """Regression: the sibling-protection walk must not stop at the
    sibling's fork.  A sibling cut FROM this branch's staged suffix has
    fork == a shared staged snapshot; stopping there let drop_branch
    erase a marker the sibling still references, so a redelivery of that
    batch to the sibling would re-apply instead of no-op."""
    t = _fresh_table(str(tmp_path))
    t.create_branch("a")
    x = t.branch("a").commit("c1", [], PARENT_FILES)
    t.create_branch("b", at=x)  # b shares a's staged snapshot x
    y = t.branch("b").commit("c2", [], PARENT_FILES)
    t.drop_branch("a")
    assert t.find_batch("c1") == x  # still suppressed: b references x
    assert t.branches()["b"] == y
    assert t.branch("b").commit("c1", [], PARENT_FILES) == x  # no-op


def test_crashed_publish_resolves_before_drop_or_expiry(tmp_path):
    """Regression: a publish that crashed between the pointer swap and
    the journal delete left a stale fork mark; once expiry detached the
    published head, drop walked the PUBLISHED span and erased its
    markers.  Expiry/drop now finish the completed publish first."""
    t = _fresh_table(str(tmp_path))
    t.create_branch("a")
    s1 = t.branch("a").commit("c1", [], PARENT_FILES)
    head = t.fast_forward("a")
    # reconstruct the crash window: journal back on disk, fork reverted
    fs.write_json_atomic(t._publish_intent_path(),
                         {"branch": "a", "head": head, "span": [s1]})
    refs = fs.read_json(t._refs_path())
    refs["branches"]["a"]["fork"] = 1
    fs.write_json_atomic(t._refs_path(), refs)
    t.commit("m1", [], PARENT_FILES)
    t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert not fs.exists(t._publish_intent_path())  # resolved, not orphaned
    t.drop_branch("a")
    assert t.find_batch("c1") == s1  # published marker survives the drop


def test_publish_of_other_branch_keeps_foreign_intent(tmp_path):
    """Regression: fast_forward's head==main early return must only clear
    its OWN branch's journal — a pending intent from a different branch's
    crashed (incomplete) publish is what stops pointer recovery from
    adopting that unpublished span."""
    t = _fresh_table(str(tmp_path))
    t.create_branch("a")
    sa = t.branch("a").commit("c1", [], PARENT_FILES)
    # crashed INCOMPLETE publish of a: journal on disk, pointer unmoved
    fs.write_json_atomic(t._publish_intent_path(),
                         {"branch": "a", "head": sa, "span": [sa]})
    t.create_branch("b")  # nothing staged: head == main
    assert t.fast_forward("b") == t.latest_snapshot_id()
    assert fs.exists(t._publish_intent_path())  # a's journal untouched


# op vocabulary: small id pools force replays, conflicts and re-commits.
# TTL'd refs are created with a 1h budget (never expires inside a test
# run) and aged deterministically by rewriting created_at — "age" marks a
# ref stale, the next "expire" must sweep it.
OPS = st.lists(
    st.one_of(
        st.tuples(st.just("main"), st.integers(0, 5)),
        st.tuples(st.just("bcreate"), st.sampled_from(["a", "b"]), st.booleans()),
        st.tuples(st.just("bcommit"), st.sampled_from(["a", "b"]), st.integers(0, 5)),
        st.tuples(st.just("publish"), st.sampled_from(["a", "b"])),
        st.tuples(st.just("drop"), st.sampled_from(["a", "b"])),
        st.tuples(st.just("tag"), st.sampled_from(["t0", "t1", "t2"]), st.booleans()),
        st.tuples(st.just("untag"), st.sampled_from(["t0", "t1", "t2"])),
        st.tuples(st.just("age"), st.sampled_from(["t0", "t1", "t2", "a", "b"])),
        st.tuples(st.just("rollback"), st.integers(0, 3)),
        st.tuples(st.just("expire"), st.booleans()),
        st.tuples(st.just("recover"), st.just(0)),
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=150,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=OPS)
def test_refs_layer_matches_model(tmp_path_factory, ops):
    tmpdir = str(tmp_path_factory.mktemp("refs_prop"))
    t = _fresh_table(tmpdir)

    # --- the model ---------------------------------------------------- #
    tip = 1
    chain = [("__create__", 1)]          # retained main chain, oldest first
    applied: dict[str, int] = {"__create__": 1}   # find_batch view
    branches: dict[str, dict] = {}       # name -> {fork, staged, ttl, stale}
    tags: dict[str, dict] = {}           # name -> {sid, ttl, stale}

    def heads():
        return {
            n: (b["staged"][-1][1] if b["staged"] else b["fork"])
            for n, b in branches.items()
        }

    def model_drop(name):
        for bid, _ in branches[name]["staged"]:
            applied.pop(bid, None)
        del branches[name]

    for op in ops:
        kind = op[0]
        if kind == "main":
            bid = f"m{op[1]}"
            sid = t.commit(bid, [], PARENT_FILES)
            if bid in applied:
                assert sid == applied[bid]  # replay no-ops
            else:
                applied[bid] = sid
                chain.append((bid, sid))
                tip = sid
        elif kind == "bcreate":
            name, ttl = op[1], op[2]
            if name in branches:
                with pytest.raises(ValueError, match="already exists"):
                    t.create_branch(name)
            else:
                assert t.create_branch(
                    name, max_age_s=3600.0 if ttl else None
                ) == tip
                branches[name] = {
                    "fork": tip, "staged": [], "ttl": ttl, "stale": False,
                }
        elif kind == "bcommit":
            name, k = op[1], op[2]
            if name not in branches:
                continue
            bid = f"c{k}"
            sid = t.branch(name).commit(bid, [], PARENT_FILES)
            if bid in applied:
                assert sid == applied[bid]
            else:
                applied[bid] = sid
                branches[name]["staged"].append((bid, sid))
        elif kind == "publish":
            name = op[1]
            if name not in branches:
                with pytest.raises(KeyError):
                    t.fast_forward(name)
                continue
            b = branches[name]
            if b["fork"] == tip:
                new_tip = t.fast_forward(name)
                if b["staged"]:
                    chain.extend(b["staged"])
                    tip = b["staged"][-1][1]
                assert new_tip == tip
                b["fork"], b["staged"] = tip, []
            else:
                # main moved (commit or rollback) since the fork
                with pytest.raises(ValueError, match="fast-forward"):
                    t.fast_forward(name)
        elif kind == "drop":
            name = op[1]
            if name not in branches:
                with pytest.raises(KeyError):
                    t.drop_branch(name)
                continue
            t.drop_branch(name)
            model_drop(name)
        elif kind == "tag":
            name, ttl = op[1], op[2]
            if name in tags and tags[name]["sid"] != tip:
                with pytest.raises(ValueError, match="already points"):
                    t.tag(name)
            else:
                # same-sid re-tag is idempotent and REWRITES the envelope
                assert t.tag(name, max_age_s=3600.0 if ttl else None) == tip
                tags[name] = {"sid": tip, "ttl": ttl, "stale": False}
        elif kind == "untag":
            name = op[1]
            if name not in tags:
                with pytest.raises(KeyError):
                    t.remove_tag(name)
            else:
                assert t.remove_tag(name) == tags.pop(name)["sid"]
        elif kind == "age":
            # deterministic aging: rewrite created_at past the 1h budget;
            # a no-op for missing or untimed refs
            name = op[1]
            if not fs.exists(t._refs_path()):
                continue
            refs = fs.read_json(t._refs_path())
            for sect, model in (("tags", tags), ("branches", branches)):
                v = refs.get(sect, {}).get(name)
                if isinstance(v, dict) and v.get("max_age_s") is not None:
                    v["created_at"] = v.get("created_at", 0.0) - 10_000.0
                    fs.write_json_atomic(t._refs_path(), refs)
                    model[name]["stale"] = True
        elif kind == "rollback":
            idx = min(op[1], len(chain) - 1)
            target_bid, target_sid = chain[idx]
            new_sid = t.rollback(target_sid)
            if target_sid == tip:
                assert new_sid == tip
            else:
                for bid, _ in chain[idx + 1:]:
                    applied.pop(bid, None)
                rb_bid = f"__rollback_to_{target_sid}__"
                applied[rb_bid] = new_sid
                # rollback is APPEND-ONLY: the rolled-back snapshots stay
                # on the parent chain (their batch ids are forgotten), a
                # new snapshot with the target's content goes on top
                chain.append((rb_bid, new_sid))
                tip = new_sid
        elif kind == "expire":
            forget = op[1]
            t.expire_snapshots(keep_last=1, orphan_grace_s=0.0,
                               forget_batches=forget)
            # ref-TTL sweep runs first: aged tags unpin, aged branches are
            # dropped with the forget discipline (regardless of the flag)
            for n in [n for n, r in tags.items() if r["ttl"] and r["stale"]]:
                del tags[n]
            for n in [n for n, b in branches.items()
                      if b["ttl"] and b["stale"]]:
                model_drop(n)
            chain_ids = {sid for _, sid in chain}  # pre-trim: the pass's view
            chain = chain[-1:]
            if forget:
                retained = {tip} | {r["sid"] for r in tags.values()}
                for b in branches.values():
                    retained |= {sid for _, sid in b["staged"]}
                    # the real pin walk keeps the head even on-chain
                    # (empty branch: head == fork) and, for a staged
                    # branch, pins the fork INCLUSIVELY when it is
                    # already detached from this pass's chain (kept
                    # alive earlier by a tag since removed, etc.)
                    if not b["staged"] or b["fork"] not in chain_ids:
                        retained.add(b["fork"])
                applied = {k: v for k, v in applied.items() if v in retained}
        elif kind == "recover":
            # pointer-loss recovery must land on the model's main tip
            # whenever the log can answer (a crashed publish's journaled
            # span is excluded by the intent marker)
            p = os.path.join(t.meta_dir, "_LATEST")
            saved = fs.read_text(p)
            fs.unlink(p)
            try:
                logged = t._batches_log()
                if any(v == tip for v in logged.values()):
                    assert t.latest_snapshot_id() == tip
            finally:
                fs.write_atomic(p, saved)

        # --- invariants after EVERY op ------------------------------- #
        assert t.latest_snapshot_id() == tip
        assert t.branches() == heads()
        assert t.tags() == {n: r["sid"] for n, r in tags.items()}
        assert [s["batch_id"] for s in t.committed_chain()] == [
            bid for bid, _ in reversed(chain)
        ]
        for bid in list(applied)[:4] + ["m0", "c0", "never"]:
            assert t.find_batch(bid) == applied.get(bid), bid
