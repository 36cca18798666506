"""Property-based invariants of the manifest planner (SURVEY.md §10.5).

The planner (`_plan_manifests` + `_coalesce_manifests`) is pure metadata —
no Spark session needed — so hypothesis can hammer it across random commit
histories: arbitrary interleavings of by-reference carries (streaming
triggers), materialized carries that drop/rewrite arbitrary subsets
(compaction, DML), and full rewrites (rebucket).  Invariants checked after
EVERY commit:

* file-set exactness: ``snapshot()["files"]`` ≡ carried ∪ new, no dup, no loss;
* ref-aggregate truth: each segment reference's ``n_files``/``n_rows``/
  ``delta_counts`` equal a recomputation from the segment body;
* the coalesce bound: segment count ≤ the configured target;
* segment immutability: a reused reference's on-disk body never changes.
"""

import json
import os

from hypothesis import HealthCheck, given, settings, strategies as st

from cfe_39_spark.sources import fs
from cfe_39_spark.sources import meta as table_mod
from cfe_39_spark.sources.meta import PARENT_FILES
from cfe_39_spark.sources.table import SequenceTable


def _entry(i: int, bucket: int, kind: str) -> dict:
    return {
        "path": f"data/commit-{i}-p/_bucket={bucket}/part-{i}.parquet",
        "bucket": bucket,
        "rows": 10 + i % 7,
        "min_doc_id": f"d{i:06d}",
        "max_doc_id": f"d{i + 1:06d}",
        "schema_version": 1,
        "kind": kind,
    }


# one random commit: how many new files, and (for materialized carries)
# which fraction of the current live set survives
commit_steps = st.lists(
    st.fixed_dictionaries(
        {
            "carry": st.sampled_from(["by_ref", "materialized", "rewrite"]),
            "n_new": st.integers(0, 6),
            "keep_mod": st.integers(1, 4),  # drop every keep_mod-th file
        }
    ),
    min_size=1,
    max_size=25,
)


def _key(e: dict) -> str:
    return json.dumps(e, sort_keys=True)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(steps=commit_steps, target=st.integers(2, 8))
def test_manifest_planner_invariants(tmp_path_factory, steps, target):
    tmp_path = tmp_path_factory.mktemp("manifest-prop")
    old_target = table_mod._MANIFEST_TARGET
    table_mod._MANIFEST_TARGET = target
    try:
        t = SequenceTable.create(None, str(tmp_path / "t"), n_buckets=4)
        next_file = 0
        expect: list[dict] = []  # the model: what the live file set must be
        seen_bodies: dict[str, str] = {}  # segment path -> serialized body
        for i, stp in enumerate(steps):
            new = []
            for _ in range(stp["n_new"]):
                kind = "delta" if next_file % 3 else "base"
                new.append(_entry(next_file, next_file % 4, kind))
                next_file += 1
            if stp["carry"] == "by_ref":
                carried: object = PARENT_FILES
                expect = expect + new
            elif stp["carry"] == "rewrite":
                carried = []
                expect = list(new)
            else:
                kept = [e for j, e in enumerate(expect) if j % stp["keep_mod"] != 0 or stp["keep_mod"] == 1]
                carried = kept
                expect = kept + new
            t.commit(f"b{i}", new, carried)
            snap = t.snapshot()
            refs = snap["manifests"]
            # coalesce bound
            assert len(refs) <= target
            # file-set exactness vs the model
            got = sorted(_key(e) for e in snap["files"])
            want = sorted(_key(e) for e in expect)
            assert got == want
            # ref aggregates are truthful, segments immutable once seen
            for r in refs:
                p = os.path.join(t.meta_dir, r["path"])
                body = fs.read_json(p)["entries"]
                ser = json.dumps(body, sort_keys=True)
                if r["path"] in seen_bodies:
                    assert seen_bodies[r["path"]] == ser
                seen_bodies[r["path"]] = ser
                assert r["n_files"] == len(body)
                assert r["n_rows"] == sum(e["rows"] for e in body)
                dc: dict[str, int] = {}
                for e in body:
                    if e["kind"] == "delta":
                        dc[str(e["bucket"])] = dc.get(str(e["bucket"]), 0) + 1
                assert r["delta_counts"] == dc
                if "buckets" in r:  # refs written since segment pruning
                    assert r["buckets"] == sorted({e["bucket"] for e in body})
                    if body and r["min_doc_id"] is not None:
                        assert r["min_doc_id"] == min(e["min_doc_id"] for e in body)
                        assert r["max_doc_id"] == max(e["max_doc_id"] for e in body)
            # segment-pruned candidate listing is a superset-exact filter:
            # for every bucket, it returns exactly the files of that bucket
            for b in range(4):
                got_b = sorted(
                    _key(e) for e in t._select_files(snap, {(4, b): [(None, None)]})
                )
                want_b = sorted(_key(e) for e in expect if e["bucket"] == b)
                assert got_b == want_b
            # the gauge reads refs only; must equal an entry scan
            by_scan: dict[int, int] = {}
            for e in snap["files"]:
                if e["kind"] == "delta":
                    by_scan[e["bucket"]] = by_scan.get(e["bucket"], 0) + 1
            assert t.delta_file_counts(snap) == by_scan
    finally:
        table_mod._MANIFEST_TARGET = old_target


def test_manifest_cache_is_bounded():
    """The process-wide segment cache must not grow with stream lifetime:
    a long-lived driver writes one segment per trigger, so an unbounded
    cache is a slow memory leak.  LRU semantics: recently-read entries
    survive, old ones evict, correctness is unaffected (misses re-read)."""
    c = table_mod._LRUCache()
    cap = table_mod._MANIFEST_CACHE_MAX
    for i in range(cap * 3):
        c[f"p{i}"] = [{"i": i}]
    assert len(c) == cap
    assert c.get("p0") is None  # evicted
    newest = f"p{cap * 3 - 1}"
    assert c.get(newest) == [{"i": cap * 3 - 1}]
    # refreshing recency protects an entry from the next evictions
    victim = next(iter(c))
    c.get(victim)
    c["extra"] = []
    assert victim in c
