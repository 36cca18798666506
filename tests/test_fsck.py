"""Table integrity checker (sources/fsck.py): a healthy table is clean;
each seeded corruption class is detected as the right typed finding; the
checker reports instead of raising."""

import json
import os

from pyspark.sql import functions as F

from cfe_39_spark.sources.fsck import check_table
from cfe_39_spark.sources.table import SequenceTable


def _tiny(spark, n=50):
    return (
        spark.range(n)
        .withColumn("doc_id", F.format_string("d%03d", F.col("id")))
        .withColumn("tokens", F.array(F.col("id").cast("int")))
        .withColumn("n_tok", F.lit(1).cast("int"))
        .withColumn("source", F.lit("s"))
        .drop("id")
    )


def _mk(spark, tmp_path, **kw):
    return SequenceTable.create(spark, str(tmp_path / "t"), _tiny(spark),
                                n_buckets=4, **kw)


def _codes(rep):
    return sorted({f.code for f in rep.findings if f.level == "error"})


def test_healthy_table_clean_shallow_and_deep(spark, tmp_path):
    t = _mk(spark, tmp_path, sort_order=["doc_id"])
    t.tag("v1")
    rep = check_table(t, deep=True)
    assert rep.ok, [vars(f) for f in rep.findings]
    assert rep.files_checked > 0
    assert rep.snapshot_id == t.latest_snapshot_id()


def test_missing_data_file_detected(spark, tmp_path):
    t = _mk(spark, tmp_path)
    victim = t.snapshot()["files"][0]["path"]
    os.unlink(os.path.join(t.root, victim))
    rep = check_table(t)
    assert not rep.ok
    assert "file_missing" in _codes(rep)


def test_dangling_ref_detected(spark, tmp_path):
    t = _mk(spark, tmp_path)
    refs = t._read_refs()
    refs.setdefault("tags", {})["ghost"] = 999
    t._write_refs(refs)
    rep = check_table(t)
    assert "ref_dangling" in _codes(rep)


def test_dangling_layout_property_detected(spark, tmp_path):
    """The pre-round-4 bug class: a layout property naming a column the
    schema no longer has.  Seeded by editing the descriptor directly
    (today's DDL keeps them in sync, so only legacy tables carry this)."""
    t = _mk(spark, tmp_path, sort_order=["n_tok"])
    sid = t.latest_snapshot_id()
    p = os.path.join(t.meta_dir, f"snap-{sid:012d}.json")
    d = json.load(open(p))
    d["sort_order"] = ["gone_column"]
    json.dump(d, open(p, "w"))
    rep = check_table(t)
    assert "layout_dangling" in _codes(rep)


def test_deep_rows_mismatch_detected(spark, tmp_path):
    t = _mk(spark, tmp_path)
    sid = t.latest_snapshot_id()
    snap = t.snapshot()
    # doctor the manifest's rows stamp for one file (out-of-band
    # corruption, so also drop the in-process manifest cache)
    from cfe_39_spark.sources.meta import _MANIFEST_CACHE

    mpath = os.path.join(t.meta_dir, snap["manifests"][0]["path"])
    m = json.load(open(mpath))
    m["entries"][0]["rows"] += 7
    json.dump(m, open(mpath, "w"))
    _MANIFEST_CACHE.clear()
    assert check_table(t, deep=False).ok  # shallow cannot see it
    rep = check_table(t, deep=True)
    assert "rows_mismatch" in _codes(rep)


def test_chain_break_reported_not_raised(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rebucket(spark, 8)
    parent = t.snapshot()["parent_id"]
    os.unlink(os.path.join(t.meta_dir, f"snap-{parent:012d}.json"))
    rep = check_table(t)
    assert "chain_break" in _codes(rep)


def test_orphan_data_dir_reported_info_only(spark, tmp_path):
    """An unreferenced commit dir is an INFO finding (the expiry GC owns
    deletion) and does not fail the check."""
    t = _mk(spark, tmp_path)
    orphan = os.path.join(t.data_dir, "commit-crashed-deadbeef")
    os.makedirs(os.path.join(orphan, "_bucket=0"))
    with open(os.path.join(orphan, "_bucket=0", "x.parquet"), "wb") as f:
        f.write(b"junk")
    rep = check_table(t)
    assert rep.ok  # info never fails the check
    infos = [f for f in rep.findings if f.code == "orphan_data_dirs"]
    assert infos and "1 commit dir" in infos[0].message


# -- pure property test: DDL layout sync invariant (no Spark needed) ---- #
from hypothesis import given, settings, strategies as st  # noqa: E402

_COLS = ["a", "b", "c", "d", "e"]


@st.composite
def _layout_snaps(draw):
    cols = draw(st.lists(st.sampled_from(_COLS), min_size=0, max_size=4,
                         unique=True))
    snap = {}
    if cols:
        snap["sort_order"] = cols
    bcols = draw(st.lists(st.sampled_from(_COLS), min_size=0, max_size=3,
                          unique=True))
    if bcols:
        snap["bloom_filter"] = {"cols": bcols, "ndv": 100}
    zcols = draw(st.lists(st.sampled_from(_COLS), min_size=2, max_size=3,
                          unique=True)) if draw(st.booleans()) else []
    if zcols:
        snap["zorder"] = {"cols": zcols, "bits": 8,
                          "domains": {c: [0.0, 1.0] for c in zcols}}
    return snap


@settings(max_examples=200, deadline=None)
@given(
    snap=_layout_snaps(),
    ops=st.lists(
        st.tuples(st.sampled_from(["rename", "drop"]),
                  st.sampled_from(_COLS), st.sampled_from(["x", "y", "z"])),
        min_size=1, max_size=5,
    ),
)
def test_layout_after_ddl_invariants(snap, ops):
    """After ANY sequence of renames/drops: every column a layout
    property names is a column the schema still has; zorder keeps its
    cols/domains keys aligned and >=2 columns or disappears; properties
    never resurrect columns."""
    schema = set(_COLS)
    cur = dict(snap)
    for op, col, new in ops:
        if op == "rename":
            if col not in schema or new in schema:
                continue
            cur = SequenceTable._layout_after_ddl(cur, {col: new}, None)
            schema = (schema - {col}) | {new}
        else:
            if col not in schema:
                continue
            cur = SequenceTable._layout_after_ddl(cur, {}, col)
            schema = schema - {col}
        for c in cur.get("sort_order", []):
            assert c in schema
        for c in cur.get("bloom_filter", {}).get("cols", ["_ok"]) or []:
            assert c == "_ok" or c in schema
        z = cur.get("zorder")
        if z:
            assert len(z["cols"]) >= 2
            assert set(z["cols"]) == set(z["domains"])
            assert all(c in schema for c in z["cols"])
        assert "sort_order" not in cur or cur["sort_order"]
        assert "bloom_filter" not in cur or cur["bloom_filter"]["cols"]


def _events(spark):
    """A tiny well-typed change batch (tokens cast to the table's exact
    array<int> type — containsNull must match or C7 rejects the batch)."""
    return (
        _tiny(spark, 5)
        .withColumn("tokens", F.col("tokens").cast("array<int>"))
        .withColumn("op", F.lit("u"))
        .withColumn("offset", F.col("doc_id").substr(2, 3).cast("long"))
        .withColumn("event_time", F.current_timestamp())
        .withColumn("epoch", F.lit(0).cast("long"))
        .withColumn("src_partition", F.lit(0).cast("int"))
        .withColumn("schema_version", F.lit(0).cast("int"))
    )


def test_schema_unregistered_reported_not_raised(spark, tmp_path):
    """fsck on a table whose CURRENT schema version is missing from the
    registry must report schema_unregistered — not die with a KeyError
    inside the layout check ('fsck reports, never raises')."""
    t = _mk(spark, tmp_path, sort_order=["n_tok"])
    sid = t.latest_snapshot_id()
    p = os.path.join(t.meta_dir, f"snap-{sid:012d}.json")
    d = json.load(open(p))
    d["schema_version"] = 999  # registry has no version 999
    json.dump(d, open(p, "w"))
    rep = check_table(t)  # must not raise
    assert "schema_unregistered" in _codes(rep)
    assert "layout_check_skipped" in {f.code for f in rep.findings
                                      if f.level == "info"}


def test_missing_change_file_detected(spark, tmp_path):
    """A deleted change file breaks read_changes / the streaming feed at
    read time; fsck must flag it with its own code (a data-only probe
    passes the table clean)."""
    from cfe_39_spark.sources.meta import _MANIFEST_CACHE

    t = _mk(spark, tmp_path)
    # a change file that is not also a data file (on MOR the delta files
    # ARE the change feed, so deleting one fires both codes — also
    # correct, but this test wants the isolated signal)
    sid = t.latest_snapshot_id()
    p = os.path.join(t.meta_dir, f"snap-{sid:012d}.json")
    d = json.load(open(p))
    stray = dict(t.snapshot()["files"][0], path="data/no-such-dir/part-0.parquet")
    d["change_files"] = list(d.get("change_files") or []) + [stray]
    json.dump(d, open(p, "w"))
    _MANIFEST_CACHE.clear()
    rep = check_table(t)
    assert "change_file_missing" in _codes(rep)
    assert "file_missing" not in _codes(rep)  # data files are all fine


def test_deep_change_file_rows_mismatch_detected(spark, tmp_path):
    """deep=True footer pass covers changelog entries too."""
    from cfe_39_spark.operators.cdc import apply_batch
    from cfe_39_spark.sources.meta import _MANIFEST_CACHE

    t = _mk(spark, tmp_path)
    ev = _events(spark)
    apply_batch(spark, t, ev, batch_id="b1")
    sid = t.latest_snapshot_id()
    p = os.path.join(t.meta_dir, f"snap-{sid:012d}.json")
    d = json.load(open(p))
    assert d.get("change_files")
    d["change_files"][0]["rows"] += 3
    json.dump(d, open(p, "w"))
    _MANIFEST_CACHE.clear()
    assert check_table(t, deep=False).ok
    rep = check_table(t, deep=True)
    assert "rows_mismatch" in _codes(rep)


def test_missing_historical_change_file_detected(spark, tmp_path):
    """read_changes serves the whole retained span, so a change file
    lost from an OLDER snapshot must be flagged even when the tip's own
    files are intact: a delta the compaction dropped from ``files`` is
    still the apply snapshot's change file."""
    from cfe_39_spark.operators.cdc import apply_batch

    t = _mk(spark, tmp_path)
    apply_batch(spark, t, _events(spark), batch_id="b1", compact_threshold=None)
    deltas = {e["path"] for e in t.snapshot().get("change_files") or []}
    assert deltas, "a MOR apply commits its deltas as change files"
    assert t.compact(spark) is not None
    assert not deltas & {e["path"] for e in t.snapshot()["files"]}
    os.unlink(os.path.join(t.root, sorted(deltas)[0]))
    rep = check_table(t)
    assert "change_file_missing" in _codes(rep)
    assert "file_missing" not in _codes(rep)


def test_shared_missing_change_file_names_oldest_snapshot(tmp_path):
    """Two retained snapshots list the same lost change file: the finding
    names the older one, the start of the ``read_changes`` span it breaks
    (Spark-free: a metadata-only table)."""
    from cfe_39_spark.sources.meta import PARENT_FILES

    t = SequenceTable.create(None, str(tmp_path / "t"), n_buckets=4)
    stray = {"path": "data/no-such-dir/_bucket=0/part-0.parquet", "bucket": 0,
             "rows": 1, "schema_version": 1, "kind": "delta"}
    older = t.commit("c1", [], PARENT_FILES, change_files=[stray])
    t.commit("c2", [], PARENT_FILES, change_files=[stray])
    t.commit("c3", [], PARENT_FILES)
    missing = [f.message for f in check_table(t).findings
               if f.code == "change_file_missing"]
    assert missing == [
        f"snapshot {older} references missing changelog file {stray['path']}"
        " — read_changes / the streaming change feed break on this span"
    ]
