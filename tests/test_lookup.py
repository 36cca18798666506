"""Point-lookup serving path (SequenceTable.lookup): bucket + footer
min/max file skipping, answers identical to a full read."""

import datetime
import glob

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.schema import EVENT_SCHEMA_V1, SEQUENCE_SCHEMA_V1
from cfe_39_spark.sources.meta import _xxh64, bucket_of
from cfe_39_spark.sources.table import (
    SequenceTable,
    bucket_expr,
    lww_resolve,
)

from .util import (
    assert_lookup_in_one_job,
    executed_plan,
    file_scans,
    jobs_started,
    pushed_filters,
)


def _setup(spark, tmp_path, n_buckets=8):
    fx = write_fixture(
        str(tmp_path / "fx"),
        GenConfig(n_docs_initial=40, n_events=200, n_segments=4,
                  dup_rate=0.1, seed=109),
    )
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=n_buckets)
    for i, seg in enumerate(sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))):
        apply_batch(spark, t, spark.read.parquet(seg), batch_id=i,
                    compact_threshold=None)  # keep MOR deltas: the hard case
    return fx, t


def test_lookup_matches_full_read(spark, tmp_path):
    fx, t = _setup(spark, tmp_path)
    full = {r["doc_id"]: r.asDict() for r in t.read(spark).collect()}
    live = sorted(full)
    keys = [live[0], live[len(live) // 2], live[-1]]
    got = {r["doc_id"]: r.asDict() for r in t.lookup(spark, keys).collect()}
    assert set(got) == set(keys)
    for k in keys:
        g, e = got[k], full[k]
        assert list(g["tokens"]) == list(e["tokens"])
        assert g == e


def test_lookup_deleted_and_missing_keys_absent(spark, tmp_path):
    fx, t = _setup(spark, tmp_path)
    live = {r["doc_id"] for r in t.read(spark).select("doc_id").collect()}
    # a tombstoned key: in state but deleted
    state_keys = {
        r["doc_id"]
        for r in t.read_state(spark).select("doc_id").collect()
    }
    deleted = sorted(state_keys - live)
    probe = (deleted[:1]) + ["doc-does-not-exist"] + sorted(live)[:1]
    got = {r["doc_id"] for r in t.lookup(spark, probe).collect()}
    assert got == {sorted(live)[0]}


def test_lookup_skips_files(spark, tmp_path):
    """The lookup plan must scan strictly fewer parquet files than a full
    read (bucket pruning alone guarantees this at n_buckets=8)."""
    fx, t = _setup(spark, tmp_path)
    live = sorted(r["doc_id"] for r in t.read(spark).select("doc_id").collect())
    key = [live[0]]
    full_files = set(t.read(spark).inputFiles())
    look_files = set(t.lookup(spark, key).inputFiles())
    assert look_files  # reads something
    assert look_files < full_files  # strict subset: files were skipped
    assert len(look_files) <= len(full_files) / 2


def test_lookup_empty_keys(spark, tmp_path):
    fx, t = _setup(spark, tmp_path)
    assert t.lookup(spark, []).count() == 0


def test_lookup_prunes_manifest_segments(spark, tmp_path, monkeypatch):
    """The serving path must not materialize the whole manifest: segment
    references carry bucket-set + key-range aggregates, so a point lookup
    loads only segments that can hold the key's bucket — O(matching
    segments), not O(live files) driver work (Iceberg manifest-list
    pruning role)."""
    from cfe_39_spark.sources import meta as table_mod

    fx, t = _setup(spark, tmp_path, n_buckets=8)
    live = sorted(r["doc_id"] for r in t.read(spark).select("doc_id").collect())
    key = live[0]
    # count segment loads through a cold cache
    table_mod._MANIFEST_CACHE.clear()
    loads = []
    real = SequenceTable._load_manifest

    def counting(self, ref):
        loads.append(ref["path"])
        return real(self, ref)

    monkeypatch.setattr(SequenceTable, "_load_manifest", counting)
    got = t.lookup(spark, [key]).collect()
    assert len(got) == 1 and got[0]["doc_id"] == key
    n_total = len(t.snapshot()["manifests"])
    # each per-trigger segment spans ~1 bucket's delta files out of 8
    # buckets, so a 1-key lookup must skip most of them
    assert len(set(loads) - {None}) < n_total, (loads, n_total)
    assert len(loads) <= max(n_total // 2, 1), (len(loads), n_total)


def test_scan_range_matches_filtered_full_read(spark, tmp_path):
    fx, t = _setup(spark, tmp_path)
    live = sorted(r["doc_id"] for r in t.read(spark).select("doc_id").collect())
    lo, hi = live[len(live) // 4], live[3 * len(live) // 4]
    exp = {
        r["doc_id"]: r.asDict()
        for r in t.read(spark).filter(f"doc_id >= '{lo}' AND doc_id <= '{hi}'").collect()
    }
    got = {r["doc_id"]: r.asDict() for r in t.scan_range(spark, lo, hi).collect()}
    assert got == exp
    import pytest

    with pytest.raises(ValueError):
        t.scan_range(spark, "z", "a")


def test_scan_range_skips_files_on_sorted_table(spark, tmp_path):
    """With a write sort_order the footer key ranges are tight, so a
    narrow range scan must plan strictly fewer files than a full read."""
    import glob as _glob

    from cfe_39_spark.fixtures import GenConfig, write_fixture

    fx = write_fixture(
        str(tmp_path / "fx2"),
        GenConfig(n_docs_initial=60, n_events=240, n_segments=4,
                  dup_rate=0.1, seed=211),
    )
    init = spark.read.parquet(str(tmp_path / "fx2" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t2"), init, n_buckets=8,
                             sort_order=["doc_id"])
    segs = sorted(_glob.glob(str(tmp_path / "fx2" / "segments" / "*.parquet")))
    for i, seg in enumerate(segs):
        apply_batch(spark, t, spark.read.parquet(seg), batch_id=i)
    t.compact(spark)
    live = sorted(r["doc_id"] for r in t.read(spark).select("doc_id").collect())
    lo = hi = live[0]  # the narrowest range
    full_files = set(t.read(spark).inputFiles())
    got = t.scan_range(spark, lo, hi)
    assert [r["doc_id"] for r in got.collect()] == [lo]
    scan_files = set(got.inputFiles())
    assert scan_files and scan_files < full_files


def test_scan_range_mixed_specs(spark, tmp_path):
    fx, t = _setup(spark, tmp_path, n_buckets=4)
    t.evolve_bucket_spec(8)
    # extra updates after the evolve: range scan must see their winners
    import glob as _glob

    segs = sorted(_glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    apply_batch(spark, t, spark.read.parquet(segs[0]), batch_id="re-deliver",
                compact_threshold=None)
    live = sorted(r["doc_id"] for r in t.read(spark).select("doc_id").collect())
    lo, hi = live[0], live[len(live) // 2]
    exp = {
        r["doc_id"]: r.asDict()
        for r in t.read(spark).filter(f"doc_id >= '{lo}' AND doc_id <= '{hi}'").collect()
    }
    got = {r["doc_id"]: r.asDict() for r in t.scan_range(spark, lo, hi).collect()}
    assert got == exp


# ---------------------------------------------------------------------- #
# key predicates: rendered as SQL literals, applied before MOR resolution
# ---------------------------------------------------------------------- #
# keys that a SQL string literal must escape or carry through unchanged
AWKWARD_KEYS = ["", "'", "\\", '"', "it's", "back\\slash\\'", 'say "hi"',
                "line\nbreak", "tab\tx", "\\n", "中文'键", "é😀"]
N_AWK_BUCKETS = 4


def _build_awkward(spark, d, evolve=False):
    """A table whose keys include ``AWKWARD_KEYS``, with MOR deltas in
    every bucket.  ``evolve``: the spec grows 4 -> 8 buckets before the
    last batch, whose deltas are then written under the new spec."""
    write_fixture(
        str(d / "fx"),
        GenConfig(n_docs_initial=40, n_events=200, n_segments=4,
                  dup_rate=0.1, seed=109),
    )
    awk = spark.createDataFrame(
        [(k, [i, i + 1], 2, "awkward") for i, k in enumerate(AWKWARD_KEYS)],
        SEQUENCE_SCHEMA_V1,
    )
    init = spark.read.parquet(str(d / "fx" / "initial.parquet")).unionByName(awk)
    t = SequenceTable.create(spark, str(d / "t"), init, n_buckets=N_AWK_BUCKETS)
    for i, seg in enumerate(sorted(glob.glob(str(d / "fx" / "segments" / "*.parquet")))):
        apply_batch(spark, t, spark.read.parquet(seg), batch_id=i,
                    compact_threshold=None)
    # later versions of the awkward keys: updates, and one delete
    at = datetime.datetime(2030, 1, 1)
    events = [
        (k, [7, i], 2, "updated", "D" if i == 1 else "U", i, 99, 9, 1,
         at + datetime.timedelta(seconds=i))
        for i, k in enumerate(AWKWARD_KEYS)
        if i % 3 != 2  # some awkward keys keep their base version
    ]
    if evolve:
        t.evolve_bucket_spec(2 * N_AWK_BUCKETS)
    apply_batch(spark, t, spark.createDataFrame(events, EVENT_SCHEMA_V1),
                batch_id="awkward", compact_threshold=None)
    return t


def _brute_read(spark, t):
    """The live rows as ``{doc_id: row}``, every file resolved together —
    no bucket-group shortcut, so an oracle for the group-scoped reads."""
    snap = t.snapshot()
    user_cols = [f.name for f in t.user_schema(snap).fields]
    state = lww_resolve(t._read_files(spark, snap, snap["files"]))
    return {
        r["doc_id"]: r.asDict()
        for r in state.filter("NOT _deleted").select(user_cols).collect()
    }


def _build_mixed(spark, d, evolve):
    """``_build_awkward``'s table with bucket group 0 compacted, so clean
    and dirty groups mix.  With ``evolve`` this is mid
    ``evolve_bucket_spec``: group 0 is rewritten as 8-bucket base files,
    groups 1-3 still hold 4-bucket base files and deltas of both specs."""
    t = _build_awkward(spark, d, evolve=evolve)
    assert t.compact(spark, buckets=[0]) is not None
    assert set(t.delta_file_counts()) == set(range(1, N_AWK_BUCKETS))
    snap = t.snapshot()
    specs = {t._entry_spec(snap, e) for e in snap["files"]}
    assert specs == ({N_AWK_BUCKETS, 2 * N_AWK_BUCKETS} if evolve else {N_AWK_BUCKETS})
    return t


@pytest.fixture(scope="module")
def awkward_tables(spark, tmp_path_factory):
    """``{name: (table, full read as {doc_id: row})}`` for the awkward-key
    table with deltas in every bucket (``all_dirty``) and the two
    clean/dirty mixes of ``_build_mixed``.  Each full read is the
    brute-force one, and ``read`` must agree with it."""
    tables = {
        "all_dirty": _build_awkward(spark, tmp_path_factory.mktemp("awkward")),
        "mixed": _build_mixed(spark, tmp_path_factory.mktemp("mixed"), False),
        "mixed_mid_evolution": _build_mixed(
            spark, tmp_path_factory.mktemp("mixed-evolved"), True
        ),
    }
    out = {}
    for name, t in tables.items():
        full = _brute_read(spark, t)
        assert {r["doc_id"]: r.asDict() for r in t.read(spark).collect()} == full
        out[name] = t, full
    # the awkward keys reach both the clean group and a dirty one
    groups = {bucket_of(k, N_AWK_BUCKETS) for k in AWKWARD_KEYS}
    assert 0 in groups and groups - {0}
    return out


@pytest.fixture(scope="module")
def awkward_table(awkward_tables):
    return awkward_tables["all_dirty"]


def _key(live_keys):
    return st.one_of(
        st.sampled_from(AWKWARD_KEYS),
        st.sampled_from(live_keys),
        st.text(max_size=6),
        st.text(alphabet="'\\\"\n中😀ab", max_size=6),
    )


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_lookup_equals_filtered_read_property(spark, awkward_tables, data):
    """``lookup`` over any keys (quotes, backslashes, newlines, multi-byte
    text, the empty string) equals the full read filtered in Python, on
    tables whose buckets are all dirty or mix clean and dirty groups."""
    keys = data.draw(st.lists(_key(sorted(awkward_tables["all_dirty"][1])), max_size=12))
    for name, (t, full) in awkward_tables.items():
        got = sorted(
            (r.asDict() for r in t.lookup(spark, keys).collect()),
            key=lambda r: r["doc_id"],
        )
        assert got == [full[k] for k in sorted(set(keys)) if k in full], name


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_scan_range_equals_filtered_read_property(spark, awkward_tables, data):
    """``scan_range`` with any bounds equals the full read filtered in
    Python (Spark's binary string order is code-point order, as in
    Python), on all-dirty and mixed clean/dirty tables."""
    bounds = data.draw(
        st.lists(_key(sorted(awkward_tables["all_dirty"][1])), min_size=2, max_size=2)
    )
    lo, hi = sorted(bounds)
    for name, (t, full) in awkward_tables.items():
        got = sorted(
            (r.asDict() for r in t.scan_range(spark, lo, hi).collect()),
            key=lambda r: r["doc_id"],
        )
        assert got == [full[k] for k in sorted(full) if lo <= k <= hi], name


def test_key_predicates_reach_the_dirty_file_scans(spark, awkward_table):
    """Every bucket holds a delta, so every file is resolved: the key
    predicate must reach each of those scans (parquet row-group skipping,
    and only the keys' versions enter the resolving aggregate), not sit
    above the resolving aggregate."""
    t, full = awkward_table
    assert set(t.delta_file_counts()) == set(range(N_AWK_BUCKETS))
    # the awkward keys are in the table (one of them deleted)
    assert set(AWKWARD_KEYS) - set(full) == {AWKWARD_KEYS[1]}
    live = sorted(full)
    keys = live[::4][:10]
    scans = file_scans(t.lookup(spark, keys))
    assert scans
    for scan in scans:
        assert "In(doc_id," in pushed_filters(scan), scan
    scans = file_scans(t.scan_range(spark, live[5], live[20]))
    assert scans
    for scan in scans:
        pushed = pushed_filters(scan)
        assert "GreaterThanOrEqual(doc_id," in pushed, scan
        assert "LessThanOrEqual(doc_id," in pushed, scan


def test_lookup_on_clean_buckets_does_not_shuffle(spark, awkward_tables):
    """Only bucket groups holding a delta are resolved: a lookup whose
    keys all hash to the compacted group is one filtered scan — one Spark
    job, no resolving aggregate — on one spec and mid spec evolution."""
    for name in ("mixed", "mixed_mid_evolution"):
        t, full = awkward_tables[name]
        keys = [k for k in sorted(full) if bucket_of(k, N_AWK_BUCKETS) == 0][:10]
        assert len(keys) >= 5, name
        rows, jobs = jobs_started(spark, lambda: t.lookup(spark, keys).collect())
        assert sorted(r["doc_id"] for r in rows) == keys, name
        assert jobs == 1, (name, jobs)
        plan = executed_plan(t.lookup(spark, keys))
        assert "SortAggregate" not in plan and "Exchange" not in plan, (name, plan)


@pytest.mark.parametrize("name", ["all_dirty", "mixed_mid_evolution"])
def test_dirty_lookup_resolves_in_one_job(spark, awkward_tables, name):
    """A lookup's key filter leaves a few rows per key, so the dirty
    groups resolve them in one partition: one Spark job, no ``Exchange``,
    the key ``In`` still in every ``FileScan``, rows as the full read's.
    The keys reach every bucket group (clean group 0 of the mix too), an
    awkward key, a deleted key and a missing one."""
    t, full = awkward_tables[name]
    keys = [k for k in sorted(full) if k.startswith("doc-")][::5][:12]
    keys += [AWKWARD_KEYS[1], "it's", "no-such-doc"]
    assert {bucket_of(k, N_AWK_BUCKETS) for k in keys} == set(range(N_AWK_BUCKETS))
    assert_lookup_in_one_job(spark, t, keys, full)


# ---------------------------------------------------------------------- #
# the driver-side bucket hash must equal the write path's Spark hash
# ---------------------------------------------------------------------- #
N_BUCKETS = (1, 4, 7, 1024)

# UTF-8 byte lengths around every XXH64 branch: the 4-byte tail, the
# 8-byte lanes and the 32-byte stripes (1-, 2-, 3- and 4-byte characters)
_BOUNDARY_KEYS = [
    "", "a", "abc", "abcd", "abcde", "a" * 7, "a" * 8, "a" * 9,
    "a" * 31, "a" * 32, "a" * 33, "a" * 63, "a" * 64, "a" * 65,
    "é", "é" * 2, "é" * 4, "é" * 16, "é" * 17, "中" * 11, "中文键" * 4,
    "😀", "😀" * 8, "😀" * 9, "doc-000001", "\x00", "\x00" * 33,
]


def _assert_driver_hash_matches_spark(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "doc_id string")
    rows = df.select(
        "doc_id",
        F.xxhash64("doc_id").alias("h"),
        *[bucket_expr("doc_id", n).alias(f"b{n}") for n in N_BUCKETS],
    ).collect()
    for r in rows:
        h = _xxh64(r["doc_id"].encode("utf-8"), 42)
        assert h - (1 << 64) * (h >> 63) == r["h"], r["doc_id"]
        for n in N_BUCKETS:
            assert bucket_of(r["doc_id"], n) == r[f"b{n}"], (r["doc_id"], n)


def test_bucket_of_matches_spark_at_xxh64_boundaries(spark):
    _assert_driver_hash_matches_spark(spark, _BOUNDARY_KEYS)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.one_of(
            st.text(max_size=80),
            # ASCII keys whose byte length sweeps the 4/8/32-byte branches
            st.text(alphabet="abcxyz0123-_", min_size=28, max_size=72),
            # multi-byte-only keys: char count != byte length
            st.text(alphabet="éß中文キー😀🚀", max_size=24),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_bucket_of_matches_spark_property(spark, keys):
    """``lookup`` plans its buckets with ``bucket_of`` on the driver while
    every writer buckets with ``bucket_expr`` in Spark: the two must agree
    on every key, or a lookup silently misses rows."""
    _assert_driver_hash_matches_spark(spark, keys)
