"""Incremental changelog scan (S10): the table as a CDC *producer*.

read_changes must (1) emit exactly the committed change rows of a span,
(2) skip maintenance commits, and (3) round-trip: piping table A's feed
through changes_as_events -> apply_batch into table B reproduces A's state
bit-for-bit — the Iceberg-incremental-scan / Delta-CDF role."""

import glob

import pytest

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources.table import SequenceTable, changes_as_events

from .util import APPLY_MODES, assert_state_equal


def _replayed(spark, tmp_path, cfg, mode="mor"):
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    a = SequenceTable.create(spark, str(tmp_path / "a"), init, n_buckets=4)
    for i, seg in enumerate(sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))):
        apply_batch(spark, a, spark.read.parquet(seg), batch_id=i,
                    **APPLY_MODES[mode])
    b = SequenceTable.create(spark, str(tmp_path / "b"), init, n_buckets=4)
    return a, b, fx


@pytest.mark.parametrize("mode", list(APPLY_MODES))
def test_changelog_mirror_bit_for_bit(spark, tmp_path, mode):
    """Per-commit incremental consumption: apply each commit's feed into a
    mirror table; the mirror must equal the source bit-for-bit."""
    cfg = GenConfig(n_docs_initial=25, n_events=160, n_segments=4, dup_rate=0.2,
                    key_dist="hot", shuffle_within_segments=True, seed=71)
    a, b, fx = _replayed(spark, tmp_path, cfg, mode)
    chain = list(reversed(a.committed_chain()))  # oldest first
    for parent, cur in zip(chain, chain[1:]):
        feed = a.read_changes(spark, parent["snapshot_id"], cur["snapshot_id"])
        apply_batch(spark, b, changes_as_events(feed), batch_id=f"m-{cur['snapshot_id']}")
    assert_state_equal(b.read(spark), fx["expected"])
    assert_state_equal(a.read(spark), fx["expected"])


def test_changelog_full_span_single_batch(spark, tmp_path):
    """One read_changes over the whole history applied as ONE batch reaches
    the same state (the LWW ordering pair survives the round trip)."""
    cfg = GenConfig(n_docs_initial=20, n_events=120, n_segments=3, dup_rate=0.15, seed=73)
    a, b, fx = _replayed(spark, tmp_path, cfg, "mor")
    feed = a.read_changes(spark, 1)  # everything after table creation
    apply_batch(spark, b, changes_as_events(feed), batch_id="full-span")
    assert_state_equal(b.read(spark), fx["expected"])


def test_changelog_net_collapses_to_one_row_per_key(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=20, n_events=120, n_segments=3, dup_rate=0.15, seed=75)
    a, _, _ = _replayed(spark, tmp_path, cfg, "mor")
    net = a.read_changes(spark, 1, net=True)
    assert net.count() == net.select("doc_id").distinct().count()
    # net feed agrees with table state on every surviving upsert key
    live = net.filter("_change_type = 'upsert'").select("doc_id", "n_tok")
    state = a.read(spark).select("doc_id", "n_tok")
    joined = live.join(state, "doc_id", "inner")
    assert joined.count() == live.count()


def test_changelog_skips_maintenance_commits(spark, tmp_path):
    """Compaction and rebucket change no logical row: the feed over a span
    containing them must contain only real batch changes, and a mirror fed
    across them still converges."""
    cfg = GenConfig(n_docs_initial=20, n_events=120, n_segments=3, dup_rate=0.2, seed=79)
    a, b, fx = _replayed(spark, tmp_path, cfg, "mor")
    pre = a.latest_snapshot_id()
    assert a.compact(spark) is not None
    assert a.rebucket(spark, 8) is not None
    assert a.read_changes(spark, pre).count() == 0
    feed = a.read_changes(spark, 1)  # spans applies + compact + rebucket
    apply_batch(spark, b, changes_as_events(feed), batch_id="post-maint")
    assert_state_equal(b.read(spark), fx["expected"])


def test_changelog_rejects_non_ancestor(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=10, n_events=40, n_segments=1, seed=81)
    a, _, _ = _replayed(spark, tmp_path, cfg, "mor")
    with pytest.raises(ValueError, match="not an ancestor"):
        a.read_changes(spark, 10**6)


def test_changelog_expired_span_raises_clear_error(spark, tmp_path):
    """A consumer whose cursor fell behind retention gets a dedicated
    'changes expired / re-bootstrap' ValueError (Iceberg's behavior), not
    a raw missing-file trace."""
    cfg = GenConfig(n_docs_initial=15, n_events=80, n_segments=4, seed=83)
    a, _, _ = _replayed(spark, tmp_path, cfg, "mor")
    a.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="expired"):
        a.read_changes(spark, 1)


def test_changelog_two_hop_mirror_chain(spark, tmp_path):
    """CDC-producer COMPOSITION (A -> B -> C): B tails A's feed, C tails
    B's feed, with compaction + rebucket interleaved mid-span on both A
    and B.  All three tables must converge to the oracle state bit-for-
    bit — the property that makes the changelog a real replication
    primitive rather than a one-hop export."""
    cfg = GenConfig(n_docs_initial=25, n_events=160, n_segments=4, dup_rate=0.2,
                    key_dist="hot", shuffle_within_segments=True, seed=87)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    a = SequenceTable.create(spark, str(tmp_path / "a"), init, n_buckets=4)
    b = SequenceTable.create(spark, str(tmp_path / "b"), init, n_buckets=4)
    c = SequenceTable.create(spark, str(tmp_path / "c"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    b_cursor = c_cursor = 1
    for i, seg in enumerate(segs):
        apply_batch(spark, a, spark.read.parquet(seg), batch_id=i)
        if i == 1:  # maintenance mid-span on the producer
            a.compact(spark)
            a.rebucket(spark, 8)
        # hop 1: B tails A
        a_head = a.latest_snapshot_id()
        feed_ab = a.read_changes(spark, b_cursor, a_head)
        apply_batch(spark, b, changes_as_events(feed_ab), batch_id=f"ab-{i}")
        b_cursor = a_head
        if i == 2:  # maintenance mid-span on the intermediate table
            b.compact(spark)
        # hop 2: C tails B
        b_head = b.latest_snapshot_id()
        feed_bc = b.read_changes(spark, c_cursor, b_head)
        apply_batch(spark, c, changes_as_events(feed_bc), batch_id=f"bc-{i}")
        c_cursor = b_head
    assert_state_equal(a.read(spark), fx["expected"])
    assert_state_equal(b.read(spark), fx["expected"])
    assert_state_equal(c.read(spark), fx["expected"])


# --------------------------------------------------------------------- #
# read_changelog: the NET diff view with before-images (Iceberg
# changelog-view semantics: insert / update_before+update_after / delete)
# --------------------------------------------------------------------- #


def _fold_diff(fx, tmp_path, cut_seg):
    """Pandas oracle for read_changelog: fold the event stream to the cut
    and to the end (keeping the LWW triple), then classify every key by
    the SAME triple rule the engine uses."""
    import pyarrow.parquet as papq

    from cfe_39_spark.fixtures import expected_state

    initial = papq.read_table(str(tmp_path / "fx" / "initial.parquet"))
    ev_a = [e for e in fx["events"] if e["_seg"] < cut_seg]
    fa = expected_state(initial, ev_a, keep_meta=True).set_index("doc_id")
    fb = expected_state(initial, fx["events"], keep_meta=True).set_index("doc_id")
    expected = {}  # doc_id -> list of (change_type, image_source_fold)
    for k in fb.index:  # fold state only grows: fb's keys are a superset
        b_row = fa.loc[k] if k in fa.index else None
        a_row = fb.loc[k]
        b_live = b_row is not None and not b_row["_deleted"]
        a_live = not a_row["_deleted"]
        tri = lambda r: (r["_et"], r["_off"], r["_sp"])  # noqa: E731
        if a_live and not b_live:
            expected[k] = [("insert", a_row)]
        elif a_live and b_live and tri(a_row) != tri(b_row):
            expected[k] = [("update_before", b_row), ("update_after", a_row)]
        elif not a_live and b_live and tri(a_row) != tri(b_row):
            expected[k] = [("delete", b_row)]
    return expected


def _check_diff(got_rows, expected):
    got = {}
    for r in got_rows:
        got.setdefault(r["doc_id"], []).append(r)
    assert set(got) == set(expected), (
        sorted(set(got) ^ set(expected))[:10])
    for k, exp_events in expected.items():
        rows = sorted(got[k], key=lambda r: r["_change_type"])
        exp_sorted = sorted(exp_events, key=lambda e: e[0])
        assert [r["_change_type"] for r in rows] == [e[0] for e in exp_sorted], k
        for r, (_, img) in zip(rows, exp_sorted):
            assert r["n_tok"] == (None if img["n_tok"] is None else int(img["n_tok"])), k
            if img["tokens"] is None:
                assert r["tokens"] is None, k
            else:
                assert list(r["tokens"]) == list(img["tokens"]), k
            assert r["source"] == img["source"], k


@pytest.mark.parametrize(
    "mode,reshape",
    [("mor", None), ("mor_compacted", None), ("mor", "rebucket"), ("mor", "evolve")],
    ids=["mor", "mor_compacted", "mor-rebucket6", "mor-evolve8"],
)
def test_read_changelog_matches_fold_diff(spark, tmp_path, mode, reshape):
    """Net-diff classification (insert / update pair / delete with before
    image) must equal a pandas two-point fold diff under the exact LWW
    triple rule, with and without per-trigger compaction, with hot keys, redeliveries and
    deletes in the span.  Two spans cross bucket specs without changing a
    logical row: a ``rebucket`` 4 -> 6 (non-divisible) and an
    ``evolve_bucket_spec`` 4 -> 8, each after the span's first batch."""
    cfg = GenConfig(n_docs_initial=30, n_events=200, n_segments=6, dup_rate=0.2,
                    key_dist="hot", shuffle_within_segments=True, seed=91)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    cut = 3
    for i, seg in enumerate(segs[:cut]):
        apply_batch(spark, t, spark.read.parquet(seg), batch_id=i,
                    **APPLY_MODES[mode])
    from_sid = t.latest_snapshot_id()
    for i, seg in enumerate(segs[cut:], start=cut):
        apply_batch(spark, t, spark.read.parquet(seg), batch_id=i,
                    **APPLY_MODES[mode])
        if i == cut and reshape == "rebucket":
            assert t.rebucket(spark, 6) is not None
        elif i == cut and reshape == "evolve":
            assert t.evolve_bucket_spec(8) is not None
    got = t.read_changelog(spark, from_sid).collect()
    _check_diff(got, _fold_diff(fx, tmp_path, cut))


def test_read_changelog_from_zero_is_all_inserts(spark, tmp_path):
    """from=0 (bootstrap) has no before state: every live key is one
    insert equal to the final table state; tombstoned keys emit nothing."""
    cfg = GenConfig(n_docs_initial=15, n_events=80, n_segments=2, seed=93)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    for i, seg in enumerate(sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))):
        apply_batch(spark, t, spark.read.parquet(seg), batch_id=i)
    cl = t.read_changelog(spark, 0)
    assert cl.select("_change_type").distinct().collect() == [("insert",)] or \
        set(r["_change_type"] for r in cl.select("_change_type").distinct().collect()) == {"insert"}
    user_cols = ["doc_id", "tokens", "n_tok", "source"]
    assert_state_equal(cl.select(user_cols), fx["expected"][user_cols])


def test_read_changelog_stale_redelivery_emits_nothing(spark, tmp_path):
    """A span whose only traffic is an event OLDER than the key's winner
    appears in read_changes (redelivery-tolerant raw feed) but must NOT
    appear in read_changelog: the net winner did not advance, so a
    downstream aggregate maintainer has nothing to retract or apply."""
    import datetime

    schema = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "op string, offset long, src_partition int, epoch long, "
              "schema_version int, event_time timestamp")
    t2024 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    t2023 = datetime.datetime(2023, 1, 1, 12, 0, 0)
    t = SequenceTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(spark, t, spark.createDataFrame(
        [("d1", [1, 2], 2, "new", "U", 7, 0, 0, 1, t2024)], schema),
        batch_id=0, compact_threshold=None)
    pre = t.latest_snapshot_id()
    apply_batch(spark, t, spark.createDataFrame(
        [("d1", [9], 1, "old", "U", 3, 0, 0, 1, t2023)], schema),
        batch_id=1, compact_threshold=None)
    assert t.read_changes(spark, pre).count() == 1  # raw feed: redelivery visible
    assert t.read_changelog(spark, pre).count() == 0  # net diff: winner unchanged
    got = t.read(spark).collect()
    assert len(got) == 1 and got[0]["source"] == "new"


def test_read_changelog_images_use_to_schema(spark, tmp_path):
    """Schema evolution mid-span: before images predate the added column,
    so they carry it as NULL, reconciled to the TO snapshot's schema —
    the same read-side evolution rule every other read path follows."""
    cfg = GenConfig(n_docs_initial=12, n_events=80, n_segments=4, seed=95,
                    evolution=[(2, {"action": "add_column", "name": "quality"})])
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    for i, seg in enumerate(segs[:2]):
        apply_batch(spark, t, spark.read.parquet(seg), batch_id=i)
    from_sid = t.latest_snapshot_id()
    for i, seg in enumerate(segs[2:], start=2):
        apply_batch(spark, t, spark.read.parquet(seg), batch_id=i)
    cl = t.read_changelog(spark, from_sid)
    assert "quality" in cl.columns  # to-schema everywhere
    before = cl.filter("_change_type in ('update_before', 'delete')")
    assert before.count() > 0
    assert before.filter("quality is not null").count() == 0
    _check_diff(cl.collect(), _fold_diff(fx, tmp_path, 2))


def test_read_changelog_drives_incremental_aggregate(spark, tmp_path):
    """The consumer the diff view exists for: maintain SUM(n_tok) and
    COUNT(*) per source INCREMENTALLY from read_changelog spans —
    update_before/delete retract, update_after/insert apply — and the
    running aggregate must equal a full recompute at every cursor stop.
    The raw feed cannot do this (redeliveries would double-count); the
    diff view's net classification is exactly what makes it correct."""
    import pyspark.sql.functions as F

    cfg = GenConfig(n_docs_initial=25, n_events=180, n_segments=6, dup_rate=0.25,
                    key_dist="hot", shuffle_within_segments=True, seed=101)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))

    def full_recompute():
        return {
            r["source"]: (r["s"], r["c"])
            for r in t.read(spark).groupBy("source")
            .agg(F.sum("n_tok").alias("s"), F.count("*").alias("c")).collect()
        }

    agg = dict(full_recompute())  # bootstrap at the initial snapshot
    cursor = t.latest_snapshot_id()
    for i, seg in enumerate(segs):
        apply_batch(spark, t, spark.read.parquet(seg), batch_id=i)
        head = t.latest_snapshot_id()
        for r in t.read_changelog(spark, cursor, head).collect():
            sign = 1 if r["_change_type"] in ("insert", "update_after") else -1
            s, c = agg.get(r["source"], (0, 0))
            agg[r["source"]] = (s + sign * r["n_tok"], c + sign)
        cursor = head
        agg = {k: v for k, v in agg.items() if v[1] != 0}
        assert agg == full_recompute(), f"diverged after segment {i}"


def test_read_changelog_prunes_to_touched_buckets(spark, tmp_path, monkeypatch):
    """The O(touched-buckets) claim, tested: with 16 buckets and a span
    that updates ONE key, the endpoint image reads must open only files
    of that key's bucket — never the whole table."""
    from cfe_39_spark.sources.table import bucket_expr

    cfg = GenConfig(n_docs_initial=200, n_events=0, n_segments=1, seed=103)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=16)
    import datetime

    schema = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "op string, offset long, src_partition int, epoch long, "
              "schema_version int, event_time timestamp")
    apply_batch(spark, t, spark.createDataFrame(
        [("doc-00000007", [1, 2, 3], 3, "web", "U", 1, 0, 0, 1,
          datetime.datetime(2024, 6, 1))], schema),
        batch_id="one-key", compact_threshold=None)
    [target_bucket] = [
        r["_b"] for r in spark.createDataFrame([("doc-00000007",)], "doc_id string")
        .select(bucket_expr("doc_id", 16).alias("_b")).collect()
    ]
    seen = []
    orig = SequenceTable._read_files

    def spy(self, spark_, snap, files, user_schema=None):
        seen.append([e["bucket"] for e in files])
        return orig(self, spark_, snap, files, user_schema=user_schema)

    monkeypatch.setattr(SequenceTable, "_read_files", spy)
    got = t.read_changelog(spark, 1).collect()
    assert {r["_change_type"] for r in got} == {"update_before", "update_after"}
    endpoint_reads = [b for b in seen if b]  # the two endpoint image reads
    assert len(endpoint_reads) >= 2
    for buckets in endpoint_reads:
        assert set(buckets) == {target_bucket}, buckets


def test_read_changelog_empty_span_is_typed_empty(spark, tmp_path):
    """from == head: no changed keys — the result is an EMPTY DataFrame
    with the full output schema (user cols + ordering triple +
    _change_type), not an inference crash."""
    cfg = GenConfig(n_docs_initial=10, n_events=0, n_segments=1, seed=105)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=2)
    cl = t.read_changelog(spark, t.latest_snapshot_id())
    assert cl.count() == 0
    assert cl.columns == ["doc_id", "tokens", "n_tok", "source",
                          "_last_event_time", "_last_offset",
                          "_last_src_partition", "_change_type"]
