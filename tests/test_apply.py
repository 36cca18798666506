"""End-to-end batch MERGE pipeline vs the pandas oracle (SURVEY.md §7 step 3:
the minimum slice — load fixture table, apply change batches, read snapshot,
assert bit-for-bit state equality)."""

import numpy as np
import pytest

from cfe_39_spark.fixtures import GenConfig, expected_state, gen_events, gen_initial, segment_events, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources.table import SequenceTable, lww_resolve

from .util import APPLY_MODES, assert_state_equal, jobs_started, py4j_round_trips, shuffles, sql_plans


def _replay(spark, tmp_path, cfg, boundaries=None, n_buckets=8, **apply_kw):
    fx = write_fixture(str(tmp_path / "fx"), cfg, boundaries)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=n_buckets)
    import glob

    for i, seg in enumerate(sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i, **apply_kw)
    return table, fx


def test_single_batch_insert_update_delete(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=20, n_events=60, n_segments=1, seed=7)
    table, fx = _replay(spark, tmp_path, cfg)
    assert_state_equal(table.read(spark), fx["expected"])


def test_multi_batch_replay_matches_oracle(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=30, n_events=200, n_segments=5, seed=11)
    table, fx = _replay(spark, tmp_path, cfg)
    assert_state_equal(table.read(spark), fx["expected"])


def test_duplicate_delivery_is_noop(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=25, n_events=150, n_segments=4, dup_rate=0.3, seed=13)
    table, fx = _replay(spark, tmp_path, cfg)
    assert_state_equal(table.read(spark), fx["expected"])


def test_reslicing_invariance(spark, tmp_path):
    """Same events, different segment boundaries => identical final state."""
    cfg = GenConfig(n_docs_initial=20, n_events=120, n_segments=4, seed=17)
    t1, fx1 = _replay(spark, tmp_path / "a", cfg)
    t2, fx2 = _replay(spark, tmp_path / "b", cfg, boundaries=[10, 30, 35, 90, 100])
    assert_state_equal(t1.read(spark), fx1["expected"])
    assert_state_equal(t2.read(spark), fx1["expected"])


def test_out_of_order_and_shuffled(spark, tmp_path):
    cfg = GenConfig(
        n_docs_initial=20, n_events=150, n_segments=3,
        shuffle_within_segments=True, seed=19,
    )
    table, fx = _replay(spark, tmp_path, cfg)
    assert_state_equal(table.read(spark), fx["expected"])


@pytest.mark.parametrize("mode", sorted(APPLY_MODES))
def test_hot_key_skew(spark, tmp_path, mode):
    """80% of events on 1% of keys: a hot key's copies all reach its
    bucket's task (no partial combine runs before the one shuffle), and
    the state still equals the oracle, with deltas left for read-time
    resolution and with each trigger compacting its buckets."""
    cfg = GenConfig(n_docs_initial=100, n_events=300, n_segments=3, key_dist="hot", seed=23)
    table, fx = _replay(spark, tmp_path, cfg, **APPLY_MODES[mode])
    assert_state_equal(table.read(spark), fx["expected"])


def _brute_state(spark, t):
    """Resolved state by one global ``lww_resolve`` over every file of
    the snapshot: plain ``doc_id`` grouping, no bucket partitioning."""
    snap = t.snapshot()
    return lww_resolve(t._read_files(spark, snap, snap["files"]))


def _state_rows(df):
    return sorted(
        tuple(r) for r in df.selectExpr(
            "doc_id", "CAST(tokens AS STRING)", "n_tok", "source",
            "_last_offset", "_last_event_time", "_last_src_partition", "_deleted",
        ).collect()
    )


def test_hot_key_rebucket_and_merge_match_brute_force(spark, tmp_path):
    """Hot-key state left as merge-on-read deltas, then a ``rebucket`` to
    a new bucket count and a ``merge_into`` upsert over hot and new keys:
    each resolves on the bucket partitioning of the rewrite, and each
    result equals a brute-force global ``lww_resolve`` of its input."""
    from pyspark.sql import functions as F

    from cfe_39_spark.operators.dml import merge_into

    cfg = GenConfig(n_docs_initial=100, n_events=300, n_segments=3, key_dist="hot", seed=23)
    t, fx = _replay(spark, tmp_path, cfg, n_buckets=4, compact_threshold=None)
    before = _state_rows(_brute_state(spark, t))
    assert t.rebucket(spark, 6) is not None
    assert t.snapshot()["n_buckets"] == 6
    assert _state_rows(t.read_state(spark)) == before
    assert_state_equal(t.read(spark), fx["expected"])

    # a redelivered segment (a row-wise no-op) leaves deltas, so the
    # merge resolves dirty groups
    apply_batch(spark, t, spark.read.parquet(
        str(tmp_path / "fx" / "segments" / "seg-00000.parquet")
    ), batch_id="redeliver", compact_threshold=None)
    assert_state_equal(t.read(spark), fx["expected"])
    live = set(fx["expected"]["doc_id"])
    counts = spark.read.parquet(str(tmp_path / "fx" / "segments")).groupBy("doc_id").count()
    hot = [
        r["doc_id"] for r in counts.orderBy(F.desc("count"), "doc_id").collect()
        if r["doc_id"] in live
    ][:4]
    rows = [(d, [7, 7], 2, "merged") for d in hot]
    rows += [(f"new-{i}", [i], 1, "merged") for i in range(3)]
    pre = {r[0]: r for r in _state_rows(_brute_state(spark, t))}
    r = merge_into(spark, t, spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ))
    assert (r.rows_updated, r.rows_inserted, r.rows_deleted) == (4, 3, 0)
    got = _state_rows(t.read_state(spark))
    assert got == _state_rows(_brute_state(spark, t))
    by_key = {g[0]: g for g in got}
    for d, tok, n, src in rows:
        assert by_key[d][1:4] == (str(tok), n, src) and not by_key[d][7]
    assert all(by_key[k] == v for k, v in pre.items() if k not in hot)


def test_lww_dup_and_shuffle_matches_oracle(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=15, n_events=100, n_segments=2,
                    dup_rate=0.2, shuffle_within_segments=True, seed=29)
    table, fx = _replay(spark, tmp_path, cfg, n_buckets=4)
    assert_state_equal(table.read(spark), fx["expected"])


def test_cross_partition_tie_breaks_deterministically(spark, tmp_path):
    """Two DIFFERENT events for one doc tying on (event_time, offset)
    across source partitions (offsets are only per-partition monotone)
    must resolve identically on every run:
    src_partition is the tertiary tiebreak, so the partition-3 payload
    wins over partition-1's."""
    import datetime

    from cfe_39_spark.operators.cdc import lww_winners

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("d1", [1, 2], 2, "a", "U", 7, 1, 0, 1, ts),
        ("d1", [9, 9], 2, "b", "U", 7, 3, 0, 1, ts),  # same (ts, offset), higher partition
        ("d1", [5, 5], 2, "c", "U", 5, 2, 0, 1, ts),  # lower offset: never wins
    ]
    schema = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "op string, offset long, src_partition int, epoch long, "
              "schema_version int, event_time timestamp")
    ev = spark.createDataFrame(rows, schema)
    outcomes = set()
    for _ in range(2):  # identical across runs
        w = lww_winners(ev).collect()
        assert len(w) == 1
        outcomes.add((w[0]["source"], tuple(w[0]["tokens"])))
    assert outcomes == {("b", (9, 9))}


@pytest.mark.parametrize("mode", ["mor", "mor_compacted"])
def test_cross_batch_tie_persists_tiebreak(spark, tmp_path, mode):
    """The tertiary src_partition tiebreak must survive BATCH BOUNDARIES:
    two different events tying on (event_time, offset) must resolve to the
    same winner whether they arrive in one batch or split across two, in
    either arrival order, under read-time resolution and in compacted
    base files alike.  Requires the winner's src_partition to be persisted
    (_last_src_partition) — with only the pair stored, the split case is
    nondeterministic (ADVICE r3)."""
    import datetime

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    schema = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "op string, offset long, src_partition int, epoch long, "
              "schema_version int, event_time timestamp")
    lo = ("d1", [1, 2], 2, "a", "U", 7, 1, 0, 1, ts)  # partition 1
    hi = ("d1", [9, 9], 2, "b", "U", 7, 3, 0, 1, ts)  # partition 3: must win
    slicings = {
        "one_batch": [[lo, hi]],
        "lo_then_hi": [[lo], [hi]],
        "hi_then_lo": [[hi], [lo]],
    }
    for tag, batches in slicings.items():
        t = SequenceTable.create(
            spark, str(tmp_path / f"t-{mode}-{tag}"), n_buckets=2
        )
        for i, rows in enumerate(batches):
            apply_batch(spark, t, spark.createDataFrame(rows, schema),
                        batch_id=i,
                        compact_threshold=1 if mode == "mor_compacted" else None)
        got = t.read(spark).collect()
        assert len(got) == 1, (mode, tag, got)
        assert got[0]["source"] == "b", (mode, tag, got)
        assert list(got[0]["tokens"]) == [9, 9], (mode, tag)
        # and the persisted bookkeeping carries the winning partition
        st = t.read_state(spark).collect()[0]
        assert st["_last_src_partition"] == 3, (mode, tag, st)


def test_batch_idempotency_on_reapply(spark, tmp_path):
    """Re-applying an already-committed batch_id is a no-op (exactly-once layer 1)."""
    cfg = GenConfig(n_docs_initial=10, n_events=40, n_segments=2, seed=31)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=4)
    import glob

    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    for i, seg in enumerate(segs):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i)
    sid = table.latest_snapshot_id()
    r = apply_batch(spark, table, spark.read.parquet(segs[0]), batch_id=0)
    assert r.noop and table.latest_snapshot_id() == sid
    assert_state_equal(table.read(spark), fx["expected"])


def test_tokens_stay_int32(spark, tmp_path):
    cfg = GenConfig(n_docs_initial=10, n_events=30, n_segments=1, seed=37)
    table, fx = _replay(spark, tmp_path, cfg)
    field = dict((f.name, f.dataType.simpleString()) for f in table.read(spark).schema.fields)
    assert field["tokens"] == "array<int>"
    row = table.read(spark).filter("tokens is not null").first()
    assert np.asarray(row["tokens"]).dtype in (np.int32, np.dtype("int32")) or all(
        isinstance(t, int) for t in row["tokens"]
    )


def test_fused_stats_path_equivalent(spark, tmp_path):
    """apply_batch with known_partitions (lineage stats observed during the
    delta-write job — one Spark job per trigger) must produce identical
    state AND identical lineage to the eager two-job path; a wrong hint
    must self-correct via the fallback, never mis-report."""
    import glob

    cfg = GenConfig(n_docs_initial=25, n_events=120, n_segments=3, dup_rate=0.2, seed=41)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))

    results = {}
    for tag, hint in (
        ("eager", None),
        ("fused", list(range(cfg.n_partitions))),
        ("bad_hint", [0]),  # most partitions missing -> fallback path
    ):
        t = SequenceTable.create(spark, str(tmp_path / f"t-{tag}"), init, n_buckets=4)
        rs = []
        for i, seg in enumerate(segs):
            rs.append(
                apply_batch(
                    spark, t, spark.read.parquet(seg), batch_id=i,
                    known_partitions=hint,
                )
            )
        assert_state_equal(t.read(spark), fx["expected"])
        results[tag] = [
            (r.rows_applied, r.events_in, r.per_partition) for r in rs
        ]
    assert results["eager"] == results["fused"]
    # the bad hint's per-partition rows_applied degrade to the grouped
    # recomputation; totals must still agree exactly
    for (ra, ei, pp), (ra2, ei2, pp2) in zip(results["eager"], results["bad_hint"]):
        assert (ra, ei) == (ra2, ei2)
        assert [
            (p["src_partition"], p["min_offset"], p["max_offset"], p["events_in"])
            for p in pp
        ] == [
            (p["src_partition"], p["min_offset"], p["max_offset"], p["events_in"])
            for p in pp2
        ]


def test_steady_fused_trigger_job_count(spark, tmp_path):
    """A steady MOR trigger on the fused-stats path (``known_partitions``
    set, no compaction) starts at most 2 Spark jobs: the single ``max_by``
    LWW aggregation runs on rows already partitioned by bucket and feeds
    the delta write with no second shuffle, and lineage stats ride that
    write.  Its plan costs a bounded number of py4j round trips: the stats
    observe, the LWW aggregation and the delta projection are SQL
    expression strings, not Column chains per column and source partition
    (each Column call costs several round trips).  Without the hint the
    trigger takes the same path plus the job that lists the batch's
    source partitions: at most 4 jobs.  The first trigger may pay one-off
    costs and is not pinned."""
    import glob

    cfg = GenConfig(n_docs_initial=40, n_events=600, n_segments=4, dup_rate=0.1, seed=53)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    # input relations are built before the probes: their schema inference
    # is the caller's job, not the trigger's
    segs = [
        spark.read.parquet(s)
        for s in sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    ]
    hint = list(range(cfg.n_partitions))
    jobs, trips = [], []
    for i, ev in enumerate(segs):
        (_, n_trips), n_jobs = jobs_started(spark, lambda: py4j_round_trips(
            spark, lambda: apply_batch(
                spark, t, ev, batch_id=i, known_partitions=hint, compact_threshold=None,
            ),
        ))
        jobs.append(n_jobs)
        trips.append(n_trips)
    assert all(n <= 2 for n in jobs[1:]), jobs
    # measured: 111 per trigger; per-column Column chains made 1,814
    assert all(n <= 165 for n in trips[1:]), trips
    assert_state_equal(t.read(spark), fx["expected"])

    t = SequenceTable.create(spark, str(tmp_path / "t-unhinted"), init, n_buckets=4)
    jobs = [
        jobs_started(spark, lambda: apply_batch(
            spark, t, ev, batch_id=i, compact_threshold=None,
        ))[1]
        for i, ev in enumerate(segs)
    ]
    assert all(n <= 4 for n in jobs[1:]), jobs
    assert_state_equal(t.read(spark), fx["expected"])


def test_bucketed_writes_shuffle_once(spark, tmp_path):
    """Every bucketed write shuffles its rows once, on ``_bucket``: LWW
    (or merge-on-read resolution) groups by ``(_bucket, doc_id)`` over
    rows already partitioned by bucket, and the file write reuses that
    partitioning.  Pinned on the executed plans of a steady trigger's
    write, a compaction's and a ``delete_where``'s, and on the job count
    of a compacting trigger (at most 4: the delta write and the
    compaction write, two jobs each)."""
    import glob

    from cfe_39_spark.operators.dml import delete_where

    cfg = GenConfig(n_docs_initial=40, n_events=600, n_segments=4, dup_rate=0.1, seed=53)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    segs = [
        spark.read.parquet(s)
        for s in sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    ]
    hint = list(range(cfg.n_partitions))

    def write_plans(fn):
        _, plans = sql_plans(spark, fn)
        return [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]

    apply_batch(spark, t, segs[0], batch_id=0, known_partitions=hint, compact_threshold=None)
    steady = write_plans(lambda: apply_batch(
        spark, t, segs[1], batch_id=1, known_partitions=hint, compact_threshold=None,
    ))
    assert [shuffles(p) for p in steady] == [1], steady
    compaction = write_plans(lambda: t.compact(spark))
    assert [shuffles(p) for p in compaction] == [1], compaction
    _, n_jobs = jobs_started(spark, lambda: apply_batch(
        spark, t, segs[2], batch_id=2, known_partitions=hint, compact_threshold=1,
    ))
    assert n_jobs <= 4, n_jobs
    apply_batch(spark, t, segs[3], batch_id=3, known_partitions=hint, compact_threshold=None)
    assert_state_equal(t.read(spark), fx["expected"])
    victim = min(fx["expected"]["doc_id"])
    dml = write_plans(lambda: delete_where(spark, t, f"doc_id = '{victim}'"))
    assert [shuffles(p) for p in dml] == [1], dml
    exp = fx["expected"]
    assert_state_equal(t.read(spark), exp[exp["doc_id"] != victim])


@pytest.mark.parametrize("hint", [None, [0, 1]])
def test_empty_batch_commits_with_zero_counts(spark, tmp_path, hint):
    """A batch Spark can prove empty (an empty local relation: a
    constant-false filter, or the feed of a span with no change files)
    commits a snapshot with zero events and the state unchanged.  The
    stats observation must survive Spark's pruning of empty relations,
    which drops an observed node below the bucket repartition."""
    cfg = GenConfig(n_docs_initial=20, n_events=40, n_segments=1, seed=31)
    table, fx = _replay(spark, tmp_path, cfg, n_buckets=4)
    events = spark.read.parquet(str(tmp_path / "fx" / "segments")).filter("false")
    r = apply_batch(spark, table, events, batch_id="empty", known_partitions=hint)
    assert not r.noop and (r.events_in, r.rows_applied) == (0, 0)
    assert table.find_batch("empty") == r.snapshot_id
    assert_state_equal(table.read(spark), fx["expected"])


def test_fused_stats_with_negative_and_gapped_partitions(spark, tmp_path):
    """The fused-stats path names its observed statistics by position, so
    any partition id works: -1 (what DML and mirror feeds carry), 0 and 3
    (a gap).  Lineage and state equal the unfused path's."""
    import glob

    from pyspark.sql import functions as F

    cfg = GenConfig(n_docs_initial=30, n_events=240, n_segments=3, dup_rate=0.1,
                    n_partitions=3, seed=61)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    # an order-preserving relabel 0,1,2 -> -1,0,3: per-partition offset
    # order and the LWW tiebreak are unchanged, so the oracle still holds
    segs = [
        spark.read.parquet(s).withColumn(
            "src_partition",
            F.expr("CAST(CASE src_partition WHEN 0 THEN -1 WHEN 1 THEN 0 ELSE 3 END AS INT)"),
        )
        for s in sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    ]
    lineage = {}
    for tag, hint in (("unfused", None), ("fused", [-1, 0, 3])):
        t = SequenceTable.create(spark, str(tmp_path / f"t-{tag}"), init, n_buckets=4)
        lineage[tag] = [
            apply_batch(spark, t, ev, batch_id=i, known_partitions=hint).per_partition
            for i, ev in enumerate(segs)
        ]
        assert_state_equal(t.read(spark), fx["expected"])
    assert lineage["fused"] == lineage["unfused"]
    assert {p["src_partition"] for pp in lineage["fused"] for p in pp} == {-1, 0, 3}


def test_evolved_column_with_awkward_name_on_every_path(spark, tmp_path):
    """A batch-evolved column whose name needs quoting (a space, a
    backtick) goes through fused and unfused MOR apply, compaction, read,
    lookup and the change feed."""
    import glob

    from pyspark.sql import functions as F

    names = {"a b": "!", "x`y": "?"}
    cfg = GenConfig(n_docs_initial=30, n_events=180, n_segments=3, seed=67)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    segs = [
        spark.read.parquet(s)
        for s in sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    ]
    # the middle batch evolves the schema; the last one lacks the columns
    # again (null-filled on write)
    for name, suffix in names.items():
        segs[1] = segs[1].withColumn(name, F.concat("doc_id", F.lit(suffix)))
    base = ["doc_id", "tokens", "n_tok", "source"]

    def by_key(df):
        return sorted(df.collect(), key=lambda r: r["doc_id"])

    reads = {}
    for tag, hint in (("unfused", None), ("fused", list(range(cfg.n_partitions)))):
        t = SequenceTable.create(spark, str(tmp_path / f"t-{tag}"), init, n_buckets=4)
        first = t.latest_snapshot_id()
        for i, ev in enumerate(segs):
            apply_batch(spark, t, ev, batch_id=i, known_partitions=hint,
                        compact_threshold=None)
        got = t.read(spark)
        assert got.columns == base + list(names)
        assert_state_equal(got.select(base), fx["expected"])
        rows = by_key(got)
        for name, suffix in names.items():
            vals = [(r["doc_id"], r[name]) for r in rows if r[name] is not None]
            assert vals and all(v == d + suffix for d, v in vals), (name, vals[:3])
        keys = [r["doc_id"] for r in rows if r["a b"] is not None][:5]
        assert by_key(t.lookup(spark, keys)) == [r for r in rows if r["doc_id"] in keys]
        feed = by_key(t.read_changes(spark, from_snapshot_id=first))
        for name, suffix in names.items():
            assert {r[name] for r in feed} - {None} == {
                r["doc_id"] + suffix for r in feed if r[name] is not None
            }
            assert any(r[name] is not None for r in feed)
        assert t.compact(spark) is not None
        assert by_key(t.read(spark)) == rows
        reads[tag] = rows
    assert reads["fused"] == reads["unfused"]
