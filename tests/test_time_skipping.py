"""Manifest-level event-time file skipping (SURVEY.md §10.17):
``read(min_event_time=...)`` must equal resolve-then-filter over the FULL
file set while planning only files whose footer event-time ceiling reaches
the bound.  The soundness argument (and why only the LOWER bound can skip)
is in ``SequenceTable.read``'s docstring; these tests exercise the trap
cases that argument has to survive."""

import datetime
import glob

import pytest

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources.table import SequenceTable, _bound_micros

SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string, "
    "op string, offset long, src_partition int, epoch long, "
    "schema_version int, event_time timestamp"
)


def _ts(h):
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=h)


def _row(doc, tok, src, op, off, ts):
    return (doc, tok, len(tok), src, op, off, 0, 0, 1, ts)


def _expected_recent(spark, t, bound):
    """Oracle: full unpruned read, filtered AFTER resolution."""
    user_cols = [f.name for f in t.user_schema(t.snapshot()).fields]
    return (
        t.read_state(spark)
        .filter("NOT _deleted")
        .filter(f"_last_event_time >= timestamp'{bound.isoformat(sep=' ')}'")
        .select(user_cols)
    )


def _rows(df):
    return sorted(
        (r["doc_id"], tuple(r["tokens"] or ()), r["source"]) for r in df.collect()
    )


@pytest.mark.parametrize("mode", ["mor", "mor_compacted"])
def test_recent_read_matches_post_filter(spark, tmp_path, mode):
    """Hand-built history with updates, a late delete, and an early delete:
    every bound (before, between, after all events) must match the
    resolve-then-filter oracle in both MOR and COW."""
    t = SequenceTable.create(spark, str(tmp_path / f"t-{mode}"), n_buckets=4)
    batches = [
        # h=1: a,b,c born
        [_row("a", [1], "s1", "I", 1, _ts(1)),
         _row("b", [2], "s1", "I", 2, _ts(1)),
         _row("c", [3], "s1", "I", 3, _ts(1))],
        # h=3: a updated, d born, b deleted (early tombstone)
        [_row("a", [1, 1], "s2", "U", 4, _ts(3)),
         _row("d", [4], "s2", "I", 5, _ts(3)),
         _row("b", [], "s2", "D", 6, _ts(3))],
        # h=6: c updated, d deleted (late tombstone)
        [_row("c", [3, 3], "s3", "U", 7, _ts(6)),
         _row("d", [], "s3", "D", 8, _ts(6))],
    ]
    for i, rows in enumerate(batches):
        apply_batch(spark, t, spark.createDataFrame(rows, SCHEMA),
                    batch_id=i,
                    compact_threshold=1 if mode == "mor_compacted" else None)
    for h in (0, 2, 4, 7):
        got = t.read(spark, min_event_time=_ts(h))
        assert _rows(got) == _rows(_expected_recent(spark, t, _ts(h))), f"h={h}"
    # numeric epoch-seconds spelling resolves to the same bound
    epoch = _ts(4).replace(tzinfo=datetime.timezone.utc).timestamp()
    assert _rows(t.read(spark, min_event_time=epoch)) == _rows(
        _expected_recent(spark, t, _ts(4))
    )


def test_pruning_actually_skips_files(spark, tmp_path):
    """An old commit's files must drop out of the plan once the bound
    passes their event-time ceiling — the point of the feature."""
    t = SequenceTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    old = [_row(f"old-{i}", [i], "s1", "I", i, _ts(1)) for i in range(8)]
    new = [_row(f"new-{i}", [i], "s2", "I", 100 + i, _ts(10)) for i in range(8)]
    apply_batch(spark, t, spark.createDataFrame(old, SCHEMA), batch_id=0,
                compact_threshold=None)
    apply_batch(spark, t, spark.createDataFrame(new, SCHEMA), batch_id=1,
                compact_threshold=None)
    snap = t.snapshot()
    all_files = snap["files"]
    assert all(e.get("max_event_time") is not None for e in all_files)
    kept = t._select_files(snap, min_event_time=_bound_micros(_ts(5)))
    assert kept and len(kept) < len(all_files)
    assert all(e["max_event_time"] >= _bound_micros(_ts(5)) for e in kept)
    # a bound above every event plans NOTHING and still answers correctly
    assert t._select_files(snap, min_event_time=_bound_micros(_ts(99))) == []
    assert t.read(spark, min_event_time=_ts(99)).count() == 0
    # ... and the pruned read's ANSWER is right, not just smaller
    got = _rows(t.read(spark, min_event_time=_ts(5)))
    assert got == sorted((f"new-{i}", (i,), "s2") for i in range(8))


def test_cross_file_trap_stale_version_in_kept_file(spark, tmp_path):
    """The case the soundness argument exists for: doc A's true winner
    (h=5) lives in a PRUNED file while an older A row (h=2) shares a KEPT
    file with recent doc B (h=12).  The subset winner A@2 must be dropped
    by the post-filter — A's true winner is below the bound — never
    served as A's state."""
    t = SequenceTable.create(spark, str(tmp_path / "t"), n_buckets=1)
    apply_batch(
        spark, t,
        spark.createDataFrame(
            [_row("A", [1], "old", "I", 1, _ts(2)),
             _row("B", [2], "new", "I", 2, _ts(12))], SCHEMA),
        batch_id=0, compact_threshold=None)
    apply_batch(
        spark, t,
        spark.createDataFrame(
            [_row("A", [1, 1], "mid", "U", 3, _ts(5))], SCHEMA),
        batch_id=1, compact_threshold=None)
    snap = t.snapshot()
    kept = t._select_files(snap, min_event_time=_bound_micros(_ts(10)))
    assert len(kept) < len(snap["files"]), "batch-1 file must be pruned"
    assert _rows(t.read(spark, min_event_time=_ts(10))) == [("B", (2,), "new")]
    # unbounded read still serves A's true winner
    full = {r["doc_id"]: r["source"] for r in t.read(spark).collect()}
    assert full == {"A": "mid", "B": "new"}


def test_entries_without_stats_are_never_skipped(spark, tmp_path):
    """Entries/refs written before the stat landed lack the key — they must
    always be planned (correctness over skipping), at both the inline-files
    and the manifest-reference level."""
    # inline (v1) descriptor branch
    snap = {
        "files": [
            {"bucket": 0, "max_event_time": None},
            {"bucket": 1, "max_event_time": _bound_micros(_ts(1))},
            {"bucket": 2},  # pre-upgrade entry: key absent entirely
        ]
    }
    t = SequenceTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    kept = t._select_files(snap, min_event_time=_bound_micros(_ts(5)))
    assert [e["bucket"] for e in kept] == [0, 2]
    # manifest-reference branch: a ref with no ceiling loads its body;
    # one with a known too-low ceiling is skipped without loading
    legacy = t._write_manifest(90, [{"bucket": 0, "rows": 1}])
    assert legacy["max_event_time"] is None
    low = t._write_manifest(
        91, [{"bucket": 1, "rows": 1, "min_doc_id": "a", "max_doc_id": "a",
              "max_event_time": _bound_micros(_ts(1))}])
    assert low["max_event_time"] == _bound_micros(_ts(1))
    snap2 = {"manifests": [legacy, low]}
    kept2 = t._select_files(snap2, min_event_time=_bound_micros(_ts(5)))
    assert [e["bucket"] for e in kept2] == [0]


def test_compaction_rebuilds_time_stats(spark, tmp_path):
    """Compaction rewrites buckets; the rewritten files must carry fresh
    event-time ceilings and the pruned read must stay equal to the
    oracle on the compacted table."""
    fx = write_fixture(
        str(tmp_path / "fx"),
        GenConfig(n_docs_initial=20, n_events=120, n_segments=3,
                  dup_rate=0.2, seed=71),
    )
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    for i, seg in enumerate(
        sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    ):
        apply_batch(spark, t, spark.read.parquet(seg), batch_id=i,
                    compact_threshold=None)
    assert t.compact(spark) is not None
    snap = t.snapshot()
    assert all(e.get("max_event_time") is not None for e in snap["files"])
    # median event time as the bound: real pruning work on both sides
    times = sorted(
        r[0] for r in t.read_state(spark).select("_last_event_time").collect()
    )
    bound = times[len(times) // 2]
    assert _rows(t.read(spark, min_event_time=bound)) == _rows(
        _expected_recent(spark, t, bound)
    )


def test_property_random_history_random_bound(spark, tmp_path):
    """Property sweep without the Spark-per-example cost of hypothesis:
    several random fixture histories × several quantile bounds, MOR with
    deltas retained (the hard case) — pruned read ≡ resolve-then-filter,
    and the planner never plans a file whose ceiling is below the bound."""
    for seed in (5, 17, 23):
        fx = write_fixture(
            str(tmp_path / f"fx{seed}"),
            GenConfig(n_docs_initial=12, n_events=60, n_segments=3,
                      dup_rate=0.3, key_dist="hot", seed=seed),
        )
        init = spark.read.parquet(str(tmp_path / f"fx{seed}" / "initial.parquet"))
        t = SequenceTable.create(
            spark, str(tmp_path / f"t{seed}"), init, n_buckets=4
        )
        for i, seg in enumerate(sorted(
            glob.glob(str(tmp_path / f"fx{seed}" / "segments" / "*.parquet"))
        )):
            apply_batch(spark, t, spark.read.parquet(seg), batch_id=i,
                        compact_threshold=None)
        times = sorted(
            r[0] for r in t.read_state(spark).select("_last_event_time").collect()
        )
        snap = t.snapshot()
        for q in (0.0, 0.4, 0.9):
            bound = times[int(q * (len(times) - 1))]
            assert _rows(t.read(spark, min_event_time=bound)) == _rows(
                _expected_recent(spark, t, bound)
            ), f"seed={seed} q={q}"
            mic = _bound_micros(bound.replace(tzinfo=datetime.timezone.utc))
            kept = t._select_files(snap, min_event_time=mic)
            assert all(
                e.get("max_event_time") is None or e["max_event_time"] >= mic
                for e in kept
            )


def test_micros_conversion_is_exact():
    """The float detour (int(dt.timestamp()*1e6)) truncates one microsecond
    low for ~1% of instants — enough to unsoundly prune a file whose true
    ceiling EQUALS the bound.  Conversions must be exact for every
    microsecond, including ones the float path gets wrong."""
    from cfe_39_spark.sources.table import _ts_micros

    import random

    rng = random.Random(1)
    float_was_wrong = 0
    # random instants across 1970-2096 plus a contiguous 2023 stretch
    samples = [rng.randrange(0, 4_000_000_000_000_000) for _ in range(20_000)]
    samples += list(range(1_700_000_000_000_000, 1_700_000_000_050_000, 7))
    for m in samples:
        dt = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc
                               ) + datetime.timedelta(microseconds=m)
        assert _ts_micros(dt) == m
        assert _bound_micros(dt) == m
        # float epoch-seconds spelling: nearest-double error < 0.5 us at
        # these magnitudes, so round() recovers the exact microsecond
        assert _bound_micros(m / 1_000_000) == m
        if int(dt.timestamp() * 1_000_000) != m:
            float_was_wrong += 1
    assert float_was_wrong > 0, "sweep must cover instants the old math lost"
