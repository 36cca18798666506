"""Generic MERGE INTO (operators/dml.py::merge_into) — the Iceberg/Delta
statement completing the DML triad.  Pins: oracle-exact default upsert,
clause gating (matched-condition, delete clause, insert toggle), source
cardinality/NULL-key errors, O(source-touched groups) write scope,
tombstone keys reading as NOT MATCHED, n_tok derivation, redelivery
no-op semantics, and mirror convergence through the ordinary change
feed."""

import glob

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.operators.dml import (
    MergeCardinalityError,
    delete_where,
    merge_into,
)
from cfe_39_spark.sources.table import SequenceTable, bucket_of
from cfe_39_spark.streaming import mirror
from tests.util import assert_state_equal

SRC_SCHEMA = ("doc_id string, tokens array<int>, n_tok int, source string")


def _setup(spark, tmp_path, n_segments=4):
    fx = write_fixture(
        str(tmp_path / "fx"),
        GenConfig(n_docs_initial=60, n_events=300, n_segments=n_segments,
                  dup_rate=0.15, seed=733),
    )
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    for i, s in enumerate(segs):
        apply_batch(spark, t, spark.read.parquet(s), batch_id=i,
                    compact_threshold=None)
    return fx, t, segs


def _source(spark, rows):
    return spark.createDataFrame(rows, SRC_SCHEMA)


def test_merge_default_upsert_matches_oracle(spark, tmp_path):
    """Default clauses = classic upsert: matched rows take the source's
    values wholesale, unmatched source rows insert, untouched rows carry."""
    fx, t, _ = _setup(spark, tmp_path)
    exp = fx["expected"].copy()
    hit = sorted(exp["doc_id"])[:5]
    rows = [(d, [1, 2, 3], 3, "merged") for d in hit]
    rows += [(f"new-{i}", [9] * (i + 1), i + 1, "merged") for i in range(3)]
    r = merge_into(spark, t, _source(spark, rows))
    assert r is not None
    assert (r.rows_updated, r.rows_inserted, r.rows_deleted) == (5, 3, 0)

    m = exp["doc_id"].isin(hit)
    exp.loc[m, "tokens"] = exp.loc[m, "tokens"].map(lambda _: [1, 2, 3])
    exp.loc[m, "n_tok"] = 3
    exp.loc[m, "source"] = "merged"
    ins = pd.DataFrame(
        [{"doc_id": f"new-{i}", "tokens": [9] * (i + 1), "n_tok": i + 1,
          "source": "merged"} for i in range(3)]
    )
    assert_state_equal(t.read(spark), pd.concat([exp, ins], ignore_index=True))
    # first-class snapshot: time travel shows the pre-merge state, and the
    # change feed carries exactly the affected rows
    assert t.read(spark, r.snapshot_id - 1).count() == len(fx["expected"])
    feed = t.read_changes(spark, from_snapshot_id=r.snapshot_id - 1)
    assert feed.count() == r.rows_affected


def test_merge_clauses_delete_update_insert_conditions(spark, tmp_path):
    """All three clauses with conditions in one statement: delete when the
    source says so, update only rows passing the matched condition
    (expressions see target cols + src_ cols), inserts off."""
    fx, t, _ = _setup(spark, tmp_path)
    exp = fx["expected"].copy()
    docs = sorted(exp["doc_id"])[:6]
    rows = [(d, [5], 1, "drop" if i < 2 else "keep")
            for i, d in enumerate(docs)]
    rows.append(("ghost-key", [5], 1, "keep"))  # unmatched: must NOT insert
    r = merge_into(
        spark, t, _source(spark, rows),
        when_matched_delete="src_source = 'drop'",
        when_matched_update={"tokens": "src_tokens",
                             "source": "concat(source, '+', src_source)"},
        when_matched_condition="n_tok >= 1",
        when_not_matched_insert=False,
    )
    assert r is not None
    assert (r.rows_deleted, r.rows_updated, r.rows_inserted) == (2, 4, 0)
    exp = exp[~exp["doc_id"].isin(docs[:2])].copy()
    m = exp["doc_id"].isin(docs[2:])
    exp.loc[m, "source"] = exp.loc[m, "source"] + "+keep"
    exp.loc[m, "tokens"] = exp.loc[m, "tokens"].map(lambda _: [5])
    exp.loc[m, "n_tok"] = 1  # derived from the new tokens, not stale
    assert_state_equal(t.read(spark), exp.reset_index(drop=True))


def test_merge_cardinality_and_null_key_raise(spark, tmp_path):
    fx, t, _ = _setup(spark, tmp_path, n_segments=1)
    d = sorted(fx["expected"]["doc_id"])[0]
    dup = _source(spark, [(d, [1], 1, "a"), (d, [2], 1, "b")])
    with pytest.raises(MergeCardinalityError, match="2 rows"):
        merge_into(spark, t, dup)
    nul = _source(spark, [(None, [1], 1, "a")])
    with pytest.raises(MergeCardinalityError, match="NULL merge key"):
        merge_into(spark, t, nul)
    with pytest.raises(ValueError, match="immutable"):
        merge_into(spark, t, dup.limit(1),
                   when_matched_update={"doc_id": "'x'"})


def test_merge_tombstone_key_is_not_matched(spark, tmp_path):
    """A key deleted earlier reads as NOT MATCHED: the merge re-inserts it
    with an ordering triple strictly above the tombstone's, so redelivery
    of the key's pre-delete events still no-ops afterwards."""
    fx, t, segs = _setup(spark, tmp_path)
    victim = sorted(fx["expected"]["doc_id"])[0]
    assert delete_where(spark, t, f"doc_id = '{victim}'") is not None
    r = merge_into(spark, t, _source(spark, [(victim, [4, 4], 2, "revived")]))
    assert r is not None and r.rows_inserted == 1 and r.rows_updated == 0
    got = t.read(spark).filter(f"doc_id = '{victim}'").collect()
    assert len(got) == 1 and got[0]["source"] == "revived"
    post = t.read(spark).toPandas()
    for i, s in enumerate(segs):  # redelivery under fresh batch ids
        apply_batch(spark, t, spark.read.parquet(s), batch_id=f"re{i}",
                    compact_threshold=None)
    assert_state_equal(t.read(spark), post)


def test_merge_rewrites_only_source_key_groups(spark, tmp_path):
    """O(touched groups): candidate groups come from the SOURCE's keys —
    no table scan — every pre-merge file is carried as-is, and the only
    new entries are deltas in the source key's group."""
    fx, t, _ = _setup(spark, tmp_path)
    d = sorted(fx["expected"]["doc_id"])[0]
    before = {e["path"] for e in t.snapshot()["files"]}
    r = merge_into(spark, t, _source(spark, [(d, [1], 1, "x")]))
    assert r is not None and r.rows_updated == 1
    after = t.snapshot()["files"]
    assert before <= {e["path"] for e in after}
    new = [e for e in after if e["path"] not in before]
    assert new and all(
        e["kind"] == "delta" and e["bucket"] == bucket_of(d, 4) for e in new
    )


def test_merge_noop_commits_nothing_and_derives_n_tok(spark, tmp_path):
    fx, t, _ = _setup(spark, tmp_path, n_segments=1)
    before = t.latest_snapshot_id()
    # matched row fails the condition, inserts disabled -> no commit
    d = sorted(fx["expected"]["doc_id"])[0]
    assert merge_into(
        spark, t, _source(spark, [(d, [1], 1, "x")]),
        when_matched_condition="false", when_not_matched_insert=False,
    ) is None
    assert t.latest_snapshot_id() == before
    # source without n_tok: derived from tokens for update AND insert
    src = spark.createDataFrame(
        [(d, [7, 7, 7], "nt"), ("brand-new", [8, 8], "nt")],
        "doc_id string, tokens array<int>, source string",
    )
    r = merge_into(spark, t, src)
    assert r is not None and r.rows_updated == 1 and r.rows_inserted == 1
    got = {x["doc_id"]: x for x in t.read(spark)
           .filter(F.col("doc_id").isin([d, "brand-new"])).collect()}
    assert got[d]["n_tok"] == 3 and got["brand-new"]["n_tok"] == 2


def test_merge_mirror_converges(spark, tmp_path):
    """merge_into flows through read_changes like any commit; a mirror
    applying the feed under plain LWW reaches the primary's exact state."""
    fx, t, _ = _setup(spark, tmp_path)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    dst = SequenceTable.create(spark, str(tmp_path / "dst"), init, n_buckets=4)
    chk = str(tmp_path / "chk")
    mirror.run_mirror(spark, t, dst, chk)

    docs = sorted(fx["expected"]["doc_id"])[:4]
    rows = [(d, [3, 1], 2, "m") for d in docs] + [("fresh", [2], 1, "m")]
    assert merge_into(
        spark, t, _source(spark, rows),
        when_matched_delete="src_doc_id = '" + docs[0] + "'",
    ) is not None
    ticks = mirror.run_mirror(spark, t, dst, chk)
    assert ticks and ticks[-1].applied
    assert_state_equal(dst.read(spark), t.read(spark).toPandas())
