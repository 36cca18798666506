"""Opt-in write sort order (SequenceTable.create(sort_order=...)) —
Iceberg's write.sort-order role: every data write locally sorts within
its bucket file, making parquet row-group stats on the key tight for
intra-file skipping.  Tests assert the physical layout (per-file
sortedness → disjoint row-group stats by construction), property
inheritance across commits, and unchanged logical state."""

import glob
import os

import pyarrow.parquet as pq
import pytest

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources.table import SequenceTable
from tests.util import assert_state_equal, rewrite_unchanged


def _setup(spark, tmp_path, sort_order):
    fx = write_fixture(
        str(tmp_path / "fx"),
        GenConfig(n_docs_initial=50, n_events=300, n_segments=5,
                  dup_rate=0.1, seed=311),
    )
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(
        spark, str(tmp_path / "t"), init, n_buckets=4, sort_order=sort_order
    )
    return fx, t


def _assert_files_sorted(t, col="doc_id"):
    snap = t.snapshot()
    checked = 0
    for e in snap["files"]:
        vals = pq.read_table(
            os.path.join(t.root, e["path"]), columns=[col]
        ).column(col).to_pylist()
        assert vals == sorted(vals), f"{e['path']} not sorted by {col}"
        checked += 1
    assert checked > 0


def test_sort_order_validates_columns(spark, tmp_path):
    with pytest.raises(ValueError, match="sort_order"):
        SequenceTable.create(
            spark, str(tmp_path / "t"), None, n_buckets=2,
            sort_order=["nope"],
        )


def test_sorted_layout_all_write_paths_state_exact(spark, tmp_path):
    """MOR deltas, compaction output, DML deltas and rebucket all
    honor the table's sort order; logical state is byte-identical to an
    unsorted table's."""
    fx, t = _setup(spark, tmp_path, ["doc_id"])
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    for i, s in enumerate(segs[:3]):
        apply_batch(spark, t, spark.read.parquet(s), batch_id=i,
                    compact_threshold=None)
    _assert_files_sorted(t)  # init base + MOR delta files
    t.compact(spark)
    _assert_files_sorted(t)  # compaction rewrite
    apply_batch(spark, t, spark.read.parquet(segs[3]), batch_id=3,
                compact_threshold=None)
    rewrite_unchanged(spark, t, fx["expected"], segs[4:])
    _assert_files_sorted(t)  # DML delta output
    for i, s in enumerate(segs[4:]):
        apply_batch(spark, t, spark.read.parquet(s), batch_id=4 + i,
                    compact_threshold=None)
    t.rebucket(spark, 8)
    _assert_files_sorted(t)  # full rewrite
    assert_state_equal(t.read(spark), fx["expected"])


def test_sort_order_inherited_across_commits_and_evolve(spark, tmp_path):
    fx, t = _setup(spark, tmp_path, ["doc_id"])
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    apply_batch(spark, t, spark.read.parquet(segs[0]), batch_id=0,
                compact_threshold=None)
    t.evolve_bucket_spec(8)
    apply_batch(spark, t, spark.read.parquet(segs[1]), batch_id=1,
                compact_threshold=None)
    snap = t.snapshot()
    assert snap["sort_order"] == ["doc_id"]
    _assert_files_sorted(t)


def test_default_stays_unsorted_and_unmarked(spark, tmp_path):
    """No sort_order: the hot path pays no local sort and the snapshot
    carries no property (the pre-feature layout, bit-for-bit)."""
    fx, t = _setup(spark, tmp_path, None)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    apply_batch(spark, t, spark.read.parquet(segs[0]), batch_id=0,
                compact_threshold=None)
    assert "sort_order" not in t.snapshot()
