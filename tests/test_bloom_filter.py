"""Opt-in parquet bloom filters (SequenceTable.create(bloom_filter_cols=...))
— Iceberg's write.parquet.bloom-filter-enabled.column.* role: every data
write builds a parquet bloom filter on the named columns, so an equality
lookup skips row groups whose bloom rejects the key EVEN WITHOUT a sort
order (where min/max stats span the whole key space and prune nothing
intra-file).  pyarrow 16 does not expose bloom metadata, so the physical
assertions read the parquet footer through parquet-mr on Spark's own
classpath (ColumnChunkMetaData.getBloomFilterOffset)."""

import glob
import os

import pytest

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources.table import SequenceTable
from tests.util import assert_state_equal, rewrite_unchanged


def _bloom_offset(spark, path: str, col: str) -> int:
    """doc_id column's bloom offset in the first row group (-1 = absent),
    read via parquet-mr (the library Spark itself reads footers with)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        hpath, spark._jsc.hadoopConfiguration()
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        block = reader.getFooter().getBlocks().get(0)
        for i in range(block.getColumns().size()):
            c = block.getColumns().get(i)
            if c.getPath().toDotString() == col:
                return c.getBloomFilterOffset()
        raise AssertionError(f"column {col} not in {path}")
    finally:
        reader.close()


def _assert_blooms(spark, t, col="doc_id", present=True):
    snap = t.snapshot()
    checked = 0
    for e in snap["files"]:
        off = _bloom_offset(spark, os.path.join(t.root, e["path"]), col)
        if present:
            assert off >= 0, f"{e['path']}: no bloom filter on {col}"
        else:
            assert off == -1, f"{e['path']}: unexpected bloom on {col}"
        checked += 1
    assert checked > 0


def _setup(spark, tmp_path, **create_kw):
    fx = write_fixture(
        str(tmp_path / "fx"),
        GenConfig(n_docs_initial=50, n_events=300, n_segments=5,
                  dup_rate=0.1, seed=313),
    )
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    t = SequenceTable.create(
        spark, str(tmp_path / "t"), init, n_buckets=4, **create_kw
    )
    return fx, t


def test_bloom_validates_columns(spark, tmp_path):
    with pytest.raises(ValueError, match="bloom_filter"):
        SequenceTable.create(spark, str(tmp_path / "t"), None, n_buckets=2,
                             bloom_filter_cols=["nope"])
    with pytest.raises(ValueError, match="bloom_filter_ndv"):
        SequenceTable.create(spark, str(tmp_path / "t2"), None, n_buckets=2,
                             bloom_filter_ndv=100)
    with pytest.raises(ValueError, match="positive"):
        SequenceTable.create(spark, str(tmp_path / "t3"), None, n_buckets=2,
                             bloom_filter_cols=["doc_id"], bloom_filter_ndv=0)


def test_bloom_written_on_all_write_paths_state_exact(spark, tmp_path):
    """Init base files, MOR deltas, compaction output, DML deltas and
    rebucket all carry the bloom; logical state matches the oracle."""
    fx, t = _setup(spark, tmp_path,
                   bloom_filter_cols=["doc_id"], bloom_filter_ndv=200)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    for i, s in enumerate(segs[:3]):
        apply_batch(spark, t, spark.read.parquet(s), batch_id=i,
                    compact_threshold=None)
    _assert_blooms(spark, t)  # init base + MOR delta files
    t.compact(spark)
    _assert_blooms(spark, t)  # compaction rewrite
    apply_batch(spark, t, spark.read.parquet(segs[3]), batch_id=3,
                compact_threshold=None)
    rewrite_unchanged(spark, t, fx["expected"], segs[4:])
    _assert_blooms(spark, t)  # DML delta output
    apply_batch(spark, t, spark.read.parquet(segs[4]), batch_id=4,
                compact_threshold=None)
    t.rebucket(spark, 8)
    _assert_blooms(spark, t)  # full rewrite
    assert_state_equal(t.read(spark), fx["expected"])


def test_bloom_property_inherited_across_evolve(spark, tmp_path):
    fx, t = _setup(spark, tmp_path, bloom_filter_cols=["doc_id"])
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    apply_batch(spark, t, spark.read.parquet(segs[0]), batch_id=0,
                compact_threshold=None)
    t.evolve_bucket_spec(8)
    apply_batch(spark, t, spark.read.parquet(segs[1]), batch_id=1,
                compact_threshold=None)
    assert t.snapshot()["bloom_filter"] == {"cols": ["doc_id"]}
    _assert_blooms(spark, t)


def test_default_writes_no_bloom(spark, tmp_path):
    """No bloom_filter_cols: data files carry no bloom (hot path and
    layout byte-identical to the pre-feature engine) and the snapshot
    carries no property."""
    fx, t = _setup(spark, tmp_path)
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    apply_batch(spark, t, spark.read.parquet(segs[0]), batch_id=0,
                compact_threshold=None)
    assert "bloom_filter" not in t.snapshot()
    _assert_blooms(spark, t, present=False)


def test_bloom_lookup_exact_on_unsorted_table(spark, tmp_path):
    """The case the feature exists for: an UNSORTED table (min/max stats
    useless intra-file) still answers point lookups exactly with blooms
    on every file."""
    fx, t = _setup(spark, tmp_path, bloom_filter_cols=["doc_id"])
    segs = sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    for i, s in enumerate(segs):
        apply_batch(spark, t, spark.read.parquet(s), batch_id=i,
                    compact_threshold=None)
    full = {r["doc_id"]: r.asDict() for r in t.read(spark).collect()}
    for k in sorted(full)[:3]:
        got = t.lookup(spark, [k]).collect()
        assert len(got) == 1 and got[0].asDict() == full[k]
