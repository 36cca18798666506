"""Schema evolution mid-stream (SURVEY.md §2.2 C7, §7 step 6): added
columns, widened types, source retags — applied as metadata ops, old files
reconciled at read, token int32 invariant pinned."""

import glob

import pytest
from pyspark.sql import types as T

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch, evolve_schema
from cfe_39_spark.schema import SEQUENCE_SCHEMA_V1
from cfe_39_spark.sources.table import SequenceTable

from .util import APPLY_MODES, assert_state_equal


def _replay(spark, tmp_path, cfg, mode="mor"):
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "table"), init, n_buckets=4)
    for i, seg in enumerate(
        sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    ):
        apply_batch(spark, table, spark.read.parquet(seg), batch_id=i,
                    **APPLY_MODES[mode])
    return table, fx


@pytest.mark.parametrize("mode", list(APPLY_MODES))
def test_add_column_mid_stream(spark, tmp_path, mode):
    cfg = GenConfig(
        n_docs_initial=20, n_events=120, n_segments=3, seed=71,
        evolution=[(1, {"action": "add_column", "name": "quality"})],
    )
    table, fx = _replay(spark, tmp_path, cfg, mode)
    assert_state_equal(table.read(spark), fx["expected"])
    snap = table.snapshot()
    assert snap["schema_version"] == 2
    assert len(snap["schemas"]) == 2  # v1 and v2 both registered
    assert "quality" in [f.name for f in table.user_schema().fields]


@pytest.mark.parametrize("mode", list(APPLY_MODES))
def test_widen_n_tok_mid_stream(spark, tmp_path, mode):
    cfg = GenConfig(
        n_docs_initial=20, n_events=120, n_segments=3, seed=73,
        evolution=[(1, {"action": "widen", "name": "n_tok", "to": "int64"})],
    )
    table, fx = _replay(spark, tmp_path, cfg, mode)
    assert_state_equal(table.read(spark), fx["expected"])
    fields = {f.name: f.dataType.simpleString() for f in table.read(spark).schema.fields}
    assert fields["n_tok"] == "bigint"  # widened
    assert fields["tokens"] == "array<int>"  # pinned int32, never widened


def test_retag_source_mid_stream(spark, tmp_path):
    cfg = GenConfig(
        n_docs_initial=20, n_events=120, n_segments=3, seed=79,
        evolution=[(1, {"action": "retag_source", "from": "web", "to": "web-v2"})],
    )
    table, fx = _replay(spark, tmp_path, cfg)
    assert_state_equal(table.read(spark), fx["expected"])
    tags = {r["source"] for r in table.read(spark).select("source").distinct().collect()}
    assert "web-v2" in tags


def test_combined_evolution_matrix(spark, tmp_path):
    cfg = GenConfig(
        n_docs_initial=25, n_events=200, n_segments=5, dup_rate=0.15, seed=83,
        shuffle_within_segments=True,
        evolution=[
            (1, {"action": "add_column", "name": "quality"}),
            (2, {"action": "widen", "name": "n_tok", "to": "int64"}),
            (3, {"action": "retag_source", "from": "code", "to": "code-v2"}),
        ],
    )
    table, fx = _replay(spark, tmp_path, cfg)
    assert_state_equal(table.read(spark), fx["expected"])
    assert table.snapshot()["schema_version"] == 4


def test_tokens_widening_is_forbidden():
    batch = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.LongType(), True), True),
        ]
    )
    with pytest.raises(ValueError, match="tokens"):
        evolve_schema(SEQUENCE_SCHEMA_V1, batch)


def test_illegal_type_change_rejected():
    batch = T.StructType([T.StructField("source", T.DoubleType(), True)])
    with pytest.raises(ValueError, match="illegal"):
        evolve_schema(SEQUENCE_SCHEMA_V1, batch)


def test_old_snapshot_readable_after_evolution(spark, tmp_path):
    """Time travel to a pre-evolution snapshot returns the v1 schema."""
    cfg = GenConfig(
        n_docs_initial=15, n_events=80, n_segments=2, seed=89,
        evolution=[(1, {"action": "add_column", "name": "quality"})],
    )
    table, fx = _replay(spark, tmp_path, cfg)
    sid0 = table.find_batch("0")
    old_cols = [f.name for f in table.read(spark, sid0).schema.fields]
    assert "quality" not in old_cols
    new_cols = [f.name for f in table.read(spark).schema.fields]
    assert "quality" in new_cols
