"""Property-based replay equivalence (SURVEY.md §5.2 item 4): random small
event logs through the full engine must equal the independent pandas
oracle fold, with and without per-trigger compaction and the partition
hint, under random slicing/dup/skew knobs."""

import glob

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.sources.table import SequenceTable

from .util import APPLY_MODES, assert_state_equal

configs = st.fixed_dictionaries(
    {
        "n_docs_initial": st.integers(3, 15),
        "n_events": st.integers(20, 70),
        "n_segments": st.integers(1, 4),
        "dup_rate": st.sampled_from([0.0, 0.2, 0.4]),
        "key_dist": st.sampled_from(["uniform", "hot"]),
        "shuffle_within_segments": st.booleans(),
        "seed": st.integers(0, 2**31 - 1),
    }
)


# "mor_fused": MOR with ``known_partitions`` — the fused-stats path the
# Kafka source and perfbench drive
@pytest.mark.parametrize("mode", ["mor", "mor_compacted", "mor_fused"])
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cfg_kw=configs)
def test_random_log_matches_oracle(spark, tmp_path_factory, mode, cfg_kw):
    tmp_path = tmp_path_factory.mktemp(f"prop-{mode}")
    cfg = GenConfig(**cfg_kw)
    fx = write_fixture(str(tmp_path / "fx"), cfg)
    init = spark.read.parquet(str(tmp_path / "fx" / "initial.parquet"))
    table = SequenceTable.create(spark, str(tmp_path / "t"), init, n_buckets=4)
    for i, seg in enumerate(
        sorted(glob.glob(str(tmp_path / "fx" / "segments" / "*.parquet")))
    ):
        apply_batch(
            spark, table, spark.read.parquet(seg), batch_id=i,
            known_partitions=range(cfg.n_partitions) if mode == "mor_fused" else None,
            **APPLY_MODES.get(mode, {}),
        )
    assert_state_equal(table.read(spark), fx["expected"])
