"""Physical-plan shape assertions (SURVEY.md §4.1: 'rely on Catalyst;
verify with explain in tests').  A regression that silently turns a
broadcast join into a shuffle, or stops pushing filters into the parquet
scan, fails here — at sf0.001 these run in seconds."""

import pytest

from cfe_39_spark.plans import plan_string as plan, python_eval_nodes
from cfe_39_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    p = plan(REGISTRY["r01_scan_filter_pushdown"].fn(spark, SF))
    assert "PushedFilters: [" in p
    assert "l_shipdate" in p.split("PushedFilters")[1][:400]


def test_column_pruning_reaches_scan(spark):
    p = plan(REGISTRY["r01_scan_filter_pushdown"].fn(spark, SF))
    read_schema = p.split("ReadSchema")[1][:300]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_partkey" not in read_schema  # unused column pruned


def test_broadcast_join_is_broadcast(spark):
    p = plan(REGISTRY["r03_broadcast_join"].fn(spark, SF))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_topk_avoids_global_sort(spark):
    p = plan(REGISTRY["r16_topk"].fn(spark, SF))
    assert "TakeOrderedAndProject" in p


def test_semi_anti_join_operators(spark):
    p = plan(REGISTRY["r07_semi_anti_join"].fn(spark, SF))
    assert "LeftSemi" in p and "LeftAnti" in p


def test_q1_has_partial_aggregation(spark):
    p = plan(REGISTRY["r10_hashagg_q1"].fn(spark, SF))
    assert "partial" in p.lower()  # map-side combine before the shuffle
    assert "HashAggregate" in p


@pytest.mark.parametrize(
    "name",
    ["cdc01_lww_latest_state", "dd03_minhash_lsh", "sim01_cosine_topk"],
)
def test_no_python_udf_in_hot_queries(spark, name):
    """The oracle-checked packs stay JVM-side: no Python eval nodes."""
    assert python_eval_nodes(REGISTRY[name].fn(spark, SF)) == []


def test_sequence_packing_reuses_one_shuffle(spark):
    """tx06's groupBy keys (source, shard, seq_id) superset its window
    partition keys (source, shard), so the window's hashpartitioning
    already satisfies the aggregation's clustering — the whole query must
    plan exactly ONE shuffle.  A second exchange here would double the
    shuffle volume of every packing run at 100 TB."""
    from cfe_39_spark.plans import count_exchanges

    df = REGISTRY["tx06_sequence_packing"].fn(spark, SF)
    assert count_exchanges(df) == 1, plan(df)
