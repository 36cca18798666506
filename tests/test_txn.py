"""Multi-table transactions (operators/txn.py): all-or-nothing at the
decision record with idempotent roll-forward recovery, strict-WAP or
LWW-cherry-pick divergence handling, and abort/isolation semantics —
composed entirely from branch refs + journaled publish + cherry_pick."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from cfe_39_spark.fixtures import GenConfig, write_fixture
from cfe_39_spark.operators.cdc import apply_batch
from cfe_39_spark.operators.txn import MultiTableTransaction
from cfe_39_spark.sources.meta import CommitConflictError
from cfe_39_spark.sources.table import SequenceTable


def _table(spark, tmp_path, name, seed):
    fx = write_fixture(str(tmp_path / f"fx-{name}"),
                       GenConfig(n_docs_initial=12, n_events=24,
                                 n_segments=1, seed=seed))
    init = spark.read.parquet(str(tmp_path / f"fx-{name}" / "initial.parquet"))
    t = SequenceTable.create(spark, str(tmp_path / name), init, n_buckets=2)
    return t, fx


def _ev(spark, doc, toks, src):
    return spark.createDataFrame(
        [(doc, "U", 10 ** 7, 1, toks, len(toks), src, 1)],
        "doc_id string, op string, offset long, epoch long, "
        "tokens array<int>, n_tok int, source string, schema_version int",
    ).select(
        "doc_id", "op", "offset", F.current_timestamp().alias("event_time"),
        "epoch", F.lit(0).alias("src_partition"), "schema_version",
        "tokens", "n_tok", "source",
    )


def _doc(fx, i=0):
    return sorted(fx["expected"]["doc_id"])[i]


def test_txn_stages_invisibly_then_lands_everywhere(spark, tmp_path):
    t1, fx1 = _table(spark, tmp_path, "t1", 21)
    t2, fx2 = _table(spark, tmp_path, "t2", 22)
    d1, d2 = _doc(fx1), _doc(fx2)
    before1 = t1.read(spark).toPandas().set_index("doc_id")
    txn = MultiTableTransaction([t1, t2], txn_id="tx1")
    h = txn.begin()
    apply_batch(spark, h[t1.root], _ev(spark, d1, [7], "txn"),
                batch_id="a", compact_threshold=None)
    apply_batch(spark, h[t2.root], _ev(spark, d2, [8, 8], "txn"),
                batch_id="b", compact_threshold=None)
    # isolation: mains see nothing while staged
    assert list(t1.read(spark).toPandas().set_index("doc_id")
                .loc[d1, "tokens"]) == list(before1.loc[d1, "tokens"])

    result = txn.commit(spark)
    assert set(result) == {t1.root, t2.root}
    assert list(t1.read(spark).toPandas().set_index("doc_id")
                .loc[d1, "tokens"]) == [7]
    assert list(t2.read(spark).toPandas().set_index("doc_id")
                .loc[d2, "tokens"]) == [8, 8]
    # branches dropped, decision record gone
    assert txn.branch_name not in t1.branches()
    assert txn.branch_name not in t2.branches()
    assert not glob.glob(os.path.join(txn.coordinator_dir, "*.json"))


def test_txn_abort_discards_everything(spark, tmp_path):
    t1, fx1 = _table(spark, tmp_path, "t1", 31)
    t2, fx2 = _table(spark, tmp_path, "t2", 32)
    head1, head2 = t1.latest_snapshot_id(), t2.latest_snapshot_id()
    txn = MultiTableTransaction([t1, t2])
    h = txn.begin()
    apply_batch(spark, h[t1.root], _ev(spark, _doc(fx1), [7], "txn"),
                batch_id="a", compact_threshold=None)
    txn.abort()
    assert t1.latest_snapshot_id() == head1
    assert t2.latest_snapshot_id() == head2
    assert txn.branch_name not in t1.branches()
    with pytest.raises(RuntimeError, match="not begun"):
        txn.handle(t1)


def test_txn_crash_after_decision_rolls_forward(spark, tmp_path):
    """The commit point is the decision record: a crash mid-publish
    leaves table A landed and table B staged; recover() finishes B and
    clears the record — idempotently (a second recover is a no-op)."""
    t1, fx1 = _table(spark, tmp_path, "t1", 41)
    t2, fx2 = _table(spark, tmp_path, "t2", 42)
    d1, d2 = _doc(fx1), _doc(fx2)
    txn = MultiTableTransaction([t1, t2], txn_id="crashy")
    h = txn.begin()
    apply_batch(spark, h[t1.root], _ev(spark, d1, [7], "txn"),
                batch_id="a", compact_threshold=None)
    apply_batch(spark, h[t2.root], _ev(spark, d2, [8], "txn"),
                batch_id="b", compact_threshold=None)

    real = MultiTableTransaction._roll_forward

    def crash_after_first(spark_, record):
        one = dict(record, participants=record["participants"][:1])
        real(spark_, one)
        raise RuntimeError("simulated crash mid-publish")

    MultiTableTransaction._roll_forward = staticmethod(crash_after_first)
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            txn.commit(spark)
    finally:
        MultiTableTransaction._roll_forward = staticmethod(real)

    # table A landed, table B still staged, record survives the crash
    assert list(t1.read(spark).toPandas().set_index("doc_id")
                .loc[d1, "tokens"]) == [7]
    assert list(t2.read(spark).toPandas().set_index("doc_id")
                .loc[d2, "tokens"]) != [8]
    assert glob.glob(os.path.join(txn.coordinator_dir, "*.json"))

    # post-decision the txn must roll FORWARD: abort would drop the txn
    # branches and recover() would then mistake them for already-landed
    with pytest.raises(RuntimeError, match="roll forward"):
        txn.abort()
    assert txn.branch_name in t2.branches(), "abort must not touch refs"

    done = MultiTableTransaction.recover(spark, txn.coordinator_dir)
    assert done == ["crashy"]
    assert list(t2.read(spark).toPandas().set_index("doc_id")
                .loc[d2, "tokens"]) == [8]
    assert txn.branch_name not in t1.branches()
    assert txn.branch_name not in t2.branches()
    assert MultiTableTransaction.recover(spark, txn.coordinator_dir) == []


def test_txn_divergence_fail_then_cherry_pick(spark, tmp_path):
    """A concurrent main commit on one participant: on_divergence='fail'
    refuses BEFORE the decision record (nothing published anywhere);
    'cherry_pick' (default) lands the staged span by LWW on the moved
    table and fast-forwards the clean one."""
    t1, fx1 = _table(spark, tmp_path, "t1", 51)
    t2, fx2 = _table(spark, tmp_path, "t2", 52)
    d1, d2 = _doc(fx1), _doc(fx2)
    other2 = _doc(fx2, 1)
    txn = MultiTableTransaction([t1, t2], txn_id="div")
    h = txn.begin()
    apply_batch(spark, h[t1.root], _ev(spark, d1, [7], "txn"),
                batch_id="a", compact_threshold=None)
    apply_batch(spark, h[t2.root], _ev(spark, d2, [8], "txn"),
                batch_id="b", compact_threshold=None)
    # main moves on t2 while the txn is staged
    apply_batch(spark, t2, _ev(spark, other2, [9, 9], "main"),
                batch_id="m", compact_threshold=None)
    head1 = t1.latest_snapshot_id()

    with pytest.raises(CommitConflictError, match="nothing published"):
        txn.commit(spark, on_divergence="fail")
    assert t1.latest_snapshot_id() == head1  # nothing landed anywhere
    assert not glob.glob(os.path.join(txn.coordinator_dir, "*.json"))

    txn.commit(spark)  # cherry_pick fallback
    got2 = t2.read(spark).toPandas().set_index("doc_id")
    assert list(t1.read(spark).toPandas().set_index("doc_id")
                .loc[d1, "tokens"]) == [7]
    assert list(got2.loc[d2, "tokens"]) == [8], "staged row landed by LWW"
    assert list(got2.loc[other2, "tokens"]) == [9, 9], "concurrent main kept"


def test_txn_validations(spark, tmp_path):
    t1, _ = _table(spark, tmp_path, "t1", 61)
    with pytest.raises(ValueError, match="duplicate"):
        MultiTableTransaction([t1, t1])
    txn = MultiTableTransaction([t1])
    with pytest.raises(RuntimeError, match="not begun"):
        txn.commit(spark)
    txn.begin()
    with pytest.raises(RuntimeError, match="already begun"):
        txn.begin()
    with pytest.raises(ValueError, match="on_divergence"):
        txn.commit(spark, on_divergence="rebase")
    txn.abort()
