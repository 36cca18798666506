"""Bit-for-bit state comparison (SURVEY.md §2.2 C9 verifier, test side)."""

from __future__ import annotations

import re
import threading
import uuid

import numpy as np
import pandas as pd
import py4j.clientserver


def assert_state_equal(spark_df, expected: pd.DataFrame) -> None:
    """Engine state vs pandas oracle: same rows, same values, token arrays
    element-wise equal as int32."""
    got = spark_df.orderBy("doc_id").toPandas().reset_index(drop=True)
    exp = expected.sort_values("doc_id").reset_index(drop=True)
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    for col in got.columns:
        if col == "tokens":
            for i, (g, e) in enumerate(zip(got[col], exp[col])):
                g_null = g is None or (isinstance(g, float) and np.isnan(g))
                e_null = e is None or (isinstance(e, float) and np.isnan(e))
                assert g_null == e_null, f"tokens null mismatch row {i}"
                if not g_null:
                    ga = np.asarray(g)
                    ea = np.asarray(e)
                    assert ga.dtype == np.int32 or ga.dtype == np.dtype("int32"), ga.dtype
                    assert np.array_equal(ga, ea), f"tokens differ at row {i} (doc {got['doc_id'][i]})"
        else:
            g = got[col]
            e = exp[col].astype(g.dtype) if g.dtype != object and not exp[col].isna().any() else exp[col]
            pd.testing.assert_series_equal(
                g, e, check_names=False, check_dtype=False, obj=f"column {col}"
            )


def jobs_started(spark, fn):
    """``fn()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"job-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def executed_plan(df) -> str:
    """``df``'s executed physical plan as text.  ``df`` is collected
    first: under adaptive execution the final plan exists only once the
    query has run."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def file_scans(df) -> list[str]:
    """The ``FileScan`` lines of ``df``'s executed plan."""
    return [ln for ln in executed_plan(df).splitlines() if "FileScan" in ln]


def pushed_filters(scan: str) -> str:
    """The ``PushedFilters`` list of one ``FileScan`` line."""
    m = re.search(r"PushedFilters: \[([^\]]*)", scan)
    return m.group(1) if m else ""


def assert_lookup_in_one_job(spark, table, keys, full) -> None:
    """``table.lookup(keys)`` over dirty buckets returns the full read
    ``full`` (``{doc_id: row}``) filtered to ``keys``, in one Spark job:
    the resolving aggregate runs with no ``Exchange`` below it, and the
    key ``In`` is pushed into every ``FileScan``."""
    rows, jobs = jobs_started(spark, lambda: table.lookup(spark, keys).collect())
    got = sorted((r.asDict() for r in rows), key=lambda r: r["doc_id"])
    assert got == [full[k] for k in sorted(set(keys)) if k in full]
    assert jobs == 1, jobs
    plan = executed_plan(table.lookup(spark, keys))
    assert "SortAggregate" in plan and "Exchange" not in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans
    for scan in scans:
        assert "In(doc_id," in pushed_filters(scan), scan


def sql_plans(spark, fn):
    """``fn()`` and the final executed plan (text) of each SQL execution
    it ran, in order, read from the SQL status store.  Under adaptive
    execution the store's plan description is the final plan once the
    execution has finished."""
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsList().size()
    out = fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList()
    plans = []
    for i in range(before, execs.size()):
        p = execs.apply(i).physicalPlanDescription()
        if "== Final Plan ==" in p:
            p = p.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
        plans.append(p)
    return out, plans


def shuffles(plan: str) -> int:
    """The number of shuffle ``Exchange`` nodes in a plan from
    ``sql_plans`` (broadcast exchanges not counted)."""
    return len(re.findall(r"^[\s:|+-]*Exchange \(\d+\)", plan, re.M))


def py4j_round_trips(spark, fn):
    """``fn()`` and the number of py4j commands its thread sent to the JVM
    while it ran (each one is a blocking Python->JVM round trip).  The
    counter wraps ``ClientServerConnection.send_command`` only for the
    duration of ``fn``.  Commands from other threads are not counted:
    py4j's finalizer thread sends the JVM-side deletes of freed proxies
    whenever the garbage collector gets to them, not as part of ``fn``."""
    conn = py4j.clientserver.ClientServerConnection
    orig = conn.send_command
    me = threading.get_ident()
    n = 0

    def counting(self, command):
        nonlocal n
        n += threading.get_ident() == me
        return orig(self, command)

    conn.send_command = counting
    try:
        out = fn()
    finally:
        conn.send_command = orig
    return out, n


# apply_batch kwargs for the two table shapes the mode-parametrized tests
# cover: merge-on-read with deltas left for read-time resolution, and the
# read-optimized table, where each trigger compacts the buckets it dirtied
APPLY_MODES = {"mor": {}, "mor_compacted": {"compact_threshold": 1}}


def rewrite_unchanged(spark, table, expected: pd.DataFrame, later_segs) -> None:
    """A DML delta that changes no value: ``update_where`` setting
    ``source`` to itself on one live key of the final state that none of
    ``later_segs`` touches.  The DML bumps that key's event time to
    the wall clock, so a later event for it would lose; on an untouched key
    the table still ends in the oracle's state."""
    from cfe_39_spark.operators.dml import update_where

    later = {r["doc_id"] for r in spark.read.parquet(*later_segs).select("doc_id").collect()}
    key = min(d for d in expected["doc_id"] if d not in later)
    assert update_where(spark, table, {"source": "source"}, f"doc_id = '{key}'")
