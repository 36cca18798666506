"""Exit status of ``tools/check_contract.py``: 0 when every query passed,
1 on a failure, 2 when the wall-clock budget skipped queries.  The
registry, the Spark session and DuckDB are stubbed, so no query runs."""

import os
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import check_contract  # noqa: E402


def _query(fail: bool = False):
    def fn(spark, sf_dir):
        if fail:
            raise RuntimeError("boom")
        return SimpleNamespace(toPandas=lambda: pd.DataFrame({"x": [1]}))

    return SimpleNamespace(fn=fn, sql=None)


@pytest.mark.parametrize(
    "budget,registry,code",
    [
        ("0", {"q1": _query(), "q2": _query(fail=True)}, 2),
        ("600", {"q1": _query()}, 0),
        ("600", {"q1": _query(), "q2": _query(fail=True)}, 1),
    ],
)
def test_exit_status(monkeypatch, budget, registry, code):
    monkeypatch.setenv("CFE39_CONTRACT_BUDGET_S", budget)
    monkeypatch.setattr(check_contract, "REGISTRY", registry)
    spark = SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))
    monkeypatch.setattr(check_contract, "get_spark", lambda **kw: spark)
    con = SimpleNamespace(execute=lambda sql: None)
    monkeypatch.setattr(check_contract, "duckdb", SimpleNamespace(connect=lambda: con))
    assert check_contract.main([]) == code
