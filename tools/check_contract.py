"""Local replica of the driver's correctness gate: run every REGISTRY query
on Spark AND its DuckDB oracle at sf0.01, compare row count, column names
and order-insensitive values.  Usage:

    python tools/check_contract.py [name-prefix ...]

Wall-clock budgeted (CFE39_CONTRACT_BUDGET_S, default 1500): queries run
in registry order; once the budget is spent, the remaining names are
reported as SKIPPED — the tool can never eat an entire driver window the
way an unbudgeted loop could.

Exit status: 0 when every selected query passed, 1 when any failed, 2
when none failed but the budget skipped some (a partial pass, so a gate
reading only the exit code cannot mistake it for a full one).
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import time

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from cfe_39_spark.queries import REGISTRY  # noqa: E402
from cfe_39_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype) == "object":
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def main(prefixes: list[str]) -> int:
    spark = get_spark(master="local[8]", shuffle_partitions=8, app_name="contract-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    failures = 0
    budget_s = float(os.environ.get("CFE39_CONTRACT_BUDGET_S", "1500"))
    t_start = time.monotonic()
    skipped = []
    for name, q in sorted(REGISTRY.items()):
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        if time.monotonic() - t_start >= budget_s:
            skipped.append(name)
            continue
        try:
            sdf = q.fn(spark, SF_DIR).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc(limit=4)
            failures += 1
            continue
        if q.sql is None:
            print(f"ok   {name}: rows-only ({len(sdf)} rows)")
            continue
        try:
            odf = con.execute(q.sql).df()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc(limit=4)
            failures += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}")
            failures += 1
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL {name}: cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            failures += 1
            continue
        a, b = canon(sdf), canon(odf)
        mismatch = None
        for c in a.columns:
            av, bv = a[c], b[c]
            try:
                if str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
                    ok = (
                        (av.isna() & bv.isna())
                        | ((av - bv).abs() <= 1e-9 + 1e-9 * bv.abs())
                    ).all()
                    # the driver hashes exact values: flag any non-identical repr
                    exact = (av.fillna(0) == bv.fillna(0)).all()
                    if ok and not exact:
                        print(f"WARN {name}: col {c} equal only approximately")
                else:
                    ok = (av.astype(str).fillna("") == bv.astype(str).fillna("")).all()
            except Exception as ex:
                ok, mismatch = False, f"{c}: compare error {ex}"
            if not ok:
                mismatch = mismatch or c
                break
        if mismatch:
            print(f"FAIL {name}: value mismatch in {mismatch}")
            bad = a[mismatch] != b[mismatch]
            print(pd.concat([a[bad].head(3), b[bad].head(3)], axis=1))
            failures += 1
        else:
            print(f"ok   {name}: {len(sdf)} rows match")
    if skipped:
        print(f"SKIPPED (budget {budget_s:.0f}s spent): {', '.join(skipped)}")
    print(f"\n{failures} failures / {len(REGISTRY)} registered"
          + (f" ({len(skipped)} skipped by budget)" if skipped else ""))
    return 1 if failures else 2 if skipped else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
