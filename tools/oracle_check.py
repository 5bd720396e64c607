"""Dev harness mimicking the driver's DuckDB-oracle correctness gate.

Runs every `__spark_entry__.queries()` entry on a given sf dir,
runs the matching `oracle_sql()` in DuckDB with the tables registered
as views, and compares row count + column names + order-insensitive
values. Reports per-query PASS/FAIL with first diffs.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import duckdb

import __spark_entry__ as entry_mod
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.session import (
    build_session,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.schemas import (
    TESTDATA_TABLES,
)


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = repr(v)
            elif isinstance(v, list):
                v = str(v)
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort()
    return out


def main():
    args = [a for a in sys.argv[1:] if a != "--window"]
    window_only = "--window" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if window_only:
        # simulate the driver's gate exactly: the first _DRIVER_WINDOW
        # registered queries, in registration order
        only = set(list(entry_mod.queries())[: entry_mod._DRIVER_WINDOW])

    spark = build_session("oracle-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = [row.asDict() for row in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            twin = entry_mod._NO_ORACLE_TWINS.get(name)
            if twin is None:
                print(f"FAIL {name}: no oracle and no documented twin in _NO_ORACLE_TWINS")
                n_fail += 1
                continue
            print(
                f"ROWS {name}: {len(srows)} rows (no oracle; hash-checked twin: {twin}), "
                f"{time.time()-t0:.1f}s"
            )
            n_rows_only += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols_raw = [d[0] for d in res.description]
            orows_raw = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ocols = sorted(ocols_raw)
        orows = [dict(zip(ocols_raw, r)) for r in orows_raw]
        status = []
        if scols != ocols:
            status.append(f"cols spark={scols} oracle={ocols}")
        if len(srows) != len(orows):
            status.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not status:
            sn = normalize(srows, scols)
            on = normalize(orows, scols)
            if sn != on:
                diffs = [(a, b) for a, b in zip(sn, on) if a != b][:3]
                status.append(f"values differ, first diffs: {diffs}")
        if status:
            print(f"FAIL {name}: " + "; ".join(status))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows, {time.time()-t0:.1f}s")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
