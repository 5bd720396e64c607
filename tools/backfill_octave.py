"""Backfill replay octave (VERDICT r11 #7): replay 10 vs 100 logical
dates through plans/orchestrate.run_backfill (the ledger + incremental
merge path) and pin that the per-date cost is CONSTANT — i.e. total
backfill wall grows ~linearly in replayed dates, so the ledger/merge
machinery adds no super-linear overhead on top of the per-day work
(the append-only-rerun-duplicates quirk, SURVEY §2.9.4, is exactly
what this machinery fixes; this proves the fix holds at replay scale).

Also asserts replay IDEMPOTENCY across the whole range: a second
run_backfill over the same 100 dates must skip every task and leave
every warehouse table's row count unchanged.

The daily merge appends instead of rewriting, so it trades rewritten
records for data files. Per replay the tool reports both sides, read
from directory listings and parquet footers between dates (no Spark
job): records written per date (rows of the data files each date
added) and the data files of every merged table after the last date.

Usage: python tools/backfill_octave.py    (prints one JSON line;
paste the table into BENCH_SCALING.md)
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import statistics
import sys
import tempfile
import time
from decimal import Decimal
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import (  # noqa: E402
    schemas,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (  # noqa: E402
    orchestrate as O,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (  # noqa: E402
    pipeline as P,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.session import (  # noqa: E402
    build_session,
)

D0 = dt.date(2013, 7, 1)
# the tables a daily run merges into by appending files
MERGED = ("dim_company", "dim_funds", "fct_investments", "fct_ipos", "fct_acquisition")


def synth_staging(spark, root: str, n_days: int) -> None:
    """Staging universe with one company + funding round + investment
    CREATED per day for n_days (so every backfill ds slices a
    non-empty day), plus day-1 base entities (fund, ipo, acquisition,
    person, relationship)."""
    ts = lambda i: dt.datetime(2013, 7, 1, 12) + dt.timedelta(days=i)  # noqa: E731
    company = [
        (3, "f:1", None, None, None, None, None, None, None, None,
         None, None, ts(0), ts(0)),
    ] + [
        (10 + i, f"c:{i}", None, "west", f"{i} Main St", None, "sf",
         None, None, "us", None, None, ts(i), ts(i))
        for i in range(n_days)
    ]
    funds = [
        ("10", "f:1", " Fund One ", D0, Decimal("100.00"), "EUR", None,
         "desc", ts(0), ts(0)),
    ]
    rounds = [
        (100 + i, f"c:{i}", D0 + dt.timedelta(days=i), "series-a", "a",
         Decimal("5.00"), Decimal("5.00"), "USD", None, None, None, None,
         None, None, "3", True, False, None, ts(i), ts(i))
        for i in range(n_days)
    ]
    investments = [
        (1000 + i, 100 + i, f"c:{i}", "f:1", ts(i), ts(i))
        for i in range(n_days)
    ]
    ipos = [
        ("500", "c:0", Decimal("1000.00"), "USD", Decimal("10.00"),
         "USD", ts(0), "ABC", None, "ipo desc", ts(0), ts(0)),
    ]
    acquisition = [
        (700, "c:0", "c:1", "cash", Decimal("50.00"), "USD", ts(0),
         None, "deal", ts(0), ts(0)),
    ]
    people = [("p1", "p:1", "Ada", "Lovelace", None, "c:0")]
    relationships = [
        ("r1", "p:1", "c:0", "2010-01-01", None, "false", "1", "CEO",
         "2013-07-01 12:00:00", "2013-07-01 12:00:00"),
    ]
    for name, data in {
        "company": company, "funds": funds, "funding_rounds": rounds,
        "investments": investments, "ipos": ipos,
        "acquisition": acquisition, "people": people,
        "relationships": relationships,
    }.items():
        spark.createDataFrame(data, schema=schemas.STAGING[name]).write.mode(
            "overwrite"
        ).parquet(f"{root}/{name}")


def data_files(wh: str) -> dict[str, dict[str, int]]:
    """table -> {data file: rows}, from listings and footers only."""
    out: dict[str, dict[str, int]] = {}
    for t in P.WAREHOUSE_ORDER:
        d = Path(wh) / t
        files = sorted(d.glob("*.parquet")) if d.is_dir() else []
        out[t] = {f.name: pq.read_metadata(f).num_rows for f in files if not f.name.startswith((".", "_"))}
    return out


def replay(spark, staging: str, work: str, n_days: int) -> dict:
    wh = f"{work}/wh_{n_days}"
    led = O.RunLedger(f"{work}/ledger_{n_days}.jsonl")
    # backfill ds D+1 .. D+n (each ds slices created_at = ds-1), one
    # date per call so the files each date added can be told apart
    start = (D0 + dt.timedelta(days=1)).isoformat()
    end = (D0 + dt.timedelta(days=n_days)).isoformat()
    wall = 0.0
    ran = 0
    written: list[int] = []
    files = data_files(wh)
    for ds in O.date_range(start, end):
        t0 = time.time()
        rep = O.run_backfill(spark, staging, wh, ds, ds, led)
        wall += time.time() - t0
        ran += sum(len(r["ran"]) for r in rep.values())
        now = data_files(wh)
        written.append(sum(n for t in now for f, n in now[t].items() if f not in files[t]))
        files = now
    fct = spark.read.parquet(f"{wh}/fct_investments").count()
    # idempotency: the replay re-run must be all skips, counts frozen
    t1 = time.time()
    rep2 = O.run_backfill(spark, staging, wh, start, end, led)
    resume_wall = time.time() - t1
    assert all(
        not r["ran"] and not r["failed"] and not r["not_run"]
        for r in rep2.values()
    ), "resume re-ran work"
    fct2 = spark.read.parquet(f"{wh}/fct_investments").count()
    assert fct2 == fct, f"resume changed fct_investments: {fct} -> {fct2}"
    return {
        "dates": n_days,
        "tasks_ran": ran,
        "wall_sec": round(wall, 2),
        "sec_per_date": round(wall / n_days, 3),
        "resume_wall_sec": round(resume_wall, 2),
        "fct_rows": fct,
        # the first date builds every table from scratch
        "records_first_date": written[0],
        "records_per_date_median": statistics.median(written[1:] or written),
        "records_per_date_max": max(written[1:] or written),
        "data_files": {t: len(files[t]) for t in MERGED},
    }


def main() -> None:
    spark = build_session("backfill-octave")
    work = tempfile.mkdtemp(prefix="spark_graft_backfill_octave_")
    try:
        staging = f"{work}/staging"
        synth_staging(spark, staging, 100)
        r10 = replay(spark, staging, work, 10)
        r100 = replay(spark, staging, work, 100)
        import math

        exponent = math.log10(r100["wall_sec"] / r10["wall_sec"])
        print(json.dumps({
            "metric": "backfill_replay_octave",
            "r10": r10,
            "r100": r100,
            "octave_exponent_10x": round(exponent, 3),
            "per_date_ratio": round(
                r100["sec_per_date"] / r10["sec_per_date"], 3
            ),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
