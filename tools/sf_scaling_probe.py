"""Scaling exponents for registry queries across driver testdata SFs.

Times each named query at sf0.01 and sf0.1 (the driver generator's own
10× pair — same schema, same distributions, only cardinality changes)
and reports the observed exponent log10(t_01 / t_001). Exponent ≈ 1 ⇒
linear wall-time growth; < 1 ⇒ fixed overhead amortizing; ≈ 2 would be
the quadratic term the blocked/banded designs exist to avoid.

Caveat (stated in BENCH_SCALING.md too): at sf0.01 per-stage fixed
overhead (~0.2-0.4 s/stage on local[32]) dominates short queries, so
small exponents on sub-second queries mean "overhead-bound", not
"magically sub-linear". The useful signal is the absence of
exponents ≫ 1.

Usage: python tools/sf_scaling_probe.py [--reps 3] [query ...]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "timeseries_ohlc",
    "timeseries_ewma",
    "join_lateral_topk",
    "temporal_interval_gaps",
    "text_url_canonicalize",
    "sample_weighted_bernoulli",
    "graph_label_propagation",
]

SF_DIRS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def _consume(df) -> int:
    """Noop-sink consume (round 12): count() lets Catalyst prune
    aggregate expressions and eliminate left joins against
    unique-keyed aggregates, silently timing a REDUCED plan (the LM
    scorer under count() dropped its trained-LM subplan: 1.34 s vs
    2.91 s real at sf0.1). The noop sink computes
    every output column and serializes nothing. Returns the row count
    via a cheap post-hoc count only where a caller needs it."""
    df.write.format("noop").mode("overwrite").save()
    return -1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()
    names = args.queries or DEFAULT_QUERIES

    import __spark_entry__ as entry_mod
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        graph as graph_mod,
    )
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.session import (
        build_session,
    )

    spark = build_session("sf-scaling-probe")
    qs = entry_mod.queries()
    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        med = {}
        for sf_dir in SF_DIRS:
            _consume(fn(spark, sf_dir))  # warm-up
            ts = []
            for _ in range(args.reps):
                graph_mod.release_materialized()
                t0 = time.perf_counter()
                _consume(fn(spark, sf_dir))
                ts.append(time.perf_counter() - t0)
            med[sf_dir] = statistics.median(ts)
        t001, t01 = med[SF_DIRS[0]], med[SF_DIRS[1]]
        out[name] = {
            "sf0.01_sec": round(t001, 3),
            "sf0.1_sec": round(t01, 3),
            "exponent": round(math.log10(t01 / t001), 2),
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
