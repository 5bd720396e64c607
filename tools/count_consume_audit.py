"""Audit which queries' historical octave/bench numbers could have
been distorted by the pre-round-12 ``.count()`` consume.

Catalyst optimizes ``df.count()`` aggressively: aggregate expressions
are pruned to their group keys, and LEFT OUTER joins whose right side
is unique-keyed are ELIMINATED outright (they cannot change the row
count). Any timing taken through count() therefore measured a
REDUCED plan for queries with such structures. Round 12 switched
every harness to the noop sink; this tool closes the loop on the
HISTORICAL record by comparing, per query, the executed plan under
count() vs under the noop sink and reporting the operator deltas —
so BENCH_SCALING.md can say exactly which recorded exponents were
artifacts (re-measured) and which were honest all along (no re-run
needed).

    python tools/count_consume_audit.py [query ...]   # default: the
        round-10/11 octave-recorded set

Runs at sf0.001 — plan SHAPE is what matters, and it is
scale-invariant.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entry_mod
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.session import (
    build_session,
)

SF_DIR = "/root/testdata/sf0.001"

# queries whose sf1->sf10 exponents are recorded in BENCH_SCALING.md
# rounds 10-11 (the LM pair + semdedup_prune were already re-measured
# in the round-12 addendum; listed here so the audit CONFIRMS the
# diagnosis on them)
DEFAULT = [
    "embedding_ivf_int8",
    "text_bpe_tokenize_large",
    "link_golden_records",
    "link_fellegi_sunter",
    "dedup_minhash_grouped",
    "dedup_minhash_poly",
    "dedup_incremental_lsh",
    "dedup_survivors",
    "embedding_semdedup_prune",
    "text_lm_perplexity",
    "text_lm_kneser_ney",
]

OPS = [
    ("bcast_join", r"BroadcastHashJoin"),
    ("smj", r"SortMergeJoin"),
    ("bnlj", r"BroadcastNestedLoopJoin"),
    ("hash_agg", r"HashAggregate"),
    ("obj_agg", r"ObjectHashAggregate"),
    ("sort_agg", r"SortAggregate"),
    ("window", r"Window"),
    ("exchange", r"Exchange hashpartitioning"),
    ("generate", r"Generate "),
    ("py_stage", r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"),
    ("scan", r"FileScan parquet|Scan ExistingRDD"),
]


def _profile(executed: str) -> dict[str, int]:
    executed = executed.split("== Initial Plan ==")[0]
    return {k: len(re.findall(p, executed)) for k, p in OPS}


def main() -> int:
    names = sys.argv[1:] or DEFAULT
    spark = build_session("count-audit", shuffle_partitions=4)
    qs = entry_mod.queries()
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        graph as _graph,
    )

    affected = []
    for name in names:
        _graph.release_materialized()
        spark.catalog.clearCache()
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        noop = _profile(df._jdf.queryExecution().executedPlan().toString())

        _graph.release_materialized()
        spark.catalog.clearCache()
        df2 = qs[name](spark, SF_DIR)
        cdf = df2.groupBy().count()
        cdf.collect()
        cnt = _profile(cdf._jdf.queryExecution().executedPlan().toString())

        # count() adds exactly one extra global HashAggregate pair and
        # a SinglePartition exchange of its own; everything else that
        # differs is work count() SKIPPED
        deltas = {
            k: noop[k] - cnt[k]
            for k in noop
            if noop[k] != cnt[k] and k not in ("hash_agg", "exchange")
        }
        agg_delta = noop["hash_agg"] - (cnt["hash_agg"] - 2)
        if agg_delta:
            deltas["hash_agg(adj)"] = agg_delta
        status = "AFFECTED" if deltas else "honest"
        if deltas:
            affected.append(name)
        print(f"{status:9s} {name}: " + (str(deltas) if deltas else "count-plan ≡ noop-plan"))

    print()
    if affected:
        print(f"{len(affected)} count-era recordings understate work: {affected}")
    else:
        print("no historical recording in this set was distorted")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
