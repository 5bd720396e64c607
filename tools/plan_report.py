"""Generate PLANS.md: per-query physical-plan summary.

For every registered query, records the executed-plan shape that
matters at 100 TB — number of exchanges (shuffles), join strategies,
whether scan filters/projections pushed down, Python boundaries, and
whole-stage-codegen coverage — so the scale posture is auditable by
reading one file. Regenerate after plan-affecting changes:

    python tools/plan_report.py          # writes PLANS.md at repo root
    python tools/plan_report.py --check  # drift guard: PLANS.md row set
                                         # must equal the live registry
                                         # (no Spark; used by CI)
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


def summarize(executed: str) -> dict:
    # AQE toString appends "== Initial Plan ==" after the final plan —
    # counting both would double every metric
    executed = executed.split("== Initial Plan ==")[0]
    return {
        "shuffles": len(re.findall(r"Exchange hashpartitioning", executed)),
        "range_parts": len(re.findall(r"Exchange rangepartitioning", executed)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", executed)),
        "smj": len(re.findall(r"SortMergeJoin", executed)),
        "reused": len(re.findall(r"ReusedExchange", executed)),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", executed)),
        "arrow_python": len(
            re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", executed)
        ),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", executed))),
        "topk": "TakeOrderedAndProject" in executed,
    }


def plans_md_names(path: Path = ROOT / "PLANS.md") -> list[str]:
    """Query names recorded in PLANS.md (first cell of each table row)."""
    names = []
    with open(path) as f:
        for line in f:
            m = re.match(r"\| (\w+) \|", line)
            if m and m.group(1) != "query":
                names.append(m.group(1))
    return names


def check() -> int:
    """Drift guard: the written plan audit must cover EXACTLY the live
    registry — a new registry entry without a regenerated PLANS.md (or
    a removed one leaving a stale row) fails CI. No Spark session."""
    registry = list(entry_mod.queries())
    written = plans_md_names()
    missing = sorted(set(registry) - set(written))
    stale = sorted(set(written) - set(registry))
    if missing or stale:
        if missing:
            print(f"PLANS.md missing {len(missing)} registry queries: {missing}")
        if stale:
            print(f"PLANS.md has {len(stale)} stale rows: {stale}")
        print("regenerate: python tools/plan_report.py")
        return 1
    print(f"PLANS.md in sync with registry ({len(registry)} queries)")
    return 0


def main() -> None:
    spark = build_session("plan-report", shuffle_partitions=4)
    qs = entry_mod.queries()
    lines = [
        "# PLANS — executed physical-plan audit of EVERY registered query",
        "",
        "Generated by `tools/plan_report.py` on sf0.001 (plan shapes are",
        "scale-invariant; AQE final plans after execution). Columns:",
        "shuffles (hash exchanges), joins by strategy, reused exchanges,",
        "scans with pushed filters, Arrow/pandas Python stages, distinct",
        "whole-stage-codegen spans, top-k short-circuit.",
        "",
        "| query | shuffles | bcast joins | sort-merge | reused | pushed scans | py stages | codegen | top-k |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        graph as _graph,
    )

    for name in qs:
        # drop pins left by a prior query: Spark substitutes any
        # persisted matching subplan into LATER queries' plans
        # (InMemoryRelation), which would record neighbor-dependent
        # shapes instead of each query's standalone plan
        _graph.release_materialized()
        spark.catalog.clearCache()
        df = qs[name](spark, SF_DIR)
        # collect(), not count(): count()'s column pruning rewrites the
        # union branches differently and defeats exchange-reuse detection
        df.collect()
        s = summarize(df._jdf.queryExecution().executedPlan().toString())
        lines.append(
            f"| {name} | {s['shuffles']} | {s['broadcast_joins']} | {s['smj']} "
            f"| {s['reused']} | {s['pushed']} | {s['arrow_python']} "
            f"| {s['codegen_spans']} | {'✓' if s['topk'] else ''} |"
        )
    lines += [
        "",
        "Notes:",
        "- Surrogate keys (star_schema_build, surrogate_key_dim) are the",
        "  two-phase bucketed assignment (operators/surrogate.py:",
        "  value-deterministic order buckets + per-bucket row_number +",
        "  literal-map prefix-sum offsets) — no global single-reducer",
        "  window and no sampled range boundaries remain.",
        "- Brute-force ANN baselines are deliberately broadcast",
        "  cross-products (recall oracles); the LSH/IVF variants are the",
        "  scale paths.",
        "- Tiny post-aggregation frames (≤ digit/label cardinality rows:",
        "  dq_benford_totalprice, feature_class_weights) use an",
        "  unpartitioned window for their grand total — constant cost,",
        "  never applied to fact-grain rows.",
    ]
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(qs)} queries)")
    spark.stop()


if __name__ == "__main__":
    if "--check" in sys.argv[1:]:
        sys.exit(check())
    main()
