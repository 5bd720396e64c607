"""One-decade scale stress for the heavy-tier queries (VERDICT r8 #2).

BENCH_SCALING.md argues scale posture from sf0.01→sf0.1 exponents and
plan shape; this tool adds a REAL decade above the bench SF: it
materializes a ~10x sf0.1 corpus (sf1-equivalent: 6M lineitem, 50k
docs, 1M events, 20k embeddings) and times the riskiest operators at
both scales in the same session, reporting the observed exponent
log10(t_10x / t_1x). Exponent ≈ 1 ⇒ linear; ≫ 1 is the
UnboundedFollowing-class surprise this exists to catch.

Corpus construction = 10 replicas of sf0.1 with disjoint key spaces
(all FK columns shifted by replica * 10^9, so joins never cross
replicas) and SIMILARITY-BREAKING mutations where identity replication
would corrupt the workload's statistics rather than scale them:

- ``documents.text``: per-replica vowel/consonant rotation
  (``translate``) — WITHIN-replica near-dup structure is preserved
  exactly (a bijective char substitution preserves pairwise shingle
  Jaccard), while cross-replica clones share almost no 3-grams. A
  naive copy would make every doc a 10-way exact near-dup and grow
  LSH pair output ~50x — a different workload, not a bigger one.
- ``part.p_brand``: replica-suffixed — p_brand is a linkage blocking
  key, so cross-replica name clones never enter the same block (a
  real 10x master table does not repeat every entity 10 times).

Usage:
    python tools/scale_stress_10x.py [--rebuild] [--dir /tmp/spark_graft_scale10x]
                                     [query ...]
Prints one JSON line {query: {t_1x, t_10x, exponent}}.

Round 10 (VERDICT r9 #6) adds the NEXT octave: ``--octave`` builds a
further 10x corpus (sf10-equivalent: 60M lineitem, 500k docs, 10M
events, 200k embeddings) by replicating the sf1 corpus with a SECOND
disjoint key offset and a SECOND, alphabet-disjoint text bijection
(digits + a consonant set untouched by the level-1 rotation), so all
100 (level1, level2) combinations are distinct bijections — within-
replica near-dup structure still exact, cross-replica 3-gram overlap
still broken. Timing then runs sf1 vs sf10 and reports
log10(t_10x/t_1x) one decade higher, where memory pressure and
shuffle-spill effects first appear on this host.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = 10
KEY_OFFSET = 10**9
SRC = "/root/testdata/sf0.1"

# every FK/id column that must shift per replica (keyspaces disjoint,
# FKs consistent because ALL keys shift by the same amount)
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_AS_IS = ["region", "nation"]

DEFAULT_QUERIES = [
    "dedup_incremental_lsh_build",
    "dedup_incremental_lsh_probe",
    "dedup_minhash_poly",
    "embedding_ivf_int8",
    "link_golden_records",
    "graph_label_propagation",
    "graph_khop_reachability",
    "graph_triangle_count",
    "text_bpe_tokenize_large",
    "text_decontaminate",
]


def _rot(s: str, k: int) -> str:
    k %= len(s)
    return s[k:] + s[:k]


def build_corpus(spark, out_dir: str, src: str = SRC, level: int = 1) -> None:
    """Replicate ``src`` 10x into ``out_dir``. ``level`` selects the
    key offset and the text-bijection alphabet so a second decade
    (sf1 -> sf10) composes with the first without rotation
    collisions: level 1 permutes vowels + {r,s,t,l,n}; level 2
    permutes digits + {m,d,g,p,c} — disjoint alphabets, so every
    (i, j) pair of replicas applies a DISTINCT bijection and
    cross-replica 3-gram overlap stays broken at 100 replicas."""
    from pyspark.sql import functions as F

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources.io import (
        read_table,
    )

    # match the driver testdata's TIMESTAMP(MICROS) encoding — Spark's
    # default INT96 would make the replica corpora read back through a
    # different (legacy) scan path than the corpora they stand in for
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    key_offset = KEY_OFFSET if level == 1 else KEY_OFFSET * 1000
    if level == 1:
        alpha_a, alpha_b = "aeiou", "rstln"
    else:
        # high-frequency consonants DISJOINT from level 1's sets, so
        # composed (L1, L2) bijections are all distinct and every
        # level-2 replica rewrites a large fraction of characters
        alpha_a, alpha_b = "mdgpc", "bhkvw"
    os.makedirs(out_dir, exist_ok=True)
    for t in COPY_AS_IS:
        read_table(spark, src, t).write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
    for t, keys in KEY_COLS.items():
        base = read_table(spark, src, t)
        reps = []
        for i in range(REPLICAS):
            rep = base
            for kcol in keys:
                rep = rep.withColumn(
                    kcol, F.col(kcol) + F.lit(i * key_offset)
                )
            if t == "documents" and i > 0:
                ka = i % len(alpha_a)
                kb = (i // len(alpha_a)) * 2
                rep = rep.withColumn(
                    "text",
                    F.translate(
                        F.translate("text", alpha_a, _rot(alpha_a, ka)),
                        alpha_b,
                        _rot(alpha_b, kb),
                    ),
                )
            if t == "part" and i > 0:
                rep = rep.withColumn(
                    "p_brand", F.concat("p_brand", F.lit(f"-L{level}r{i}"))
                )
            reps.append(rep)
        out = reps[0]
        for rep in reps[1:]:
            out = out.unionByName(rep)
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        print(f"built {t} (level {level})", file=sys.stderr)


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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--dir", default="/tmp/spark_graft_scale10x")
    ap.add_argument(
        "--octave",
        action="store_true",
        help="run the sf1->sf10 decade instead of sf0.1->sf1 (builds "
        "the level-2 corpus under --dir2 from --dir)",
    )
    ap.add_argument("--dir2", default="/tmp/spark_graft_scale100x")
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()
    queries = args.queries or DEFAULT_QUERIES

    import __spark_entry__ as entry
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.session import (
        build_session,
    )

    spark = build_session("scale-stress-10x")
    marker = os.path.join(args.dir, "documents.parquet", "_SUCCESS")
    if args.rebuild or not os.path.exists(marker):
        t0 = time.time()
        build_corpus(spark, args.dir)
        print(f"corpus built in {time.time()-t0:.0f}s", file=sys.stderr)
    lo_dir, hi_dir = SRC, args.dir
    if args.octave:
        marker2 = os.path.join(args.dir2, "documents.parquet", "_SUCCESS")
        if args.rebuild or not os.path.exists(marker2):
            t0 = time.time()
            build_corpus(spark, args.dir2, src=args.dir, level=2)
            print(
                f"octave corpus built in {time.time()-t0:.0f}s", file=sys.stderr
            )
        lo_dir, hi_dir = args.dir, args.dir2

    qs = entry.queries()
    out = {}
    for name in queries:
        fn = qs[name]
        res = {}
        for label, sf_dir in (("t_1x", lo_dir), ("t_10x", hi_dir)):
            _consume(fn(spark, sf_dir))  # warm-up
            t0 = time.perf_counter()
            _consume(fn(spark, sf_dir))
            res[label] = round(time.perf_counter() - t0, 3)
        res["exponent"] = round(math.log10(res["t_10x"] / res["t_1x"]), 2)
        out[name] = res
        print(f"{name}: {res}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
