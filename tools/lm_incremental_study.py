"""LM-index incremental-vs-retrain study (round 12, VERDICT r11 #4 —
the LM sibling of round 5's tools/incremental_study.py).

Claim under test: with the persisted n-gram count index
(operators/lm.lm_index_build/append/score), the DAILY cost of scoring
a fixed-size shard is O(shard + count-table scan) — while the
index-less path re-trains the LM (full corpus scan + the count
aggregation) every day, so its cost grows with the accumulated corpus.
Counts are additive, so appending a shard's counts replaces the
retrain entirely.

Method: same seeded 10x document set as the dedup study
(tools/scaling_study.py build_10x; 1x = sf0.1's 5,000 docs, 10x =
50,000). The shard is fixed: sf0.1's doc_id % 10 == 0 slice re-keyed
past the corpus id range. At each corpus scale, time (median of
--reps after a warm-up):

- retrain : lm_score_stupid_backoff(shard, train_docs=corpus) — the
            daily cost WITHOUT an index (corpus re-scanned, count
            tables rebuilt in-plan);
- score   : lm_index_score(shard, prebuilt index) — one count-table
            parquet scan + joins, no training scan;
- append  : lm_index_append(shard) — the one-shot daily index update
            (mutates the index; measured once, not repped).

The corpus index build is excluded from the daily cost by design —
it is the amortized one-time cost the incremental mode exists to
avoid re-paying.

Usage: python tools/lm_incremental_study.py [--out /tmp/scale10]
       [--reps 3] [--workdir /tmp/lm_incr_study]
Prints one JSON line; paste/refresh BENCH_SCALING.md from it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF01 = "/root/testdata/sf0.1"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/scale10")
    ap.add_argument("--workdir", default="/tmp/lm_incr_study")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    if not os.path.exists(f"{args.out}/documents.parquet"):
        from scaling_study import build_10x

        build_10x(args.out)

    from pyspark.sql import functions as F

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        lm as LM,
    )
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.session import (
        build_session,
    )

    spark = build_session("lm-incremental-study")
    shard = (
        spark.read.parquet(f"{SF01}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    shard.persist().count()

    result: dict[str, dict] = {}
    for label, src in (("1x", f"{SF01}/documents.parquet"),
                       ("10x", f"{args.out}/documents.parquet")):
        corpus = spark.read.parquet(src)
        n_corpus = corpus.count()
        idx = f"{args.workdir}/lm_index_{label}"
        shutil.rmtree(idx, ignore_errors=True)

        t0 = time.time()
        LM.lm_index_build(corpus, idx)
        t_build = time.time() - t0

        def med(fn):
            fn()  # warm-up
            samples = []
            for _ in range(args.reps):
                t0 = time.time()
                fn()
                samples.append(time.time() - t0)
            samples.sort()
            return samples[len(samples) // 2]

        def consume(df):
            # noop sink, NOT count(): count() lets Catalyst eliminate
            # the left joins against the unique-keyed score tables and
            # with them the ENTIRE trained-LM subplan — a count()-based
            # first cut of this study timed the 500k-doc retrain at
            # 0.6 s (i.e. it never trained).
            df.write.format("noop").mode("overwrite").save()

        retrain_q = lambda: consume(LM.lm_score_stupid_backoff(  # noqa: E731
            shard, train_docs=corpus
        ))
        score_q = lambda: consume(LM.lm_index_score(shard, idx))  # noqa: E731

        t_retrain = med(retrain_q)
        t_score = med(score_q)
        t0 = time.time()
        LM.lm_index_append(shard, idx)
        t_append = time.time() - t0

        result[label] = {
            "corpus_docs": n_corpus,
            "shard_docs": shard.count(),
            "index_build_sec": round(t_build, 3),
            "retrain_score_sec": round(t_retrain, 3),
            "index_score_sec": round(t_score, 3),
            "append_sec": round(t_append, 3),
        }

    r1, r10 = result["1x"], result["10x"]
    summary = {
        "retrain_growth_10x": round(
            r10["retrain_score_sec"] / r1["retrain_score_sec"], 2
        ),
        "index_score_growth_10x": round(
            r10["index_score_sec"] / r1["index_score_sec"], 2
        ),
        "daily_speedup_at_10x": round(
            r10["retrain_score_sec"]
            / (r10["index_score_sec"] + r10["append_sec"]),
            2,
        ),
    }
    print(json.dumps({"metric": "lm_incremental_study", **result,
                      "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
