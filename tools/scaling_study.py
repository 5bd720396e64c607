"""Scaling study for the fixed-overhead LSH/ANN claim (VERDICT r02 #2).

The defense of the LSH/ANN entries (dedup_minhash_poly,
embedding_ann_lsh) is "per-stage fixed overhead that amortizes at
scale". This measures it: run the pair at sf0.1 (5,000
docs / 2,000 vectors) and at a locally generated 10x set (~sf1:
50,000 docs / 20,000 vectors), and report the observed scaling
exponent  log(t_10x / t_1x) / log(10)  per query. Exponent < 1 ⇒
sub-linear wall-time growth (fixed overhead amortizing); ≈ 1 ⇒
linear; ≈ 2 would mean a quadratic term (the thing the banded/blocked
designs exist to avoid).

The 10x set derives from the sf0.1 tables themselves: each source row
is tiled 10 times with deterministic perturbations (documents: drop/
swap a few words; embeddings: small coordinate noise), so vocabulary,
length distribution, near-dup rate, and cluster structure match the
driver generator's — only cardinality changes. Seeded; no
Date.now()-style nondeterminism. Writes nothing outside --out.

Usage: python tools/scaling_study.py [--out /tmp/scale10] [--reps 3]
Prints one JSON line; paste/refresh BENCH_SCALING.md from it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
TILE = 10
QUERIES = ["dedup_minhash_poly", "embedding_ann_lsh"]


def build_10x(out_dir: str) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    rng = random.Random(42)

    docs = con.sql(
        f"SELECT doc_id, text, lang, source, n_chars "
        f"FROM read_parquet('{SF01}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    n_src = len(docs)
    out = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for tile in range(TILE):
        for doc_id, text, lang, source, n_chars in docs:
            words = text.split(" ")
            if tile > 0:
                # deterministic light perturbation: drop one word,
                # swap one adjacent pair — keeps shingle overlap high
                # (near-dup structure) without byte-identical copies
                k = rng.randrange(len(words))
                words = words[:k] + words[k + 1 :]
                if len(words) > 2:
                    j = rng.randrange(len(words) - 1)
                    words[j], words[j + 1] = words[j + 1], words[j]
            t = " ".join(words)
            out["doc_id"].append(tile * n_src + doc_id)
            out["text"].append(t)
            out["lang"].append(lang)
            out["source"].append(source)
            out["n_chars"].append(len(t))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(out["doc_id"], pa.int64()),
                "text": pa.array(out["text"], pa.string()),
                "lang": pa.array(out["lang"], pa.string()),
                "source": pa.array(out["source"], pa.string()),
                "n_chars": pa.array(out["n_chars"], pa.int64()),
            }
        ),
        f"{out_dir}/documents.parquet",
    )

    emb = con.sql(
        f"SELECT vec_id, embedding, label "
        f"FROM read_parquet('{SF01}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    n_vec = len(emb)
    vids, vecs, labels = [], [], []
    for tile in range(TILE):
        for vec_id, v, label in emb:
            if tile > 0:
                v = [x + (rng.random() - 0.5) * 0.02 for x in v]
            vids.append(tile * n_vec + vec_id)
            vecs.append(v)
            labels.append(label)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(vids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )


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
    ap.add_argument("--out", default="/tmp/scale10")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    if not (
        os.path.exists(f"{args.out}/documents.parquet")
        and os.path.exists(f"{args.out}/embeddings.parquet")
    ):
        build_10x(args.out)

    import math

    import __spark_entry__ as entry_mod
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.session import (
        build_session,
    )

    spark = build_session("scaling-study")
    qs = entry_mod.queries()
    result: dict[str, dict] = {}
    for name in QUERIES:
        fn = qs[name]
        times = {}
        for label, sf_dir in (("1x", SF01), ("10x", args.out)):
            _consume(fn(spark, sf_dir))  # warm: plan + scan caches
            samples = []
            for _ in range(args.reps):
                t0 = time.time()
                _consume(fn(spark, sf_dir))
                samples.append(time.time() - t0)
            samples.sort()
            # row count reported OUTSIDE the timed loop (cheap count
            # after the noop-timed runs; it may re-run a reduced plan,
            # which is fine for a row count)
            n = fn(spark, sf_dir).count()
            times[label] = {"sec": samples[len(samples) // 2], "rows": n}
        exponent = math.log(times["10x"]["sec"] / times["1x"]["sec"]) / math.log(TILE)
        result[name] = {
            "t_1x_sec": round(times["1x"]["sec"], 3),
            "t_10x_sec": round(times["10x"]["sec"], 3),
            "rows_1x": times["1x"]["rows"],
            "rows_10x": times["10x"]["rows"],
            "observed_exponent": round(exponent, 3),
        }
    print(json.dumps({"tile": TILE, "reps": args.reps, "queries": result}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
