"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Headline set = the scale-relevant shapes: big scan+agg, multi-join
star, windows, and the LLM ops on their scale paths (LSH variants, not
the quadratic exact baselines). Each query is executed twice — timing
the second (warm) run — and consumed with the NOOP SINK
(``df.write.format("noop")``): driver-light (no row serialization)
but forces EVERY output column to be computed.

Round-12 measurement-integrity fix: the harness previously consumed
with ``.count()``, which lets Catalyst prune aggregate expressions
(count of a groupBy only needs the distinct keys — TPC-H q1 under
count() measured a distinct, not the sums) and ELIMINATE left joins
against unique-keyed aggregates (the LM scorer's count() plan dropped
all three score-table joins and the entire trained-LM subplan: 1.34 s
under count() vs 2.91 s real at sf0.1). Every baseline recorded before
round 12 measured that reduced work; the round-12 full re-record
(append-only, prior map pushed to history) reset all baselines under
the noop consume, and cross-round comparisons against r11-and-earlier
artifacts must account for the metric change.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.session import (
    build_session,
)

# Control queries for host-state normalization (VERDICT r9 #3):
# stable, code-frozen shapes — a codegen scan+agg, a text scan, a
# broadcast join — whose relative drift measures the HOST, not the
# code. tools/bench_gate.py normalizes every other query's time by
# the median control ratio before applying the variance band. Keep in
# sync with tools/bench_gate.py CONTROLS (tests/test_bench_controls.py
# pins both lists and their HEADLINE membership).
CONTROLS = ["q1_pricing_summary", "text_stats", "join_inner_fk_agg"]

HEADLINE = [
    # round-3 TPC-H remainder representatives + multiset set op
    "q6_forecast_revenue",
    "q8_market_share",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q21_waiting_supplier",
    "set_except_all",
    "q1_pricing_summary",
    "join_self_dual_role",
    "join_inner_fk_agg",
    "window_topk_per_group",
    "dedup_latest_wins",
    "tumbling_window_agg",
    "sessionize",
    "profile_orders",
    "dim_date_full",
    "text_stats",
    "dedup_exact_groups",
    "embedding_topk_bruteforce",
    "embedding_ann_lsh",
    "agg_cube",
    "window_lag_lead_range",
    "star_schema_build",
    "upsert_merge",
    "skew_salted_join",
    "multimodal_features",
    "join_asof_backward",
    "join_range_interval",
    "scd2_order_status",
    "rollup_hypertable",
    "text_winnow_fingerprints",
    "unpivot_measures",
    "sample_hash_stratified",
    "q3_shipping_priority",
    "dq_expectations",
    "curation_pipeline",
    "text_top_terms",
    "embedding_label_centroids",
    "dedup_edit1_names",
    "agg_exact_median",
    # round-2 additions: two-phase running total, broadcast-quintile
    # segmentation, corpus-stats retrieval scoring, partial-agg merge
    "pareto_abc_lineitem",
    "customer_rfm_segments",
    "text_bm25_top5",
    "agg_incremental_maintenance",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q18_large_volume_customer",
    # round-3 additions: recursive BFS, wedge-join triangles,
    # gaps-and-islands, weighted quantile, CDC feed apply
    "graph_khop_reachability",
    "graph_triangle_count",
    "events_day_streaks",
    "agg_weighted_median",
    "cdc_apply_changes",
    # round-5 addition, SPLIT in round 9 (VERDICT r8 #4): the
    # incremental-LSH lifecycle benches as separate build + probe legs
    # so the 2x gate sees each independently (the combined 15 s entry
    # could hide a 2x probe regression under a stable build). Build =
    # corpus shingle->sign->band->persist; probe = shard vs persisted
    # index read-only (the daily marginal cost).
    "dedup_incremental_lsh_build",
    "dedup_incremental_lsh_probe",
    # round-5 additions: single-agg OHLC rollup, deterministic EWMA
    # fold, decorrelated LATERAL top-k, interval-gap complement,
    # expression-only URL canonicalization, 2-iteration sync LPA over
    # a persisted 1.2M-edge frame
    "timeseries_ohlc",
    "timeseries_ewma",
    "join_lateral_topk",
    "temporal_interval_gaps",
    "text_url_canonicalize",
    "graph_label_propagation",
    # round-6 additions: the four TPC-H queries the synthetic partsupp
    # unlocks (correlated MIN, uncorrelated scalar-agg HAVING, triple-
    # negative COUNT DISTINCT, three-level nested IN + correlated SUM)
    # and the oracle-checked count-min sketch build+estimate
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q16_supplier_part_counts",
    "q20_excess_stock",
    "sketch_countmin_topk",
    "sketch_hll_deterministic",
    # round-6 continuation: Bloom join pruning (broadcast bitmap +
    # confusion matrix), linear-interpolation gap fill, trailing-window
    # anomaly z-scores, in-array PMI co-occurrence, zero-shuffle int8
    # quantization scan
    "bloom_semi_prune",
    "timeseries_interpolate",
    "anomaly_rolling_zscore",
    "text_pmi_pairs",
    "embedding_quantize_int8",
    # round-6 continuation, parts 2-4: planner-statistics sketch,
    # sliding/persisted HLL lifecycle, int8 serving tier, positional
    # PMI, bottom-k quantile sample
    "sketch_join_cardinality",
    "sketch_hll_sliding",
    "sketch_hll_index_daily",
    "embedding_ann_int8",
    "text_pmi_window",
    "sketch_quantile_sample",
    "skew_diagnose_events",
    # round-7 additions: the real WAV/PCM codec through the Arrow
    # boundary (fixture encode + decode + exact-integer features) and
    # the composed int8-inside-IVF serving tier (build quantized index
    # + directory-pruned BIGINT-ADC probe — lifecycle replay cost, like
    # embedding_ivf_persisted)
    "multimodal_audio_features",
    "embedding_ivf_int8",
    # round-7 continuation: incremental JOIN view refresh (broadcast
    # delta algebra), cell-blocked geo radius join, zone-map pruned
    # range scan, plan-unrolled MMR re-rank, blocked Fellegi-Sunter
    # linkage, and the BPE tokenizer lifecycle (8-round training +
    # literal-folded tokenization — training is n sequential jobs,
    # the honest lifecycle cost like sketch_hll_index_daily)
    "join_incremental_view",
    "geo_radius_join",
    "layout_zonemap_prune",
    "embedding_mmr_rerank",
    "link_fellegi_sunter",
    "text_bpe_learn",
    "text_bpe_tokenize",
    # round-7 post-continuation trio (integrated round 8): radius-
    # capped geo NN, skew-balanced quantile bucketing, deterministic
    # contrastive negative sampling via bucket probing
    "geo_nearest_neighbor",
    "layout_quantile_buckets",
    "sample_negatives_contrastive",
    # round-8 continuation: real baseline-JPEG round trip through the
    # Arrow boundary, benchmark decontamination (broadcast eval grams),
    # production-vocab BPE tokenize (mapInPandas; includes the 8-round
    # retrain like text_bpe_tokenize), host blocklist anti-join
    "multimodal_jpeg_roundtrip",
    "text_decontaminate",
    "text_bpe_tokenize_large",
    "curation_blocklist_filter",
    # round-8 continuation part 2: full entity-resolution pipeline
    # (link -> components -> survivorship; CC rounds are checkpointed
    # jobs, the honest lifecycle cost) and per-source quality-quartile
    # curation on the two-phase exact quantile
    "link_golden_records",
    "curation_quality_percentile",
    # round-8 continuation part 3: z-order 2-D zone-map pruning and the
    # schema-drift-tolerant evolving scan
    "layout_zorder_prune",
    "scan_schema_evolution",
    # round-8 continuation part 4: leakage-safe temporal embargo split
    # and the behavioral transition matrix (exact-integer ppm)
    "sample_temporal_embargo_split",
    "events_markov_transitions",
    # round-9 additions: 4:2:0 chroma-subsampled JPEG through the
    # Arrow boundary (SOF byte proves subsampling) and frame sampling
    # over genuine MJPEG-in-AVI container bytes (RIFF walk + JPEG
    # decode of only the sampled frames)
    "multimodal_jpeg_subsampled",
    "multimodal_frame_sample_mjpeg",
    # round-9 continuation: exact-quota dataset mixing by largest
    # remainder (BIGINT apportionment on the KB source frame, quotas
    # broadcast onto the corpus, one per-source ranking shuffle) and
    # concat-then-chunk sequence packing on the two-phase cumsum
    "sample_quota_mix",
    "text_pack_chunks",
    # round-9 continuation: progressive (SOF2) JPEG through the Arrow
    # boundary — spectral selection + successive approximation, the
    # SOF marker byte proving the format end-to-end
    "multimodal_jpeg_progressive",
    # round-9 continuation: IMA/DVI ADPCM audio decode (4-bit nibble
    # stream, exact-integer step tables) through the Arrow boundary
    "multimodal_audio_adpcm",
    # round-9 continuation: pHash image near-dup (decode -> integer
    # luma/box-mean -> DCT -> chunk-banded hamming equi-join) and
    # FFT/STFT audio spectral features — the visual/spectral siblings
    # of the text dedup + audio stats families
    "multimodal_phash_near_dup",
    "multimodal_audio_spectrum",
    # round-9 continuation: GIF LZW codec round-trip + frame walk
    "multimodal_gif_roundtrip",
    # round-9 continuation: G.711 mu-law/A-law companding (the SQL-
    # restatable expansion law)
    "multimodal_audio_g711",
    # round-9 continuation: persisted+incremental pHash image index —
    # the daily-cadence image-dedup lifecycle (build + probe + append)
    "multimodal_phash_incremental",
    # round-9 continuation: the last WAV-format stubs closed —
    # MS-ADPCM (tag 2) and IEEE float (tag 3)
    "multimodal_audio_msadpcm",
    "multimodal_audio_float",
    # round-9 continuation: baseline TIFF (IFD walk + LZW/PackBits +
    # multi-page chains, both byte orders)
    "multimodal_tiff_roundtrip",
    # round-9 continuation: uncompressed-DIB AVI frame sampling (the
    # BI_RGB sibling of the MJPEG path)
    "multimodal_frame_sample_dib",
    # round-9 continuation: homoglyph/confusable folding (poisoning
    # defense; one JVM-side translate, no UDF)
    "text_homoglyph_fold",
    # round-10: the hot-bucket guard's star-form output contract
    # (VERDICT r9 #1) — linear edge volume on duplicate-heavy corpora
    "dedup_minhash_grouped",
    # round-10: SemDeDup per-vector keep/prune verdicts (cluster ->
    # within-cell greedy keep-first; distinct from the cluster-summary
    # embedding_semantic_dedup, which keeps one rep per k-means cell)
    "embedding_semdedup_prune",
    # round-10: deterministic per-epoch training shuffle + reshard
    "sample_epoch_shuffle",
    # round-11 (VERDICT r10 #8): CCNet-style perplexity curation —
    # corpus-trained trigram stupid-backoff LM scoring the held-out
    # shard, exact BIGINT fixed-point end to end
    "text_lm_perplexity",
    # round-11 (VERDICT r10 #5): the dedup flagship's benched form is
    # the edges→survivors PROBE over the persisted edge index —
    # survivorship never re-pays the edge build the sibling
    # dedup_minhash_grouped already times in this same run (the
    # composed one-call dedup_survivors stays registered,
    # oracle-checked, and in the driver window; warm-up builds the
    # index, so the timed pass measures components+keep-first only)
    "dedup_survivors_from_edges",
    # round-12 (VERDICT r11 #4): the persisted LM index lifecycle's
    # two cost poles — BUILD (corpus scan + one count-table write;
    # rebuilt every call, so the timing is the honest build cost) and
    # SCORE-FROM-INDEX (the daily read path: one count-table scan
    # + joins, no training scan; warm-up bootstraps the index). The
    # APPEND leg is measured in BENCH_SCALING.md's
    # incremental-vs-retrain study.
    "text_lm_index_build",
    "text_lm_index_score",
    # round-12: DSIR importance resampling (Xie et al. 2023) — hashed
    # char-3-gram bucket distributions + quantized-log2 importance
    # weights (the data-selection pass over the raw pool) and the
    # exact-integer Gumbel top-k that resamples the target-like slice
    "sample_dsir_weights",
    "sample_dsir_select",
    # round-12: the persisted DSIR index's daily read path — featurize
    # only the scored docs, broadcast the ≤1024-row distribution table
    # (warm-up bootstraps the index; the APPEND leg is measured in
    # BENCH_SCALING.md's incremental study, mirroring the LM index)
    "sample_dsir_index_score",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # SPARK_GRAFT_BENCH_REPS > 1 times each query that many times after
    # the warm-up and reports per-query MEDIAN plus sample stddev
    # ("sigma") — the variance-band recording protocol (VERDICT r8 #7:
    # host noise spans 0.88-1.4x across rounds, so regression gating
    # needs median + k*sigma, not a point sample vs bare 2x). The
    # default single rep keeps the driver's per-round run unchanged.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "1")))
    # SPARK_GRAFT_BENCH_ONLY="a,b,c" restricts the run to a subset
    # (always unioned with CONTROLS so every recording carries the
    # host-state evidence the control-normalized gate needs) — the
    # 5-rep isolated re-record protocol for adjudicating drift flags.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    if only:
        requested = [n for n in only.split(",") if n.strip()]
        unknown = [n for n in requested if n not in HEADLINE]
        if unknown:
            raise SystemExit(f"not in HEADLINE: {unknown}")
        run_list = [
            n for n in HEADLINE if n in set(requested) | set(CONTROLS)
        ]
    else:
        run_list = HEADLINE
    spark = build_session("bench")

    qs = entry_mod.queries()

    def consume(df) -> None:
        # noop sink: computes every output column, serializes nothing
        # to the driver — count() would let Catalyst prune aggregates
        # and eliminate left joins (see module docstring, round 12)
        df.write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    sigmas: dict[str, float] = {}
    for name in run_list:
        fn = qs[name]
        consume(fn(spark, sf_dir))  # warm-up: plan + fill caches
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            consume(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 3)
        if reps > 1:
            sigmas[name] = round(statistics.stdev(samples), 4)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
    }
    if sigmas:
        out["sigma"] = sigmas
        out["reps"] = reps
    # Truncation-proof record (VERDICT r10 #3): the driver keeps only
    # the LAST ~2000 chars of stdout and json-parses them, so a single
    # >2000-char line loses its head and `parsed` lands null (r9/r10
    # artifacts both illegible beyond the tail). Emit the full map
    # first (humans / logs), persist it to a repo artifact, and END
    # with a compact summary line — controls + worst-10 + total —
    # guaranteed to fit the captured tail whole.
    print(json.dumps(out))
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    try:
        with open(full_path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the printed full line still has it
    worst = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    for c in CONTROLS:
        if c in timings:
            worst.setdefault(c, timings[c])
    summary = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": worst,
        "sf": float(sf),
        "n_queries": len(timings),
        "queries_note": "worst-10 + controls; full per-query map in "
                        "BENCH_FULL.json (also printed above)",
    }
    line = json.dumps(summary)
    assert len(line) < 1900, f"summary line too long ({len(line)})"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
