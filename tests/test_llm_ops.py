"""Tests for the LLM-data operators: dedup families (recall of the
approximate paths vs the exact jaccard baseline), similarity search
(ANN recall vs brute force), profiling, text functions."""

from __future__ import annotations

from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.functions import (
    text as TX,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    profile as PR,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    similarity as SIM,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
    read_table,
)


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    exact = {
        (r["id_a"], r["id_b"])
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert exact, "testdata should contain planted near-dups"
    approx = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_pairs_poly(
            docs, num_hashes=64, bands=16, threshold=0.7
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall too low: {recall} ({len(exact)} true pairs)"


def test_simhash_finds_planted_near_dups(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    exact = {
        (r["id_a"], r["id_b"])
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    fp = DD.simhash_poly(docs)
    sim_pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.hamming_near_pairs(
            fp, hash_col="fingerprint", max_hamming=6, n_chunks=7
        ).collect()
    }
    # simhash is bag-of-words-ish: it should recover most very-high-
    # jaccard pairs (shingle order doesn't matter much on these docs)
    if exact:
        recall = len(exact & sim_pairs) / len(exact)
        assert recall >= 0.5, f"simhash recall {recall}"


def test_simhash_is_deterministic_and_60bit(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(20)
    a = {r["id"]: r["fingerprint"] for r in DD.simhash_poly(docs).collect()}
    b = {r["id"]: r["fingerprint"] for r in DD.simhash_poly(docs).collect()}
    assert a == b
    assert all(0 <= v < 1 << 60 for v in a.values())


def test_exact_dedup_groups_partition_docs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    groups = DD.exact_dedup(docs).collect()
    assert sum(r["group_size"] for r in groups) == docs.count()
    for r in groups:
        assert r["keep_id"] == min(r["member_ids"])


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(emb, queries, k=10).collect()
    # weakly-clustered corpus (max pairwise cosine ≈ 0.5) → use short
    # 2-bit bands for collision probability; at higher similarity
    # thresholds longer bands prune harder
    approx = SIM.lsh_ann_topk(emb, queries, dim=64, k=10, num_planes=16, bands=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    avg_recall = sum(recalls) / len(recalls)
    assert avg_recall >= 0.8, f"ANN avg recall {avg_recall}"


def test_profile_table_shape_and_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    prof = {r["column_name"]: r for r in PR.profile_table(docs, "documents").collect()}
    assert set(prof) == {"doc_id", "text", "lang", "source", "n_chars"}
    n = docs.count()
    assert prof["doc_id"]["n_rows"] == n
    assert prof["doc_id"]["n_negative"] == 0
    assert prof["lang"]["n_negative"] is None  # non-numeric
    assert prof["doc_id"]["quality"] == "Good"
    assert len(prof["lang"]["sample"]) <= 5


def test_text_function_edge_cases(spark):
    df = spark.createDataFrame(
        [("",), ("   ",), ("one",), ("a b  c",), (None,)], schema="text string"
    )
    rows = df.select(
        TX.token_count("text").alias("n"),
        TX.fingerprint("text").alias("fp"),
        TX.shingles("text", 3).alias("sh"),
    ).collect()
    assert [r["n"] for r in rows[:4]] == [0, 0, 1, 3]
    assert rows[0]["fp"] == rows[1]["fp"]  # both normalize to empty
    assert rows[2]["sh"] == ["one"]  # short doc → whole-doc shingle
    assert rows[3]["sh"] == ["a b c"]
    # NULL text → NULL shingles (NOT a phantom "" shingle — Spark's
    # null-skipping greatest() would otherwise manufacture one and
    # cross-match every NULL doc; pinned by the null-heavy sweep)
    assert rows[4]["sh"] is None


def test_embedding_near_dup_lsh_recall_vs_exact(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", SIM.cosine(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= 0.4)
        .collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in SIM.embedding_near_dup(
            emb, dim=64, threshold=0.4, num_planes=16, bands=8
        ).collect()
    }
    # LSH candidates are a subset scored exactly -> no false positives
    assert approx <= exact
    if exact:
        assert len(approx) / len(exact) >= 0.6, (len(approx), len(exact))


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(emb, queries, k=10).collect()
    # probing 8 of 16 cells scores ~half the corpus; on this
    # weakly-clustered testdata that yields ~0.68 recall (measured) -
    # real embedding corpora cluster far harder and prune far better
    approx = SIM.ivf_topk(emb, queries, dim=64, k=10, n_centroids=16, n_probe=8).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """Probing every cell must reproduce exact brute-force top-k -
    the approximation comes only from pruning, never from scoring."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in SIM.cosine_topk(emb, queries, k=5).collect()
    }
    full = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in SIM.ivf_topk(
            emb, queries, dim=64, k=5, n_centroids=8, n_probe=8
        ).collect()
    }
    assert full == exact


def test_winnow_fingerprints_properties(spark):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.functions import (
        text as TX,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "PREFIX the quick brown fox jumps over SUFFIX"),
            (3, "zz"),  # shorter than k -> empty fingerprint set
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    fps = {
        r["id"]: set(r["fingerprints"])
        for r in TX.winnow_fingerprints(docs, "doc_id", "text").collect()
    }
    # winnowing guarantee: a shared substring of length >= k+window-1
    # yields at least one shared fingerprint
    assert fps[1] & fps[2]
    assert fps[3] == set() and fps[4] == set()
    # deterministic across runs
    fps2 = {
        r["id"]: set(r["fingerprints"])
        for r in TX.winnow_fingerprints(docs, "doc_id", "text").collect()
    }
    assert fps == fps2


def test_simhash_poly_hamming_property(spark):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        dedup as DD,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("lazy", "sleepy")),  # near-duplicate
            (3, "completely different content about venture capital funds " * 5),
        ],
        ["doc_id", "text"],
    )
    fps = {
        r["id"]: r["fingerprint"]
        for r in DD.simhash_poly(docs, "doc_id", "text").collect()
    }
    ham_near = bin(fps[1] ^ fps[2]).count("1")
    ham_far = bin(fps[1] ^ fps[3]).count("1")
    assert ham_near < ham_far
    assert ham_near <= 15 and ham_far >= 15


def test_edit1_pairs_complete_vs_naive(spark):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        dedup as DD,
    )
    from pyspark.sql import functions as FF

    names = [
        (1, "alpha"), (2, "alpah"), (3, "alpha"),   # transpose=2 edits; exact dup
        (4, "alphas"), (5, "lpha"), (6, "blpha"),   # insert / delete / substitute
        (7, "gamma"), (8, "gamm"), (9, "zzzzz"), (10, "a"),
        (11, ""), (12, "b"),                        # empty string edge
    ]
    df = spark.createDataFrame(names, ["id", "name"])
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.edit1_pairs(df, "id", "name").collect()
    }
    a, b = df.alias("a"), df.alias("b")
    naive = {
        (r["ia"], r["ib"])
        for r in a.crossJoin(b)
        .filter(FF.col("a.id") < FF.col("b.id"))
        .filter(FF.levenshtein("a.name", "b.name") <= 1)
        .select(FF.col("a.id").alias("ia"), FF.col("b.id").alias("ib"))
        .collect()
    }
    assert got == naive  # symmetric-delete blocking is complete for d<=1
    assert (1, 3) in got and (1, 4) in got and (1, 5) in got and (1, 6) in got
    assert (1, 2) not in got  # transposition = 2 edits


def test_pii_scrub_and_counts(spark):
    rows = [
        (1, "mail me at a.b+x@ex-co.org or c@d.io thanks"),
        (2, "call 555-123-4567 or 800.555.1212 or +1 212-555-0000"),
        (3, "no pii here at all"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    got = {
        r["id"]: (r["e"], r["p"], r["s"])
        for r in df.select(
            "id",
            TX.pii_email_count("t").alias("e"),
            TX.pii_phone_count("t").alias("p"),
            TX.pii_scrub("t").alias("s"),
        ).collect()
    }
    assert got[1] == (2, 0, "mail me at <EMAIL> or <EMAIL> thanks")
    assert got[2][0] == 0 and got[2][1] == 3
    assert got[2][2] == "call <PHONE> or <PHONE> or +1 <PHONE>"
    assert got[3] == (0, 0, "no pii here at all")
    assert got[4] == (0, 0, "")


def test_repetition_fraction(spark):
    rows = [
        (1, "a b c a b c a b c"),      # 7 grams, 3 distinct
        (2, "one two three four"),      # all grams unique -> 0.0
        (3, "x y"),                     # shorter than n -> 0.0
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    got = {
        r["id"]: r["f"]
        for r in df.select(
            "id", TX.repetition_fraction("t", n=3).alias("f")
        ).collect()
    }
    assert abs(got[1] - (1 - 3 / 7)) < 1e-12
    assert got[2] == 0.0 and got[3] == 0.0 and got[4] == 0.0


def test_pq_codes_codewords_encode_to_self(spark, sf_dir):
    """The codebook vectors themselves must encode to their own index
    in every subspace (their subspace distance to themselves is 0) —
    ties broken to the lowest code."""
    emb = read_table(spark, sf_dir, "embeddings")
    codes = {
        (r["id"], r["s"]): r["code"]
        for r in SIM.pq_codes(emb, dim=64).filter(F.col("id") < 16).collect()
    }
    for vid in range(16):
        for s in range(8):
            assert codes[(vid, s)] == vid, (vid, s, codes[(vid, s)])


def test_pq_codes_shape_and_range(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    codes = SIM.pq_codes(emb, dim=64, m=8, ks=16)
    assert codes.count() == n * 8
    bad = codes.filter((F.col("code") < 0) | (F.col("code") >= 16)).count()
    assert bad == 0


def test_ivfpq_adc_score_matches_manual(spark, sf_dir):
    """The ADC score for every returned (query, neighbor) must equal
    the manually computed Σ_s dt[s][code_s] from the same quantized
    integers — the compression machinery is exact even though the
    SEARCH is approximate."""
    import math

    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings")
    rows = emb.orderBy("vec_id").collect()
    V = np.array(
        [[math.floor(float(x) * 1e6) for x in r["embedding"]] for r in rows],
        dtype=np.int64,
    )
    ids = [r["vec_id"] for r in rows]
    idx = {v: i for i, v in enumerate(ids)}
    cw = V[[idx[v] for v in sorted(ids)[:16]]]  # first 16 by id

    def sub(a, s):
        return a[s * 8 : (s + 1) * 8]

    def code(vec, s):
        d2s = [int(((sub(vec, s) - sub(c, s)) ** 2).sum()) for c in cw]
        return min(range(16), key=lambda j: (d2s[j], j))

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = SIM.ivfpq_topk(emb, queries, dim=64, k=5).collect()
    assert got, "ivfpq returned nothing"
    for r in got:
        qv, nv = V[idx[r["query_id"]]], V[idx[r["neighbor_id"]]]
        want = sum(
            int(((sub(qv, s) - sub(cw[code(nv, s)], s)) ** 2).sum())
            for s in range(8)
        )
        assert r["approx_d2"] == want, (r, want)


def test_ivfpq_recall_vs_exact_l2(spark, sf_dir):
    """Recall vs exact integer-L2 top-10. Measured 0.34 on this
    weakly-clustered synthetic corpus with the untrained id-ordered
    16-word codebook; full-probe recall is identical, i.e. the loss is
    ADC quantization (codebook quality), not cell pruning — real
    corpora with offline k-means codebooks sit far higher. Pinned at
    ≥ 0.2 as a machinery-regression floor."""
    import math

    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings")
    rows = emb.orderBy("vec_id").collect()
    V = np.array(
        [[math.floor(float(x) * 1e6) for x in r["embedding"]] for r in rows],
        dtype=np.int64,
    )
    ids = np.array([r["vec_id"] for r in rows])
    exact = {}
    for q in range(5):
        d2 = ((V - V[q]) ** 2).sum(axis=1)
        order = sorted(range(len(ids)), key=lambda i: (d2[i], ids[i]))
        exact[q] = set([ids[i] for i in order if ids[i] != q][:10])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    appr = {}
    for r in SIM.ivfpq_topk(emb, queries, dim=64, k=10).collect():
        appr.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact[q] & appr.get(q, set())) / 10 for q in range(5)]
    assert sum(recalls) / len(recalls) >= 0.2, recalls


def test_gopher_rules_per_rule_attribution(spark):
    """Each rule flips on the document engineered to violate ONLY it;
    the empty doc fails everything; the clean doc passes everything."""
    good = " ".join(
        ["the quick brown fox jumps over the lazy dogs again"] * 6
    )  # 60 words, mean len ~4.2, all alpha, stopwords, no punct
    too_short = "the small dog runs fast"  # 5 words -> r_wordcount fails
    long_words = " ".join(["abcdefghijklmnop"] * 60) + " the the"  # mean len > 10
    numbery = " ".join(["12345"] * 58) + " the the"  # <80% alpha words
    no_stop = " ".join(["alpha beta gamma delta epsilon"] * 12)  # 0 stopwords
    symbol_soup = good + " " + "!!! ??? %%% $$$ ###" * 3  # punct/words >= 0.1
    df = spark.createDataFrame(
        [
            (1, good), (2, too_short), (3, long_words),
            (4, numbery), (5, no_stop), (6, symbol_soup), (7, ""),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in df.select("doc_id", TX.gopher_rules("text").alias("g"))
        .select("doc_id", "g.*")
        .collect()
    }
    assert rows[1]["pass_gopher"]
    assert all(
        rows[1][f] for f in (
            "r_wordcount", "r_meanwordlen", "r_alphawords",
            "r_stopwords", "r_symbolratio",
        )
    )
    assert not rows[2]["r_wordcount"] and rows[2]["r_meanwordlen"]
    assert not rows[3]["r_meanwordlen"] and rows[3]["r_wordcount"]
    assert not rows[4]["r_alphawords"] and rows[4]["r_wordcount"]
    assert not rows[5]["r_stopwords"] and rows[5]["r_alphawords"]
    assert not rows[6]["r_symbolratio"] and rows[6]["r_stopwords"]
    assert not any(
        rows[7][f] for f in (
            "r_wordcount", "r_meanwordlen", "r_alphawords",
            "r_stopwords", "r_symbolratio", "pass_gopher",
        )
    )
    assert not any(rows[d]["pass_gopher"] for d in (2, 3, 4, 5, 6, 7))


def test_similarity_survives_zero_norm_and_small_corpus(spark):
    """Review findings: one all-zero vector must not DIVIDE_BY_ZERO
    the job under ANSI mode (it ranks last via NULL sim), and a corpus
    smaller than n_centroids/ks must not walk element_at off the end
    of the centroid/codebook literals."""
    rows = [(i, [float(i + j) for j in range(8)]) for i in range(6)]
    rows.append((6, [0.0] * 8))  # zero-norm row
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id = 0").selectExpr(
        "vec_id as query_id", "embedding"
    )
    # brute force: zero-norm neighbor present, job completes
    bf = SIM.cosine_topk(emb, queries, k=10).collect()
    assert {r["neighbor_id"] for r in bf} == {1, 2, 3, 4, 5, 6}
    zero_sim = [r["cosine_sim"] for r in bf if r["neighbor_id"] == 6]
    assert zero_sim == [None]  # ranks last, does not crash
    # IVF + PQ + IVF-PQ with corpus far smaller than the default
    # n_centroids=16 / ks=16: all complete and return real neighbors
    ivf = SIM.ivf_topk(emb, queries, dim=8, k=3).collect()
    assert len(ivf) > 0
    codes = SIM.pq_codes(emb, dim=8, m=2, ks=16).collect()
    assert len(codes) == 7 * 2
    ivfpq = SIM.ivfpq_topk(emb, queries, dim=8, k=3, m=2).collect()
    assert len(ivfpq) > 0


def test_codebook_skips_partially_null_vectors(spark):
    """Review finding: float(None) on a partially-null vector crashed
    plan construction; such rows now skip the codebook/centroid fits
    like whole-null vectors do."""
    rows = [
        (0, [1.0, 2.0]), (1, [3.0, None]), (2, [4.0, 5.0]), (3, None),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes = SIM.pq_codes(emb, dim=2, m=1, ks=4)
    assert codes.count() == 4  # all rows encode; fit just skipped the bad ones


def _pairs_set(df):
    return {
        (r.id_a, r.id_b, round(r.est_jaccard, 9)) for r in df.collect()
    }


def test_incremental_lsh_equals_full_recompute(spark, sf_dir, tmp_path):
    """The incremental-dedup contract: building an index on the corpus
    shard, then applying a new shard against it, must yield (a) pairs
    identical to the full recompute restricted to pairs touching the
    new shard, and (b) an updated index identical to one built from
    the full corpus in one shot."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "lsh_index")

    DD.build_lsh_index(corpus, path)
    inc = DD.incremental_lsh_pairs(shard, path, update_index=True)

    full = DD.minhash_lsh_pairs_poly(docs, "doc_id", "text", threshold=0.5)
    new_ids = {r.doc_id for r in shard.select("doc_id").collect()}
    expected = {
        p for p in _pairs_set(full) if p[0] in new_ids or p[1] in new_ids
    }
    assert _pairs_set(inc) == expected

    # corpus-only pairs are untouched by the incremental pass
    corpus_pairs = _pairs_set(
        DD.minhash_lsh_pairs_poly(corpus, "doc_id", "text", threshold=0.5)
    )
    assert corpus_pairs | _pairs_set(inc) == _pairs_set(full)

    # (b) index-update ∘ apply == full index build
    upd_sig, upd_bands = DD.read_index(spark, path)
    full_path = str(tmp_path / "lsh_index_full")
    DD.build_lsh_index(docs, full_path)
    full_sig, full_bands = DD.read_index(spark, full_path)
    assert upd_sig.exceptAll(full_sig).isEmpty()
    assert full_sig.exceptAll(upd_sig).isEmpty()
    assert upd_bands.exceptAll(full_bands).isEmpty()
    assert full_bands.exceptAll(upd_bands).isEmpty()


def test_incremental_lsh_shuffle_posture(spark, sf_dir, tmp_path):
    """Scale contract: with broadcast_new=True the corpus band table
    must reach its join WITHOUT an exchange (scanned, broadcast-joined
    against the shard) — the index is never shuffled."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "lsh_index")
    DD.build_lsh_index(corpus, path)
    inc = DD.incremental_lsh_pairs(shard, path, update_index=False)
    plan = inc._jdf.queryExecution().explainString(
        getattr(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode,
            "fromString",
        )("simple")
    )
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "parquet" in line and "/bands" in line and "Scan" in line:
            above = "\n".join(lines[:i])
            # nearest join above the band scan must be a broadcast join
            joins = [
                ln for ln in above.splitlines()
                if "Join" in ln or "join" in ln
            ]
            assert joins, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivf_persisted_index_equals_inflight(spark, sf_dir, tmp_path):
    """build_ivf_index + ivf_probe_index must reproduce ivf_topk
    bit-for-bit (same centroids, same assignment expression, same
    scoring arithmetic) — the persisted layout changes WHERE the
    corpus lives, never what the search returns."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cs = emb.filter(F.col("vec_id") < 16)
    path = str(tmp_path / "ivf")
    n = SIM.build_ivf_index(emb, path, n_centroids=16, centroid_source=cs)
    assert n == 16
    got = {
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in SIM.ivf_probe_index(queries, path, k=10, n_probe=8).collect()
    }
    want = {
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in SIM.ivf_topk(
            emb, queries, dim=64, k=10, n_centroids=16, n_probe=8,
            centroid_source=cs,
        ).collect()
    }
    assert got == want


def test_ivf_append_equals_rebuild_with_same_centroids(spark, sf_dir, tmp_path):
    """Appending a shard against frozen centroids must equal an index
    built over the full corpus with the SAME centroid set — cell
    membership is a pure function of (vector, centroids)."""
    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    shard = emb.filter(F.col("vec_id") % 4 == 0)
    cs = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    inc_path = str(tmp_path / "ivf_inc")
    SIM.build_ivf_index(corpus, inc_path, n_centroids=16, centroid_source=cs)
    SIM.append_ivf_index(shard, inc_path)

    full_path = str(tmp_path / "ivf_full")
    SIM.build_ivf_index(emb, full_path, n_centroids=16, centroid_source=cs)

    inc_cells = spark.read.parquet(inc_path + "/cells").select(
        "vec_id", "cell"
    )
    full_cells = spark.read.parquet(full_path + "/cells").select(
        "vec_id", "cell"
    )
    assert inc_cells.exceptAll(full_cells).isEmpty()
    assert full_cells.exceptAll(inc_cells).isEmpty()

    got = {
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in SIM.ivf_probe_index(queries, inc_path, k=10, n_probe=8).collect()
    }
    want = {
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in SIM.ivf_probe_index(queries, full_path, k=10, n_probe=8).collect()
    }
    assert got == want


def test_ivf_empty_corpus_builds_probeable_empty_index(spark, sf_dir, tmp_path):
    emb = read_table(spark, sf_dir, "embeddings")
    empty = emb.filter(F.lit(False))
    path = str(tmp_path / "ivf_empty")
    assert SIM.build_ivf_index(empty, path, n_centroids=16) == 0
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert SIM.ivf_probe_index(queries, path).count() == 0
    import pytest

    with pytest.raises(ValueError, match="no centroids"):
        SIM.append_ivf_index(emb, path)


def test_bitext_margin_suppresses_hub(spark):
    """The point of margin over raw cosine: a 'hub' target close to
    EVERY source must not win every pair. Sources s1,s2 each have a
    dedicated near-match; the hub sits moderately close to both. Raw
    cosine would give s1,s2 their dedicated matches anyway — but a
    third source s3 with no dedicated match sees only the hub, and
    its only candidate IS the hub — the hub's high backward k-NN
    average (it is close to both other sources too) deflates that
    pair's margin (≈1.33) well below the dedicated pairs' (≈1.70),
    so a threshold between them keeps the real matches and drops the
    hub pair. Raw cosine could not make this separation at any single
    threshold that also accepts varied dedicated-match strengths."""
    import math

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    dim = 8

    def vec(i, eps=0.0, base=None):
        v = [0.0] * dim
        if base is None:
            v[i] = 1.0
        else:
            v = list(base)
            v[(i + 3) % dim] += eps
        return unit(v)

    s1, s2, s3 = vec(0), vec(1), vec(2)
    t1 = vec(0, 0.05, vec(0))        # dedicated match for s1
    t2 = vec(1, 0.05, vec(1))        # dedicated match for s2
    hub = unit([1.0] * dim)          # near everything, equally

    left = spark.createDataFrame(
        [(1, s1), (2, s2), (3, s3)], "vec_id long, embedding array<double>"
    )
    right = spark.createDataFrame(
        [(11, t1), (12, t2), (13, hub)],
        "vec_id long, embedding array<double>",
    )
    all_rows = {
        r.src_id: r
        for r in SIM.bitext_margin_mine(
            left, right, k=2, threshold=0.0
        ).collect()
    }
    # margin ORDERING: dedicated pairs clearly above the hub pair
    assert all_rows[1].tgt_id == 11 and all_rows[2].tgt_id == 12
    assert all_rows[3].tgt_id == 13
    assert min(all_rows[1].margin, all_rows[2].margin) > all_rows[3].margin + 0.2

    # a threshold between the two bands keeps real matches, drops the hub
    mined = {
        r.src_id: r
        for r in SIM.bitext_margin_mine(
            left, right, k=2, threshold=1.5
        ).collect()
    }
    assert set(mined) == {1, 2}
    assert mined[1].tgt_id == 11 and mined[2].tgt_id == 12


def test_bitext_composes_with_ivf_probe(spark, sf_dir, tmp_path):
    """The documented scale path: swap cosine_topk for the persisted
    IVF probe — same output schema, margin stage unchanged, and (on
    this weakly-clustered testdata with a generous probe) most
    brute-force pairs survive the approximation."""
    emb = read_table(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("label") % 2 == 0)
    right = emb.filter(F.col("label") % 2 == 1)

    lp, rp = str(tmp_path / "ivf_left"), str(tmp_path / "ivf_right")
    SIM.build_ivf_index(left, lp, n_centroids=8)
    SIM.build_ivf_index(right, rp, n_centroids=8)

    def ann(corpus, queries, k):
        path = rp if corpus is right else lp
        return SIM.ivf_probe_index(queries, path, k=k, n_probe=6)

    exact = {
        (r.src_id, r.tgt_id)
        for r in SIM.bitext_margin_mine(left, right, k=4, threshold=1.0).collect()
    }
    approx_rows = SIM.bitext_margin_mine(
        left, right, k=4, threshold=1.0, topk_fn=ann
    )
    assert approx_rows.columns == ["src_id", "tgt_id", "cosine_sim", "margin"]
    approx = {(r.src_id, r.tgt_id) for r in approx_rows.collect()}
    assert exact, "brute-force mining found nothing — testdata drifted"
    overlap = len(exact & approx) / len(exact)
    assert overlap >= 0.6, f"ANN-backed mining overlap too low: {overlap}"


def test_url_normalize_golden(spark):
    """Canonicalization cases: case folding, default-port strip,
    fragment drop, tracking-param drop, param sort, empty path."""
    urls = [
        # full noise: case, :443, trackers, fragment, unsorted params
        (1, "HTTPS://Sub.Example.COM:443/Path/Pg?b=2&utm_source=x&a=1#frag"),
        # http default port, ref tracker, no survivors -> no '?'
        (2, "http://EXAMPLE.com:80/x?ref=home&utm_campaign=y"),
        # no path, no query
        (3, "https://example.com"),
        # non-default port preserved; gclid dropped
        (4, "https://example.com:8443/a?gclid=1&z=9"),
        # scheme-less garbage -> host '', base degrades honestly
        (5, "not a url"),
    ]
    df = spark.createDataFrame(urls, "id long, url string")
    got = {
        r["id"]: (r["host"], r["norm"])
        for r in df.select(
            "id",
            TX.url_host("url").alias("host"),
            TX.url_normalize("url").alias("norm"),
        ).collect()
    }
    assert got[1] == ("sub.example.com", "https://sub.example.com/Path/Pg?a=1&b=2")
    assert got[2] == ("example.com", "http://example.com/x")
    assert got[3] == ("example.com", "https://example.com/")
    assert got[4] == ("example.com:8443", "https://example.com:8443/a?z=9")
    assert got[5][0] == ""


def test_url_normalize_is_dedup_key(spark):
    """The point of the operator: tracking-noise variants of one page
    collapse to a single canonical URL, distinct pages stay distinct."""
    variants = [
        "https://example.com/page?utm_source=a",
        "HTTPS://EXAMPLE.COM:443/page#top",
        "https://example.com/page?utm_campaign=x&fbclid=z",
    ]
    other = "https://example.com/other"
    df = spark.createDataFrame(
        [(u,) for u in variants + [other]], "url string"
    )
    n = (
        df.select(TX.url_normalize("url").alias("u"))
        .distinct()
        .count()
    )
    assert n == 2


# ---------------------------------------------------------------------------
# exact substring dedup (round 6)
# ---------------------------------------------------------------------------


def test_substring_spans_planted_boilerplate(spark):
    """Two docs share one exact 60-char block at different offsets amid
    otherwise-unique text: exactly one span per doc, positioned on the
    block, windows merged into a single maximal island."""
    block = "B" * 25 + "SHARED LICENSE HEADER TEXT " + "C" * 8  # len 60
    assert len(block) == 60
    d1 = "x" * 30 + block + "y" * 40
    d2 = "q" * 10 + block + "r" * 55
    d3 = "unique content with no duplication at all " * 3
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], ["doc_id", "text"]
    )
    spans = DD.substring_duplicate_spans(df, "doc_id", "text", k=40).collect()
    by_doc = {r.doc_id: r for r in spans}
    assert set(by_doc) == {1, 2}
    # doc 1: block occupies chars 31..90 (1-based); 21 windows of 40
    assert by_doc[1].span_start == 31 and by_doc[1].span_end == 90
    assert by_doc[1].n_windows == 21 and by_doc[1].span_len == 60
    assert by_doc[2].span_start == 11 and by_doc[2].span_end == 70


def test_substring_spans_merges_adjacent_and_splits_gapped(spark):
    """Two shared blocks separated by a unique gap in one doc yield
    TWO spans (islands split on the gap), not one."""
    b1, b2 = "A" * 45, "Z" * 45
    d1 = b1 + "-unique-gap-that-is-long-enough-" + b2
    d2 = "pre " + b1 + " mid filler text here " + b2 + " post"
    df = spark.createDataFrame([(1, d1), (2, d2)], ["doc_id", "text"])
    spans = DD.substring_duplicate_spans(df, "doc_id", "text", k=40).collect()
    per_doc = {}
    for r in spans:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert len(per_doc[1]) == 2 and len(per_doc[2]) == 2
    s1 = sorted(per_doc[1], key=lambda r: r.span_start)
    assert s1[0].span_len == 45 and s1[1].span_len == 45


def test_substring_spans_short_and_null_texts_no_rows(spark):
    df = spark.createDataFrame(
        [(1, "tiny"), (2, None), (3, "")], ["doc_id", "text"]
    )
    assert DD.substring_duplicate_spans(df, "doc_id", "text", k=40).count() == 0


def test_substring_spans_rejects_bad_params(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        DD.substring_duplicate_spans(df, "doc_id", "text", k=1)
    with _pytest.raises(ValueError):
        DD.substring_duplicate_spans(df, "doc_id", "text", min_docs=0)


# ---------------------------------------------------------------------------
# benchmark decontamination (operators/dedup.contamination_hits)
# ---------------------------------------------------------------------------


def _decon_corpus(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # contains eval gram
            (2, "completely unrelated training text here now"),
            (3, "quick brown fox appears again in this one"),     # contains eval gram
            (4, "short doc"),                                      # < n tokens, whole-text gram
            (5, "the quick brown fox quick brown fox repeated"),   # repeated gram counts ONCE
        ],
        "doc_id int, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "quick brown fox"), (101, "short doc")],
        "doc_id int, text string",
    )
    return train, eval_df


def test_contamination_hits_flags_overlapping_docs(spark):
    train, eval_df = _decon_corpus(spark)
    hits = {
        r.id: r.n_contaminated_grams
        for r in DD.contamination_hits(train, eval_df, n=3).collect()
    }
    # docs 1, 3, 5 share 'quick brown fox'; doc 4 IS an eval doc verbatim
    # (whole-text gram of the sub-n doc matches eval's whole-text gram)
    assert set(hits) == {1, 3, 4, 5}
    # distinct-gram counting: doc 5 repeats the gram but counts it once
    assert hits[5] == 1


def test_decontaminate_drops_exactly_the_hits(spark):
    train, eval_df = _decon_corpus(spark)
    kept = sorted(r.doc_id for r in DD.decontaminate(train, eval_df, n=3).collect())
    assert kept == [2]
    # min_hits above every count keeps everything
    kept_all = sorted(
        r.doc_id
        for r in DD.decontaminate(train, eval_df, n=3, min_hits=99).collect()
    )
    assert kept_all == [1, 2, 3, 4, 5]


def test_contamination_shuffled_join_parity(spark):
    """broadcast_eval=False (corpus-vs-corpus decontamination) must
    produce identical hits through the plain equi-join plan."""
    train, eval_df = _decon_corpus(spark)
    a = sorted(
        tuple(r)
        for r in DD.contamination_hits(train, eval_df, n=3).collect()
    )
    b = sorted(
        tuple(r)
        for r in DD.contamination_hits(
            train, eval_df, n=3, broadcast_eval=False
        ).collect()
    )
    assert a == b


def test_contamination_empty_eval_flags_nothing(spark):
    train, eval_df = _decon_corpus(spark)
    empty = eval_df.filter(F.lit(False))
    assert DD.contamination_hits(train, empty, n=3).count() == 0
    assert DD.decontaminate(train, empty, n=3).count() == train.count()


# ---------------------------------------------------------------------------
# host blocklist filtering (functions/text.domain_suffix_chain)
# ---------------------------------------------------------------------------


def test_domain_suffix_chain_golden(spark):
    df = spark.createDataFrame(
        [("www.a.example.com",), ("com",), ("",), (None,)], "host string"
    )
    got = {
        r.host: r.chain
        for r in df.select(
            "host", TX.domain_suffix_chain("host").alias("chain")
        ).collect()
    }
    assert got["www.a.example.com"] == [
        "www.a.example.com", "a.example.com", "example.com", "com",
    ]
    assert got["com"] == ["com"]
    assert got[""] == []
    assert got[None] is None


def test_is_host_blocked_parent_domain_semantics(spark):
    bl = ["example.com", "www.only.org"]
    df = spark.createDataFrame(
        [
            ("deep.sub.example.com", True),   # grandparent blocked
            ("example.com", True),            # exact
            ("notexample.com", False),        # suffix must align on a dot
            ("only.org", False),              # parent of a blocked SUB is fine
            ("www.only.org", True),
            ("exampleXcom", False),
        ],
        "host string, want boolean",
    )
    rows = df.select(
        "want", TX.is_host_blocked("host", bl).alias("got")
    ).collect()
    assert all(r.got == r.want for r in rows), [
        (r.want, r.got) for r in rows
    ]

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
import pytest  # noqa: E402
pytestmark = pytest.mark.slow
