"""Hot-bucket guard for banded LSH (VERDICT r9 #1).

A web-crawl corpus at 100 TB carries thousands-to-millions of
byte-identical boilerplate documents whose MinHash signatures (hence
every band bucket) collide; an unguarded band self-join goes
quadratic in ONE bucket. The guard collapses identical signatures to
a min-id representative before the band join and expands scored
rep-level pairs back through the membership frame — candidate volume
stays linear while the output pair set is bit-identical to the
ungrouped join (the DuckDB oracles for dedup_minhash_poly /
dedup_simhash_poly, which restate the UNGROUPED algorithm, keep
hash-matching — that is the grouped == ungrouped proof at the
registry level; these tests pin it at the operator level and pin the
linear candidate volume).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# deliberately similar-but-distinct texts so LSH has real work to do
_NEAR_A = "the quick brown fox jumps over the lazy dog near the river bank"
_NEAR_B = "the quick brown fox jumps over the lazy dog near the river bend"
_OTHER = "completely unrelated text about spark shuffle partitioning strategy"


def _ungrouped_pairs(sig, num_hashes, bands, threshold):
    """The pre-guard band self-join, restated verbatim — the
    equivalence baseline the guarded implementation must match."""
    bt = DD.band_entries(sig, num_hashes, bands)
    a, b = bt.alias("a"), bt.alias("b")
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return DD._score_candidates(cand, sig, sig, num_hashes, threshold)


def test_grouped_equals_ungrouped_on_duplicate_heavy_corpus(spark):
    """Exact pair-set equivalence on a corpus mixing three identical-
    signature groups, a cross-group near-dup pair, and singletons."""
    rows = (
        [(i, _NEAR_A) for i in range(5)]          # group 1: 5 identical
        + [(10 + i, _NEAR_B) for i in range(3)]   # group 2: 3 identical
        + [(20, _OTHER), (21, _OTHER)]            # group 3: 2 identical
        + [(30, "one of a kind document"), (31, "another singleton here")]
    )
    sig = DD.minhash_signatures_poly(_docs(spark, rows), "doc_id", "text")
    got = sorted(
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in DD.banded_pairs(sig, threshold=0.5).collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in _ungrouped_pairs(sig, 64, 16, 0.5).collect()
    )
    assert got == want
    # sanity: intra-group pairs present with est exactly 1.0, and the
    # cross-group near pairs scored identically on every member pair
    got_d = {(a, b): e for a, b, e in got}
    assert got_d[(0, 1)] == 1.0 and got_d[(10, 12)] == 1.0
    cross = {e for (a, b), e in got_d.items() if a < 10 <= b < 20}
    if cross:  # all 5x3 member pairs carry the one rep-level score
        assert len(cross) == 1
        assert len([1 for (a, b) in got_d if a < 10 <= b < 20]) == 15


def test_hamming_grouped_equals_ungrouped(spark):
    """Same equivalence for the pigeonhole hamming join (SimHash
    family): identical fingerprints collapse, output matches an
    ungrouped chunk self-join restated inline."""
    fp = spark.createDataFrame(
        [(1, 0b1111), (2, 0b1111), (3, 0b1111), (4, 0b0111), (5, -1), (6, 1 << 40)],
        "id long, h long",
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in DD.hamming_near_pairs(fp, max_hamming=3, n_chunks=4).collect()
    )
    chunks = DD.hash_chunk_entries(fp, n_chunks=4)
    a, b = chunks.alias("a"), chunks.alias("b")
    want = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in (
            a.join(b, on=["chunk", "val"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias("hamming"),
            )
            .dropDuplicates(["id_a", "id_b"])
            .filter(F.col("hamming") <= 3)
        ).collect()
    )
    assert got == want
    assert (1, 2, 0) in got and (1, 4, 1) in got


def test_skew_10k_identical_docs_linear_candidate_volume(spark):
    """The scale-killer scenario: 10k byte-identical docs. The guard
    must (a) collapse them to ONE representative, (b) feed the band
    self-join exactly bands rows (zero rep-level candidates — nothing
    quadratic anywhere before the output expansion), and (c) still
    emit the full k(k-1)/2 output pairs the contract promises
    (output-sized work is the contract's floor, counted distributed —
    never collected)."""
    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(_NEAR_A).alias("text")
    )
    sig = DD.minhash_signatures_poly(docs, "doc_id", "text")
    reps, membership = DD.collapse_identical_signatures(sig)
    assert reps.count() == 1
    assert membership.count() == n
    # the band table the self-join actually sees: bands rows, not n*bands
    assert DD.band_entries(reps).count() == 16
    # end-to-end: full pair contract still honored
    assert DD.banded_pairs(sig, threshold=0.5).count() == n * (n - 1) // 2


def test_skew_identical_fingerprints_linear_candidates(spark):
    """Hamming-join version of the skew test: 5k identical
    SimHash longs → one rep, chunk table n_chunks rows, full output."""
    n = 5_000
    fp = spark.range(n).select(
        F.col("id"), F.lit(-6148914691236517206).alias("h")  # 0xAAAA... pattern
    )
    w_reps = fp.groupBy("h").count()
    assert w_reps.count() == 1
    assert DD.hamming_near_pairs(fp, max_hamming=3, n_chunks=4).count() == n * (n - 1) // 2


def test_bucket_cap_drops_and_reports_overflow(spark):
    """The second line of defense: distinct signatures flooding one
    bucket. With max_bucket_size=1 the flooded buckets are skipped
    (candidates lost — the documented recall trade) and
    band_bucket_overflow reports exactly those buckets."""
    # identical signatures NEVER overflow — they collapse to one rep
    # before counting, so a million boilerplate copies are 1, not 1e6
    solo = DD.minhash_signatures_poly(
        _docs(spark, [(i, _NEAR_A) for i in range(100)] + [(200, _OTHER)]),
        "doc_id",
        "text",
    )
    assert DD.band_bucket_overflow(solo, max_bucket_size=1).count() == 0

    # two near-identical DISTINCT signatures share most band buckets:
    # with cap=1 those buckets overflow, the report names them, and
    # the capped join loses exactly the cross-group candidates —
    # intra-group pairs are immune (membership expansion, not band
    # join)
    rows = [(i, _NEAR_A) for i in range(3)] + [(10, _NEAR_B), (11, _NEAR_B)]
    sig = DD.minhash_signatures_poly(_docs(spark, rows), "doc_id", "text")
    ov = DD.band_bucket_overflow(sig, max_bucket_size=1)
    assert ov.count() > 0
    assert ov.agg(F.max("n_signatures")).first()[0] == 2
    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.banded_pairs(sig, threshold=0.5).collect()
    }
    capped_pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.banded_pairs(sig, threshold=0.5, max_bucket_size=1).collect()
    }
    assert capped_pairs <= exact_pairs
    assert {(0, 1), (0, 2), (1, 2), (10, 11)} <= capped_pairs
    assert all(a < 10 <= b for a, b in exact_pairs - capped_pairs)


def test_embedding_near_dup_guard_identical_vectors(spark):
    """The embedding sibling (similarity.embedding_near_dup): 2k
    byte-identical vectors collapse to one band-join node; the full
    cosine>=t pair contract is still honored with float-exact scores
    (every pair scored by the original cosine expression)."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        similarity as SIM,
    )

    n = 2_000
    base = [0.5, -0.25, 0.75, 0.1]
    rows = [(i, base) for i in range(n)] + [(n, [-0.5, 0.25, -0.75, -0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = SIM.embedding_near_dup(df, dim=4, threshold=0.95, id_col="vec_id")
    assert out.count() == n * (n - 1) // 2  # anti-parallel vector never pairs
    one = out.limit(1).first()
    assert abs(one["cosine_sim"] - 1.0) < 1e-6


def test_embedding_near_dup_guard_equivalence_mixed(spark):
    """Grouped candidate generation == ungrouped on a mixed corpus:
    two clone groups + a near (not identical) vector + an unrelated
    one. Scores must be bit-identical (same cosine expression)."""
    from pyspark.sql import functions as F  # noqa: F811

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        similarity as SIM,
    )
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.similarity import (
        _band_entries,
        cosine,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.999, 0.02, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 1.0, 0.0, 0.0]),
        (6, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in SIM.embedding_near_dup(df, dim=4, threshold=0.9).collect()
    }
    # ungrouped restatement
    b_df = _band_entries(df, "vec_id", "id", "embedding", 4, 16, 4, 7)
    a, b = b_df.alias("a"), b_df.alias("b")
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"))
    vb = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    want = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in (
            cand.join(va, "id_a").join(vb, "id_b")
            .withColumn("cosine_sim", cosine(F.col("vec_a"), F.col("vec_b")))
            .filter(F.col("cosine_sim") >= 0.9)
            .select("id_a", "id_b", "cosine_sim")
        ).collect()
    }
    assert got == want
    assert (1, 2) in got and (4, 5) in got and (1, 3) in got


def test_incremental_probe_bucket_cap(spark, tmp_path):
    """The corpus-vs-shard probe leg: with max_bucket_size set, a
    boilerplate-flooded corpus bucket is skipped as a candidate
    source (recall trade), while shard-internal pairs — which run the
    structural guard — are unaffected. Unset, the probe is exact."""
    corpus = _docs(
        spark,
        [(i, _NEAR_A) for i in range(20)] + [(100, _OTHER)],
    )
    shard = _docs(spark, [(200, _NEAR_A), (201, _NEAR_A), (300, _OTHER)])
    idx = str(tmp_path / "lsh_idx")
    DD.build_lsh_index(corpus, idx)
    exact = DD.incremental_lsh_pairs(
        shard, idx, update_index=False, threshold=0.5
    )
    # every corpus clone pairs with both shard clones + the OTHER pair
    assert exact.filter(F.col("id_b").isin(200, 201)).count() == 2 * 20 + 1
    assert {r["id_a"] for r in exact.filter(F.col("id_b") == 300).collect()} == {100}
    capped = DD.incremental_lsh_pairs(
        shard, idx, update_index=False, threshold=0.5, max_bucket_size=5
    )
    rows = capped.collect()
    # flooded corpus bucket skipped -> no corpus-vs-shard pairs for
    # the boilerplate family; the singleton corpus doc still pairs,
    # and the shard-internal clone pair survives (structural guard,
    # not the cap)
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert (100, 300) in got and (200, 201) in got
    assert not any(a < 100 and b in (200, 201) for a, b in got)


def test_null_ids_never_pair(spark):
    """NULL-id docs must not produce pairs (and must not corrupt
    least/greatest in the expansion — the r8 decontaminate hole,
    re-checked here for the grouped path)."""
    rows = [(None, _NEAR_A), (1, _NEAR_A), (2, _NEAR_A), (None, _NEAR_B)]
    sig = DD.minhash_signatures_poly(_docs(spark, rows), "doc_id", "text")
    got = [
        (r["id_a"], r["id_b"]) for r in DD.banded_pairs(sig, threshold=0.5).collect()
    ]
    assert got == [(1, 2)]
    assert all(a is not None and b is not None for a, b in got)

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
pytestmark = pytest.mark.slow
