"""The shared hot-bucket guard and the shared IVF search, in the default
collection.

Every near-dup family collapses identical keys to a min-id
representative before its self-join and expands the representative
pairs back afterwards (``dedup.collapse_identical_signatures``,
``dedup._expand_rep_pairs``). On a hand-made frame of byte-identical
clones, near-dups and singletons, each family's output must equal an
all-pairs reference computed here in Python. The IVF case pins that
``ivf_topk`` and a persisted index probed with ``ivf_probe_index``
are one search: same centroids, same rows. The last four cases pin the
band-configuration guards and the single-chunk boundary of the SimHash
chunk banding (``dedup.hash_chunk_entries``, ``hamming_near_pairs``).
"""

from __future__ import annotations

import math
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
    similarity as SIM,
)


def _pairs(df, value_col):
    return {(r["id_a"], r["id_b"]): r[value_col] for r in df.collect()}


def test_banded_pairs_equal_all_pairs_reference(spark):
    num_hashes, bands, threshold = 8, 4, 0.5
    base = [11, 12, 13, 14, 15, 16, 17, 18]
    near = [11, 12, 13, 14, 15, 16, 97, 98]  # shares bands 0-2 with base
    far = [21, 22, 23, 24, 25, 26, 27, 28]
    half = [11, 12, 93, 94, 95, 96, 91, 92]  # est 0.25: below threshold
    rows = (
        [(i, base) for i in (1, 2, 3)]  # three byte-identical clones
        + [(4, near), (5, near)]  # a second clone group, near base
        + [(6, far), (7, half)]
    )
    sig = spark.createDataFrame(rows, "id long, signature array<long>")
    got = _pairs(DD.banded_pairs(sig, num_hashes, bands, threshold), "est_jaccard")

    rows_per_band = num_hashes // bands

    def collide(a, b):
        return any(
            a[i : i + rows_per_band] == b[i : i + rows_per_band]
            for i in range(0, num_hashes, rows_per_band)
        )

    want = {}
    for (ia, sa), (ib, sb) in combinations(sorted(rows), 2):
        est = sum(x == y for x, y in zip(sa, sb)) / num_hashes
        if collide(sa, sb) and est >= threshold:
            want[(ia, ib)] = est
    assert got == want
    assert len(want) == 3 + 1 + 3 * 2  # intra clones + cross pairs


def test_hamming_near_pairs_equal_all_pairs_reference(spark):
    max_hamming, n_chunks = 3, 4
    h0 = 0x0123_4567_89AB_CDEF
    rows = (
        [(i, h0) for i in (1, 2, 3)]  # identical fingerprints
        + [(4, h0 ^ 0b101), (5, h0 ^ 0b101)]  # distance 2 from h0
        + [(6, h0 ^ 0b1111)]  # distance 4 from h0: out
        + [(7, 0x7654_3210_FEDC_BA98)]
    )
    fp = spark.createDataFrame(rows, "doc_id long, fingerprint long")
    got = _pairs(
        DD.hamming_near_pairs(fp, "doc_id", "fingerprint", max_hamming, n_chunks),
        "hamming",
    )
    want = {}
    for (ia, ha), (ib, hb) in combinations(sorted(rows), 2):
        d = bin(ha ^ hb).count("1")
        if d <= max_hamming:
            want[(ia, ib)] = d
    assert got == want
    assert (4, 6) in want and (1, 6) not in want


def _cos(a, b):
    """Cosine in the operator's fold order (double accumulation left
    to right), so the value equals the Spark one bit for bit."""

    def dot(x, y):
        acc = 0.0
        for u, v in zip(x, y):
            acc = acc + float(u) * float(v)
        return acc

    den = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
    return dot(a, b) / den if den != 0 else None


def test_embedding_near_dup_equals_all_pairs_reference(spark):
    dim, threshold = 8, 0.99
    v1 = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    v1n = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.5]  # near-dup of v1
    v2 = [-3.0, 1.0, -4.0, 1.0, -5.0, 9.0, -2.0, 6.0]
    rows = (
        [(i, v1) for i in (1, 2, 3)]  # byte-identical clones
        + [(4, v1n)]
        + [(5, v2), (6, v2)]
        + [(7, [0.0] * dim)]  # zero vector: no cosine, never paired
    )
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = _pairs(SIM.embedding_near_dup(corpus, dim, threshold), "cosine_sim")
    want = {}
    for (ia, a), (ib, b) in combinations(sorted(rows), 2):
        c = _cos(a, b)
        if c is not None and c >= threshold:
            want[(ia, ib)] = c
    assert got == want
    assert len(want) == 6 + 1  # {1,2,3,4} all pairs + (5, 6)


def test_ivf_topk_equals_persisted_probe(spark, tmp_path):
    dim = 4
    vecs = [
        [1.0, 0.0, 0.0, 0.0], [0.9, 0.1, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
        [0.1, 0.9, 0.1, 0.0], [0.0, 0.0, 1.0, 0.0], [0.0, 0.1, 0.9, 0.2],
        [0.0, 0.0, 0.0, 1.0], [0.2, 0.0, 0.1, 0.9], [0.5, 0.5, 0.5, 0.5],
        [0.9, 0.1, 0.0, 0.0],  # clone of id 1: a tie the ranking breaks by id
    ]
    corpus = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    queries = corpus.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    source = corpus.filter(F.col("vec_id") < 4)
    in_plan = SIM.ivf_topk(
        corpus, queries, dim, k=3, n_centroids=4, n_probe=2,
        centroid_source=source,
    )
    path = str(tmp_path / "ivf")
    SIM.build_ivf_index(corpus, path, n_centroids=4, centroid_source=source)
    persisted = SIM.ivf_probe_index(queries, path, k=3, n_probe=2)
    got = sorted(tuple(r) for r in in_plan.collect())
    assert got == sorted(tuple(r) for r in persisted.collect())
    assert len(got) == 4 * 3


def test_null_keys_pair_with_nothing(spark):
    """A NULL key equals no key, its own included: two rows with a NULL
    signature, fingerprint or embedding pair with nothing, as in the
    all-pairs reference, while their non-NULL clones still pair."""
    sig = spark.createDataFrame(
        [(1, None), (2, None), (3, [1, 2, 3, 4]), (4, [1, 2, 3, 4])],
        "id long, signature array<long>",
    )
    assert _pairs(DD.banded_pairs(sig, 4, 2, 0.5), "est_jaccard") == {(3, 4): 1.0}

    fp = spark.createDataFrame(
        [(1, None), (2, None), (3, 0x0F0F), (4, 0x0F0F)], "doc_id long, fingerprint long"
    )
    assert _pairs(DD.hamming_near_pairs(fp, "doc_id", "fingerprint", 3, 4), "hamming") == {
        (3, 4): 0
    }

    v = [1.0, 2.0, 3.0, 4.0]
    corpus = spark.createDataFrame(
        [(1, None), (2, None), (3, v), (4, v)], "vec_id long, embedding array<float>"
    )
    assert _pairs(SIM.embedding_near_dup(corpus, 4, 0.99), "cosine_sim") == {
        (3, 4): _cos(v, v)
    }


def test_hamming_near_pairs_rejects_bad_band_config(spark):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.dedup import (
        hamming_near_pairs,
    )

    fp = spark.createDataFrame([(1, 0)], "id long, h long")
    with pytest.raises(ValueError):
        hamming_near_pairs(fp, max_hamming=4, n_chunks=4)


def test_hamming_near_pairs_wider_banding(spark):
    """8x8-bit chunks admit hamming up to 7; verify an exact distance
    is reported and the threshold filter holds."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.dedup import (
        hamming_near_pairs,
    )

    fp = spark.createDataFrame(
        [(1, 0b1111), (2, 0b0111), (3, -1)], "id long, h long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_near_pairs(fp, max_hamming=7, n_chunks=8).collect()
    }
    assert got == {(1, 2): 1}  # 3 is 60+ bits from both


def test_chunk_entries_reject_degenerate_chunk_count(spark):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.dedup import (
        hash_chunk_entries,
    )

    fp = spark.createDataFrame([(1, 0)], "id long, h long")
    with pytest.raises(ValueError):
        hash_chunk_entries(fp, n_chunks=65)  # zero-width chunks
    with pytest.raises(ValueError):
        hash_chunk_entries(fp, n_chunks=0)


def test_chunk_entries_full_width_single_chunk(spark):
    """n_chunks=1 is the documented lower boundary: the chunk IS the
    whole long (a (1<<64)-1 mask literal would overflow Spark's long —
    ADVICE r9). Values, including negative longs, pass through
    unchanged, and hamming_near_pairs(max_hamming=0, n_chunks=1)
    degenerates to exact-hash pairing."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.dedup import (
        hamming_near_pairs,
        hash_chunk_entries,
    )

    fp = spark.createDataFrame(
        [(1, -1), (2, -1), (3, 7), (4, 7), (5, 8)], "id long, h long"
    )
    rows = hash_chunk_entries(fp, n_chunks=1).collect()
    assert {r["chunk"] for r in rows} == {0}
    assert {(r["id"], r["val"]) for r in rows} == {
        (1, -1), (2, -1), (3, 7), (4, 7), (5, 8)
    }
    pairs = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_pairs(fp, max_hamming=0, n_chunks=1).collect()
    )
    assert pairs == [(1, 2, 0), (3, 4, 0)]
