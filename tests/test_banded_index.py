"""The persisted banded-hash index (operators/dedup.py) on tiny frames,
for both families that share it — text MinHash-LSH and image pHash:
build, incremental == full, a torn append that verify reports, repair
back to consistent; and the build parameters recorded in the index's
meta are the ones every later probe, verify, repair and append uses.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import (
    multimodal as MM,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
    io as IO,
)

_BASE = (
    "the quick brown fox jumps over the lazy dog while the venture fund "
    "closes its series a round and the founders celebrate"
)
_OTHER = "completely unrelated text about quarterly warehouse revenue numbers"
_THIRD = "a third distinct document describing an ipo on a foreign exchange"

# corpus ids < 10, shard ids >= 10; planted near-dups: (1, 2) inside
# the corpus, (1, 10) / (2, 10) across, (11, 12) inside the shard
LSH_CORPUS = [
    (1, _BASE),
    (2, _BASE + " today"),
    (3, _OTHER),
    (4, _THIRD),
]
LSH_SHARD = [
    (10, _BASE.replace("lazy", "sleepy")),
    (11, _OTHER + " and costs"),
    (12, _OTHER + " and costs too"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _family_rgb(fam: int, w: int = 48, h: int = 40) -> bytes:
    idx = np.arange(w * h * 3, dtype=np.uint64)
    x = idx * np.uint64(2654435761) + np.uint64(fam * 1000003 + 12345)
    x ^= x >> np.uint64(13)
    x = x * np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(7)
    return (x & np.uint64(255)).astype(np.uint8).tobytes()


def _media(spark, ids_fams):
    rows = [
        (i, bytearray(MM.encode_ppm(48, 40, _family_rgb(f)))) for i, f in ids_fams
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


# (media_id, family): one family = identical pixels = hamming 0
PHASH_CORPUS = [(1, 0), (2, 0), (3, 1), (4, 2)]
PHASH_SHARD = [(10, 1), (11, 4), (12, 5), (13, 5)]


def _lsh_pairs(df):
    return {(r["id_a"], r["id_b"], round(r["est_jaccard"], 9)) for r in df.collect()}


def _phash_pairs(df):
    return {(r["id_a"], r["id_b"], r["hamming"]) for r in df.collect()}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_index_lifecycle_both_families(spark, tmp_path):
    families = [
        (
            DD.LSH_INDEX,
            {"k": 3, "num_hashes": 64, "bands": 16},
            _docs,
            LSH_CORPUS,
            LSH_SHARD,
            lambda df, p: DD.build_lsh_index(df, p),
            lambda df, p: DD.incremental_lsh_pairs(df, p, update_index=False),
            lambda df: _lsh_pairs(
                DD.minhash_lsh_pairs_poly(df, "doc_id", "text", threshold=0.5)
            ),
            _lsh_pairs,
        ),
        (
            MM.PHASH_INDEX,
            {"n_chunks": 4},
            _media,
            PHASH_CORPUS,
            PHASH_SHARD,
            lambda df, p: MM.build_phash_index(df, p),
            lambda df, p: MM.incremental_phash_pairs(df, p, update_index=False),
            lambda df: _phash_pairs(MM.image_near_pairs(df)),
            _phash_pairs,
        ),
    ]
    for fam, params, frame, corpus_rows, shard_rows, *fns in families:
        build, probe, full_pairs, pairs = fns
        corpus, shard = frame(spark, corpus_rows), frame(spark, shard_rows)
        path = str(tmp_path / fam.source)
        build(corpus, path)
        assert DD.verify_index(spark, path, fam)["consistent"]

        # incremental == full: the shard's probe adds exactly the pairs
        # a full recompute finds beyond the corpus-only pairs
        inc = pairs(probe(shard, path))
        both = corpus.unionByName(shard)
        corpus_pairs = full_pairs(corpus)
        assert inc and not corpus_pairs & inc
        assert corpus_pairs | inc == full_pairs(both)

        # torn append: the shard's source rows landed, its entries did not
        meta = {**params, **fam.tag}
        IO.commit(spark, f"{path}/{fam.source}", fam.sign(shard, meta))
        report = DD.verify_index(spark, path, fam)
        assert not report["consistent"]
        assert report[f"missing_{fam.part}_ids"] == len(shard_rows)

        healed = DD.repair_index(spark, path, fam)
        assert healed["consistent"]
        assert healed[fam.source] == len(corpus_rows) + len(shard_rows)
        clean = str(tmp_path / f"{fam.source}_clean")
        build(both, clean)
        for got, want in zip(
            DD.read_index(spark, path, fam), DD.read_index(spark, clean, fam)
        ):
            assert _rows(got) == _rows(want)


def test_phash_repair_and_probe_use_the_built_n_chunks(spark, tmp_path):
    path = str(tmp_path / "phash")
    MM.build_phash_index(_media(spark, PHASH_CORPUS), path, n_chunks=8)
    report = DD.repair_index(spark, path, MM.PHASH_INDEX)
    assert report["consistent"] and report["chunks_per_id"] == 8
    _, chunks = DD.read_index(spark, path, MM.PHASH_INDEX)
    per_id = chunks.groupBy("id").agg(F.count("*").alias("n")).collect()
    assert {(r["id"], r["n"]) for r in per_id} == {(i, 8) for i, _ in PHASH_CORPUS}

    got = _phash_pairs(
        MM.incremental_phash_pairs(
            _media(spark, PHASH_SHARD), path, update_index=False
        )
    )
    assert (3, 10, 0) in got and (12, 13, 0) in got


def test_lsh_probe_uses_the_built_num_hashes_and_bands(spark, tmp_path):
    path = str(tmp_path / "lsh")
    corpus, shard = _docs(spark, LSH_CORPUS), _docs(spark, LSH_SHARD)
    DD.build_lsh_index(corpus, path, num_hashes=32, bands=8)
    got = _lsh_pairs(DD.incremental_lsh_pairs(shard, path, update_index=False))
    assert (1, 10) in {(a, b) for a, b, _ in got}
    full = _lsh_pairs(
        DD.minhash_lsh_pairs_poly(
            corpus.unionByName(shard), "doc_id", "text",
            num_hashes=32, bands=8, threshold=0.5,
        )
    )
    assert got == {p for p in full if p[1] >= 10}


def _snapshot(root):
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize(
    "changed", [{"k": 5}, {"num_hashes": 32}, {"bands": 8}],
    ids=["k", "num_hashes", "bands"],
)
def test_lsh_append_with_other_build_parameters_raises(spark, tmp_path, changed):
    path = str(tmp_path / "lsh")
    DD.build_lsh_index(_docs(spark, LSH_CORPUS), path)
    before = _snapshot(path)
    with pytest.raises(ValueError, match="differ"):
        DD.build_lsh_index(_docs(spark, LSH_SHARD), path, mode="append", **changed)
    assert _snapshot(path) == before
