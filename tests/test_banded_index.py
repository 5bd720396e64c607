"""The persisted MinHash-LSH index (operators/dedup.py) on tiny
frames: build, incremental == full, a torn append that verify reports,
repair back to consistent; and the build parameters recorded in the
index's meta are the ones every later probe, verify, repair and append
uses.
"""

from __future__ import annotations

import os

import pytest

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


def _lsh_pairs(df):
    return {(r["id_a"], r["id_b"], round(r["est_jaccard"], 9)) for r in df.collect()}


def _full_pairs(df):
    return _lsh_pairs(DD.minhash_lsh_pairs_poly(df, "doc_id", "text", threshold=0.5))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_lsh_index_lifecycle(spark, tmp_path):
    corpus, shard = _docs(spark, LSH_CORPUS), _docs(spark, LSH_SHARD)
    path = str(tmp_path / "lsh")
    DD.build_lsh_index(corpus, path)
    assert DD.verify_index(spark, path)["consistent"]

    # incremental == full: the shard's probe adds exactly the pairs
    # a full recompute finds beyond the corpus-only pairs
    inc = _lsh_pairs(DD.incremental_lsh_pairs(shard, path, update_index=False))
    both = corpus.unionByName(shard)
    corpus_pairs = _full_pairs(corpus)
    assert inc and not corpus_pairs & inc
    assert corpus_pairs | inc == _full_pairs(both)

    # torn append: the shard's signatures landed, its bands did not
    IO.commit(
        spark, f"{path}/signatures",
        DD.minhash_signatures_poly(shard, "doc_id", "text", 3, 64),
    )
    report = DD.verify_index(spark, path)
    assert not report["consistent"]
    assert report["missing_band_ids"] == len(LSH_SHARD)

    healed = DD.repair_index(spark, path)
    assert healed["consistent"]
    assert healed["signatures"] == len(LSH_CORPUS) + len(LSH_SHARD)
    clean = str(tmp_path / "lsh_clean")
    DD.build_lsh_index(both, clean)
    for got, want in zip(DD.read_index(spark, path), DD.read_index(spark, clean)):
        assert _rows(got) == _rows(want)


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
