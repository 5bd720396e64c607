"""Persisted + incremental pHash image-dedup index lifecycle
(round 9 continuation) — build / probe / append / verify / repair,
and the incremental == full equivalence contract.
"""

from __future__ import annotations

import numpy as np
import pytest

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal import (
    PHASH_INDEX,
    build_phash_index,
    encode_ppm,
    image_near_pairs,
    incremental_phash_pairs,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.dedup import (
    index_exists,
    read_index,
    repair_index,
    verify_index,
)


def _family_rgb(fam: int, w: int = 48, h: int = 40) -> bytes:
    idx = np.arange(w * h * 3, dtype=np.uint64)
    x = idx * np.uint64(2654435761) + np.uint64(fam * 1000003 + 12345)
    x ^= x >> np.uint64(13)
    x = x * np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(7)
    return (x & np.uint64(255)).astype(np.uint8).tobytes()


def _media(spark, ids_fams):
    rows = [
        (i, bytearray(encode_ppm(48, 40, _family_rgb(f)))) for i, f in ids_fams
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def _pairs(df):
    return sorted((r["id_a"], r["id_b"], r["hamming"]) for r in df.collect())


# corpus: families 0,1,2 with a dup pair inside family 0
CORPUS = [(1, 0), (2, 0), (3, 1), (4, 2)]
# shard: new member of family 1 (cross dup), a brand-new family, and a
# within-shard dup pair in family 5
SHARD = [(10, 1), (11, 4), (12, 5), (13, 5)]


@pytest.fixture()
def index_path(tmp_path):
    return str(tmp_path / "phash_idx")


def test_build_verify_and_exists(spark, index_path):
    assert not index_exists(spark, index_path, PHASH_INDEX)
    build_phash_index(_media(spark, CORPUS), index_path)
    assert index_exists(spark, index_path, PHASH_INDEX)
    report = verify_index(spark, index_path, PHASH_INDEX)
    assert report == {
        "hashes": 4,
        "missing_chunk_ids": 0,
        "incomplete_chunk_ids": 0,
        "orphan_chunk_ids": 0,
        "chunks_per_id": 4,
        "consistent": True,
    }
    hashes, chunks = read_index(spark, index_path, PHASH_INDEX)
    assert hashes.count() == 4 and chunks.count() == 16


def test_incremental_equals_full(spark, index_path):
    build_phash_index(_media(spark, CORPUS), index_path)
    full = _pairs(image_near_pairs(_media(spark, CORPUS + SHARD)))
    corpus_only = _pairs(image_near_pairs(_media(spark, CORPUS)))
    inc = _pairs(
        incremental_phash_pairs(
            _media(spark, SHARD), index_path, update_index=False
        )
    )
    assert sorted(corpus_only + inc) == full
    assert (1, 2, 0) in corpus_only  # within-corpus dup not re-reported
    assert (3, 10, 0) in inc  # cross corpus-shard dup
    assert (12, 13, 0) in inc  # within-shard dup


def test_broadcast_flag_result_invariant(spark, index_path):
    build_phash_index(_media(spark, CORPUS), index_path)
    a = _pairs(
        incremental_phash_pairs(
            _media(spark, SHARD), index_path,
            update_index=False, broadcast_new=True,
        )
    )
    b = _pairs(
        incremental_phash_pairs(
            _media(spark, SHARD), index_path,
            update_index=False, broadcast_new=False,
        )
    )
    assert a == b


def test_update_index_appends_and_next_shard_sees_it(spark, index_path):
    build_phash_index(_media(spark, CORPUS), index_path)
    incremental_phash_pairs(_media(spark, SHARD), index_path)
    assert verify_index(spark, index_path, PHASH_INDEX)["hashes"] == 8
    # a second day's shard: dup of a FIRST-shard family (5)
    day2 = _pairs(
        incremental_phash_pairs(
            _media(spark, [(20, 5)]), index_path, update_index=False
        )
    )
    assert day2 == [(12, 20, 0), (13, 20, 0)]


def test_append_equals_fresh_build(spark, index_path, tmp_path):
    build_phash_index(_media(spark, CORPUS), index_path)
    incremental_phash_pairs(_media(spark, SHARD), index_path)
    fresh = str(tmp_path / "fresh_idx")
    build_phash_index(_media(spark, CORPUS + SHARD), fresh)
    for sub in ("hashes", "chunks"):
        a = sorted(
            tuple(r) for r in spark.read.parquet(f"{index_path}/{sub}").collect()
        )
        b = sorted(
            tuple(r) for r in spark.read.parquet(f"{fresh}/{sub}").collect()
        )
        assert a == b, sub


def test_repair_torn_append(spark, index_path):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources.io import (
        replace_table,
    )

    build_phash_index(_media(spark, CORPUS + SHARD), index_path)
    hashes, chunks = read_index(spark, index_path, PHASH_INDEX)
    # simulate a torn append: drop every chunk row of two ids
    torn = chunks.filter(~chunks["id"].isin(10, 12)).localCheckpoint()
    replace_table(spark, torn, f"{index_path}/chunks", partition_by=["chunk"])
    rep = verify_index(spark, index_path, PHASH_INDEX)
    assert not rep["consistent"] and rep["missing_chunk_ids"] == 2
    after = repair_index(spark, index_path, PHASH_INDEX)
    assert after["consistent"]
    # repaired index probes identically to an untorn one
    got = _pairs(
        incremental_phash_pairs(
            _media(spark, [(30, 5)]), index_path, update_index=False
        )
    )
    assert got == [(12, 30, 0), (13, 30, 0)]


def test_incremental_rejects_bad_band_config(spark, index_path):
    build_phash_index(_media(spark, CORPUS), index_path)
    with pytest.raises(ValueError):
        incremental_phash_pairs(
            _media(spark, SHARD), index_path, max_hamming=4
        )


def test_empty_corpus_index_probes_cleanly(spark, index_path):
    """A partitioned write of zero rows emits no chunk directories —
    the read must fall back to an empty typed frame (caught by the
    empty-input sweep in round 9) and a shard probe must still find
    its within-shard dups."""
    empty = _media(spark, [])
    build_phash_index(empty, index_path)
    assert verify_index(spark, index_path, PHASH_INDEX)["hashes"] == 0
    got = _pairs(
        incremental_phash_pairs(
            _media(spark, [(1, 0), (2, 0)]), index_path, update_index=False
        )
    )
    assert got == [(1, 2, 0)]

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
pytestmark = pytest.mark.slow
