"""Continuous IMAGE near-dup detection against the persisted pHash
index (round 9 continuation) — streaming micro-batches must
accumulate EXACTLY the pair set a full batch run over all ingested
images finds, with exactly-once pair output under replay.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import types as T

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import (
    multimodal as MM,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.streaming import (
    incremental as INC,
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
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
        (i, bytearray(MM.encode_ppm(48, 40, _family_rgb(f))))
        for i, f in ids_fams
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


PARAMS = {"n_chunks": 4}

# 12 images, 5 families; cross-batch dups by construction:
# batch1 = ids 1-4, batch2 = 5-8, batch3 = 9-12 (id % 4 buckets)
ALL = [
    (1, 0), (2, 0), (3, 1), (4, 2),
    (5, 1), (6, 3), (7, 0), (8, 3),
    (9, 2), (10, 4), (11, 3), (12, 4),
]


def test_streaming_image_dedup_accumulates_to_full_recompute(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for b in range(3):
        batch = [(i, f) for i, f in ALL if (i - 1) // 4 == b]
        _media(spark, batch).coalesce(1).write.mode("append").parquet(str(src))

    index = str(tmp_path / "phash_index")
    pairs = str(tmp_path / "pairs")
    stream = (
        spark.readStream.schema(MEDIA_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = INC.streaming_index_dedup(
        stream, index, pairs, str(tmp_path / "chk"), MM.PHASH_INDEX, PARAMS, 3
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in spark.read.parquet(pairs).collect()
    }
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in MM.image_near_pairs(_media(spark, ALL)).collect()
    }
    assert got == want
    assert (1, 7, 0) in got  # batch1 x batch2 cross-dup
    assert (6, 11, 0) in got  # batch2 x batch3 cross-dup
    assert (10, 12, 0) in got  # within batch3

    # accumulated index equals a one-shot build over everything
    hashes, _ = DD.read_index(spark, index, MM.PHASH_INDEX)
    full = str(tmp_path / "full_idx")
    MM.build_phash_index(_media(spark, ALL), full)
    full_hashes, _ = DD.read_index(spark, full, MM.PHASH_INDEX)
    assert hashes.exceptAll(full_hashes).isEmpty()
    assert full_hashes.exceptAll(hashes).isEmpty()

    # replay from a fresh checkpoint: already-indexed ids drop, no
    # pair duplicates, index unchanged
    q2 = INC.streaming_index_dedup(
        stream, index, pairs, str(tmp_path / "chk2"), MM.PHASH_INDEX, PARAMS, 3
    )
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(pairs).count() == len(got)
    hashes2, _ = DD.read_index(spark, index, MM.PHASH_INDEX)
    assert hashes2.count() == hashes.count()


def test_phash_sink_crash_between_pairs_and_append_is_exactly_once(
    spark, tmp_path
):
    """Replay a batch whose first attempt wrote pairs but crashed
    before the index append: the retry must overwrite (not duplicate)
    the pair partition and complete the append."""
    index = str(tmp_path / "idx")
    pairs = str(tmp_path / "pairs")
    DD.index_sink_batch(
        _media(spark, ALL[:4]), 0, index, pairs, MM.PHASH_INDEX, PARAMS, 3
    )

    batch2 = _media(spark, ALL[4:8])
    # simulate the crash: write the pairs partition exactly as the
    # sink would, then DON'T append (torn attempt)
    attempt = MM.incremental_phash_pairs(batch2, index, update_index=False)
    attempt.write.mode("overwrite").parquet(f"{pairs}/batch_id=1")
    before = spark.read.parquet(pairs).count()

    # the checkpoint retries the whole batch
    DD.index_sink_batch(batch2, 1, index, pairs, MM.PHASH_INDEX, PARAMS, 3)
    after = spark.read.parquet(pairs)
    assert after.count() == before  # overwritten, not duplicated
    hashes, _ = DD.read_index(spark, index, MM.PHASH_INDEX)
    assert hashes.count() == 8  # append completed on retry

    # a replay AFTER the append landed skips cleanly (ids indexed)
    DD.index_sink_batch(batch2, 1, index, pairs, MM.PHASH_INDEX, PARAMS, 3)
    assert spark.read.parquet(pairs).count() == before
    assert DD.read_index(spark, index, MM.PHASH_INDEX)[0].count() == 8

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
import pytest  # noqa: E402
pytestmark = pytest.mark.slow
