"""Watermarked streaming dedup: duplicates across micro-batches are
dropped; state is bounded by the watermark."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import types as T

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.streaming import (
    incremental as INC,
)

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_stream_dedup_across_microbatches(spark, tmp_path):
    src = tmp_path / "src"
    chk = tmp_path / "chk"
    t0 = datetime(2024, 1, 1, 10, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    # batch 1: ids 1,2 (id 2 twice inside the same batch)
    write_batch("b1", [(1, t0, 1.0), (2, t0, 2.0), (2, t0, 2.5)])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = INC.dedup_stream(stream, ["event_id"], "ts", watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(chk))
        .start()
    )
    q.processAllAvailable()

    # batch 2: id 2 replayed (within watermark -> dropped), id 3 new
    write_batch("b2", [(2, datetime(2024, 1, 1, 10, 30), 9.9), (3, t0, 3.0)])
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("SELECT event_id, value FROM dedup_out").collect()
    got = sorted((r["event_id"], r["value"]) for r in rows)
    assert [eid for eid, _ in got] == [1, 2, 3]  # one row per key
    assert dict(got)[2] == 2.0  # first arrival won, replay dropped


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_streaming_incremental_lsh_accumulates_to_full_recompute(
    spark, sf_dir, tmp_path
):
    """Streaming micro-batches through the persisted-LSH sink must
    accumulate EXACTLY the pair set a full batch recompute over all
    ingested documents finds — batch boundaries cannot lose
    cross-batch near-dups."""
    from pyspark.sql import functions as F

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        dedup as DD,
    )
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
        read_table,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "src"
    src.mkdir()
    # three files -> three micro-batches (maxFilesPerTrigger=1)
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    index = str(tmp_path / "lsh_index")
    pairs = str(tmp_path / "pairs")
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = INC.streaming_index_dedup(
        stream, index, pairs, str(tmp_path / "chk"),
        {"k": 3, "num_hashes": 64, "bands": 16}, 0.5,
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in spark.read.parquet(pairs).collect()
    }
    want = {
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in DD.minhash_lsh_pairs_poly(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert got == want

    # the accumulated index equals a one-shot build over everything
    sig, _ = DD.read_index(spark, index)
    full_index = str(tmp_path / "lsh_full")
    DD.build_lsh_index(docs, full_index)
    full_sig, _ = DD.read_index(spark, full_index)
    assert sig.exceptAll(full_sig).isEmpty()
    assert full_sig.exceptAll(sig).isEmpty()

    # replay safety: a fresh checkpoint re-delivers every batch; ids
    # already in the index are dropped, so nothing is re-appended and
    # no pair is duplicated
    q2 = INC.streaming_index_dedup(
        stream, index, pairs, str(tmp_path / "chk2"),
        {"k": 3, "num_hashes": 64, "bands": 16}, 0.5,
    )
    q2.processAllAvailable()
    q2.stop()
    replayed = spark.read.parquet(pairs)
    assert replayed.count() == len(got)
    sig2, _ = DD.read_index(spark, index)
    assert sig2.count() == sig.count()

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
import pytest  # noqa: E402
pytestmark = pytest.mark.slow
