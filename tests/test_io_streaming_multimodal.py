"""Upsert/idempotency, Structured Streaming equivalence, and
multimodal plumbing tests."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import (
    multimodal,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.schemas import (
    TESTDATA,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
    read_table,
    upsert_parquet_files,
    write_parquet,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.streaming import (
    incremental as INC,
)


def test_upsert_parquet_latest_wins(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], schema="id int, v string, ver int"
    )
    write_parquet(base, path)
    batch = spark.createDataFrame(
        [(2, "b2", 2), (2, "b1", 1), (3, "c", 1)], schema="id int, v string, ver int"
    )
    upsert_parquet_files(spark, batch, path, keys=["id"], order_by="ver")
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}  # update wins, latest-ver wins, insert


def test_upsert_idempotent(spark, tmp_path):
    """Running the same merge twice yields identical state (fixes the
    reference's append-only rerun-duplicates quirk §2.9.4)."""
    path = str(tmp_path / "t2")
    batch = spark.createDataFrame([(1, "a", 1)], schema="id int, v string, ver int")
    upsert_parquet_files(spark, batch, path, ["id"], "ver")
    upsert_parquet_files(spark, batch, path, keys=["id"], order_by="ver")
    assert spark.read.parquet(path).count() == 1


def test_streaming_tumbling_matches_batch(spark, sf_dir, tmp_path):
    """Structured Streaming file-source windowed agg == batch tumbling
    agg on the same data (equivalence mode, SURVEY.md §2.7)."""
    ev = read_table(spark, sf_dir, "events")
    # stream source needs µs timestamps on disk (the raw files are ns)
    stream_dir = str(tmp_path / "events_us")
    ev.write.parquet(stream_dir)
    batch = INC.window_agg(ev, "ts", "1 day").collect()

    stream_df = INC.streaming_window_agg(
        spark, stream_dir, ev.schema, "ts", "1 day", watermark="0 seconds"
    )
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = spark.sql("SELECT * FROM stream_out").collect()
    finally:
        q.stop()

    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    b = {key(r): (r["n_events"], round(r["sum_value"], 4)) for r in batch}
    s = {key(r): (r["n_events"], round(r["sum_value"], 4)) for r in streamed}
    assert b == s


def test_streaming_sliding_matches_batch(spark, sf_dir, tmp_path):
    """Overlapping-window streaming agg == batch window_agg on the
    same data: proves the overlap fan-out and decimal-exact sums
    survive the streaming state machinery."""
    ev = read_table(spark, sf_dir, "events")
    stream_dir = str(tmp_path / "events_us_sliding")
    ev.write.parquet(stream_dir)
    batch = INC.window_agg(ev, "ts", "10 minutes", "5 minutes").collect()

    stream_df = INC.streaming_window_agg(
        spark, stream_dir, ev.schema, "ts", "10 minutes", "5 minutes",
        watermark="0 seconds",
    )
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_sliding_out")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = spark.sql("SELECT * FROM stream_sliding_out").collect()
    finally:
        q.stop()

    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    b = {key(r): (r["n_events"], round(r["sum_value"], 4)) for r in batch}
    s = {key(r): (r["n_events"], round(r["sum_value"], 4)) for r in streamed}
    assert b == s
    # overlap factor: every event is in exactly window/slide = 2 windows
    assert sum(n for n, _ in b.values()) == 2 * ev.count()


def test_incremental_slice(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    out = INC.incremental_slice(ev, "ts", "2024-01-16", lag_days=1)
    dates = {r[0] for r in out.select(F.col("ts").cast("date")).distinct().collect()}
    assert dates == {dt.date(2024, 1, 15)}


def test_multimodal_feature_extraction(spark):
    rows = [
        (1, None, b"\x01\x02\x03\x04" * 10, ("image", "image/png", 4, 10, None)),
        (2, None, b"\xff\xee" * 50, ("audio", "audio/wav", None, None, 2000)),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert feats[1]["kind"] == "image"
    assert feats[1]["n_bytes"] == 40
    assert len(feats[1]["feature"]) == 8
    assert feats[1]["sha1"] != feats[2]["sha1"]
    # deterministic fake: same payload → same feature
    feats2 = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert feats[1]["feature"] == feats2[1]["feature"]


def test_events_schema_roundtrip(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    assert [f.name for f in ev.schema.fields] == [f.name for f in TESTDATA["events"].fields]
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_compact_parquet_reduces_files(spark, tmp_path):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
        io as SIO,
    )

    path = str(tmp_path / "frag")
    spark.range(10000).repartition(40).write.parquet(path)
    import glob

    assert len(glob.glob(f"{path}/*.parquet")) == 40
    n = SIO.compact_parquet(spark, path, target_file_mb=256)
    assert n == 1
    assert len(glob.glob(f"{path}/*.parquet")) == 1
    assert spark.read.parquet(path).count() == 10000


def test_multimodal_resize_plan(spark):
    rows = [
        # 1000x500 -> scale 256/1000: 256x128
        (1, None, b"\x01" * 16, ("image", "image/png", 1000, 500, None)),
        # 100x80 already within max_side -> unchanged
        (2, None, b"\x02" * 16, ("image", "image/png", 100, 80, None)),
        # portrait 300x600 -> 128x256
        (3, None, b"\x03" * 16, ("image", "image/png", 300, 600, None)),
        # non-image: pruned before the Python boundary
        (4, None, b"\x04" * 16, ("audio", "audio/wav", None, None, 999)),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in multimodal.resize_images(media, 256).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1]["dst_width"], out[1]["dst_height"]) == (256, 128)
    assert (out[2]["dst_width"], out[2]["dst_height"]) == (100, 80)
    assert (out[3]["dst_width"], out[3]["dst_height"]) == (128, 256)
    assert out[1]["payload"] == b"\x01" * 16  # stub passthrough


def test_commit_self_referencing_rewrite(spark, tmp_path):
    """A commit must handle a plan that reads the table it rewrites:
    the old files are removed only after the new ones are published,
    and the directory then holds exactly the new files."""
    path = str(tmp_path / "self_tbl")
    spark.range(100).withColumnRenamed("id", "k").write.parquet(path)
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import io as SIO

    old = SIO.data_files(spark, path)
    df = spark.read.parquet(path).filter("k < 50")  # reads `path` itself
    SIO.commit(spark, path, df, remove=old)
    assert spark.read.parquet(path).count() == 50
    new = SIO.data_files(spark, path)
    assert new and set(new).isdisjoint(old)
    assert SIO.is_committed(spark, path)
    import os
    log = os.listdir(os.path.join(path, "_log"))
    assert [n for n in log if not n.startswith(".")] == ["1.json"]


def test_upsert_parquet_missing_path_vs_corrupt(spark, tmp_path):
    """ADVICE r01: only PATH_NOT_FOUND means 'empty table'; a corrupt
    table must raise, not silently drop the existing data."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import io as SIO

    missing = str(tmp_path / "never_written")
    batch = spark.createDataFrame([(1, 10)], ["id", "v"])
    SIO.upsert_parquet_files(spark, batch, missing, keys=["id"])
    assert spark.read.parquet(missing).count() == 1  # missing path == empty table

    corrupt = tmp_path / "corrupt_tbl"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not a parquet file")
    import pytest as _pytest
    with _pytest.raises(Exception):
        SIO.upsert_parquet_files(spark, batch, str(corrupt), keys=["id"])
    assert (corrupt / "part-00000.parquet").read_bytes() == b"not a parquet file"


def test_delete_keys_right_to_be_forgotten(spark, tmp_path):
    """Targeted purge: rows whose key is on the deletion list vanish,
    everything else survives byte-for-byte, and the count returned is
    the number of deleted rows."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import io as SIO

    path = str(tmp_path / "forget_tbl")
    spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], ["doc_id", "text"]
    ).write.parquet(path)
    purge = spark.createDataFrame([(3,), (7,), (7,), (999,)], ["doc_id"])

    n = SIO.delete_keys(spark, path, purge, on=["doc_id"])
    assert n == 2  # 3 and 7; 999 was never present, duplicate 7 ignored
    left = {r["doc_id"] for r in spark.read.parquet(path).collect()}
    assert left == set(range(100)) - {3, 7}


def test_json_csv_round_trip(spark, tmp_path):
    from pyspark.sql import types as T

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import io as SIO

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ])
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b,with,commas", -2.0), (3, None, None)], schema
    )
    jp, cp = str(tmp_path / "j"), str(tmp_path / "c")
    SIO.write_json(df, jp)
    SIO.write_csv(df, cp)
    back_j = {tuple(r) for r in SIO.read_json(spark, jp, schema).collect()}
    back_c = {tuple(r) for r in SIO.read_csv(spark, cp, schema).collect()}
    want = {tuple(r) for r in df.collect()}
    assert back_j == want
    assert back_c == want


def test_csv_quarantine_split(spark, tmp_path):
    """Dirty CSV feed: clean rows parse, malformed rows land in the
    quarantine frame with the raw line preserved — neither is lost
    and the clean frame never sees a corrupt column."""
    from pyspark.sql import types as T

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import io as SIO

    p = tmp_path / "feed.csv"
    p.write_text(
        "id,name,score\n"
        "1,alpha,1.5\n"
        "not-a-number,beta,2.0\n"   # id fails LongType
        "2,gamma,xxx\n"             # score fails DoubleType
        "3,delta,-0.5\n"
    )
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ])
    good, bad = SIO.read_quarantine(spark, str(p), schema, "csv")
    assert good.columns == ["id", "name", "score"]
    assert {tuple(r) for r in good.collect()} == {
        (1, "alpha", 1.5),
        (3, "delta", -0.5),
    }
    raws = sorted(r["raw_record"] for r in bad.collect())
    assert raws == ["2,gamma,xxx", "not-a-number,beta,2.0"]


def test_json_quarantine_split(spark, tmp_path):
    """Same contract over JSON lines: syntactically broken records
    quarantine with their raw text; well-formed records parse."""
    from pyspark.sql import types as T

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import io as SIO

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "name": "alpha"}\n'
        '{"id": 2, "name": broken\n'
        '{"id": 3, "name": "gamma"}\n'
    )
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    good, bad = SIO.read_quarantine(spark, str(p), schema, "json")
    assert {tuple(r) for r in good.collect()} == {(1, "alpha"), (3, "gamma")}
    assert [r["raw_record"] for r in bad.collect()] == ['{"id": 2, "name": broken']


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC sink/source round-trip, plus proof that filters reach the
    ORC scan (PushedFilters in the physical plan) like parquet."""
    from pyspark.sql import types as T

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import io as SIO

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ])
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0), (3, None, None)], schema
    )
    path = str(tmp_path / "orc")
    SIO.write_orc(df, path)
    back = SIO.read_orc(spark, path, schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}

    from pyspark.sql import functions as F

    plan = back.filter(F.col("id") > 1).select("id")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,1)]" in plan


def test_read_parquet_evolving_merges_schemas(spark, tmp_path):
    """Batches written before a column existed still read: the merged
    schema is the union, old rows null-extend."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import io as SIO

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "name", "score"]
    ).write.mode("append").parquet(path)

    df = SIO.read_parquet_evolving(spark, path)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows == {1: None, 2: 9.5}


# --- real codec: PPM/BMP decode, nearest-neighbor resize, PPM encode ----


def _ppm_4x2() -> bytes:
    # 4x2 image, distinct pixels: row0 = R G B W, row1 = K R G B
    px = bytes(
        [255, 0, 0,  0, 255, 0,  0, 0, 255,  255, 255, 255,
         0, 0, 0,  255, 0, 0,  0, 255, 0,  0, 0, 255]
    )
    return b"P6\n4 2\n255\n" + px


def _bmp_2x2() -> bytes:
    """Hand-built 24-bit bottom-up BMP: top row (R, G), bottom (B, W).
    Stored bottom-up and BGR with 2-byte row padding."""
    import struct

    def row(pixels):
        raw = b"".join(bytes([b, g, r]) for r, g, b in pixels)
        return raw + b"\x00" * ((4 - len(raw) % 4) % 4)

    data = row([(0, 0, 255), (255, 255, 255)]) + row([(255, 0, 0), (0, 255, 0)])
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(data), 0, 0, 0, 0)
    return header + info + data


def test_decode_ppm_and_bmp_real_pixels():
    w, h, rgb = multimodal.decode_image(_ppm_4x2())
    assert (w, h) == (4, 2)
    assert rgb[0:3] == b"\xff\x00\x00" and rgb[9:12] == b"\xff\xff\xff"

    w, h, rgb = multimodal.decode_image(_bmp_2x2())
    assert (w, h) == (2, 2)
    # row-major RGB after bottom-up + BGR unwinding
    assert rgb == bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])

    import pytest as _p

    with _p.raises(NotImplementedError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0JFIF-ish")


def test_resize_rgb_nearest_neighbor_exact():
    _, _, rgb = multimodal.decode_image(_ppm_4x2())
    out = multimodal.resize_rgb(rgb, 4, 2, 2, 1)
    # rows = [0], cols = [0, 2] -> pixels (0,0)=R and (0,2)=B
    assert out == bytes([255, 0, 0, 0, 0, 255])
    roundtrip = multimodal.encode_ppm(2, 1, out)
    assert multimodal.decode_image(roundtrip) == (2, 1, out)


def test_resize_images_decodes_real_ppm_end_to_end(spark):
    """A genuinely decodable payload comes back RESIZED (new PPM with
    the target box and nearest-neighbor pixels), while an undecodable
    payload passes through byte-identical — both through the real
    Arrow mapInPandas path."""
    ppm = _ppm_4x2()
    fake = b"\x89PNG-not-really" * 40
    rows = [
        (1, None, bytearray(ppm), ("image", "image/x-ppm", 4, 2, None)),
        (2, None, bytearray(fake), ("image", "image/png", 400, 300, None)),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in multimodal.resize_images(media, max_side=2).collect()
    }
    # ppm: 4x2 -> 2x1 box, really resampled
    assert (got[1]["dst_width"], got[1]["dst_height"]) == (2, 1)
    dw, dh, rgb = multimodal.decode_image(bytes(got[1]["payload"]))
    assert (dw, dh) == (2, 1)
    assert rgb == bytes([255, 0, 0, 0, 0, 255])
    # undecodable: documented passthrough, box still computed
    assert bytes(got[2]["payload"]) == fake
    assert (got[2]["dst_width"], got[2]["dst_height"]) == (2, 1)


def test_extract_features_real_pixels_vs_fallback(spark):
    """Decodable payloads produce real pixel statistics (channel means
    of the known image), undecodable ones the deterministic
    pseudo-feature — same schema, same batch."""
    ppm = _ppm_4x2()
    fake = b"not-an-image" * 10
    rows = [
        (1, None, bytearray(ppm), ("image", "image/x-ppm", 4, 2, None)),
        (2, None, bytearray(fake), ("image", "application/octet-stream", None, None, None)),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(media).collect()
    }
    # known image: mean_r over pixels {255,0,0,255,0,255,0,0} = 765/2040
    exp_mean_r = (255 + 0 + 0 + 255 + 0 + 255 + 0 + 0) / 8 / 255.0
    assert abs(feats[1][0] - exp_mean_r) < 1e-12
    assert feats[1][6] == 2.0  # aspect w/h = 4/2
    assert feats[2] == multimodal._fake_decode_features(fake, 8)


def test_decode_rejects_lookalike_text_payloads():
    """Text that merely STARTS with a codec magic must fall to the
    NotImplementedError path (→ pipeline passthrough), never crash."""
    import pytest as _p

    for payload in (b"P6 once upon a time", b"P6\n-3 2\n255\n" + b"\x00" * 18,
                    b"BMore text than image", b"BM" + b"\x00" * 10):
        with _p.raises(NotImplementedError):
            multimodal.decode_image(payload)


def test_streaming_tumbling_null_ts_contract(spark, sf_dir, tmp_path):
    """Undated events: the batch twin's explicit null-ts exclusion
    matches what the streaming engine is forced to do (F.window drops
    rows it cannot place) — so batch == stream holds on dirty feeds,
    not just clean ones."""
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_dir, "events").withColumn(
        "ts", F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("ts"))
    )
    stream_dir = str(tmp_path / "events_nullts")
    ev.write.parquet(stream_dir)
    batch = INC.window_agg(ev, "ts", "1 day").collect()
    assert batch  # non-degenerate

    stream_df = INC.streaming_window_agg(
        spark, stream_dir, ev.schema, "ts", "1 day", watermark="0 seconds"
    )
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_out_nullts")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = spark.sql("SELECT * FROM stream_out_nullts").collect()
    finally:
        q.stop()

    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    b = {key(r): (r["n_events"], round(r["sum_value"], 4)) for r in batch}
    s = {key(r): (r["n_events"], round(r["sum_value"], 4)) for r in streamed}
    assert b == s

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
import pytest  # noqa: E402
pytestmark = pytest.mark.slow
