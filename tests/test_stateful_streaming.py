"""Stateful streaming sessionization vs the batch window twin.

The custom applyInPandasWithState operator must produce the same
final session partition as batch ``incremental.sessionize`` — both
when all events arrive in one micro-batch and when a session spans a
micro-batch boundary (the case the batch operator cannot handle
without full reprocessing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources.io import (
    read_table,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.streaming import (
    incremental as INC,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.streaming import (
    stateful as ST,
)


def _run_stream(spark, src_dir: str, chk_dir: str, schema):
    stream = spark.readStream.schema(schema).parquet(src_dir)
    sessions = ST.sessionize_stream(stream, "ts", "user_id", gap_minutes=30)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("update")
        .option("checkpointLocation", chk_dir)
        .start()
    )
    q.processAllAvailable()
    return q


def _final_sessions(spark):
    """Update-mode memory sink appends every emitted row; the final
    state of a session is its last emission."""
    rows = spark.sql(
        """
        SELECT user_id, session_id, n_events, session_start_us, last_ts_us
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, session_id
            ORDER BY n_events DESC, last_ts_us DESC
          ) rn
          FROM sess_out
        ) WHERE rn = 1
        """
    ).collect()
    return {
        (r["user_id"], r["session_id"]): (
            r["n_events"], r["session_start_us"], r["last_ts_us"]
        )
        for r in rows
    }


def _batch_sessions(events):
    agg = (
        INC.sessionize(events, "user_id", "ts", 30)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_micros("ts")).alias("session_start_us"),
            F.max(F.unix_micros("ts")).alias("last_ts_us"),
        )
    )
    return {
        (r["user_id"], r["session_id"]): (
            r["n_events"], r["session_start_us"], r["last_ts_us"]
        )
        for r in agg.collect()
    }


def test_stream_sessionize_matches_batch_single_batch(spark, sf_dir, tmp_path):
    events = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    src = str(tmp_path / "src")
    events.coalesce(1).write.parquet(src)

    q = _run_stream(spark, src, str(tmp_path / "chk"), events.schema)
    try:
        got = _final_sessions(spark)
    finally:
        q.stop()
    expected = _batch_sessions(events)
    assert got == expected


def test_stream_sessionize_across_batch_boundary(spark, tmp_path):
    """A session whose events arrive in two micro-batches must stay ONE
    session with continuous numbering — state carries across batches."""
    rows1 = [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00")]
    rows2 = [(1, "2024-01-01 10:20:00"), (1, "2024-01-01 12:00:00")]

    def mk(rows):
        return spark.createDataFrame(rows, ["user_id", "ts_s"]).select(
            F.col("user_id").cast("long"),
            F.col("ts_s").cast("timestamp").alias("ts"),
        )

    src = str(tmp_path / "src2")
    mk(rows1).coalesce(1).write.parquet(src)
    q = _run_stream(spark, src, str(tmp_path / "chk2"), mk(rows1).schema)
    try:
        q.processAllAvailable()
        mk(rows2).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = _final_sessions(spark)
    finally:
        q.stop()

    # batch 2's 10:20 event continues session 1 (gap 10 min); the 12:00
    # event opens session 2
    assert got == {
        (1, 1): (3, 1704103200000000, 1704104400000000),
        (1, 2): (1, 1704110400000000, 1704110400000000),
    }


def test_watermark_drops_late_data(spark, tmp_path):
    """The reference silently ignores backdated rows (SURVEY.md §2.7);
    the streaming mode makes that policy explicit: a window older than
    the watermark is finalized and late arrivals into it are dropped."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.streaming.incremental import (
        streaming_window_agg,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, ["event_id", "ts_s", "user_id", "event_type", "value"]
        ).select(
            F.col("event_id").cast("long"),
            F.col("ts_s").cast("timestamp").alias("ts"),
            F.col("user_id").cast("long"),
            "event_type",
            F.col("value").cast("double"),
        )

    src = str(tmp_path / "wm_src")
    batch1 = mk([(1, "2024-01-02 10:00:00", 1, "click", 1.0),
                 (2, "2024-01-02 10:30:00", 1, "click", 2.0)])
    batch1.coalesce(1).write.parquet(src)

    agg = streaming_window_agg(
        spark, src, batch1.schema, ts_col="ts", window="1 day", watermark="1 day"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "wm_chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one event 3 days late (window end < watermark -> drop)
        # and one on-time event (same window as batch 1 -> update)
        mk([(3, "2023-12-30 09:00:00", 2, "click", 100.0),
            (4, "2024-01-02 11:00:00", 1, "click", 4.0)]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM wm_out").collect()
    finally:
        q.stop()

    starts = {str(r["window_start"]) for r in rows}
    assert "2023-12-30 00:00:00" not in starts  # late row dropped
    # the on-time update arrived: last emission for Jan 2 counts 3 events
    jan2 = [r for r in rows if str(r["window_start"]).startswith("2024-01-02")]
    assert max(r["n_events"] for r in jan2) == 3
    assert max(r["sum_value"] for r in jan2) == 7.0


def test_builtin_session_window_matches_custom_sessionize(spark, sf_dir):
    """Spark's built-in F.session_window (gap-merged windows) and our
    lag-gap sessionize are independent implementations of the same
    semantics — their per-session (user, start, n_events) sets must
    coincide on real event data."""
    ev = read_table(spark, sf_dir, "events")

    custom = {
        (r["user_id"], r["start_us"], r["n"])
        for r in INC.sessionize(ev, "user_id", "ts", 30)
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("start_us"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("user_id", "start_us", "n")
        .collect()
    }
    builtin = {
        (r["user_id"], r["start_us"], r["n"])
        for r in ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.min(F.unix_micros("ts")).alias("start_us"))
        .select("user_id", "start_us", "n")
        .collect()
    }
    assert custom == builtin


def test_native_session_window_matches_batch_sessionize(spark, sf_dir, tmp_path):
    """F.session_window (native streaming sessionization) must carve
    the same sessions as the batch lag-gap plan: identical
    (user, session_start, n_events) triples."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import schemas

    ev = read_table(spark, sf_dir, "events")
    src = tmp_path / "sess_src"
    src.mkdir()
    ev.coalesce(1).write.mode("overwrite").parquet(str(src))

    agg = INC.streaming_session_agg(
        spark, str(src), schemas.TESTDATA["events"], gap="30 minutes"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("native_sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "chk_native"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.sql(
            "SELECT user_id, session_start, n_events FROM native_sess_out"
        ).collect()
    }

    batch = (
        INC.sessionize(ev, gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
    )
    want = {
        (r["user_id"], r["session_start"], r["n_events"]) for r in batch.collect()
    }
    assert got == want


def test_running_count_ap_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState running counter: final emission per user
    equals the batch groupBy count, and state survives across
    micro-batches (two files, maxFilesPerTrigger=1)."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import schemas

    ev = read_table(spark, sf_dir, "events")
    src = tmp_path / "apcount_src"
    src.mkdir()
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    stream = (
        spark.readStream.schema(schemas.TESTDATA["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    counts = ST.running_count_stream(stream)
    q = (
        counts.writeStream.format("memory")
        .queryName("apcount_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk_apcount"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        """
        SELECT user_id, n_events FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM apcount_out
        ) WHERE rn = 1
        """
    ).collect()
    got = {r["user_id"]: r["n_events"] for r in rows}
    want = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# streaming rolling z-score vs the batch operator
# ---------------------------------------------------------------------------


def _batch_anomalies(events):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        timeseries as TS,
    )

    out = (
        TS.rolling_zscore(
            events, ["user_id"], "ts", "event_id", "value",
            lookback=20, min_points=8,
        )
        .filter(F.abs(F.col("z")) > 3.0)
        .select(
            "user_id", "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "value", "n_baseline", "z",
        )
    )
    return {
        (r["user_id"], r["event_id"]): (r["ts_us"], r["n_baseline"], r["z"])
        for r in out.collect()
    }


def _run_zscore_stream(spark, src: str, chk: str, schema, qname: str):
    stream = spark.readStream.schema(schema).parquet(src)
    flagged = ST.zscore_stream(
        stream, "ts", "user_id", "event_id", "value",
        lookback=20, min_points=8, threshold=3.0,
    )
    return (
        flagged.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )


def _collect_stream_anomalies(spark, qname: str):
    rows = spark.sql(f"SELECT * FROM {qname}").collect()
    return {
        (r["user_id"], r["event_id"]): (r["ts_us"], r["n_baseline"], r["z"])
        for r in rows
    }


def test_stream_zscore_matches_batch_single_batch(spark, sf_dir, tmp_path):
    events = read_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
        & (F.col("user_id") < 40)
    )
    src = str(tmp_path / "zsrc")
    events.coalesce(1).write.parquet(src)
    q = _run_zscore_stream(spark, src, str(tmp_path / "zchk"), events.schema, "z_one")
    try:
        q.processAllAvailable()
        got = _collect_stream_anomalies(spark, "z_one")
    finally:
        q.stop()
    expected = _batch_anomalies(events)
    assert got.keys() == expected.keys()
    for k, (ts, n, z) in expected.items():
        gts, gn, gz = got[k]
        assert (gts, gn) == (ts, n)
        assert gz == z  # bit-identical float finish, not approx


def test_stream_zscore_state_carries_across_batches(spark, sf_dir, tmp_path):
    """Split the feed at the time median: flags and z values must equal
    the single-pass batch computation — baselines straddling the
    micro-batch boundary come from carried state, exact."""
    events = read_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
        & (F.col("user_id") < 40)
    )
    cut_us = events.select(
        F.percentile(F.unix_micros("ts"), F.lit(0.5)).alias("p")
    ).collect()[0]["p"]
    cut = F.timestamp_micros(F.lit(int(cut_us)))
    src = str(tmp_path / "zsrc2")
    events.filter(F.col("ts") <= cut).coalesce(1).write.parquet(src)
    q = _run_zscore_stream(spark, src, str(tmp_path / "zchk2"), events.schema, "z_two")
    try:
        q.processAllAvailable()
        events.filter(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = _collect_stream_anomalies(spark, "z_two")
    finally:
        q.stop()
    expected = _batch_anomalies(events)
    assert got == expected

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
pytestmark = pytest.mark.slow
