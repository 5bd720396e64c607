"""Incremental-batch contract + Structured Streaming equivalents
(SURVEY.md §2.7).

The reference's "stream" is an Airflow daily batch with a
``created_at::DATE = ds - 1 day`` slice predicate
(reference: dags/vcapital_staging/tasks/components/extract.py:41-43) —
late data is silently ignored. The engine keeps batch-incremental as
the contract and adds a true Structured Streaming mode as the scale
path for continuous feeds. Windowed aggregation is one body,
:func:`window_agg` (tumbling or sliding, over a batch frame or a
stream); :func:`streaming_window_agg` runs it over a watermarked
file-source stream.
Continuous near-dup detection (:func:`streaming_index_dedup`) runs a
stream of documents against the persisted text MinHash-LSH index; its
exactly-once micro-batch sink is ``operators.dedup.index_sink_batch``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def incremental_slice(df: DataFrame, ts_col: str, ds: str, lag_days: int = 1) -> DataFrame:
    """The reference's daily slice (P3): rows whose ``ts_col`` date
    equals ``ds - lag_days``.

    Expressed as a **sargable half-open range** on the raw column —
    ``ts >= day AND ts < day+1`` — never ``cast(ts AS date) = day``:
    wrapping the column in a cast defeats parquet row-group pruning
    and partition pruning, turning the daily slice into a full scan at
    100 TB. The range form pushes down (asserted in
    tests/test_plan_shapes.py). Typed literals, never f-string SQL
    (quirk §2.9.5)."""
    day = F.date_sub(F.lit(ds).cast("date"), lag_days)
    lo = day.cast("timestamp")
    hi = F.date_add(day, 1).cast("timestamp")
    c = F.col(ts_col)
    return df.filter((c >= lo) & (c < hi))


def window_agg(
    df: DataFrame, ts_col: str, window: str, slide: str | None = None
) -> DataFrame:
    """Windowed aggregation over an event frame, batch or streaming:
    count + sum(value) per (window, event_type), windows of ``window``
    length every ``slide`` (``None``: tumbling, one window per event;
    overlapping when slide < window — each event lands in
    window/slide windows). One groupBy with map-side partials; the
    row amplification of a sliding window is applied map-side before
    the partial aggregation, so the shuffle carries pre-combined
    (window, type) partials, not events. The same ``F.window`` op runs
    on a stream (:func:`streaming_window_agg`), so the batch result
    is the streaming result's oracle."""
    return (
        # null-ts rows are excluded: a time window cannot be assigned
        # to an undated event (F.window drops them on a stream too)
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.window(F.col(ts_col), window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal accumulation → result independent of
            # partitioning/combine order (double sums are not associative)
            F.sum(F.col("value").cast("decimal(20,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_window_agg(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    ts_col: str,
    window: str,
    slide: str | None = None,
    *,
    watermark: str,
) -> DataFrame:
    """Structured Streaming equivalence mode: :func:`window_agg` over a
    file-source stream with a watermark bounding late data (the
    reference's implicit late-data-dropped semantics made explicit).
    The watermark closes windows older than max(event time) −
    ``watermark``, so state stays bounded (window/slide concurrent
    windows per key when sliding). Returns an unstarted streaming
    DataFrame; callers attach a sink (tests use a memory sink +
    processAllAvailable and pin it to the batch result)."""
    stream = spark.readStream.schema(schema).parquet(path)
    return window_agg(stream.withWatermark(ts_col, watermark), ts_col, window, slide)


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Sessionization via gap detection: a new session starts when the
    gap to the previous event of the same user exceeds ``gap_minutes``.
    Window(lag) + running sum of session-start flags — one shuffle on
    the user key."""
    from pyspark.sql import Window as W

    w = W.partitionBy(user_col).orderBy(
        F.col(ts_col).asc_nulls_last(), F.col(tiebreak_col)
    )  # nulls LAST: Postgres/DuckDB ascending default, not Spark's first
    gap = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w))
    # "no usable predecessor timestamp" starts a session; a null-ts row
    # following a dated one CONTINUES that session (gap is unknowable,
    # three-valued logic says not-provably-over-gap) — the exact CASE
    # semantics of the SQL formulation, pinned by the null-heavy sweep
    is_new = F.when(
        F.lag(ts_col).over(w).isNull() | (gap > gap_minutes * 60 * 1_000_000), 1
    ).otherwise(0)
    return df.withColumn("__new_session", is_new).withColumn(
        "session_id",
        F.sum("__new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    ).drop("__new_session")


def streaming_session_agg(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 day",
):
    """Native session windows on a stream: ``F.session_window`` merges
    events of one user whose gaps stay under ``gap`` into a dynamic
    [first_event, last_event+gap) window, with watermarked state
    eviction — the built-in twin of the custom
    ``applyInPandasWithState`` sessionizer (streaming/stateful.py) and
    of the batch lag-gap ``sessionize`` above. Same gap rule, so
    per-session (user, start, n_events) triples agree with the batch
    plan (pinned in tests/test_stateful_streaming.py). Prefer this
    over hand-rolled state wherever plain per-session aggregates
    suffice; drop to applyInPandasWithState only for state machines
    the windowed agg can't express."""
    stream = spark.readStream.schema(schema).parquet(path)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once deduplication: first arrival per key
    wins, duplicates arriving within ``watermark`` of the event time
    are dropped, and state for keys older than the watermark is
    evicted (bounded state — the non-negotiable property at 100 TB;
    a plain ``dropDuplicates`` on a stream retains every key forever).

    The continuous twin of the batch ``dedup_keep_first`` /
    ``merge_upsert`` path: feeds that replay (at-least-once sources,
    the reference's rerun-duplicates quirk §2.9.4) converge to one
    row per key downstream.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def streaming_index_dedup(
    stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    params: dict,
    threshold: float,
    repair_on_start: bool = True,
):
    """Continuous NEAR-dup detection of ``(doc_id, text)`` documents
    against a persisted MinHash-LSH index (``params`` = ``k``,
    ``num_hashes``, ``bands``; ``threshold`` = estimated Jaccard).
    Each micro-batch is signed, probed against the index, and its
    pairs (vs the whole corpus so far AND within the batch) land in
    ``pairs_path`` tagged with the batch id before the batch is
    appended — the daily-shard cadence compressed to micro-batch
    latency; per-batch cost is O(|batch| + one index scan), never
    O(corpus).

    Bootstraps from nothing: with no index at ``index_path`` the first
    batch becomes the initial corpus (its intra-batch pairs are still
    emitted). ``dedup_stream`` (exact key dedup) is the EXACT twin;
    this is the fuzzy one — the two compose, exact-first.

    Replay safety: foreachBatch is at-least-once; pair output is made
    exactly-once (within a checkpoint lineage) by the write order of
    ``operators.dedup.index_sink_batch``. With ``repair_on_start``
    (default) the index is verified once at query start and a torn
    append (a crash inside it) is healed from the index's signatures
    table before the first batch runs."""
    from ..operators import dedup as DD

    spark = stream.sparkSession
    if repair_on_start and DD.index_exists(spark, index_path):
        DD.repair_index(spark, index_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        DD.index_sink_batch(
            batch_df, batch_id, index_path, pairs_path, params, threshold
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
