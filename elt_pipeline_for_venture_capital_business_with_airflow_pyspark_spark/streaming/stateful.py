"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` (SURVEY.md §2.7 stretch goal; the
"custom operators" tier (b) of the build brief — semantics Spark's
built-in windows can't express, implemented as an Arrow-batched
stateful UDF).

The reference has no streaming at all (its "stream" is an Airflow
daily batch — SURVEY.md §2.7); the engine's batch contract is
``streaming.incremental.sessionize``. This module is the continuous
equivalent: per-user session state lives in the state store across
micro-batches, so a session spanning batch boundaries is still one
session — something the batch window function can only get right by
reprocessing the full history.

Scale posture: state is partitioned by the grouping key across
executors (the state store shuffles once per batch on user_id); each
group's state is O(1) (last timestamp + counters), so state size is
bounded by |active users|, not |events|.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)

# state: (next session ordinal, last event ts, current session id,
#         current session start, events in current session)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("next_session", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("cur_session", T.LongType()),
        T.StructField("cur_start_us", T.LongType()),
        T.StructField("cur_events", T.LongType()),
    ]
)


def _session_fn(gap_us: int):
    def fn(
        key: tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            next_session, last_ts, cur_session, cur_start, cur_events = state.get
        else:
            next_session, last_ts, cur_session, cur_start, cur_events = (
                1, None, None, None, 0,
            )

        out: list[tuple[int, int, int, int, int]] = []
        for pdf in pdf_iter:
            # micro-batch arrival order is not event order — sort locally
            for ts in sorted(int(v) for v in pdf["ts_us"]):
                if last_ts is None or ts - last_ts > gap_us:
                    if cur_session is not None:
                        out.append(
                            (user_id, cur_session, cur_events, cur_start, last_ts)
                        )
                    cur_session = next_session
                    next_session += 1
                    cur_start = ts
                    cur_events = 0
                cur_events += 1
                last_ts = ts

        # emit the (possibly still-open) current session's latest shape —
        # update-mode sinks upsert it on the (user_id, session_id) key
        if cur_session is not None:
            out.append((user_id, cur_session, cur_events, cur_start, last_ts))

        state.update((next_session, last_ts, cur_session, cur_start, cur_events))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "session_id", "n_events", "session_start_us", "last_ts_us",
            ],
        )

    return fn


def sessionize_stream(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Continuous sessionization over a streaming events frame.

    Emits one row per touched session per micro-batch (update
    semantics): (user_id, session_id, n_events, session_start_us,
    last_ts_us). Per-user session ids are dense ordinals starting at 1
    — identical to the batch ``incremental.sessionize`` numbering, so
    the two modes are cross-checkable on the same data (see
    tests/test_stateful_streaming.py).
    """
    gap_us = gap_minutes * 60 * 1_000_000
    prepared = events.select(
        F.col(user_col).cast("long").alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_us),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Running per-key event count: state is one long per key.
# ---------------------------------------------------------------------------

COUNT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_COUNT_STATE_SCHEMA = T.StructType([T.StructField("cnt", T.LongType())])


def _running_count_ap_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n = 0
    for pdf in pdfs:
        n += len(pdf)
    prev = state.get if state.exists else (0,)
    total = prev[0] + n
    state.update((total,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})


def running_count_stream(
    events: DataFrame,
    user_col: str = "user_id",
) -> DataFrame:
    """Continuous per-user event counter on ``applyInPandasWithState``:
    update-mode emissions, the last row per key equals the batch
    groupBy count (pinned in tests/test_stateful_streaming.py). State
    is one long per key, shuffled once per micro-batch on the key —
    bounded by |active users|, not |events|."""
    prepared = events.select(F.col(user_col).cast("long").alias("user_id"))
    return prepared.groupBy("user_id").applyInPandasWithState(
        _running_count_ap_fn,
        outputStructType=COUNT_OUTPUT_SCHEMA,
        stateStructType=_COUNT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming rolling z-score — the continuous twin of
# operators/timeseries.rolling_zscore (same baseline window, same
# exclusion of the scored point, same float finish), pinned equal to
# the batch operator in tests/test_stateful_streaming.py.
# ---------------------------------------------------------------------------

ZSCORE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_baseline", T.LongType()),
        T.StructField("z", T.DoubleType()),
    ]
)

# state: the trailing window of scaled-int values (newest last)
_ZSCORE_STATE_SCHEMA = T.StructType(
    [T.StructField("ring", T.ArrayType(T.LongType()))]
)


def _zscore_fn(lookback: int, min_points: int, threshold: float):
    import math
    from decimal import ROUND_HALF_UP, Decimal

    quantum = Decimal("0.0001")

    def fn(
        key: tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        ring: list[int] = list(state.get[0]) if state.exists else []
        out: list[tuple[int, int, int, float, int, float]] = []
        rows: list[tuple[int, int, float]] = []
        for pdf in pdf_iter:
            rows.extend(
                (int(t), int(e), float(v))
                for t, e, v in zip(pdf["ts_us"], pdf["event_id"], pdf["value"])
            )
        # micro-batch arrival order is not event order — sort locally;
        # ACROSS batches the feed must be per-key time-ordered (the
        # same at-the-source contract every keyed-state detector has)
        rows.sort(key=lambda r: (r[0], r[1]))
        for ts, eid, v in rows:
            # exact scaled-int arithmetic replicating the batch op's
            # DECIMAL(19,4) sums: HALF_UP like Spark's double→decimal
            # cast, sums exact ints far below 2^53
            q = int(
                Decimal(v).quantize(quantum, rounding=ROUND_HALF_UP) * 10_000
            )
            n = len(ring)
            if n >= min_points:
                s1 = sum(ring) / 1e4
                s2 = sum(x * x for x in ring) / 1e8
                mean = s1 / n
                var = (s2 - s1 * mean) / (n - 1)
                # math.sqrt is IEEE-correctly-rounded (x**0.5 goes
                # through pow, which is not) — must match JVM sqrt
                sd = math.sqrt(max(var, 0.0))
                if sd != 0.0:
                    z = (q / 1e4 - mean) / sd
                    if abs(z) > threshold:
                        out.append((user_id, eid, ts, v, n, z))
            ring.append(q)
            if len(ring) > lookback:
                ring.pop(0)
        state.update((ring,))
        yield pd.DataFrame(
            out,
            columns=["user_id", "event_id", "ts_us", "value", "n_baseline", "z"],
        )

    return fn


def zscore_stream(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
    *,
    lookback: int = 20,
    min_points: int = 8,
    threshold: float = 3.0,
) -> DataFrame:
    """Continuous per-event anomaly detection: each event z-scored
    against its key's trailing ≤``lookback`` values (self excluded)
    and emitted when |z| > ``threshold`` — the alerting form of the
    batch ``rolling_zscore``, producing IDENTICAL flags and z values
    when the stream replays the same data in per-key time order
    (append semantics; pinned in tests). State per key is one
    fixed-size ring of scaled ints — bounded by ``lookback``, not by
    history length, so a year of stream is the same RocksDB footprint
    as a day. The scaled-int sums reproduce the batch op's exact
    decimal accumulation bit-for-bit; the float finish is the same
    fixed-order expression."""
    prepared = events.select(
        F.col(user_col).cast("long").alias("user_id"),
        F.col(id_col).cast("long").alias("event_id"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(value_col).cast("double").alias("value"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _zscore_fn(lookback, min_points, threshold),
        outputStructType=ZSCORE_OUTPUT_SCHEMA,
        stateStructType=_ZSCORE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
