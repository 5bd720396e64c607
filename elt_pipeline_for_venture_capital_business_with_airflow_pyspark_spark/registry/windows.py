"""Registry family: windows (17 queries).

- window_topk_per_group
- window_running_sum
- tumbling_window_agg
- sessionize
- events_day_streaks
- window_lag_lead_range
- window_rank_ntile
- window_frame_first_last
- events_funnel
- events_retention_cohort
- events_transition_matrix
- window_rolling_range
- sliding_window_agg
- window_percent_rank_cume
- events_markov_transitions
- window_nth_value
- events_distribution_drift
"""

from ._shared import *  # noqa: F401,F403
from ._shared import _register  # noqa: F401



# --- windows / sort / limit / set ops (W1-W4) -------------------------------

@_register(
    "window_topk_per_group",
    """
    SELECT c_mktsegment, rnk, o_orderkey, o_totalprice FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rnk <= 3
    """,
)
def _window_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 orders per market segment. Scale note: the 5-segment
    window looks like a per-group funnel, but the ``rnk <= 3`` filter
    triggers Catalyst's WindowGroupLimit — a map-side partial top-k
    runs BEFORE the exchange, so only ≤3 rows per (input partition,
    segment) ever shuffle; the per-segment sort sees K·P rows, not the
    fact table. Pinned in tests/test_plan_shapes.py."""
    orders = read_table(spark, sf, "orders")
    customer = read_table(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "rnk", "o_orderkey", "o_totalprice")
    )


@_register(
    "window_running_sum",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(20,4)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_qty
    FROM lineitem WHERE l_suppkey <= 5
    """,
)
def _window_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    li = read_table(spark, sf, "lineitem").filter(F.col("l_suppkey") <= 5)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            F.col("l_shipdate").asc_nulls_last(), "l_orderkey", "l_linenumber"
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(20,4)")).over(w).cast("double").alias(
            "running_qty"
        ),
    )


@_register(
    "tumbling_window_agg",
    """
    SELECT epoch_us(date_trunc('day', ts)) AS window_start_us,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def _tumbling_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """§2.7: 1-day tumbling window aggregation (batch form; the
    streaming twin is streaming.incremental.streaming_window_agg)."""
    ev = read_table(spark, sf, "events")
    out = INC.window_agg(ev, "ts", "1 day")
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


@_register(
    "sessionize",
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM ordered
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(event_id) AS first_event_id
    FROM sess GROUP BY user_id, session_id
    """,
)
def _sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization (gap > 30 min starts a new session)."""
    ev = read_table(spark, sf, "events")
    sess = INC.sessionize(ev, "user_id", "ts", 30)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.min("event_id").alias("first_event_id")
    )


@_register(
    "events_day_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE ts IS NOT NULL
    ), anchored AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS anchor
      FROM days
    )
    SELECT user_id,
           date_diff('day', DATE '1970-01-01', MIN(day)) AS streak_start_day,
           date_diff('day', DATE '1970-01-01', MAX(day)) AS streak_end_day,
           COUNT(*) AS n_days
    FROM anchored GROUP BY user_id, anchor
    """,
)
def _events_day_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Consecutive-day activity streaks per user
    (operators/temporal.consecutive_day_islands): the point-event
    gaps-and-islands shape via the date-minus-row_number anchor —
    distinct activity dates whose ``date - rank`` is constant form one
    maximal run. Two shuffles, both on user_id (date-distinct agg,
    island group-by); undated rows excluded by the event-time
    contract. Dates emitted as epoch-day ints for engine-neutral
    hashing."""
    ev = read_table(spark, sf, "events")
    islands = TMP.consecutive_day_islands(ev, ["user_id"], "ts")
    epoch = F.lit("1970-01-01").cast("date")
    return islands.select(
        "user_id",
        F.datediff("streak_start", epoch).alias("streak_start_day"),
        F.datediff("streak_end", epoch).alias("streak_end_day"),
        "n_days",
    )


@_register(
    "window_lag_lead_range",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           lag(event_id) OVER w AS prev_event_id,
           lead(event_id) OVER w AS next_event_id,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
           CAST(SUM(CAST(value AS DECIMAL(20,4)))
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS trailing_1h_value
    FROM events WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def _window_lag_lead_range(spark: SparkSession, sf: str) -> DataFrame:
    """lag/lead + a time-range frame (trailing 1 h sum) — the frame-spec
    window surface SURVEY.md §2.5 calls out as a free generalization."""
    ev = read_table(spark, sf, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), "event_id"
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts").asc_nulls_last())
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
        F.sum(F.col("value").cast("decimal(20,4)"))
        .over(wr)
        .cast("double")
        .alias("trailing_1h_value"),
    )


@_register(
    "window_rank_ntile",
    """
    SELECT o_orderkey, o_orderstatus,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
    FROM orders
    WHERE o_orderkey <= 2000
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def _window_rank_ntile(spark: SparkSession, sf: str) -> DataFrame:
    """rank/dense_rank/ntile/percent_rank — the full ranking-function
    family over one window spec (single sort per partition).

    Scale note: this operator's OUTPUT is a per-row window value
    over a low-cardinality partition key, so the per-group total
    order is the semantic contract, not an implementation choice —
    WindowGroupLimit cannot apply (no rank filter). At warehouse
    scale, compute per-row global ranks with the two-phase
    bucketed rank (operators/surrogate.add_surrogate_key /
    features.partitioned_cumsum pattern) instead of materializing
    a whole-table window; this query pins the ANSI window-function
    parity surface itself."""
    orders = read_table(spark, sf, "orders").filter(F.col("o_orderkey") <= 2000)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@_register(
    "window_frame_first_last",
    """
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_in_window,
           LAST_VALUE(o_orderkey) OVER w AS last_in_window,
           COUNT(*) OVER w AS n_in_window
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)
    """,
)
def _window_frame_first_last(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit ROWS frame (2 preceding .. 1 following) with
    first/last_value and a frame count — the frame-spec surface §2.5
    notes the reference never uses; total ordering via the orderkey
    tiebreak keeps frames deterministic."""
    orders = read_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc_nulls_last(), "o_orderkey")
        .rowsBetween(-2, 1)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_in_window"),
        F.last("o_orderkey").over(w).alias("last_in_window"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


@_register(
    "events_funnel",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t
        AND e.ts <= s1.t + INTERVAL 1 HOUR
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t
        AND e.ts <= s2.t + INTERVAL 1 DAY
      GROUP BY e.user_id
    )
    SELECT 1 AS step_idx, 'view' AS step, COUNT(*) AS n_users FROM s1
    UNION ALL
    SELECT 2, 'click', COUNT(*) FROM s2
    UNION ALL
    SELECT 3, 'purchase', COUNT(*) FROM s3
    """,
)
def _events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Strictly-ordered, time-bounded funnel
    (operators/analytics.funnel): first view → click within 1 hour →
    purchase within 1 day. Each stage is a per-user min-ts aggregation
    joined to the previous stage — one reused shuffle key, ONE
    timestamp of state per user, no event×event self-join."""
    ev = read_table(spark, sf, "events")
    return ANA.funnel(
        ev, [("view", None), ("click", "1 HOUR"), ("purchase", "1 DAY")]
    )


@_register(
    "events_retention_cohort",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), first AS (
      SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
    ), cells AS (
      SELECT DISTINCT
             CAST(FLOOR(date_diff('day', DATE '2024-01-01', f.cohort_day) / 7)
                  AS BIGINT) AS cohort_week,
             CAST(FLOOR(date_diff('day', f.cohort_day, d.day) / 7)
                  AS BIGINT) AS week_offset,
             d.user_id
      FROM days d JOIN first f ON d.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, COUNT(*) AS n_users
    FROM cells GROUP BY cohort_week, week_offset
    """,
)
def _events_retention_cohort(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort-retention triangle
    (operators/analytics.retention_cohort): cohort = week of first
    active day (day-arithmetic from a fixed origin — date_trunc('week')
    is an engine convention, so it never appears), cell = distinct
    users active k weeks later. Two shuffles total."""
    ev = read_table(spark, sf, "events")
    return ANA.retention_cohort(ev, origin="2024-01-01")


@_register(
    "events_transition_matrix",
    """
    WITH nxt AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS to_type
      FROM events
    )
    SELECT from_type, to_type, COUNT(*) AS n_transitions
    FROM nxt WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def _events_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition counts per user stream
    (operators/analytics.transition_matrix): lead() over one per-user
    shuffle, O(1) state per row, unique event_id tiebreak so
    timestamp ties are deterministic."""
    ev = read_table(spark, sf, "events")
    return ANA.transition_matrix(ev)


@_register(
    "window_rolling_range",
    """
    SELECT o_orderkey, o_custkey,
           epoch_us(o_orderdate) AS order_us,
           CAST(COUNT(*) OVER w AS BIGINT) AS rolling_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) OVER w AS DOUBLE)
             AS rolling_sum
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
                 RANGE BETWEEN 518400000000 PRECEDING AND CURRENT ROW)
    """,
)
def _window_rolling_range(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 7-day rolling spend per customer
    (operators/features.rolling_range_agg): RANGE frame over
    epoch-microseconds, so same-day peers share a frame — the
    deterministic formulation (ROWS frames under ties are
    partitioning-dependent). One shuffle on the key; Spark's range
    frame is a sliding two-pointer over the sorted partition."""
    orders = read_table(spark, sf, "orders")
    out = FT.rolling_range_agg(
        orders,
        ["o_custkey"],
        "o_orderdate",
        "o_totalprice",
        range_micros=518_400_000_000,  # 6 days back + current day = 7-day window
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.unix_micros("o_orderdate").alias("order_us"),
        "rolling_n",
        "rolling_sum",
    )


@_register(
    "sliding_window_agg",
    """
    WITH w AS (
      SELECT event_type, CAST(value AS DECIMAL(20,4)) AS v,
             (epoch_us(ts) // 300000000 - k) * 300000000 AS ws_us
      FROM events, unnest([0, 1]) AS t(k)
      WHERE ts IS NOT NULL
    )
    SELECT ws_us, event_type, COUNT(*) AS n_events,
           CAST(SUM(v) AS DOUBLE) AS sum_value
    FROM w GROUP BY ws_us, event_type
    """,
)
def _sliding_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window aggregation (10-minute windows every 5 minutes,
    streaming/incremental.window_agg — the same F.window op
    Structured Streaming executes): each event lands in
    window/slide = 2 windows, amplified map-side BEFORE the partial
    agg, so the shuffle carries (window,type) partials only. The
    oracle replicates Spark's epoch-aligned window-start math
    explicitly."""
    ev = read_table(spark, sf, "events")
    out = INC.window_agg(ev, "ts", "10 minutes", "5 minutes")
    return out.select(
        F.unix_micros("window_start").alias("ws_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


@_register(
    "window_percent_rank_cume",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1995-07-01'
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
)
def _window_percent_rank_cume(spark: SparkSession, sf: str) -> DataFrame:
    """Relative-standing windows: percent_rank ((rank-1)/(n-1)) and
    cume_dist (rows≤current / n) per priority class. Both are exact
    integer ratios evaluated in one IEEE division, so the doubles are
    bit-identical across engines — no decimal scaffolding needed. One
    shuffle on the partition key; ties share a value in both engines
    by definition of the two functions.

    Scale note: this operator's OUTPUT is a per-row window value
    over a low-cardinality partition key, so the per-group total
    order is the semantic contract, not an implementation choice —
    WindowGroupLimit cannot apply (no rank filter). At warehouse
    scale, compute per-row global ranks with the two-phase
    bucketed rank (operators/surrogate.add_surrogate_key /
    features.partitioned_cumsum pattern) instead of materializing
    a whole-table window; this query pins the ANSI window-function
    parity surface itself."""
    orders = read_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc_nulls_last()
    )
    return (
        orders.filter(F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
    )


@_register(
    "events_markov_transitions",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
             ) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM ordered WHERE prev_type IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), totals AS (
      SELECT prev_type, SUM(n) AS row_total FROM pairs GROUP BY 1
    )
    SELECT p.prev_type, p.next_type,
           CAST(p.n AS BIGINT) AS n_transitions,
           CAST(p.n * 1000000 // t.row_total AS BIGINT) AS prob_ppm
    FROM pairs p JOIN totals t ON p.prev_type = t.prev_type
    """,
)
def _events_markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order behavioral transition matrix: per user, consecutive
    event pairs (ordered by the TOTAL order ts → event_id, null
    placement pinned on BOTH engines — Spark defaults NULLS FIRST
    ascending, DuckDB defaults NULLS LAST, the classic silent
    cross-engine divergence) counted into (prev → next) transitions
    with exact-integer row-normalized probabilities (ppm via
    truncating div — no float division in the hash surface). The
    session-analytics building block next to sessionize/funnel: one
    per-user window + one map-combined pair aggregation; the matrix
    is |event_type|² rows — KB forever."""
    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    pairs = (
        ev.select(
            "user_id", "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return pairs.join(totals, "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").alias("n_transitions"),
        F.expr("n * 1000000L div row_total").alias("prob_ppm"),
    )


@_register(
    "window_nth_value",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           nth_value(o_totalprice, 3) OVER w AS third_price,
           first_value(o_orderkey) OVER w AS first_key
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1995-04-01'
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def _window_nth_value(spark: SparkSession, sf: str) -> DataFrame:
    """nth_value over a running ROWS frame (NULL until the frame holds
    3 rows) plus first_value — the remaining positional window
    functions. The ordering carries the key tiebreak so frame content
    is total-ordered and engine-identical; one shuffle on the
    partition key.

    Scale note: this operator's OUTPUT is a per-row window value
    over a low-cardinality partition key, so the per-group total
    order is the semantic contract, not an implementation choice —
    WindowGroupLimit cannot apply (no rank filter). At warehouse
    scale, compute per-row global ranks with the two-phase
    bucketed rank (operators/surrogate.add_surrogate_key /
    features.partitioned_cumsum pattern) instead of materializing
    a whole-table window; this query pins the ANSI window-function
    parity surface itself."""
    orders = read_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").asc_nulls_last(), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.filter(
        F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp")
    ).select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.nth_value("o_totalprice", 3).over(w).alias("third_price"),
        F.first("o_orderkey").over(w).alias("first_key"),
    )


@_register(
    "events_distribution_drift",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), shares AS (
      SELECT day, event_type,
             (n * 1000000) // SUM(n) OVER (PARTITION BY day) AS share_scaled
      FROM daily
    ), paired AS (
      SELECT day, event_type, share_scaled,
             LAG(share_scaled) OVER (
               PARTITION BY event_type ORDER BY day) AS prev_share
      FROM shares
    )
    SELECT day,
           CAST(SUM(ABS(share_scaled - prev_share)) AS BIGINT) AS l1_drift_scaled
    FROM paired
    WHERE prev_share IS NOT NULL
    GROUP BY day
    """,
)
def _events_distribution_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Day-over-day distribution drift monitor: L1 distance between
    consecutive days' event-type share vectors, integer-scaled (share
    = count·1e6 div day_total) so the drift statistic is engine-exact.
    A spike = instrumentation change, pipeline bug, or behavior shift
    — the canonical 'data changed under me' alarm for training-data
    feeds. Two window passes over the tiny (day × type) aggregate;
    the heavy lifting is one partial-agg shuffle of the raw events."""
    ev = read_table(spark, sf, "events")
    daily = (
        ev.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    shares = daily.select(
        "day",
        "event_type",
        F.expr(
            "n * 1000000L div sum(n) over (partition by day)"
        ).alias("share_scaled"),
    )
    w = Window.partitionBy("event_type").orderBy(F.col("day").asc_nulls_last())
    paired = shares.withColumn(
        "prev_share", F.lag("share_scaled").over(w)
    ).filter(F.col("prev_share").isNotNull())
    return paired.groupBy("day").agg(
        F.sum(F.abs(F.col("share_scaled") - F.col("prev_share")))
        .cast("long")
        .alias("l1_drift_scaled")
    )
