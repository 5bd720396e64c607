"""Golden tests for operators/features, analytics.transition_matrix,
and the sliding-window aggregation."""

from __future__ import annotations

import math
from datetime import datetime

from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    analytics as ANA,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    features as FT,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.streaming import (
    incremental as INC,
)


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_zscore_matches_closed_form(spark):
    vals = [10.0, 20.0, 30.0, 40.0]
    df = spark.createDataFrame([(i, "g", v) for i, v in enumerate(vals)], ["id", "grp", "v"])
    res = FT.zscore_per_group(df, ["grp"], "v")
    got = {r["id"]: r["zscore"] for r in res.collect()}
    mean = sum(vals) / 4
    sd = math.sqrt(sum((x - mean) ** 2 for x in vals) / 3)
    for i, v in enumerate(vals):
        assert abs(got[i] - (v - mean) / sd) < 1e-12


def test_zscore_degenerate_groups_null(spark):
    df = spark.createDataFrame(
        [(1, "single", 5.0), (2, "const", 7.0), (3, "const", 7.0)],
        ["id", "grp", "v"],
    )
    res = {r["id"]: r["zscore"] for r in FT.zscore_per_group(df, ["grp"], "v").collect()}
    assert res[1] is None  # n < 2
    assert res[2] is None and res[3] is None  # zero variance


def test_rolling_range_agg_ties_share_frame(spark):
    rows = [
        (1, "k", _ts("2024-01-01 00:00:00"), 1.0),
        (2, "k", _ts("2024-01-03 00:00:00"), 2.0),
        (3, "k", _ts("2024-01-03 00:00:00"), 3.0),  # tie with id 2
        (4, "k", _ts("2024-01-20 00:00:00"), 4.0),  # outside range
    ]
    df = spark.createDataFrame(rows, ["id", "k", "ts", "v"])
    res = FT.rolling_range_agg(
        df, ["k"], "ts", "v", range_micros=6 * 86400 * 1_000_000
    )
    got = {r["id"]: (r["rolling_n"], r["rolling_sum"]) for r in res.collect()}
    assert got[1] == (1, 1.0)
    assert got[2] == (3, 6.0)  # tied rows see the SAME frame (range, not rows)
    assert got[3] == (3, 6.0)
    assert got[4] == (1, 4.0)  # old rows aged out


def test_iqr_outliers_fences_and_count(spark):
    # 1..11 plus one wild point; Q1=3.75, Q3=9.25 (exact interpolation),
    # IQR=5.5 -> fences [-4.5, 17.5]; only 100.0 is outside
    vals = [float(i) for i in range(1, 12)] + [100.0]
    df = spark.createDataFrame([(i, "g", v) for i, v in enumerate(vals)], ["id", "grp", "v"])
    r = FT.iqr_outliers(df, ["grp"], "v", k=1.5).collect()[0]
    assert (r["q1"], r["q3"]) == (3.75, 9.25)
    assert r["n_rows"] == 12 and r["n_outliers"] == 1
    assert r["fence_lo"] == 3.75 - 1.5 * 5.5 and r["fence_hi"] == 9.25 + 1.5 * 5.5


def test_transition_matrix_counts_and_tiebreak(spark):
    rows = [
        (1, 1, "a", _ts("2024-01-01 10:00:00")),
        (2, 1, "b", _ts("2024-01-01 10:01:00")),
        (3, 1, "a", _ts("2024-01-01 10:02:00")),
        # user 2: tie on ts -> event_id orders c before d
        (4, 2, "c", _ts("2024-01-01 10:00:00")),
        (5, 2, "d", _ts("2024-01-01 10:00:00")),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    res = ANA.transition_matrix(ev)
    got = {(r["from_type"], r["to_type"]): r["n_transitions"] for r in res.collect()}
    assert got == {("a", "b"): 1, ("b", "a"): 1, ("c", "d"): 1}


def test_sliding_agg_overlap_factor(spark):
    rows = [
        (1, _ts("2024-01-01 00:07:00"), "x", 1.0),
        (2, _ts("2024-01-01 00:12:00"), "x", 10.0),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    res = INC.window_agg(ev, "ts", "10 minutes", "5 minutes")
    cells = {
        r["window_start"].strftime("%H:%M"): (r["n_events"], r["sum_value"])
        for r in res.collect()
    }
    # event@07 -> windows starting 00:00 and 00:05; event@12 -> 00:05, 00:10
    assert cells == {"00:00": (1, 1.0), "00:05": (2, 11.0), "00:10": (1, 10.0)}


def test_mad_outliers_flags_planted_spike(spark):
    # 9 points near 100 plus one wild spike; MAD ignores the spike
    rows = [("g", float(v)) for v in (98, 99, 99, 100, 100, 100, 101, 101, 102)]
    rows.append(("g", 10_000.0))
    df = spark.createDataFrame(rows, ["grp", "v"])
    out = FT.mad_outliers(df, ["grp"], "v", k=3.0).collect()[0]
    assert out["med"] == 100.0
    assert out["mad"] == 1.0
    assert out["n_rows"] == 10
    assert out["n_outliers"] == 1  # only the 10k spike exceeds 3*1.4826*1


def test_partitioned_cumsum_matches_global_and_avoids_global_sort(spark):
    rows = [(i, float(i % 7 + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "v"]).withColumn(
        "vd", F.col("v").cast("decimal(10,2)")
    )
    out = FT.partitioned_cumsum(df, [F.col("k").asc()], "vd", out_col="cum")
    got = {r["k"]: float(r["cum"]) for r in out.collect()}
    run, want = 0.0, {}
    for i in range(200):
        run += i % 7 + 1
        want[i] = run
    assert got == want
    # scale shape: every Sort is partition-local, data path
    # hash-partitioned on the value-deterministic bucket id
    plan = out._jdf.queryExecution().explainString(
        out.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "hashpartitioning(__cs_b" in plan
    for line in plan.splitlines():
        if "Sort [" in line:
            assert "false" in line, f"global sort in partitioned_cumsum: {line}"


def test_pareto_class_boundaries_exact(spark):
    # weights 50,30,15,5: cum shares 50%,80%,95%,100% -> A,A,B,C
    rows = [(1, 50), (2, 30), (3, 15), (4, 5)]
    df = spark.createDataFrame(rows, ["k", "w"]).select(
        "k", F.col("w").cast("decimal(10,2)").alias("w")
    )
    got = {r["k"]: r["abc_class"] for r in FT.pareto_class(df, "k", "w").collect()}
    assert got == {1: "A", 2: "A", 3: "B", 4: "C"}


def test_rfm_scores_small_known(spark):
    # 5 customers, clearly separated metrics -> scores follow quintiles
    rows = []
    for cust in range(1, 6):
        for j in range(cust):  # frequency = cust
            rows.append(
                (cust, datetime(1998, 1, cust), float(100 * cust))
            )
    orders = spark.createDataFrame(
        rows, ["o_custkey", "o_orderdate", "o_totalprice"]
    )
    out = {r["o_custkey"]: r for r in ANA.rfm_scores(orders, "1998-09-01").collect()}
    # customer 5: most recent, most frequent, biggest spender -> 555
    assert out[5]["rfm_cell"] == 555
    # customer 1: oldest, least frequent, smallest spend -> 111
    assert out[1]["rfm_cell"] == 111
    # monotone in customer id by construction
    cells = [out[c]["rfm_cell"] for c in range(1, 6)]
    assert cells == sorted(cells)


def test_pareto_class_survives_null_weights(spark):
    """Review finding: a NULL weight row landed in an all-NULL bucket
    whose sum is None and crashed the driver prefix loop."""
    rows = [(1, 50), (2, 30), (3, None), (4, 5)]
    df = spark.createDataFrame(rows, "k int, w int").select(
        "k", F.col("w").cast("decimal(10,2)").alias("w")
    )
    out = {r["k"]: r["abc_class"] for r in FT.pareto_class(df, "k", "w").collect()}
    assert out[1] == "A" and set(out) == {1, 2, 3, 4}


def test_zscore_keeps_null_group_and_ignores_null_values(spark):
    """Review findings: the stats join must be null-SAFE (the NULL
    group is a real group; a row-preserving transform must not drop
    rows) and n must count VALUES so NULL measurements don't shift
    mean/std."""
    import math

    rows = [("a", 10.0), ("a", 20.0), ("a", None), (None, 1.0), (None, 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = FT.zscore_per_group(df, ["g"], "v")
    assert out.count() == 5  # no rows lost
    zs = {
        (r["g"], r["v"]): r["zscore"] for r in out.collect()
    }
    # group 'a': two values 10,20 -> z = ±1/sqrt(2)
    assert math.isclose(zs[("a", 10.0)], -1 / math.sqrt(2), rel_tol=1e-9)
    assert math.isclose(zs[("a", 20.0)], 1 / math.sqrt(2), rel_tol=1e-9)
    assert zs[("a", None)] is None
    # NULL group standardizes too
    assert math.isclose(zs[(None, 1.0)], -1 / math.sqrt(2), rel_tol=1e-9)


def test_cumsum_honors_explicit_nulls_last(spark):
    """Review finding: an explicit asc_nulls_last order must place the
    null bucket at the END of the splice, not the front."""
    rows = [(1, 1.0), (2, 1.0), (None, 1.0)]
    df = spark.createDataFrame(rows, "o int, v double").select(
        "o", F.col("v").cast("decimal(10,2)").alias("v")
    )
    out = FT.partitioned_cumsum(
        df, [F.col("o").asc_nulls_last()], "v", out_col="cum"
    )
    got = {r["o"]: float(r["cum"]) for r in out.collect()}
    assert got == {1: 1.0, 2: 2.0, None: 3.0}


def test_cumsum_rejects_expression_order_column(spark):
    """Review finding: repr-scraping a computed Column silently
    bucketed on a garbage name — now a loud ValueError."""
    import pytest as _pytest

    df = spark.createDataFrame([(1, 1.0)], "o int, v double")
    with _pytest.raises(ValueError, match="plain column"):
        FT.partitioned_cumsum(df, [F.col("o").cast("double").desc()], "v")


def test_order_bucket_nan_does_not_collapse_parallelism(spark):
    """Review finding: one NaN made span NaN and floored EVERY row
    into bucket 0 — the single-reducer collapse the design exists to
    avoid. NaN now gets its own trailing bucket."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.surrogate import (
        attach_order_bucket,
    )

    rows = [(float(i),) for i in range(100)] + [(float("nan"),)]
    df = spark.createDataFrame(rows, "x double")
    out = attach_order_bucket(df, "x", 8, "b")
    buckets = [r["b"] for r in out.collect()]
    assert len(set(buckets)) > 4  # spread, not collapsed
    nan_bucket = [b for x, b in zip([r["x"] for r in out.collect()], buckets)
                  if x != x]
    assert nan_bucket == [8]  # one past the last numeric bucket


def test_partitioned_cumsum_grouped_matches_per_group_window(spark):
    """Grouped mode must equal the straightforward per-group running
    total (Window.partitionBy(g).orderBy(k)) — including NULL group
    keys, which are real groups and must not lose their offsets in
    the null-safe offset join."""
    from pyspark.sql import Window

    rows = [
        (g, k, float(k * 10 + (0 if g is None else ord(g))))
        for g in ["a", "b", None]
        for k in range(1, 30)
    ]
    df = spark.createDataFrame(rows, "g string, k int, v double").withColumn(
        "vd", F.col("v").cast("decimal(18,4)")
    )
    got = FT.partitioned_cumsum(
        df, [F.col("k").asc()], "vd", out_col="cum",
        group_cols=["g"], num_partitions=5,
    )
    w = (
        Window.partitionBy("g")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = df.withColumn("cum", F.sum("vd").over(w))
    g1 = {(r["g"], r["k"]): r["cum"] for r in got.collect()}
    w1 = {(r["g"], r["k"]): r["cum"] for r in want.collect()}
    assert g1 == w1

    # broadcast_offsets=False (the high-group-cardinality path: a
    # shuffled offset join instead of forcing |groups|·nbuckets rows
    # onto every executor) must produce identical results
    got2 = FT.partitioned_cumsum(
        df, [F.col("k").asc()], "vd", out_col="cum",
        group_cols=["g"], num_partitions=5, broadcast_offsets=False,
    )
    g2 = {(r["g"], r["k"]): r["cum"] for r in got2.collect()}
    assert g2 == w1


def test_exact_quantiles_cont_matches_builtin_percentile(spark, sf_dir):
    """mode='cont' must be BIT-IDENTICAL to percentile() — same IEEE
    interpolation expression — per group, including the n counts."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources.io import (
        read_table,
    )

    orders = read_table(spark, sf_dir, "orders")
    got = FT.exact_quantiles(
        orders, "o_totalprice", [0.25, 0.5, 0.9],
        group_cols=["o_orderpriority"], out_cols=["q25", "q50", "q90"],
    )
    want = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.25D)").alias("q25"),
        F.expr("percentile(o_totalprice, 0.5D)").alias("q50"),
        F.expr("percentile(o_totalprice, 0.9D)").alias("q90"),
    )
    g = {r["o_orderpriority"]: (r["q25"], r["q50"], r["q90"]) for r in got.collect()}
    w = {r["o_orderpriority"]: (r["q25"], r["q50"], r["q90"]) for r in want.collect()}
    assert g == w


def test_exact_quantiles_disc_values_exist_and_match_builtin(spark, sf_dir):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources.io import (
        read_table,
    )

    li = read_table(spark, sf_dir, "lineitem")
    got = FT.exact_quantiles(
        li, "l_extendedprice", [0.5, 0.99], mode="disc", out_cols=["m", "p99"]
    ).collect()[0]
    want = li.agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("m"),
        F.expr(
            "percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("p99"),
    ).collect()[0]
    assert (got["m"], got["p99"]) == (want["m"], want["p99"])


def test_exact_quantiles_null_and_empty_groups(spark):
    """All-NULL groups stay in the output with NULL quantiles (like
    the builtin); NULL group keys keep their real quantiles."""
    df = spark.createDataFrame(
        [(None, 1.0), (None, 3.0), ("a", None), ("b", 2.0)],
        "g string, v double",
    )
    r = {
        row["g"]: (row["m"], row["n_rows"], row["n_values"])
        for row in FT.exact_quantiles(
            df, "v", [0.5], group_cols=["g"], out_cols=["m"]
        ).collect()
    }
    assert r[None] == (2.0, 2, 2)
    assert r["a"] == (None, 1, 0)
    assert r["b"] == (2.0, 1, 1)
    # empty frame -> empty result, not an error
    assert (
        FT.exact_quantiles(
            df.filter(F.lit(False)), "v", [0.5], group_cols=["g"]
        ).count()
        == 0
    )


def test_exact_quantiles_rejects_bad_args(spark):
    import pytest

    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError):
        FT.exact_quantiles(df, "v", [])
    with pytest.raises(ValueError):
        FT.exact_quantiles(df, "v", [1.5])
    with pytest.raises(ValueError):
        FT.exact_quantiles(df, "v", [0.5], mode="nearest")
    with pytest.raises(ValueError):
        FT.exact_quantiles(df, "v", [0.5, 0.9], out_cols=["only_one"])

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
import pytest  # noqa: E402
pytestmark = pytest.mark.slow
