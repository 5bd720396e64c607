"""Physical-plan shape assertions — the 100 TB posture, checked.

Correctness is the oracle gate's job; these tests pin the *plans*:
filters and projections reach the parquet scan, dims broadcast, and
bucketed fact-fact joins run shuffle-free. A regression here is a
performance bug that no row-comparison would ever catch.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    layout as LYT,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
    io as SIO,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources.io import (
    read_table,
)


def _plan(df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        getattr(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode,
            "fromString",
        )(mode)
    )


def _tree_depth(line: str) -> int:
    """Depth of a plan-tree line = column of its '+-'/':-' marker
    (root lines have no marker -> -1, shallower than everything)."""
    p = line.find("+-")
    q = line.find(":-")
    cands = [x for x in (p, q) if x >= 0]
    return min(cands) if cands else -1


def _subtree_lines(lines: list[str], i: int) -> list[str]:
    """The lines forming the subtree ROOTED at lines[i] (exclusive of
    the root): every following line strictly deeper than lines[i]."""
    d = _tree_depth(lines[i])
    out = []
    for line in lines[i + 1:]:
        if _tree_depth(line) <= d:
            break
        out.append(line)
    return out


def test_filter_and_projection_pushed_to_parquet_scan(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan
    # schema pruned to exactly the two projected columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_shipdate" not in read_schema and "l_extendedprice" not in read_schema


def test_incremental_slice_pushes_down(spark, sf_dir):
    """The daily slice must reach the parquet scan as a range filter —
    a cast(ts AS date)= formulation would scan everything."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.streaming.incremental import (
        incremental_slice,
    )

    li = read_table(spark, sf_dir, "lineitem")
    q = incremental_slice(li, "l_shipdate", "1996-01-02").select("l_orderkey")
    plan = _plan(q)
    assert "GreaterThanOrEqual(l_shipdate" in plan and "LessThan(l_shipdate" in plan


def test_dim_join_broadcasts(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    nationish = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    q = orders.join(F.broadcast(nationish), orders["o_custkey"] == F.col("c_custkey"))
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    # AQE finalizes the plan only on execution; codegen'd operators are
    # prefixed '*(stage_id)' in the executed plan
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "*(" in plan and "HashAggregate" in plan, plan


@pytest.mark.usefixtures("spark")
def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        LYT.write_bucketed(a, "bkt_a", str(tmp_path / "a"), "k", 8)
        LYT.write_bucketed(b, "bkt_b", str(tmp_path / "b"), "k", 8)
        ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
        joined = ta.join(tb, "k")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
        # sanity: the same join on unbucketed frames DOES shuffle
        assert "Exchange" in _plan(a.join(b, "k"))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_salted_agg_two_stage_plan(spark, sf_dir):
    """The salted aggregation really is partial-on-salt → final-on-key:
    two HashAggregate pairs, one Exchange on (key, salt) + one on key."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        skew as SKW,
    )

    li = read_table(spark, sf_dir, "lineitem")
    q = SKW.salted_sum_count(
        li, ["l_returnflag"], {"s": F.col("l_quantity").cast("decimal(20,4)")}, salts=4
    )
    plan = _plan(q, "simple")
    assert plan.count("Exchange hashpartitioning") == 2


def test_asof_join_single_shuffle_no_amplification(spark, sf_dir):
    """The as-of sweep must be ONE exchange on the key (union + window),
    never a range cross-join or per-row subquery."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.temporal import (
        asof_join,
    )

    ev = read_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase")
    right = ev.filter(F.col("event_type") == "view")
    q = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload={"vid": F.col("event_id")}, tiebreak="event_id",
    )
    plan = _plan(q, "simple")
    assert plan.count("Exchange") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_range_join_is_equi_join_not_cross(spark, sf_dir):
    """Binned range join must plan as an equi-join (hash/sort-merge on
    key+bucket), not a nested-loop over the inequality predicate."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.temporal import (
        range_join,
    )

    ev = read_table(spark, sf_dir, "events")
    intervals = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("iu"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 4 HOURS")).alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click")
    q = range_join(
        clicks, intervals, event_key="user_id", interval_key="iu",
        ts_col="ts", start_col="start_ts", end_col="end_ts", bin_seconds=3600,
    )
    plan = _plan(q)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Join" in plan


def test_date_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """The date-partitioned lake layout must turn the daily slice into
    partition pruning: a filter on the partition column shows up as a
    PartitionFilter and the scan reads a single partition directory."""
    ev = read_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "lake")
    SIO.write_parquet(ev, path, partition_by=["event_date"])

    q = spark.read.parquet(path).filter(F.col("event_date") == "2024-01-15")
    plan = _plan(q)
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_date" in pf and "2024-01-15" in pf
    # count touched files: only the one partition's files are scanned
    q.collect()
    executed = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: []" not in executed


def test_surrogate_key_no_global_single_partition_sort(spark, sf_dir):
    """VERDICT r01 watch-item: deterministic surrogate keys must NOT
    funnel the dimension through one reducer. The two-phase rank
    hash-partitions the data path on the value-deterministic bucket
    id (hashpartitioning exchange, per-bucket window sort), and the
    only single-partition work is the prefix-sum window over the
    per-bucket COUNTS (one row per bucket)."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.surrogate import (
        add_surrogate_key,
    )

    customer = read_table(spark, sf_dir, "customer")
    q = add_surrogate_key(customer, "sk", ["c_custkey"])
    plan = _plan(q, "simple")

    # the data path partitions on the bucket id, never a global sort
    # (the surrogate key is bucketed_rank under the hood since r4)
    assert "hashpartitioning(__br_bucket" in plan
    # no global Sort node: every Sort in the plan is partition-local
    for line in plan.splitlines():
        if "Sort [" in line:
            assert "false" in line, f"global sort found in surrogate plan: {line}"

    # any SinglePartition exchange must sit above the count aggregation
    # (the KB-sized offsets frame), never above the raw scan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            below = "\n".join(lines[i:])
            assert "HashAggregate" in below or "count(1)" in below

    # and the output is still the dense 1..N sequence over key order
    rows = q.orderBy("c_custkey").select("sk").limit(5).collect()
    assert [r.sk for r in rows] == [1, 2, 3, 4, 5]
    n = customer.count()
    agg = q.agg(F.min("sk").alias("lo"), F.max("sk").alias("hi"),
                F.countDistinct("sk").alias("nd")).collect()[0]
    assert (agg.lo, agg.hi, agg.nd) == (1, n, n)


def test_bucketed_rank_no_full_partition_window(spark, sf_dir):
    """VERDICT r03 item 5: the registered two-phase bucketed rank must
    equal ROW_NUMBER() OVER (ORDER BY ...) while never materializing a
    full-frame single-partition window: the data-path exchange is
    hashpartitioning on the bucket id, every Sort is partition-local,
    and any SinglePartition exchange sits above the KB-sized
    per-bucket count aggregation only."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.surrogate import (
        bucketed_rank,
    )

    orders = read_table(spark, sf_dir, "orders")
    q = bucketed_rank(
        orders, ["o_totalprice", "o_orderkey"], out_col="price_rank"
    )
    plan = _plan(q, "simple")
    assert "hashpartitioning(__br_bucket" in plan
    for line in plan.splitlines():
        if "Sort [" in line:
            assert "false" in line, f"global sort found in bucketed_rank plan: {line}"
    # (a) no Window operator may sit in the SUBTREE of a
    # SinglePartition exchange — a full-frame single-partition window
    # is exactly the plan this operator exists to avoid (checking the
    # subtree, not just "an aggregate appears somewhere below")
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            for sub in _subtree_lines(lines, i):
                assert "Window" not in sub, (
                    f"Window below SinglePartition exchange:\n{sub}"
                )
    # (b) the row_number Window's OWN child exchange must be the
    # bucket-id hashpartitioning — the partition-parallel data path
    for i, line in enumerate(lines):
        if "Window [row_number()" in line:
            child_exchanges = [
                s for s in _subtree_lines(lines, i) if "Exchange" in s
            ]
            assert child_exchanges, "row_number Window has no exchange below it"
            assert "hashpartitioning(__br_bucket" in child_exchanges[0], (
                f"row_number Window partitioned wrong:\n{child_exchanges[0]}"
            )

    # semantics twin: the global ROW_NUMBER over the same total order
    w = Window.orderBy("o_totalprice", "o_orderkey")
    expect = orders.select(
        "o_orderkey", F.row_number().over(w).cast("long").alias("price_rank")
    )
    got = q.select("o_orderkey", "price_rank")
    assert got.exceptAll(expect).isEmpty() and expect.exceptAll(got).isEmpty()


def test_cdc_validate_adds_no_exchange(spark, sf_dir):
    """Pin the claim in cdc.apply_changes's docstring: the
    validate=True ambiguity check rides the existing latest-wins
    shuffle (a count over the same window partition prefix), so the
    validated plan has exactly the same exchanges as the unvalidated
    one — turning validation on must never cost a shuffle."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        cdc as CDC,
    )

    orders = read_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    changes = base.limit(200).withColumns(
        {"seq": F.lit(1), "op": F.lit("U")}
    )

    def exchanges(validate):
        q = CDC.apply_changes(
            base, changes, ["o_orderkey"], "seq", validate=validate
        )
        return [
            line.strip()
            for line in _plan(q, "simple").splitlines()
            if "Exchange" in line
        ]

    off, on = exchanges(False), exchanges(True)
    assert len(on) == len(off), (
        f"validate=True changed the exchange count: {len(off)} -> "
        f"{len(on)}\noff={off}\non={on}"
    )


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    """The rnk<=3 filter must keep triggering Catalyst's
    WindowGroupLimit (map-side partial top-k before the exchange) —
    without it the 5-segment window funnels the whole fact through 5
    tasks. Guards against a refactor that breaks the pushdown shape
    (e.g. ranking before filtering in a separate select, or a
    non-rank-based rewrite)."""
    import __spark_entry__ as entry

    df = entry.queries()["window_topk_per_group"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "WindowGroupLimit" in final, final


def test_ivf_probe_prunes_cell_partitions(spark, sf_dir, tmp_path):
    """Scale contract: ivf_probe_index reads only the probed cell
    directories. The cells scan carries a dynamicpruningexpression on
    the ``cell`` partition column, fed by the probe broadcast (no
    driver-side collect of the cell ids, no post-scan data filter)."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        similarity as SIM,
    )

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    index = str(tmp_path / "ivf")
    SIM.build_ivf_index(emb, index, n_centroids=8)
    queries = emb.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = SIM.ivf_probe_index(queries, index, k=3, n_probe=2)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # the cells table is the only scan with the ``cell`` partition
    # column (locations are truncated in plan strings)
    cell_scans = [
        l for l in executed.splitlines()
        if re.search(r"FileScan parquet \[[^\]]*\bcell#", l)
    ]
    assert cell_scans, "no scan of the cells table in the executed plan"
    for scan in cell_scans:
        pf = scan.split("PartitionFilters: ", 1)[1].split("], ")[0]
        assert "dynamicpruningexpression(cell" in pf, scan
