"""The status-store reader and the span recorder on jobs whose stage
and task counts are known."""

from __future__ import annotations

import time

from spans import Recorder
from sparkstats import StageCounter


def test_delta_counts_one_shuffle_job(spark):
    counter = StageCounter(spark)
    w = counter.mark()
    rdd = spark.sparkContext.parallelize(range(100), 3)
    pairs = rdd.map(lambda x: (x % 2, 1)).reduceByKey(lambda a, b: a + b, 2).collect()
    counter.close(w)
    assert sorted(pairs) == [(0, 50), (1, 50)]
    d = counter.delta(w)
    assert d["jobs"] == 1
    assert d["stages"] == 2  # map stage + result stage
    assert d["tasks"] == 3 + 2
    assert d["failed_tasks"] == 0
    assert d["shuffle_write_records"] == 3 * 2  # map-side combine: two keys per partition
    assert d["shuffle_read_bytes"] == d["shuffle_write_bytes"] > 0
    assert d["evicted_stages"] == 0


def test_windows_split_consecutive_calls(spark):
    counter = StageCounter(spark)
    w1 = counter.mark()
    spark.sparkContext.parallelize(range(10), 4).count()
    counter.close(w1)
    w2 = counter.mark()
    spark.sparkContext.parallelize(range(10), 2).count()
    spark.sparkContext.parallelize(range(10), 1).count()
    counter.close(w2)
    d1, d2 = counter.delta(w1), counter.delta(w2)
    assert (d1["jobs"], d1["stages"], d1["tasks"]) == (1, 1, 4)
    assert (d2["jobs"], d2["stages"], d2["tasks"]) == (2, 2, 3)


def test_output_bytes_of_a_write(spark, tmp_path):
    counter = StageCounter(spark)
    w = counter.mark()
    spark.range(0, 1000, numPartitions=2).write.parquet(str(tmp_path / "t"))
    counter.close(w)
    d = counter.delta(w)
    written = sum(p.stat().st_size for p in (tmp_path / "t").glob("*.parquet"))
    assert d["output_bytes"] == written
    assert d["output_records"] == 1000


def test_recorder_self_times_and_nesting(spark):
    rec = Recorder(StageCounter(spark), trace=True)
    with rec.span("root", count=True) as root:
        with rec.span("child") as child:
            spark.sparkContext.parallelize(range(10), 2).count()
        time.sleep(0.05)
    self_t = rec.self_times()
    assert child.parent == root.id
    assert abs(self_t[root.id] + self_t[child.id] - root.duration) < 1e-9
    assert self_t[root.id] >= 0.05
    assert rec.counters(root)["jobs"] == rec.counters(child)["jobs"] == 1
    assert rec.overhead_s > 0


def test_untraced_recorder_counts_only_marked_spans(spark):
    rec = Recorder(StageCounter(spark), trace=False)
    with rec.span("root", count=True) as root:
        with rec.span("child") as child:
            spark.sparkContext.parallelize(range(10), 2).count()
    assert child.window is None and rec.counters(child) == {}
    assert rec.counters(root)["tasks"] == 2
    assert rec.overhead_s == 0.0
