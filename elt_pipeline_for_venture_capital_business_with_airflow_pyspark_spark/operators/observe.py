"""Zero-extra-pass pipeline metrics via ``df.observe``.

The reference's profiling pipeline re-scans every table to count rows
and nulls (`dags/data_profiling/query/data_profiling_function.sql:37,
80-101`) — an entire second read of the warehouse per day. Spark's
``Observation`` API attaches aggregate metrics to a DataFrame that
are computed DURING whatever action already runs (the load's write,
the query's collect), so row counts / null counts / sums ride along
at zero additional scan cost — at 100 TB the difference between "DQ
is free" and "DQ doubles the bill".

Batch-side only here (streaming queries expose the same metrics via
``QueryProgressEvent.observedMetrics``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

__all__ = ["observed", "scan_metrics", "standard_load_metrics"]


def standard_load_metrics(
    df: DataFrame, *, numeric_cols: list[str] | None = None
) -> list[Column]:
    """The reference-parity metric set (rows, per-column null counts,
    negative counts for numerics) as observe()-ready aggregates."""
    metrics: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in df.columns:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
        )
    for c in numeric_cols or []:
        metrics.append(
            F.sum((F.col(c) < 0).cast("long")).alias(f"neg_{c}")
        )
    return metrics


def observed(
    df: DataFrame, name: str, metrics: list[Column]
) -> tuple[DataFrame, Observation]:
    """Attach ``metrics`` to ``df`` under ``name``. The returned
    DataFrame is the same plan plus a CollectMetrics node; after the
    FIRST action on it, ``observation.get`` yields the metric dict —
    no second scan, no extra shuffle (metrics are computed in the
    partial-aggregate style alongside the action).
    """
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def scan_metrics(df: DataFrame, metrics: list[Column]) -> dict:
    """Run ``df`` once through Spark's no-op sink and return the named
    aggregates ``metrics`` observed on the way: one job, with no
    exchange beyond ``df``'s own, where collecting the same aggregates
    adds a shuffle map job and a result job (every exchange is a job of
    its own under AQE). A persisted ``df`` is materialized by that job.
    The aggregates must stay small (counts, bounds, a set of file
    names): they are merged on the driver."""
    obs = Observation()
    df.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
    return obs.get
