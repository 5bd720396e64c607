"""Outside-in Spark counters read from the driver's status store.

``spark._jsc.sc().statusStore()`` is the store behind the Spark UI, and
it is kept with ``spark.ui.enabled=false`` too. A :class:`StageCounter`
takes a before/after delta around a call: the DAG scheduler hands out
job and stage ids in increasing order, so the jobs and stages a call
created are the ids between its two marks. A mark is two py4j calls;
reading a stage's metrics costs a dozen more, so stages are read once,
after the timed work, and cached.

The store keeps ``spark.ui.retainedStages`` / ``spark.ui.retainedJobs``
entries (1000 by default) and silently drops older ones; the session
must raise both above the number of stages a run creates
(:data:`RETAIN_CONF`). :meth:`StageCounter.delta` reports how many
stages of the window were already gone as ``evicted_stages``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

RETAIN_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100",
    "spark.ui.retainedTasks": "1000",
}

# metric name -> (StageData accessor, scale to the reported unit)
_STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "output_records": ("outputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_write_records": ("shuffleWriteRecords", 1),
    "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
}
COUNTERS = ("jobs", "stages", *_STAGE_FIELDS)


@dataclass
class Window:
    """Job and stage id ranges ``(lo, hi]`` created between two marks."""

    job_lo: int
    stage_lo: int
    job_hi: int = -1
    stage_hi: int = -1
    counters: dict = field(default_factory=dict)


class StageCounter:
    """Before/after Spark counter deltas for one SparkContext."""

    def __init__(self, spark):
        jsc = spark._jsc.sc()
        gateway = spark.sparkContext._gateway
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        # stageData(id, details, taskStatus, withSummaries, quantiles)
        self._no_tasks = gateway.jvm.java.util.ArrayList()
        self._no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        self._stage_cache: dict[int, dict[str, float]] = {}

    def _high_water(self) -> tuple[int, int]:
        """(highest job id, highest stage id) handed out so far."""
        return self._dag.nextJobId() - 1, self._dag.nextStageId() - 1

    def mark(self) -> Window:
        job, stage = self._high_water()
        return Window(job_lo=job, stage_lo=stage)

    def close(self, w: Window) -> Window:
        w.job_hi, w.stage_hi = self._high_water()
        return w

    def _stage(self, stage_id: int) -> dict[str, float] | None:
        if stage_id in self._stage_cache:
            return self._stage_cache[stage_id]
        attempts = self._store.stageData(stage_id, False, self._no_tasks, False, self._no_quantiles)
        if attempts.size() == 0:
            return None
        out = dict.fromkeys(_STAGE_FIELDS, 0.0)
        out["ran"] = 0.0
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            # a stage whose shuffle output already existed is listed
            # under a fresh id as SKIPPED; it ran no tasks
            if sd.status().toString() == "SKIPPED":
                continue
            out["ran"] = 1.0
            for name, (getter, scale) in _STAGE_FIELDS.items():
                out[name] += getattr(sd, getter)() * scale
        self._stage_cache[stage_id] = out
        return out

    def delta(self, w: Window) -> dict[str, float]:
        """Summed counters of every job and stage the window created.
        Reads the store, so call it after the timed work."""
        if w.counters:
            return w.counters
        totals = dict.fromkeys(COUNTERS, 0.0)
        totals["jobs"] = max(0, w.job_hi - w.job_lo)
        evicted = 0
        for sid in range(w.stage_lo + 1, w.stage_hi + 1):
            try:
                stage = self._stage(sid)
            except Exception as exc:  # py4j wraps NoSuchElementException
                if "NoSuchElementException" not in str(exc):
                    raise
                stage = None
            if stage is None:
                evicted += 1
                continue
            totals["stages"] += stage["ran"]
            for k in _STAGE_FIELDS:
                totals[k] += stage[k]
        totals["evicted_stages"] = evicted
        w.counters = totals
        return totals
