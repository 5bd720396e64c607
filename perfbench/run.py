#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload elt --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, builds the Spark session, sets up the inputs three times,
then runs one pipeline pass. A pass takes tens of seconds, far longer
than the ``--seconds`` the benchmark declares (1), so a run is exactly
one pass in a fresh JVM; a pass shorter than ``--seconds`` is reported
on stderr. Then checks the outputs and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones and writes every span with its Spark counters to
``.bench_work/trace/``. Exits non-zero when any task or check failed.
Everything it writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

from spans import median
from sparkstats import RETAIN_CONF

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark"
WORK = ".bench_work"  # relative to the checkout
SETUPS = 3
DRIVER_MEMORY = "1g"

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
    "recall": "ratio",
    "precision": "ratio",
}
WAREHOUSE_TABLES = (
    "dim_date", "dim_company", "dim_funds", "dim_people",
    "fct_investments", "fct_ipos", "fct_acquisition", "bridge_company_people",
)
SPARK_COUNTERS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "shuffle_fetch_wait_s": "s", "spill_bytes": "bytes",
    "input_bytes": "bytes", "output_bytes": "bytes",
}
PER_LAYER = {
    "pass_s": "s",
    "session.build_s": "s",
    **{f"full.{t}_s": "s" for t in WAREHOUSE_TABLES},
    **{f"daily.{t}_s": "s" for t in WAREHOUSE_TABLES},
    "profile.total_s": "s",
    "profile.max_table_s": "s",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "io.bytes_read": "bytes",
    "orchestrate.tasks_ran": "count",
    "orchestrate.tasks_skipped": "count",
    "orchestrate.tasks_failed": "count",
    "text.normalize_s": "s",
    "dedup.exact_s": "s",
    "dedup.edges_s": "s",
    "dedup.survivors_s": "s",
    "dedup.edges": "count",
    "dedup.edge_yield": "ratio",
    "dedup.survivor_jobs": "count",
    "lm.score_s": "s",
    **{f"spark.{k}": u for k, u in SPARK_COUNTERS.items()},
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file the run writes (Spark scratch, JVM temp files,
    the py4j handshake) under ``work``. Pin the session's size whatever
    the caller's environment says: ``local[<usable cores>]`` and a
    fixed ``DRIVER_MEMORY`` heap instead of the product's 8 GB default,
    so a run stays small on a shared host and GC and peak RSS do not
    depend on who starts it."""
    tmp = work / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def session_conf(work: Path) -> dict[str, str]:
    return {
        **RETAIN_CONF,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        # a fixed heap: peak RSS then tracks the work, not how far the
        # collector chose to grow the heap on this run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'}",
    }


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus the driver JVM."""
    from pyspark import SparkContext

    total_kb = 0
    for pid in ("self", str(SparkContext._gateway.proc.pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def _stat(pid: int | str) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name: [0] is
    the state, [1] the parent pid, [11:15] utime, stime, cutime and
    cstime in clock ticks."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this Python process
    and every process below it: the driver JVM, and any Python worker
    the JVM starts. Reaped children count through cutime/cstime."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                stats[int(entry)] = _stat(entry)
            except OSError:  # exited while listing
                pass
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(wl, rec, session_build_s, setup_times, cpu_s, rss_mb, out) -> dict[str, float]:
    """A run has one JVM, so the session is built once; the inputs are
    set up ``SETUPS`` times and the median counts."""
    return {
        "setup_s": session_build_s + median(setup_times),
        "cpu_s": cpu_s,
        "peak_rss_mb": rss_mb,
        "write_amp": wl.write_ratio(rec),
        "recall": out.values["recall"],
        "precision": out.values["precision"],
    }


def per_layer(rec, session_build_s, out) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.build_s"] = session_build_s
    root = rec.named("pass")[0]
    m["pass_s"] = root.duration

    def span_median(name: str) -> float:
        return median(s.duration for s in rec.spans if s.name == name)

    for t in WAREHOUSE_TABLES:
        m[f"full.{t}_s"] = span_median(f"full.{t}")
        m[f"daily.{t}_s"] = span_median(f"daily.{t}")
    prof = rec.named("profile")
    if prof:
        m["profile.total_s"] = sum(s.duration for s in prof)
        m["profile.max_table_s"] = max(s.duration for s in prof)
    for layer in ("text.normalize", "dedup.exact", "dedup.edges", "dedup.survivors", "lm.score"):
        m[f"{layer}_s"] = span_median(layer)

    counters = rec.counters(root)
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = counters["disk_spill_bytes"] if k == "spill_bytes" else counters[k]
    m["io.bytes_written"] = counters["output_bytes"]
    m["io.bytes_read"] = counters["input_bytes"]
    m["io.files_written"] = sum(s.attrs.get("files", 0) for s in rec.spans if s.attrs.get("task"))
    for key in ("ran", "skipped", "failed"):
        m[f"orchestrate.tasks_{key}"] = out.values.get(f"tasks_{key}", 0)

    edge_spans = rec.named("dedup.edges")
    if edge_spans:
        edges = out.values["edges"]
        shuffled = rec.counters(edge_spans[0])["shuffle_write_records"]
        m["dedup.edges"] = edges
        m["dedup.edge_yield"] = edges / shuffled if shuffled else 0.0
        m["dedup.survivor_jobs"] = rec.counters(rec.named("dedup.survivors")[0])["jobs"]

    m["trace.coverage"] = 1.0 - rec.self_times()[root.id] / root.duration
    m["trace.overhead_s"] = rec.overhead_s
    return m


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"{PACKAGE}/ not found next to {HERE.name}/: run from a full checkout", file=sys.stderr)
        return 2
    work = (Path.cwd() / WORK).resolve()
    isolate(work)
    sys.path.insert(0, str(ROOT))

    import workloads
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.session import build_session
    from spans import Recorder
    from sparkstats import StageCounter

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    t_gen = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](work / args.workload, args.seed)
    out = workloads.Outcome()
    phases = {"generate": time.perf_counter() - t_gen}

    spark = None
    setup_times: list[float] = []
    metrics: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        spark = build_session(f"perfbench-{wl.name}", extra_conf=session_conf(work))
        session_build_s = time.perf_counter() - t0
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            wl.setup(spark)
            setup_times.append(time.perf_counter() - t0)
        rec = Recorder(StageCounter(spark), trace=bool(args.trace))
        cpu0 = process_cpu_s()
        with rec.span("pass", count=True) as root:
            wl.run_pass(spark, rec, out)
        cpu_s = process_cpu_s() - cpu0
        rss_mb = peak_rss_mb()  # before the checks, which are not the program's work
        phases["pass"] = root.duration
        if root.duration < args.seconds:
            print(f"the pass took {root.duration:.2f}s, less than --seconds {args.seconds}", file=sys.stderr)
        # every table, date and stage that ran is an attempt
        out.attempted += sum(1 for s in rec.spans if s.attrs.get("task"))
        t_checks = time.perf_counter()
        wl.checks(spark, out)
        phases["checks"] = time.perf_counter() - t_checks
        if not out.failed:
            if args.trace:
                metrics = per_layer(rec, session_build_s, out)
                trace_path = work / "trace" / f"{wl.name}-seed{args.seed}.jsonl"
                rec.dump(trace_path)
                print(f"spans: {trace_path}", file=sys.stderr)
            else:
                metrics = end_to_end(wl, rec, session_build_s, setup_times, cpu_s, rss_mb, out)
    except Exception:
        traceback.print_exc()
        out.attempted += 1
        out.failed += 1
        out.failures.append("run raised")
        metrics = {}
    finally:
        if spark is not None:
            stop_jvm(spark)

    phases["setups"] = sum(setup_times)
    print("phases " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()), file=sys.stderr)
    for f in out.failures:
        print(f"FAILED {f}", file=sys.stderr)
    units = END_TO_END if not args.trace else PER_LAYER
    for k, v in metrics.items():
        print(f"{k:32s} {v:.6g} {units[k]}", file=sys.stderr)
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 1 if out.failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
