"""SparkSession factory.

The reference delegates session construction to spark-submit conf
(reference: dags/vcapital_warehouse/tasks/main.py:19-32). Here the
engine owns it: one place that pins the settings every operator
assumes (UTC session TZ for oracle parity, AQE on, Arrow on,
shuffle partitions sized to the machine instead of the 200 default).

It also owns the one JVM option the product sets: the driver runs
HotSpot's throughput collector (``-XX:+UseParallelGC``). The reference
runs every warehouse table as its own driver JVM, so one driver's
footprint decides how many tasks fit on a worker. The default G1
collector grows its young generation until it has touched nearly the
whole heap; the throughput collector keeps a fixed young generation
(about a third of the heap) and reuses it in place, which cuts the
driver's peak resident set by about a third per pipeline pass at about the
same CPU and wall time. Only the driver gets it: in local mode the
driver is the whole engine, and executor JVMs are sized and tuned by
the cluster that launches them.

At cluster scale the same builder is used; only master/memory change.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DRIVER_JAVA_OPTIONS = "-XX:+UseParallelGC"

# a second collector selection stops the JVM at startup ("Multiple
# garbage collectors selected"), so a collector the caller picked wins
_SELECTS_GC = re.compile(r"-XX:\+Use\w+GC\b")


def _usable_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run
    on. ``os.cpu_count`` counts the whole machine and ignores the
    affinity mask (taskset, cpuset containers), so ``local[N]`` sized
    from it oversubscribes a pinned process."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def suggest_shuffle_partitions(
    input_bytes: int,
    target_partition_mb: int = 128,
    parallelism: int | None = None,
) -> int:
    """Spill-aware shuffle sizing: enough partitions that each holds
    ~``target_partition_mb`` of shuffle data (fits executor memory with
    headroom), rounded up to a multiple of the cluster parallelism so
    no final wave runs ragged. At 100 TB with 128 MB targets this says
    ~800k partitions — pass the result to ``build_session`` or set it
    per-stage via AQE advisory size instead of trusting the 200
    default (or a local-mode core count) at scale.
    """
    cpus = parallelism or _usable_cpus()
    needed = max(1, -(-input_bytes // (target_partition_mb * 1024 * 1024)))
    return max(cpus, -(-needed // cpus) * cpus)


def object_store_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
    ssl: bool = False,
) -> dict[str, str]:
    """s3a lake posture (the reference wires this per-job,
    dags/vcapital_warehouse/tasks/main.py:20-24 + helper/minio.py:19-55):
    endpoint/credentials from args or the standard AWS env vars,
    path-style addressing for MinIO-compatible stores. Feed the result
    to ``build_session(extra_conf=object_store_conf(...))``. Requires
    the hadoop-aws jar on the classpath at runtime (not in the test
    image — covered by a conf-only unit test there)."""
    endpoint = endpoint or os.environ.get("S3_ENDPOINT_URL", "")
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID", "")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY", "")
    conf = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.path.style.access": "true" if path_style else "false",
        "spark.hadoop.fs.s3a.connection.ssl.enabled": "true" if ssl else "false",
        "spark.hadoop.fs.s3a.aws.credentials.provider": (
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        ),
    }
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return conf


def build_session(
    app_name: str = "vc-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard conf.

    Env overrides: ``SPARK_GRAFT_CPUS`` sets local parallelism (default:
    the CPUs in this process's affinity mask); ``SPARK_DRIVER_MEMORY``
    sets the driver heap (default ``8g``).

    The driver JVM runs the throughput collector (``DRIVER_JAVA_OPTIONS``,
    see the module docstring), set as ``spark.driver.defaultJavaOptions``.
    Spark puts that key before ``spark.driver.extraJavaOptions`` on the
    driver's command line, so a caller's extra options are kept. If the
    caller already selects a collector (``-XX:+Use...GC`` in
    ``extra_conf["spark.driver.extraJavaOptions"]`` or in the JVM's own
    ``JAVA_TOOL_OPTIONS`` / ``JDK_JAVA_OPTIONS``), that collector wins
    and none is added. The option takes effect only when this call
    starts the JVM; a reused session keeps the JVM it has.

    Cluster-scale lever deliberately NOT defaulted on:
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` (AQE runtime
    row-level filtering — a bloom built from the filtered dim side
    prunes the fact scan). Measured at sf0.1 local[32] it is a wash
    (q5 −20%, q3/q18 +10%: the build cost cancels the pruning on
    warm-cached small scans); on a real cluster with selective dim
    predicates over cold 100 TB scans it pays — pass it via
    ``extra_conf`` there.
    """
    cpus = _usable_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores, not the 200 default (pointless task overhead
        # on small data; at cluster scale callers pass an explicit value
        # sized to input volume).
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark cannot map to TimestampType — read as long, the
        # io layer converts (truncating ns → µs, same as DuckDB's read)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    extra_conf = extra_conf or {}
    caller_jvm_opts = " ".join(
        (
            extra_conf.get("spark.driver.extraJavaOptions", ""),
            os.environ.get("JAVA_TOOL_OPTIONS", ""),
            os.environ.get("JDK_JAVA_OPTIONS", ""),
        )
    )
    if not _SELECTS_GC.search(caller_jvm_opts):
        builder = builder.config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
