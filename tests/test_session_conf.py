"""Session-factory conf tests: object-store preset wiring, default
parallelism, and the driver JVM's collector."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import session
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.session import (
    object_store_conf,
    suggest_shuffle_partitions,
)

REPO = Path(__file__).resolve().parent.parent


def _gc_names(spark) -> list[str]:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sorted(b.getName() for b in beans)


def test_object_store_conf_explicit_args():
    conf = object_store_conf(
        endpoint="http://minio:9000",
        access_key="ak",
        secret_key="sk",
        path_style=True,
        ssl=False,
    )
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "ak"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "sk"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "false"
    assert conf["spark.hadoop.fs.s3a.impl"].endswith("S3AFileSystem")


def test_object_store_conf_env_fallback(monkeypatch):
    monkeypatch.setenv("S3_ENDPOINT_URL", "http://env-endpoint:9000")
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "env-ak")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "env-sk")
    conf = object_store_conf()
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://env-endpoint:9000"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "env-ak"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "env-sk"


def test_object_store_conf_omits_empty(monkeypatch):
    for var in ("S3_ENDPOINT_URL", "AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY"):
        monkeypatch.delenv(var, raising=False)
    conf = object_store_conf()
    assert "spark.hadoop.fs.s3a.endpoint" not in conf
    assert "spark.hadoop.fs.s3a.access.key" not in conf


def test_suggest_shuffle_partitions_scales_with_input():
    # 100 TB at 128 MB target on 4000 cores: ~800k partitions,
    # rounded to a multiple of the parallelism
    n = suggest_shuffle_partitions(100 * 1024**4, 128, parallelism=4000)
    assert n >= 800_000 and n % 4000 == 0
    # 1 TB at 128 MB on 512 cores: exactly 8192, a multiple of the cores
    assert suggest_shuffle_partitions(1 << 40, 128, parallelism=512) == 8192
    # tiny input never goes below the parallelism
    assert suggest_shuffle_partitions(1, 128, parallelism=32) == 32


def test_default_parallelism_follows_cpu_affinity(monkeypatch):
    # a process pinned to 2 CPUs of a 64-CPU machine sizes for 2
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1})
    assert session._usable_cpus() == 2
    assert suggest_shuffle_partitions(1) == 2
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert suggest_shuffle_partitions(1) == 6


def test_driver_runs_throughput_collector(spark):
    assert _gc_names(spark) == ["PS MarkSweep", "PS Scavenge"]
    opts = spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions")
    assert session.DRIVER_JAVA_OPTIONS in opts


@pytest.mark.parametrize(
    "extra_java_options, java_tool_options",
    [("-XX:+UseG1GC -Dvc.probe=1", None), ("-Dvc.probe=1", "-XX:+UseG1GC")],
    ids=["extraJavaOptions", "JAVA_TOOL_OPTIONS"],
)
def test_caller_collector_wins(extra_java_options, java_tool_options):
    # two collector flags stop the JVM at startup, so a caller that picks
    # one must get exactly that one, plus its other options
    probe = textwrap.dedent(
        """
        import json, sys
        sys.path.insert(0, sys.argv[1])
        from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.session import build_session
        spark = build_session(
            "gc-probe",
            master="local[1]",
            extra_conf={"spark.driver.extraJavaOptions": sys.argv[2]},
        )
        jvm = spark._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        print(json.dumps({
            "gc": sorted(b.getName() for b in beans),
            "probe": jvm.java.lang.System.getProperty("vc.probe"),
        }))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k not in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    if java_tool_options:
        env["JAVA_TOOL_OPTIONS"] = java_tool_options
    out = subprocess.run(
        [sys.executable, "-c", probe, str(REPO), extra_java_options],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert "G1 Young Generation" in got["gc"]
    assert not any(name.startswith("PS ") for name in got["gc"])
    assert got["probe"] == "1"
