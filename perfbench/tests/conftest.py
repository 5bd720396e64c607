from __future__ import annotations

import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(BENCH.parent))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    from sparkstats import RETAIN_CONF

    builder = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark-local")))
    )
    for k, v in RETAIN_CONF.items():
        builder = builder.config(k, v)
    s = builder.getOrCreate()
    yield s
    s.stop()
