from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import numpy as np
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

FIXTURES = REPO / "tests" / "fixtures"


@pytest.fixture(scope="session")
def goldens() -> dict:
    return json.loads((FIXTURES / "goldens.json").read_text())


@pytest.fixture(scope="session")
def series(goldens) -> np.ndarray:
    return np.asarray(goldens["series"], dtype=np.float64)


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession (local[4] keeps test startup light)."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(os.environ.get("SPARK_TEST_MASTER", "local[4]"))
        .appName("matrixprofiler-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(group, fn)``: ``fn()`` and the number of Spark jobs
    it launched."""
    sc = spark.sparkContext

    def run(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store learns of jobs through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


def sf_dir(scale: str = "sf0.001") -> str:
    return f"/root/testdata/{scale}"
