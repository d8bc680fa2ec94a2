"""The benchmark's own Spark launcher: settings for a small local machine.

All scratch state (Spark local dir, event logs, temp files, the native
library cache, job base dirs) lives under the work directory inside the
checkout, so a run reads and writes nothing outside it.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

# The driver heap is fixed and pre-touched, so the process tree's RSS does
# not swing with when G1 grows the heap; peak_rss_mb then moves with what
# the Python workers and the JVM's off-heap memory hold.
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task slots: half the cores. A Python-UDF task keeps both a JVM
    task thread and a Python worker busy, so one slot per core puts about
    twice as many busy threads as cores on the machine, and the run
    measures the scheduler."""
    return max(1, nproc() // 2)


def configure_env(repo: Path, work: Path, run_dir: Path) -> None:
    """Process environment inherited by the JVMs and every Python worker.

    Must run before the JVM starts. Python workers are forked from a daemon
    that the JVM starts in its own cwd, so without the repo root on
    PYTHONPATH every mapInPandas fails with ModuleNotFoundError when the
    benchmark is launched from another directory. ``work/tmp`` outlives
    the run (it caches the compiled native library); ``run_dir`` does not."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    paths = [str(repo)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # one BLAS thread per Python worker: nproc workers each with a full
    # thread pool would oversubscribe the cores
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    # the native library is compiled into tempfile.gettempdir()
    os.environ["TMPDIR"] = str(tmp)
    # overrides spark.local.dir, and any SPARK_LOCAL_DIRS of the caller
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # every JVM, the spark-submit launcher included, keeps its temp files
    # in the run dir and writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"


def build_spark(run_dir: Path, event_log_dir: Path | None = None):
    """A local[task_slots] session; the event log is on only when traced."""
    from pyspark.sql import SparkSession

    cores = task_slots()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
        .config("spark.sql.shuffle.partitions", str(4 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(event_log_dir))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
