"""matrixprofiler_spark — a PySpark-native time-series rollup + downsample +
retention engine whose per-window aggregation kernels reproduce the checked
math of the matrixprofiler reference (movmean/movstd/MASS/STOMP/MPX/...).

Layout:
    kernels/    pure-numpy kernels, bit-exact vs the reference C++ goldens
    operators/  Spark DataFrame operators (rollup tiers, gap-fill, MP ops,
                dedup, similarity search)
    sources/    tokens-table synthesis & IO (Iceberg-shaped parquet)
    functions/  column-level helpers (text analysis, hashing)
    codecs/     Gorilla XOR + delta-of-delta bit-packed codecs
    plans/      partitioning/skew planning helpers
    streaming/  incremental/resume orchestration (snapshot checkpoints)

Importing the package also pins Spark's own archives in the Python worker
(``_pin_spark_archives``): every engine UDF unpickles into this package, so
each reused worker runs its later tasks without re-reading them.
"""

import os
import sys
import zipimport

__version__ = "0.2.0"


def _pin_spark_archives() -> None:
    """Stop ``importlib.invalidate_caches()`` from re-reading the zip
    directories of Spark's own archives.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task. On CPython < 3.12 that makes each zipimporter re-read its
    archive's directory: ``spark-core_*.jar`` (5,359 entries, 29-54 ms),
    ``pyspark.zip`` (1,328, 7-14 ms) and the py4j ``-src.zip``, once per
    importer, which summed to 0.12-0.29 s per task on a 4-core VM. Those
    archives do not change while a worker lives, so the re-read is skipped
    for archives whose realpath lies under ``$SPARK_HOME/python/lib/`` or
    ``$SPARK_HOME/jars/``. Every other archive (``addPyFile`` zips, and on
    standalone clusters everything under ``$SPARK_HOME/work/``) and every
    other finder is invalidated as before. CPython 3.12+ reads zip
    directories lazily, so there nothing is installed; nor without
    ``SPARK_HOME``, or when the pin is already in place."""
    home = os.environ.get("SPARK_HOME")
    invalidate = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or not home or invalidate.__module__ == __name__:
        return
    root = os.path.realpath(home)
    prefixes = tuple(os.path.join(root, *d, "") for d in (("python", "lib"), ("jars",)))

    def invalidate_caches(self):
        if not os.path.realpath(self.archive).startswith(prefixes):
            invalidate(self)

    invalidate_caches.__wrapped__ = invalidate
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_pin_spark_archives()
