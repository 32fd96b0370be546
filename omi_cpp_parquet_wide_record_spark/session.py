"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set fleet-wide on a real cluster:
AQE on (runtime coalescing + skew-join splitting), shuffle partitions sized to
cores (not the 200 default), UTC session timezone (bit-identity vs DuckDB
oracle and the reference's GMT timestamp formatting, ref NQ:85-88), and Arrow
execution enabled since every custom kernel runs through mapInArrow.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def reuse_zip_directories() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive's
    directory only when the archive changed on disk.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). On CPython < 3.13,
    ``zipimporter.invalidate_caches`` then re-reads the whole central
    directory of its archive at once, and a worker holds one zipimporter
    per imported subpackage of ``pyspark.zip`` (1,328 entries): 12-16
    reads of the same directory, ~0.25 CPU-s per task. CPython 3.13 made the
    re-read lazy; this backports the saving. The archive's
    ``(st_mtime_ns, st_size, st_ino)`` is recorded before each read, and
    a call that finds the same stamp and a cached directory rebinds that
    directory instead of reading it again. A rewritten, replaced or
    removed archive (or one ``stat`` fails on) takes the stock path.

    The package ``__init__`` imports this module, so every Python worker
    that unpickles an engine function installs it. Idempotent."""
    if sys.version_info >= (3, 13):
        return
    stock = zipimport.zipimporter.invalidate_caches
    if stock.__module__ == __name__:
        return
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        stamps[self.archive] = stamp
        return stock(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


reuse_zip_directories()


def get_spark(
    app_name: str = "omi-wide-record-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a real
    cluster the same config block ships via spark-submit --conf; nothing here
    is local-only except the master URL.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches cut JVM<->Python transfer overhead ~20% on
        # the encode path; memory stays bounded because Spark 4's
        # arrow.maxBytesPerBatch (64 MB default) caps batch bytes
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # let Python DataSources receive pushed filters (owrc zone maps)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # read parquet timestamps as TIMESTAMP (session-UTC), not NTZ —
        # keeps unix_micros/watermarks working and matches the DuckDB oracle
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
