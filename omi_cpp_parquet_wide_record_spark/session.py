"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set fleet-wide on a real cluster:
AQE on (runtime coalescing + skew-join splitting), shuffle partitions sized to
cores (not the 200 default), UTC session timezone (bit-identity vs DuckDB
oracle and the reference's GMT timestamp formatting, ref NQ:85-88), and Arrow
execution enabled since every custom kernel runs through mapInArrow.

Importing this module must not import pyspark: the package ``__init__``
imports it, and ``daemon`` runs after the package ``__init__`` but before
pyspark is imported.
"""

from __future__ import annotations

import os
import re
import sys
import zipimport
from typing import TYPE_CHECKING, Mapping

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

ENGINE_DAEMON = f"{__package__}.daemon"
# the directory that holds the package: the checkout root, or a
# ``--py-files`` zip
_ENGINE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def local_cores(environ: Mapping[str, str]) -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on (its
    affinity mask, which ``nproc`` reports too; ``os.cpu_count()`` counts
    the whole machine's)."""
    if "SPARK_GRAFT_CPUS" in environ:
        return int(environ["SPARK_GRAFT_CPUS"])
    return len(os.sched_getaffinity(0))


def engine_daemon_fits(master: str, environ: Mapping[str, str], cwd: str,
                       parent: str = _ENGINE_PARENT) -> bool:
    """Whether Python workers import this engine when their daemon starts
    (``python -m ENGINE_DAEMON``), so that it may be their daemon.

    ``environ`` and ``cwd`` are what the driver JVM launches workers with.
    It must be a local master, whose workers the driver JVM starts, and a
    JVM launched by this Python process (no ``PYSPARK_GATEWAY_PORT``). The
    first entry of the workers' path that holds the package (the working
    directory ``-m`` puts first, then ``PYTHONPATH``) must be the engine's
    ``parent``, a directory: a ``--py-files`` zip is put on the path only
    by a task."""
    if not re.fullmatch(r"local(\[[^\]]*\])?", master) \
            or "PYSPARK_GATEWAY_PORT" in environ:
        return False
    path = [e for e in environ.get("PYTHONPATH", "").split(os.pathsep) if e]
    if not environ.get("PYTHONSAFEPATH"):
        path.insert(0, cwd)
    for entry in path:
        entry = os.path.join(cwd, entry)
        if os.path.isdir(os.path.join(entry, __package__)):
            return os.path.realpath(entry) == os.path.realpath(parent)
    return False


def _worker_launch() -> tuple[Mapping[str, str], str]:
    """The environment and working directory the driver JVM starts Python
    workers with: this process's own until it launches the JVM, the JVM's
    once it runs (it outlives ``spark.stop()``, and a later ``os.chdir`` or
    ``PYTHONPATH`` edit here does not reach it)."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return os.environ, os.getcwd()
    system = jvm.java.lang.System
    env = {k: v for k in ("PYTHONPATH", "PYTHONSAFEPATH")
           if (v := system.getenv(k)) is not None}
    return env, system.getProperty("user.dir")


def get_spark(
    app_name: str = "omi-wide-record-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cores`` defaults to ``local_cores(os.environ)``. On a real cluster the
    same config block ships via spark-submit --conf; nothing here is
    local-only except the master URL and the worker daemon module, which is
    the engine's (``daemon``) only where ``engine_daemon_fits``.
    """
    from pyspark.sql import SparkSession

    if cores is None:
        cores = local_cores(os.environ)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    extra_conf = extra_conf or {}
    master = extra_conf.get("spark.master", f"local[{cores}]")
    builder = (
        SparkSession.builder.master(master)
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
    if engine_daemon_fits(master, *_worker_launch()):
        builder = builder.config("spark.python.daemon.module", ENGINE_DAEMON)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
