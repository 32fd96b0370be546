"""The engine's Python worker daemon (``daemon``) and the session that
turns it on (``session.engine_daemon_fits``): the daemon drops
``pyspark.zip`` from the path only for a same-version copy, the session
picks it only where workers can import the engine at daemon start, and
workers forked from it import the driver's pyspark version and run Arrow,
pandas and engine tasks."""

# no ``from __future__ import annotations``: pandas_udf reads the type
# hints of the nested UDF below, which a string hint would hide

import os
import sys
import zipfile

import pandas as pd
import pyarrow as pa
import pytest

from omi_cpp_parquet_wide_record_spark import daemon, session

VERSION_PY = "__version__: str = '{}'\n"


def _zip_copy(path, version: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", VERSION_PY.format(version))
    return str(path)


def _dir_copy(path, version: str | None) -> str:
    (path / "pyspark").mkdir(parents=True)
    if version is not None:
        (path / "pyspark" / "version.py").write_text(
            VERSION_PY.format(version))
    return str(path)


@pytest.fixture
def worker_path(tmp_path):
    """A worker's path as Spark builds it: the working directory, then
    ``pyspark.zip`` (4.1.2), then an entry with no pyspark, then the
    directory ``site`` that the tests fill with another copy."""
    zipped = _zip_copy(tmp_path / "pyspark.zip", "4.1.2")
    other = tmp_path / "other"
    other.mkdir()
    return [str(tmp_path / "cwd"), zipped, str(other)], tmp_path / "site"


@pytest.mark.parametrize("version", ["4.1.1", None])
def test_daemon_keeps_path_for_another_or_no_version(worker_path, version):
    path, site = worker_path
    path.append(_dir_copy(site, version))
    before, cache = list(path), {path[1]: object()}
    assert daemon.drop_pyspark_zip(path, cache) is None
    assert path == before and before[1] in cache


def test_daemon_keeps_path_without_another_copy(worker_path):
    path, _ = worker_path
    before = list(path)
    assert daemon.drop_pyspark_zip(path, {}) is None
    assert path == before


def test_daemon_drops_zip_for_the_same_version(worker_path):
    path, site = worker_path
    zipped = path[1]
    path.append(_dir_copy(site, "4.1.2"))
    path.append(zipped)
    cache = {zipped: object(), path[0]: None}
    assert daemon.drop_pyspark_zip(path, cache) == zipped
    assert zipped not in path and path[-1] == str(site)
    assert zipped not in cache and path[0] in cache


def test_daemon_keeps_path_when_a_directory_copy_comes_first(tmp_path):
    first = _dir_copy(tmp_path / "a", "4.1.2")
    path = [first, _zip_copy(tmp_path / "pyspark.zip", "4.1.2")]
    before = list(path)
    assert daemon.drop_pyspark_zip(path, {}) is None
    assert path == before


def test_local_cores_counts_the_affinity_mask(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 3})
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    assert session.local_cores({}) == 2
    assert session.local_cores({"SPARK_GRAFT_CPUS": "3"}) == 3


def test_engine_daemon_gate(tmp_path):
    root = tmp_path / "checkout"
    (root / "omi_cpp_parquet_wide_record_spark").mkdir(parents=True)
    other = tmp_path / "other"
    (other / "omi_cpp_parquet_wide_record_spark").mkdir(parents=True)
    elsewhere = str(tmp_path)
    on_path = {"PYTHONPATH": os.pathsep.join(["/x", str(root)])}
    fits = session.engine_daemon_fits
    assert fits("local[4]", on_path, elsewhere, str(root))
    assert fits("local", {}, str(root), str(root))
    assert fits("local[*]", {"PYTHONPATH": "checkout"}, elsewhere, str(root))
    # the stock daemon: a non-local master, a JVM this process did not
    # launch, an engine inside a --py-files zip, an engine off the path or
    # behind another copy
    assert not fits("spark://host:7077", on_path, elsewhere, str(root))
    assert not fits("local-cluster[2,1,1024]", on_path, elsewhere, str(root))
    assert not fits("local[4]", {**on_path, "PYSPARK_GATEWAY_PORT": "41234"},
                    elsewhere, str(root))
    zipped = str(tmp_path / "owr_spark.zip")
    with zipfile.ZipFile(zipped, "w") as z:
        z.writestr("omi_cpp_parquet_wide_record_spark/__init__.py", "")
    assert not fits("local[4]", {"PYTHONPATH": zipped}, elsewhere, zipped)
    assert not fits("local[4]", {"PYTHONPATH": "/x"}, elsewhere, str(root))
    assert not fits("local[4]", on_path, str(other), str(root))
    # -P / PYTHONSAFEPATH: -m puts no working directory on the path
    assert not fits("local[4]", {"PYTHONSAFEPATH": "1"}, str(root), str(root))


def _zip_entries(pythonpath: str) -> list[str]:
    return [e for e in pythonpath.split(os.pathsep)
            if os.path.basename(e) == "pyspark.zip"]


def test_python_workers_import_driver_pyspark_version(spark):
    import pyspark

    def report(batches):
        import pyspark
        zipped = sorted(
            name for name, m in list(sys.modules.items())
            if "pyspark.zip" in (getattr(m, "__file__", None) or ""))
        for b in batches:
            n = b.num_rows
            yield pa.RecordBatch.from_pydict({
                "id": b.column("id"),
                "version": [pyspark.__version__] * n,
                "file": [pyspark.__file__] * n,
                "zipped": [",".join(zipped)] * n,
                "pythonpath": [os.environ.get("PYTHONPATH", "")] * n})

    rows = spark.range(0, 4, 1, 4).mapInArrow(
        report, "id long, version string, file string, zipped string, "
        "pythonpath string").collect()
    assert sorted(r.id for r in rows) == [0, 1, 2, 3]
    assert {r.version for r in rows} == {pyspark.__version__}
    (zipped,) = {z for r in rows for z in _zip_entries(r.pythonpath)}
    installed = daemon.pyspark_version(
        os.path.dirname(os.path.dirname(pyspark.__file__)))
    engine = spark.sparkContext.getConf().get(
        "spark.python.daemon.module") == session.ENGINE_DAEMON
    compiled = engine and installed == daemon.pyspark_version(zipped)
    for r in rows:
        assert r.file.startswith(zipped + os.sep) != compiled
        assert (r.zipped == "") == compiled


def test_forked_workers_run_arrow_pandas_and_spark_decode(
        spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators import decode as D
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )

    def doubled(batches):
        import pyarrow.compute as pc
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pc.multiply(b.column(0), 2)], ["id", "x"])

    rows = spark.range(0, 64, 1, 4).mapInArrow(doubled, "id long, x long")
    assert sorted(tuple(r) for r in rows.collect()) == \
        [(i, 2 * i) for i in range(64)]

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    got = spark.range(0, 64, 1, 4).select(plus_one("id").alias("y"))
    assert sorted(r.y for r in got.collect()) == list(range(1, 65))

    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 2000).select(
        F.col("id"), F.concat(F.lit("u"), F.col("id")).alias("url")), out,
        salt_key="id", num_pids=2, chunk_rows=250, sort_by=["id"])
    monkeypatch.setattr(D, "DRIVER_DECODE_BYTES", -1)
    read = D.decode_store(spark, out, filters=[("id", ">=", 1990)])
    assert sorted(tuple(r) for r in read.collect()) == \
        [(i, f"u{i}") for i in range(1990, 2000)]
