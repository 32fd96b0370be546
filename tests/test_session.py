"""Zip-directory reuse across ``importlib.invalidate_caches()`` calls
(``session.reuse_zip_directories``): an unchanged archive is not re-read,
while a rewritten, re-stamped or deleted one behaves as on stock CPython;
and every Python worker that runs an engine function carries it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from omi_cpp_parquet_wide_record_spark import session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ re-reads zip directories lazily itself")


_MODULES = ("zr_m1", "zr_m2", "zr_m3", "zr_m4")


def _write_zip(path: str, modules: dict[str, str]) -> None:
    # stored, not deflated: a same-length source keeps the archive's size
    with open(path, "wb") as f, zipfile.ZipFile(f, "w") as z:
        for name, src in modules.items():
            z.writestr(zipfile.ZipInfo(f"{name}.py", (2020, 1, 1, 0, 0, 0)),
                       src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``zr_m1`` on ``sys.path`` with ``zr_m1``
    imported, and a list of the ``zipimport._read_directory`` calls made
    on it from then on."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zr_m1": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("zr_m1").X == 1
    reads = []
    stock = zipimport._read_directory

    def counted(archive):
        if archive == path:
            reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield path, reads
    for m in _MODULES:
        sys.modules.pop(m, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_engine_import_installs_zip_directory_reuse():
    f = zipimport.zipimporter.invalidate_caches
    assert (f.__module__, f.__qualname__) == (
        session.__name__, "reuse_zip_directories.<locals>.invalidate_caches")
    session.reuse_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is f


def test_unchanged_zip_archive_is_not_reread(archive):
    path, reads = archive
    # the first call stamps the archive: the directory read at import
    # time carries no stamp, and the archive may have changed since
    importlib.invalidate_caches()
    assert len(reads) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert sys.path_importer_cache[path]._files \
        is zipimport._zip_directory_cache[path]


def test_rewritten_zip_archive_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    _write_zip(path, {"zr_m1": "X = 1\n", "zr_m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module("zr_m2").Y == 2


def test_same_size_zip_rewrite_with_new_mtime_is_reread(archive):
    path, reads = archive
    _write_zip(path, {"zr_m1": "X = 1\n", "zr_m3": "Z = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zr_m3").Z == 3
    before = os.stat(path)
    _write_zip(path, {"zr_m1": "X = 1\n", "zr_m4": "Z = 4\n"})
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    after = os.stat(path)
    assert (after.st_size, after.st_ino) == (before.st_size, before.st_ino)
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zr_m4").Z == 4


def test_deleted_zip_archive_invalidates_as_stock(archive):
    path, reads = archive
    _write_zip(path, {"zr_m1": "X = 1\n", "zr_m2": "Y = 2\n"})
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    # stock CPython drops the cached directory and empties the importer
    assert path not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[path]._files == {}
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zr_m2")


def test_python_workers_carry_zip_directory_reuse(spark):
    def report(batches):
        from omi_cpp_parquet_wide_record_spark.operators import (  # noqa
            decode,
        )
        f = zipimport.zipimporter.invalidate_caches
        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "id": b.column("id"),
                "impl": [f"{f.__module__}:{f.__qualname__}"] * b.num_rows})

    want = (f"{session.__name__}:"
            "reuse_zip_directories.<locals>.invalidate_caches")
    first = spark.range(0, 4, 1, 4).mapInArrow(report, "id long, impl string")
    assert {r.impl for r in first.collect()} == {want}
    n = spark.sparkContext.defaultParallelism * 2
    second = spark.range(0, n, 1, n).mapInArrow(report,
                                                "id long, impl string")
    rows = second.collect()
    assert sorted(r.id for r in rows) == list(range(n))
    assert {r.impl for r in rows} == {want}
