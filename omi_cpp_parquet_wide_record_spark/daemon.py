"""Python worker daemon of engine sessions: ``pyspark.daemon`` importing a
compiled pyspark.

Spark starts each Python worker daemon as ``python -m <daemon module>``
with ``$SPARK_HOME/python/lib/pyspark.zip`` ahead of site-packages on
``PYTHONPATH``. The zip holds no ``.pyc``, so every daemon compiles
pyspark from source before it forks a worker (``import pyspark.worker``
~0.8 s from the zip, ~0.2 s from an installed, compiled copy, 4 vCPU).
When another entry of this process's own path holds a pyspark of the
zip's exact version, this module takes the zip out of ``sys.path`` first,
so the daemon and every worker it forks import that copy. Otherwise the
path is left as it is and the daemon is Spark's stock one.

It imports nothing else before the fork: no worker inherits a thread or
pool from the daemon. ``session.get_spark`` names this module in
``spark.python.daemon.module`` only where the workers can import the
engine when the daemon starts (``session.engine_daemon_fits``).
"""

from __future__ import annotations

import os
import re
import sys
import zipimport

_VERSION = re.compile(r"""^__version__\b[^=]*=\s*["']([^"']+)["']""", re.M)


def pyspark_version(entry: str) -> str | None:
    """The ``__version__`` in ``pyspark/version.py`` under the path entry
    ``entry`` (a directory or a zip archive), read as text without
    importing it; None when the entry holds none."""
    try:
        if os.path.isdir(entry or "."):
            with open(os.path.join(entry, "pyspark", "version.py"),
                      encoding="utf-8") as f:
                src = f.read()
        else:
            src = zipimport.zipimporter(entry).get_data(
                "pyspark/version.py").decode("utf-8")
    except (OSError, zipimport.ZipImportError, UnicodeDecodeError):
        return None
    m = _VERSION.search(src)
    return m.group(1) if m else None


def drop_pyspark_zip(path: list[str], importer_cache: dict) -> str | None:
    """Take the zip archive pyspark would be imported from out of ``path``
    (every copy of the entry) and its ``importer_cache`` entry, when the
    next path entry holding pyspark holds the same version. Returns the
    dropped entry, or None when ``path`` is left unchanged: pyspark would
    not come from a zip, or the next copy is missing or of another
    version."""
    archive = version = None
    for entry in path:
        if entry == archive:
            continue
        found = pyspark_version(entry)
        if found is None:
            continue
        if archive is None:
            if os.path.isdir(entry or "."):
                return None
            archive, version = entry, found
            continue
        if found != version:
            return None
        path[:] = [e for e in path if e != archive]
        # runpy's search for this module cached a zipimporter for it
        importer_cache.pop(archive, None)
        return archive
    return None


if __name__ == "__main__":
    drop_pyspark_zip(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
