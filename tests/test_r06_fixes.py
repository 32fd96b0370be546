"""Round-6 correctness fixes (ADVICE r5) — focused regression tests."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from pyspark.sql import functions as F


# --------------------------------------------------------------- zorder

def test_zorder_key_k4_never_negative(spark):
    """4 z-columns at 16 bits put bit 15 of col 3 into the long's sign
    bit; the key must stay non-negative for every row (bit budget drops
    to 15 per column at k=4)."""
    from omi_cpp_parquet_wide_record_spark.operators.zorder import (
        zorder_key,
    )
    df = spark.range(0, 2000).select(
        F.col("id").alias("a"),
        (F.lit(2000) - F.col("id")).alias("b"),
        (F.col("id") * 7 % 1999).alias("c"),
        (F.col("id") * 13 % 1999).alias("d"))
    k = zorder_key(df, ["a", "b", "c", "d"])
    n_neg = df.select(k.alias("z")).filter(F.col("z") < 0).count()
    assert n_neg == 0


def test_zorder_string_ordinal_is_lexicographic(spark):
    """Short strings must order before longer, lexicographically-later
    ones: 'aa' < 'b' (the unpadded base-256 fold said 'b' < 'aa')."""
    from omi_cpp_parquet_wide_record_spark.operators.zorder import _ordinal
    df = spark.createDataFrame(
        [("aa",), ("b",), ("",), ("ab",), ("aaa",)], "s string")
    rows = df.select(F.col("s"), _ordinal(df, "s").alias("o")).collect()
    ords = {r["s"]: r["o"] for r in rows}
    ranked = sorted(ords, key=lambda s: ords[s])
    assert ranked == sorted(ords), ords


# ------------------------------------------------- '#val' residual ops

@pytest.fixture(scope="module")
def _nested_store(tmp_path_factory):
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.session import get_spark
    spark = get_spark("pytest", cores=4, shuffle_partitions=8)
    out = str(tmp_path_factory.mktemp("r06") / "nested_store")
    df = spark.createDataFrame(
        [(i, [f"tag{i % 7}", f"x{i}"]) for i in range(200)],
        "id long, tags array<string>")
    encode_dataframe(df, out, salt_key="id", num_pids=4)
    return spark, out


def test_nested_val_startswith_residual(_nested_store):
    """startswith on the '#val' accessor passes pruning AND the residual
    (the residual dict previously raised KeyError for it)."""
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        decode_store,
    )
    spark, out = _nested_store
    got = decode_store(spark, out,
                       filters=[("tags#val", "startswith", "tag3")])
    ids = sorted(r["id"] for r in got.collect())
    assert ids == sorted(i for i in range(200) if i % 7 == 3)


def test_nested_val_null_ops_rejected(_nested_store):
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        decode_store,
    )
    spark, out = _nested_store
    with pytest.raises(ValueError, match="#val"):
        decode_store(spark, out, filters=[("tags#val", "is_null", None)])


# ------------------------------------------------- upsert / commit lock

def test_upsert_into_empty_store_carries_delete(spark, tmp_path):
    """The empty-store upsert shortcut is gone: the batch's equality
    delete is committed even when the store looked empty at the unlocked
    read (a concurrent first commit could land before the lock), and the
    live view stays one-row-per-key."""
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        decode_store,
    )
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    out = str(tmp_path / "upsert_empty")
    df = spark.createDataFrame([(i, i * 10) for i in range(50)],
                               "k long, v long")
    encode_dataframe(df, out, salt_key="k", num_pids=4, resume=False,
                     upsert_key="k")
    snap = ChunkStore(out).current_snapshot()
    assert snap["delete_files"], "upsert commit must carry its delete"
    got = decode_store(spark, out)
    assert got.count() == 50
    assert got.filter(F.col("k") == 7).collect()[0]["v"] == 70


def test_commit_rechecks_retired_names_under_lock(spark, tmp_path):
    """store.commit itself (the locked section) rejects a schema that
    reuses a retired name — the writer-side pre-check can be stale."""
    import pyarrow as pa
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        evolve_schema,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import (
        ChunkStore, CommitConflict,
    )
    out = str(tmp_path / "retired")
    df = spark.createDataFrame([(i, i) for i in range(20)],
                               "k long, old long")
    encode_dataframe(df, out, salt_key="k", num_pids=2)
    evolve_schema(out, rename={"old": "renamed"})
    store = ChunkStore(out)
    bad_schema = pa.schema([("k", pa.int64()), ("old", pa.int64())])
    with pytest.raises(CommitConflict, match="retired"):
        store.commit([], bad_schema, "r06-test", new_pids=set())


def test_expire_snapshots_age_guard_on_snapshot_json(spark, tmp_path):
    """A dead-but-young snapshot JSON survives expire_snapshots when
    older_than_s is set (the commit-in-flight window), and is removed
    once the guard is 0."""
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans.gc import expire_snapshots
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    out = str(tmp_path / "gcage")
    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    encode_dataframe(df, out, salt_key="k", num_pids=2)
    encode_dataframe(df.select((F.col("k") + 10).alias("k")), out,
                     salt_key="k", num_pids=2, resume=False)
    store = ChunkStore(out)
    rep = expire_snapshots(store, keep_last=1, older_than_s=3600)
    assert rep["removed_snapshots"] == []
    rep = expire_snapshots(store, keep_last=1, older_than_s=0)
    assert len(rep["removed_snapshots"]) == 1


def test_expire_snapshots_unlocks_before_file_phase(spark, tmp_path,
                                                    monkeypatch):
    """expire_snapshots holds the commit lock for the metadata phase
    only: a writer can take the lock while orphan files are removed."""
    import threading
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans import gc
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    out = str(tmp_path / "gclock")
    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    encode_dataframe(df, out, salt_key="k", num_pids=2)
    encode_dataframe(df, out, salt_key="k", num_pids=2, resume=False)
    store = ChunkStore(out)
    seen = []
    real = gc._remove_orphan_chunks

    def probe(*args):
        def take_lock():
            try:
                with store._commit_lock(timeout_s=1):
                    seen.append("locked")
            except TimeoutError as e:
                seen.append(e)
        t = threading.Thread(target=take_lock)
        t.start()
        t.join(timeout=30)
        return real(*args)

    monkeypatch.setattr(gc, "_remove_orphan_chunks", probe)
    rep = gc.expire_snapshots(store, keep_last=1)
    assert seen == ["locked"]
    assert len(rep["removed_snapshots"]) == 1


# ------------------------------------------------- fingerprint parity

def _zip_package(zpath: str, extra: dict[str, str] | None = None) -> str:
    """Zip the package's .py files (plus ``extra``: {archive path:
    source}) as a --py-files archive; return the engine fingerprint a
    fresh interpreter importing the package from it computes."""
    import zipfile

    import omi_cpp_parquet_wide_record_spark as pkg
    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(dirpath, f)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
        for rel, src in (extra or {}).items():
            zf.writestr(rel, src)
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from omi_cpp_parquet_wide_record_spark.version import "
        "engine_fingerprint; print(engine_fingerprint())" % zpath)
    return subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        check=True).stdout.strip()


def test_engine_fingerprint_matches_under_zipimport(tmp_path):
    """A checkout and a zip of the same tree hash the same normal form —
    one store's fingerprint is valid across local and --py-files runs."""
    from omi_cpp_parquet_wide_record_spark.version import (
        engine_fingerprint,
    )
    local_fp = engine_fingerprint()
    zip_fp = _zip_package(str(tmp_path / "pkg.zip"))
    assert zip_fp == local_fp


def test_engine_fingerprint_covers_new_codec_module_in_zip(tmp_path):
    """A codec module that exists only in the archive changes the zip's
    fingerprint: the module list comes from the package itself, not from
    a hand-kept list that can drift from the checkout's."""
    plain = _zip_package(str(tmp_path / "plain.zip"))
    extra = _zip_package(str(tmp_path / "extra.zip"), {
        "omi_cpp_parquet_wide_record_spark/codecs/zz_extra.py": "X = 1\n"})
    assert len(extra) == 16 and extra != plain


def test_engine_fingerprint_without_archive_terminates(tmp_path):
    """A package that holds none of the surface modules (their parent
    packages missing too) still fingerprints, hashing nothing."""
    import omi_cpp_parquet_wide_record_spark.version as version
    pkg = tmp_path / "barepkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(open(version.__file__).read())
    code = ("import sys; sys.path.insert(0, %r); "
            "from barepkg.version import engine_fingerprint; "
            "print(engine_fingerprint())" % str(tmp_path))
    fp = subprocess.run([sys.executable, "-c", code], capture_output=True,
                        text=True, check=True, timeout=60).stdout.strip()
    assert len(fp) == 16
