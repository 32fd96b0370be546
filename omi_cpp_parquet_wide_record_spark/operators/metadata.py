"""Iceberg-style metadata tables over the chunk store.

Iceberg exposes a table's commit/file/partition metadata as queryable
tables (``db.table.snapshots``, ``.files``, ``.partitions``, ``.refs``,
``.history``); the reference engine has no equivalent (its output is one
opaque Parquet file, ref NQ:3385-3398). The store's metadata is already
relational — snapshots are commit JSON, manifests are parquet — so each
kind maps onto a DataFrame:

    from omi_cpp_parquet_wide_record_spark.operators.metadata import (
        metadata_table)
    metadata_table(spark, store_dir, "files")        # one row per chunk
    metadata_table(spark, store_dir, "partitions")   # per-pid rollup
    metadata_table(spark, store_dir, "snapshots")    # commit history
    metadata_table(spark, store_dir, "refs")         # tags
    metadata_table(spark, store_dir, "deletes")      # equality-delete files

Scale: ``files``/``partitions`` read the manifests as a SPARK job (a
task per batch of manifest shards, each building the shard's live view
with the same ``ChunkStore.shard_view`` driver planning concatenates),
so chunk-level metadata rows never materialize on the driver: at 10^12
rows the files table is itself tens of millions of rows and must
distribute like any other scan. ``snapshots``/``refs``/``deletes`` are
commit metadata — driver-held and tiny by construction. The live view
matches what readers decode: pid-scoped rewrites hide superseded rows
and schema-evolution aliases canonicalize retired column names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from omi_cpp_parquet_wide_record_spark.operators.decode import ScanPlan
from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore

KINDS = ("snapshots", "history", "refs", "files", "partitions", "deletes")


def metadata_table(spark: SparkSession, store_dir: str, kind: str,
                   snapshot: int | None = None,
                   ref: str | None = None) -> DataFrame:
    """One of the store's metadata tables as a DataFrame (see module
    docstring). ``snapshot``/``ref`` pin ``files``/``partitions``/
    ``deletes`` to a historical or tagged snapshot; ``snapshots``/
    ``history``/``refs`` always describe the whole store."""
    store = ChunkStore(store_dir)
    if kind not in KINDS:
        raise ValueError(f"unknown metadata table {kind!r} "
                         f"(one of {KINDS})")

    if kind in ("snapshots", "history"):
        cur = store.current_snapshot()
        cur_id = cur["snapshot_id"] if cur else None
        rows = [(int(s["n"]), s["snapshot_id"], s.get("parent_id"),
                 int(s.get("created_ms") or 0), s["run_id"],
                 len(s.get("manifests", [])),
                 len(s.get("delete_files", [])),
                 s.get("rollback_of"),
                 s["snapshot_id"] == cur_id)
                for s in store.snapshots()]
        return spark.createDataFrame(
            rows, "n int, snapshot_id string, parent_id string, "
                  "created_ms long, run_id string, manifests int, "
                  "delete_files int, rollback_of int, is_current boolean")

    if kind == "refs":
        refs_ = store.refs()
        rows = [(name, "tag", int(n))
                for name, n in sorted(refs_["tags"].items())]
        rows += [(name, "branch", int(n))
                 for name, n in sorted(refs_["branches"].items())]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot int")

    plan = ScanPlan.resolve(store_dir, snapshot, ref)
    snap = plan.snap

    if kind == "deletes":
        rows = [(d["file"], d["key"],
                 int(d["n"]) if d.get("n") is not None else None)
                for d in store.delete_files(snap)]
        return spark.createDataFrame(
            rows, "file string, key string, n int")

    files = plan.live_rows(spark)
    if kind == "files":
        return files
    # partitions: per-pid rollup. Rows are counted per chunk FILE (every
    # column of a chunk shares its row count, but a chunk may LACK any
    # particular column under schema evolution — a first-live-column
    # filter under-counted pre-add-column chunks to zero)
    per_chunk = (files.groupBy("pid", "chunk_file")
                 .agg(F.max("rows").alias("c_rows"),
                      F.sum("bytes_in").alias("c_bi"),
                      F.sum("bytes_out").alias("c_bo"),
                      F.max("commit_n").alias("c_n")))
    return (per_chunk.groupBy("pid")
            .agg(F.count("*").alias("chunks"),
                 F.sum("c_rows").alias("rows"),
                 F.sum("c_bi").alias("bytes_in"),
                 F.sum("c_bo").alias("bytes_out"),
                 F.max("c_n").alias("last_commit_n")))
