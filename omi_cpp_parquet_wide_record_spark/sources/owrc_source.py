"""Spark Python DataSource for the engine's chunk store (format "owrc").

The reference's only source is a pcap file iterator (O1, ref NQ:3777-3809);
the engine's native format deserves a first-class Spark source AND sink:

    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource)
    spark.dataSource.register(OwrcDataSource)
    df = spark.read.format("owrc").load("/path/to/store")
    df.write.format("owrc").mode("overwrite").save("/path/to/store")

Read: one input partition per chunk file (so a 10^12-row store fans out
over the cluster), column pruning pushed into the chunk footer (only
requested columns are decoded), batches stream out as Arrow, and
pushed filters prune chunk files and drop rows in ``read_chunk_table``.
Write: each
task feeds its partition's Arrow batches to the store's one chunk writer
(``operators.encode.write_chunks``), which writes the chunk files and a
manifest shard executor-side; the commit message is only the task's pid
rollup (shard name and pid). The driver's commit() references every
shard and flips the snapshot pointer atomically — Spark's two-phase
writer protocol mapped 1:1 onto the store's Iceberg-style commit, so a
failed job leaves only invisible orphan files. The engine's kernels never
materialize Python rows on either path.

For resume-from-checkpoint and content-derived work units use
operators.encode.encode_dataframe; this sink is the plain df.write idiom
(work unit = Spark partition).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource, DataSourceArrowWriter, DataSourceReader, InputPartition,
    WriterCommitMessage,
)


class OwrcInputPartition(InputPartition):
    def __init__(self, path: str, deletes: list[tuple[str, str, str]] = (),  # noqa: B006
                 aliases: dict[str, list[str]] | None = None,
                 filters: list[tuple[str, str, object]] = ()):  # noqa: B006
        self.path = path
        # [(delete_file_path, physical_key_col, live_key_col), ...]
        # applicable to THIS chunk's commit epoch (ScanPlan.deletes_for)
        self.deletes = list(deletes)
        # schema-evolution aliases of the snapshot being read:
        # {live column name: [retired physical names]}
        self.aliases = dict(aliases or {})
        self.filters = list(filters)     # translated by pushFilters


class OwrcReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema = schema
        self.root = options.get("path")
        # snapshot=N time-travels; sinceSnapshot=M reads incrementally
        # (only manifests committed after M); ref="tag" reads a named
        # ref — resolved by the same ScanPlan decode_store uses
        self._snapshot = options.get("snapshot")
        self._since = options.get("sincesnapshot",
                                  options.get("since_snapshot"))
        self._ref = options.get("ref")
        self._filters: list[tuple[str, str, object]] = []
        if not self.root:
            raise ValueError("owrc source needs a path")

    def pushFilters(self, filters):
        """Translate Spark's filters into the engine's list, which prunes
        chunk files and drops rows exactly in ``read_chunk_table``; yield
        back only those with no engine op, on a nested field, or that
        the engine's evaluator rejects for the column's type."""
        from pyspark.sql.datasource import (
            EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull,
            IsNull, LessThan, LessThanOrEqual, StringStartsWith,
        )
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            _row_mask,
        )
        ops = {EqualTo: "==", GreaterThan: ">", GreaterThanOrEqual: ">=",
               LessThan: "<", LessThanOrEqual: "<=",
               StringStartsWith: "startswith", In: "in",
               IsNull: "is_null", IsNotNull: "is_not_null"}
        empty = to_arrow_schema(self.schema).empty_table()
        for f in filters:
            if type(f) not in ops or len(f.attribute) != 1:
                yield f
                continue
            op = ops[type(f)]
            ours = (f.attribute[0], op, list(f.value) if op == "in" else
                    getattr(f, "value", None))
            try:
                _row_mask(empty, [ours])
            except (pa.ArrowException, TypeError, ValueError):
                yield f     # e.g. == on a struct: Arrow has no kernel
                continue
            self._filters.append(ours)

    def partitions(self):
        import os
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            ScanPlan,
        )
        plan = ScanPlan.resolve(self.root, self._snapshot, self._ref,
                                self._since)
        return [OwrcInputPartition(os.path.join(plan.store.chunks_dir, f),
                                   plan.deletes_for(n), plan.aliases,
                                   self._filters)
                for f, n in plan.kept_files(self._filters).items()]

    def read(self, partition: OwrcInputPartition | None):
        from pyspark.sql.pandas.types import to_arrow_schema
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            read_chunk_table,
        )
        if partition is None:
            # Spark reads an empty plan (every file pruned) as read(None)
            return
        yield from read_chunk_table(
            partition.path, to_arrow_schema(self.schema), partition.aliases,
            deletes=partition.deletes,
            filters=partition.filters).to_batches()


class OwrcCommitMessage(WriterCommitMessage):
    def __init__(self, rollup: list[dict]):
        # the task's pid rollup (SUMMARY_SCHEMA rows): shard name + pids
        self.rollup = rollup


class OwrcArrowWriter(DataSourceArrowWriter):
    def __init__(self, schema, options, overwrite: bool):
        import uuid
        from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
        self.root = options.get("path")
        if not self.root:
            raise ValueError("owrc sink needs a path")
        self.schema = schema
        self.chunk_rows = int(options.get("chunk_rows", 65536))
        self.chunk_bytes = int(options.get("chunk_bytes", 64 << 20))
        self.run_id = uuid.uuid4().hex
        # overwrite maps to a REPLACE commit at commit() time — the old
        # table stays intact (and visible) until the atomic pointer flip,
        # so a failed overwrite job never destroys existing data
        self.overwrite = overwrite
        ChunkStore(self.root).create()

    def write(self, iterator):
        """Executor side: the task's Arrow batches (work unit = Spark
        partition) go through the store's one chunk writer; only the
        shard name and pid travel back to the driver."""
        from pyspark import TaskContext
        from omi_cpp_parquet_wide_record_spark.operators.encode import (
            write_chunks,
        )
        from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
        tc = TaskContext.get()
        pid = tc.partitionId() if tc else 0
        store = ChunkStore(self.root)
        rollup = write_chunks(
            ((pid, b) for b in iterator), chunks_dir=store.chunks_dir,
            manifests_dir=store.manifests_dir, run_id=self.run_id,
            chunk_rows=self.chunk_rows, chunk_bytes=self.chunk_bytes)
        return OwrcCommitMessage([r for b in rollup for r in b.to_pylist()])

    def commit(self, messages):
        """Driver side: one atomic snapshot commit over every task's
        manifest shard (the two-phase protocol's visibility flip)."""
        from pyspark.sql.pandas.types import to_arrow_schema
        from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
        rollup = [r for m in messages for r in m.rollup]
        ChunkStore(self.root).commit(
            sorted({r["shard_file"] for r in rollup}),
            to_arrow_schema(self.schema), self.run_id,
            new_pids={r["pid"] for r in rollup}, replace=self.overwrite)

    def abort(self, messages):
        # nothing to undo: the pointer never flipped, so the written chunk
        # files are invisible orphans (removable by plans/gc.py)
        pass


class OwrcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "owrc"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            ScanPlan,
        )
        # time-travel/ref reads present THAT snapshot's schema (it may
        # predate a rename/drop evolution), nullable like decode_store's
        o = self.options
        return from_arrow_schema(ScanPlan.resolve(
            o["path"], o.get("snapshot"), o.get("ref")).schema)

    def reader(self, schema):
        return OwrcReader(schema, self.options)

    def writer(self, schema, overwrite: bool):
        return OwrcArrowWriter(schema, self.options, overwrite)
