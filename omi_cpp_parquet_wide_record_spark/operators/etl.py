"""Reference ETL operators (SURVEY.md §2.1 O2-O14), re-expressed Spark-first.

The reference is a linear pcap->wide-record converter; its dataflow operators
map onto DataFrame primitives. This module gives each one a reusable builder
with the reference citation; `__spark_entry__.py` registers a DuckDB-checked
query per operator over the driver tables.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

# one live range-partitioned cache for dense_row_index (rotated per call)
_DENSE_INDEX_CACHE: dict[str, DataFrame] = {}


def spread_input(df: DataFrame) -> DataFrame:
    """Repartition a computation's input up to cluster parallelism when the
    upstream scan produced too few partitions (guide §2.5 input skew: a
    small or single-row-group parquet file is ONE scan task, which
    serializes every per-row expression downstream on one core — at any
    realistic table size the scan already has enough splits and this is a
    no-op). The shuffle moves only the columns the plan needs; results are
    row-order-independent by contract everywhere this is applied."""
    want = df.sparkSession.sparkContext.defaultParallelism
    try:
        have = df.rdd.getNumPartitions()
    except Exception:
        have = 1
    return df.repartition(want) if have < want else df


def protocol_filter(df: DataFrame, type_col: str, keep: str) -> DataFrame:
    """O2 (ref NQ:3401-3434): early predicate drop of non-matching records —
    the eth/vlan/ip strip that keeps only UDP. Catalyst pushes this into the
    source scan."""
    return df.filter(F.col(type_col) == keep)


def dense_row_index(df: DataFrame, order_col: str,
                    out_col: str = "pcap_index") -> DataFrame:
    """O3 (ref NQ:23-45): dense, deterministic, 1-based row counter.

    `monotonically_increasing_id` is not dense; a global window sort
    single-partitions at scale. The scalable shape: range-partition by the
    order column, count rows per partition (tiny first pass), broadcast the
    per-partition offsets, then cumcount within partitions — two linear
    passes, no global shuffle of data beyond the range partitioning.
    """
    spark = df.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism, 2)
    # persist: the count pass and the index pass must see the *same* range
    # partitioning (RangePartitioner samples; re-running it can move rows).
    # Rotated per callsite so repeated calls don't accumulate cached copies
    # of the full input (the cache must outlive this function — the index
    # pass below reads it lazily through the returned plan). Never reused:
    # a scan of a path plans the same whether or not its files changed.
    prev = _DENSE_INDEX_CACHE.pop("live", None)
    if prev is not None:
        try:
            prev.unpersist(False)
        except Exception:
            pass
    parted = df.repartitionByRange(n_parts, F.col(order_col)) \
               .sortWithinPartitions(order_col).persist()
    _DENSE_INDEX_CACHE["live"] = parted

    def count_task(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        total = sum(b.num_rows for b in batches)
        yield pa.RecordBatch.from_pydict(
            {"part": [pid], "cnt": [total]},
            schema=pa.schema([("part", pa.int32()), ("cnt", pa.int64())]))

    # RangePartitioner assigns ascending key ranges to ascending partition
    # ids, so partition id IS the range order — no need to materialize a
    # per-partition min (which also forced the order column through int()
    # and crashed for timestamp/string order columns)
    counts = sorted(
        parted.mapInArrow(count_task, "part int, cnt long").collect(),
        key=lambda r: r["part"])
    offsets = {}
    acc = 0
    for r in counts:
        offsets[r["part"]] = acc
        acc += r["cnt"]

    schema_str = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} long"

    def index_task(batches):
        from pyspark import TaskContext
        base = offsets.get(TaskContext.get().partitionId(), 0)
        seen = 0
        for b in batches:
            idx = pa.array(np.arange(seen + 1, seen + 1 + b.num_rows,
                                     dtype=np.int64) + base, type=pa.int64())
            seen += b.num_rows
            yield b.append_column(out_col, idx)

    return parted.mapInArrow(index_task, schema_str)


def envelope_projection(df: DataFrame, payload_col: str) -> DataFrame:
    """O4 (ref NQ:3447-3449, header structs NQ:107-220): fixed-offset
    envelope extraction — session (10 ASCII chars), big-endian u16 from the
    first two bytes — as pure column slicing/arithmetic."""
    t = F.col(payload_col)
    return df.withColumns({
        "session": F.substring(t, 1, 10),
        "be_u16": (F.ascii(F.substring(t, 1, 1)) * 256
                   + F.ascii(F.substring(t, 2, 1))).cast("int"),
    })


def explode_messages(df: DataFrame, payload_col: str,
                     id_col: str) -> DataFrame:
    """O5 (ref NQ:3451-3462): 1 packet row -> N message rows."""
    return df.select(F.col(id_col),
                     F.explode(F.split(F.col(payload_col), " ")).alias("token"))


def sequence_rewrite(df: DataFrame, id_col: str) -> DataFrame:
    """O6 (ref NQ:3457 + NQ:157-159): per-message sequence = header sequence
    + message index, *including* the first message (the reference's observed
    off-by-one, preserved). Pure column arithmetic after the explode."""
    i = F.col(id_col).cast("long")
    message_index = F.pmod(i, F.lit(4)) + 1
    # arithmetic shift = EXACT floor division by 4 for every int64 —
    # `/` on longs is DOUBLE division (inexact past 2^53, truncates toward
    # zero for negatives, disagreeing with pmod's floor bucketing)
    header_seq = F.shiftright(i, 2) * 7 + 1
    return df.withColumns({
        "message_index": message_index.cast("int"),
        "message_sequence": (header_seq + message_index).cast("long"),
    })


def type_dispatch(df: DataFrame, type_col: str,
                  value_col: str, types: list[str]) -> DataFrame:
    """O7+O10 (ref NQ:3466-3555 + record reset NQ:3013-3075): route each row
    to its message type's column set; all other typed columns stay NULL —
    the wide-record overlay as a when/otherwise projection."""
    cols = {
        f"{t}_value": F.when(F.col(type_col) == t, F.col(value_col))
        .otherwise(F.lit(None).cast("double"))
        for t in types
    }
    return df.withColumns(cols)


def field_decoders(df: DataFrame, text_col: str) -> DataFrame:
    """O9 (ref NQ:2678-2685 space-trim, NQ:2722 be16, NQ:341 be32): the wire
    decoders on character data — fixed-width slice trimmed at first space,
    big-endian integer folds from char codes."""
    t = F.col(text_col)
    c = lambda i: F.ascii(F.substring(t, i, 1)).cast("long")  # noqa: E731
    return df.withColumns({
        "stock": F.split(F.substring(t, 1, 8), " ").getItem(0),
        "be_u16": (c(1) * 256 + c(2)).cast("int"),
        "be_u32": (((c(1) * 256 + c(2)) * 256 + c(3)) * 256 + c(4)),
        "u48_fold": ((((((c(1) * 256 + c(2)) * 256 + c(3)) * 256 + c(4))
                       * 256 + c(5)) * 256 + c(6))),
    })


def csv_sink_format(df: DataFrame, cols: list[str]) -> DataFrame:
    """O14 (ref NQ:3300-3370): CSV row formatting with the reference's
    quirks preserved — trailing comma, and NULL optionals printed as empty
    slots (operator<< emits nothing but the comma still lands)."""
    return df.select(
        F.concat(F.concat_ws(",", *[
            F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]),
            F.lit(",")).alias("csv_row"))


def asof_join(left: DataFrame, right: DataFrame, key: str, ts: str,
              right_cols: list[str], suffix: str = "_asof") -> DataFrame:
    """As-of join without a UDF or a range join: for each left row, the
    latest right row with right.ts <= left.ts and the same key.

    Spark has no native ASOF JOIN; the scalable shape is the union-tag
    trick — one sort per key partition, last_value(ignoreNulls) over the
    merged stream, then keep left rows. One shuffle on the key, no
    quadratic candidate pairs (the common OLAP pattern for trades/quotes
    and slowly-changing enrichment)."""
    ltypes, rtypes = dict(left.dtypes), dict(right.dtypes)
    # the carried payload is ONE STRUCT per right row, null only on left
    # rows: last(ignorenulls) then skips exactly the left rows. Carrying
    # the right columns individually skipped right rows whose VALUE was
    # null — returning a stale older value instead of the latest row's
    # null, and potentially mixing columns from different right rows.
    pack_t = "struct<" + ", ".join(
        f"`{c}`:{rtypes[c]}" for c in right_cols) + ">"
    l = left.withColumn("__side", F.lit(1)) \
            .withColumn("__asof", F.lit(None).cast(pack_t))
    r = (right.select(key, ts, *right_cols)
         .withColumn("__side", F.lit(0))
         .withColumn("__asof", F.struct(*[F.col(c) for c in right_cols]))
         .drop(*right_cols))
    for c in left.columns:
        if c not in (key, ts):
            r = r.withColumn(c, F.lit(None).cast(ltypes[c]))
    merged = l.unionByName(r)
    from pyspark.sql import Window
    w = (Window.partitionBy(key)
         .orderBy(F.col(ts).asc(), F.col("__side").asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    out = merged.withColumn("__asof",
                            F.last("__asof", ignorenulls=True).over(w))
    for c in right_cols:
        out = out.withColumn(f"{c}{suffix}", F.col(f"__asof.{c}"))
    return out.filter(F.col("__side") == 1).drop("__side", "__asof")
