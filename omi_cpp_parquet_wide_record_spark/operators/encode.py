"""Distributed per-column encode: the engine's replacement for the
reference's Parquet sink (O11, ref NQ:3385-3398 — StreamWriter with default
dictionary encoding, UNCOMPRESSED, 1,000-row groups).

Spark shape (SURVEY.md §3):

    df
      .withColumn(__pid, pmod(xxhash64(partition/salt cols), num_pids))   # stable work units
      .filter(~__pid.isin(committed))                                     # resume anti-filter
      .repartition(num_pids, __pid)      # shuffle boundary #1 (colocate=
                                         # "shuffle"; colocate="local"
                                         # skips it — zero-shuffle encode)
      .mapInArrow(encode_task)   # batches split into pid runs columnar-side
                                 # -> write_chunks: Arrow batches -> numpy
                                 # kernels -> chunk files
      -> manifest shards executor-side -> pid rollup -> driver commit     # tiny collect: shard names + pids

Work-unit ids (__pid) are *content-derived* (xxhash64 of the partition
columns mod N), not Spark partition indexes, so they are stable across runs,
cluster sizes, and AQE decisions — that is what makes resume sound. Skew is
tamed by salting: the pid hash always includes a bucket term
pmod(xxhash64(key), salt) so a hot language/domain spreads over `salt`
distinct pids (SURVEY.md §2.2). Only metadata ever reaches the driver; chunk
payloads go straight from executors to the store.

Chunk file layout: [column payloads...][footer JSON][footer_len u32 LE][OWRC1]
— self-describing, so the decode path needs only file paths.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from omi_cpp_parquet_wide_record_spark.codecs import encode_column
from omi_cpp_parquet_wide_record_spark.plans.snapshot import (
    MANIFEST_SCHEMA, ChunkStore,
)
from omi_cpp_parquet_wide_record_spark.selector import choose_codec

CHUNK_MAGIC = b"OWRC1"
PID_COL = "__owr_pid"

# pid-level rollup yielded by write_chunks (bounded by the pid count —
# unlike chunk-level manifest rows, which scale with the data and stay
# executor-side in manifest shards)
SUMMARY_SCHEMA = pa.schema([
    ("shard_file", pa.string()),
    ("pid", pa.int32()),
    ("rows", pa.int64()),
    ("bytes_in", pa.int64()),
    ("bytes_out", pa.int64()),
    ("chunks", pa.int64()),
])

# Worker-global codec plan cache. Spark reuses Python worker processes
# across tasks (spark.python.worker.reuse), so one trial-selection per
# (run, partition value, column) serves every task the worker executes —
# without it, each of the (possibly hundreds of) tasks re-ran the selector
# trials for the same language groups. Keyed by run_id so distinct jobs
# never share plans; size-capped as a leak guard.
_WORKER_PLAN_CACHE: dict = {}
_WORKER_PLAN_CACHE_MAX = 65536

# resume filter: isin() literals up to this many committed pids, a
# broadcast anti-join beyond (a million-literal isin blows up the plan)
_ISIN_MAX = 4096


@dataclass
class EncodeResult:
    snapshot: dict
    rows: int
    bytes_in: int
    bytes_out: int
    seconds: float
    pids_encoded: int
    pids_skipped: int

    @property
    def ratio(self) -> float:
        return self.bytes_in / self.bytes_out if self.bytes_out else float("nan")


def _nested_stats(arr: pa.Array) -> tuple[str | None, str | None]:
    """Zone-map bounds for a NESTED chunk column (r5, VERDICT r4 #3):
    stats serialize as a JSON OBJECT instead of a scalar —

      list/large_list: {"len": bound of value_lengths,
                        "val": bound of flattened child values}   (child
                        entry present only when the child has scalar stats)
      map:             {"len": entry-count bound, "val": item-value bound}
      struct:          {"f:<name>": bound per child field with stats}

    Readers address these through virtual filter columns ``c#len``,
    ``c#val`` and ``c#f:<field>`` (prune_files picks chunks,
    read_chunk_table rows). Existential semantics make the flattened
    value range sound for pruning: a chunk can hold a row with SOME
    element matching iff the [min,max] of all elements could match —
    the same rule a scalar column's zone map already uses. The object
    form never collides with scalar stats on the read side: scalar
    numeric stats try_cast to null on '{', and the string path guards
    on a leading '"'."""
    t = arr.type
    nn = arr.drop_null() if arr.null_count else arr
    if len(nn) == 0:
        return None, None
    lo_obj: dict[str, object] = {}
    hi_obj: dict[str, object] = {}

    def _add(key: str, child: pa.Array) -> None:
        smin, smax = _column_stats(child)
        if smin is not None:
            lo_obj[key] = json.loads(smin)
            hi_obj[key] = json.loads(smax)

    import pyarrow.compute as pc
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        lens = pc.list_value_length(nn)
        mm = pc.min_max(lens)
        lo_obj["len"] = mm["min"].as_py()
        hi_obj["len"] = mm["max"].as_py()
        _add("val", nn.flatten())
    elif pa.types.is_map(t):
        off = nn.offsets.to_numpy(zero_copy_only=False)
        if len(off):
            import numpy as np
            lens = np.diff(off.astype(np.int64))
            lo_obj["len"] = int(lens.min())
            hi_obj["len"] = int(lens.max())
            lo, hi = int(off[0]), int(off[-1])
            _add("val", nn.items.slice(lo, hi - lo))
    elif pa.types.is_struct(t):
        if isinstance(nn, pa.ChunkedArray):     # pragma: no cover
            nn = nn.combine_chunks()
        for i, f in enumerate(t):
            _add(f"f:{f.name}", nn.field(i))
    if not lo_obj:
        return None, None
    return json.dumps(lo_obj), json.dumps(hi_obj)


def _column_stats(arr: pa.Array) -> tuple[str | None, str | None]:
    """Zone-map bounds for one chunk column: JSON-encoded min/max of the
    non-null values (timestamps as epoch micros); nested columns get a
    JSON-object form (see _nested_stats). None for types without a
    useful total order here (binary) or all-null chunks."""
    t = arr.type
    if pa.types.is_nested(t):
        return _nested_stats(arr)
    if not (pa.types.is_integer(t) or pa.types.is_floating(t)
            or pa.types.is_timestamp(t) or pa.types.is_date(t)
            or pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_boolean(t)):
        return None, None
    if arr.null_count == len(arr):
        return None, None
    import pyarrow.compute as pc
    if pa.types.is_floating(t) and pc.any(pc.is_nan(arr)).as_py():
        # a NaN sorts above every number (Spark) but min_max skips it:
        # bounds without it would prune its rows, so record none
        return None, None
    mm = pc.min_max(arr)
    if pa.types.is_timestamp(t):
        # normalize to epoch MICROS regardless of the column's own unit —
        # prune_files compares filter datetimes as micros, so a ms/ns
        # column's raw int64 would silently mis-prune (ADVICE r2 #4).
        # Integer unit math on the RAW counts (never through as_py or a
        # checked cast: a safe ns->us cast RAISES on sub-microsecond
        # values), and asymmetric rounding — floor the min, ceil the max
        # — because truncating the max down could prune a chunk that
        # holds a matching value (123.9us vs 'x > 123us').
        scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1}[t.unit]
        lo = mm["min"].cast(pa.int64()).as_py()
        hi = mm["max"].cast(pa.int64()).as_py()
        if t.unit == "ns":
            lo, hi = lo // 1000, -((-hi) // 1000)
        else:
            lo, hi = lo * scale, hi * scale
        return json.dumps(lo), json.dumps(hi)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    if pa.types.is_date(t):
        lo = pa.scalar(lo, type=t).cast(pa.int64()).as_py()
        hi = pa.scalar(hi, type=t).cast(pa.int64()).as_py()
    return json.dumps(lo), json.dumps(hi)


BLOOM_P = 2147483647          # 2^31 - 1 (BIGINT-safe mod-p hashing)
BLOOM_MAX_ROWS = 8192         # beyond this a fixed bitset saturates
BLOOM_BITS = 8192             # 1 KB per chunk column
BLOOM_K = 4
BLOOM_PREFIX = 64             # hash only each value's first 64 bytes:
#                               equal values have equal prefixes, so
#                               pruning on the prefix hash stays SOUND —
#                               and building a bloom over a fat html
#                               column costs O(64/row), not a second
#                               full pass over the corpus


def bloom_positions(arr: pa.Array) -> np.ndarray:
    """The (len(arr), BLOOM_K) bloom bit indexes of each value of a
    null-free bytes-like array: k=4 Kirsch-Mitzenmacher indexes from two
    mod-p Horner hashes of the value's first BLOOM_PREFIX bytes. The one
    hash behind both the bitsets ``_column_bloom`` writes and the probes
    ``prune_files`` makes."""
    from omi_cpp_parquet_wide_record_spark.codecs.base import bytes_block
    from omi_cpp_parquet_wide_record_spark.operators.dedup import (
        _token_hashes_modp,
    )
    lens, corpus_mv = bytes_block(arr)
    corpus = np.frombuffer(corpus_mv, dtype=np.uint8)
    h1 = _token_hashes_modp(corpus, lens, 257, 1, cap=BLOOM_PREFIX)
    h2 = _token_hashes_modp(corpus, lens, 263, 1, cap=BLOOM_PREFIX)
    return (h1[:, None] + np.arange(BLOOM_K) * h2[:, None]) % BLOOM_BITS


def _column_bloom(arr: pa.Array) -> str | None:
    """Base64 Bloom bitset over a bytes-like chunk column (Iceberg-style
    bloom metadata), set at ``bloom_positions``. None for non-bytes
    types, oversized chunks, or all-null columns — readers treat missing
    blooms as 'may contain'."""
    t = arr.type
    if not (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
        return None
    if len(arr) == 0 or len(arr) > BLOOM_MAX_ROWS:
        return None
    nn = arr.drop_null() if arr.null_count else arr
    if len(nn) == 0:
        return None
    bits = np.zeros(BLOOM_BITS, dtype=bool)
    bits[bloom_positions(nn).ravel()] = True
    import base64
    return base64.b64encode(np.packbits(bits).tobytes()).decode()


def _write_chunk(chunks_dir: str, pid: int, seq: int, table: pa.Table,
                 plan_cache: dict, run_id: str, tag: str,
                 overrides: dict | None = None,
                 group_cols: list[str] | None = None) -> list[dict]:
    """Encode every column of one chunk, write the file, return manifest rows."""
    fname = f"chunk-p{pid:05d}-s{seq:04d}-{tag}.owrc"
    rows: list[dict] = []
    payloads: list[bytes] = []
    offset = 0
    footer_cols = []
    # codec choices are cached per (partition value, column): salt buckets
    # of the same partition value share one distribution, so one trial run
    # covers all of them (selector cost / salt)
    if group_cols:
        gkey = tuple(str(table.column(c)[0]) for c in group_cols
                     if c in table.schema.names) or pid
    else:
        gkey = pid
    for name in table.schema.names:
        arr = table.column(name)
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        key = (run_id, gkey, name)   # run-scoped: jobs never share plans
        forced = (overrides or {}).get(name)
        if key not in plan_cache:
            if forced:
                plan_cache[key] = forced
            else:
                ch = choose_codec(arr)
                plan_cache[key] = ch.codec
                # seed the shared-state slot with the winning trial's
                # trained plan: the first real encode then REPLAYS what
                # the trial already trained instead of training again
                # (the drift guard retrains if the full column stops
                # matching the sampled distribution)
                seeded = (ch.plans or {}).get(ch.codec)
                if seeded:
                    plan_cache[key + ("shared",)] = seeded
        # cross-chunk codec state (FSST trained tables): same scope as the
        # codec choice — chunks of one partition value share a distribution
        shared = plan_cache.setdefault(key + ("shared",), {})
        try:
            enc = encode_column(arr, plan_cache[key], shared=shared)
        except (ValueError, TypeError):
            # an auto-chosen codec can be invalidated by data outside the
            # sample (e.g. bitpack picked from a non-negative sample, then a
            # negative value in the full column / a later chunk reusing the
            # plan cache). Fall back and re-cache rather than abort the
            # distributed job; explicit overrides still raise.
            if forced:
                raise
            try:
                enc = encode_column(arr, "for")
            except (ValueError, TypeError):
                enc = encode_column(arr, "plain")
            plan_cache[key] = enc.codec
        digest = hashlib.sha256(enc.payload).hexdigest()
        smin, smax = _column_stats(arr)
        rows.append({
            "chunk_file": fname, "pid": pid, "seq": seq, "column": name,
            "codec": enc.codec, "params": json.dumps(enc.params),
            "rows": enc.rows, "nulls": enc.nulls, "bytes_in": enc.bytes_in,
            "bytes_out": len(enc.payload), "offset": offset,
            "length": len(enc.payload), "sha256": digest, "run_id": run_id,
            "stat_min": smin, "stat_max": smax,
            "bloom": _column_bloom(arr),
        })
        footer_cols.append({"name": name, "codec": enc.codec,
                            "params": enc.params, "offset": offset,
                            "length": len(enc.payload), "sha256": digest})
        payloads.append(enc.payload)
        offset += len(enc.payload)
    footer = json.dumps({"pid": pid, "seq": seq, "rows": table.num_rows,
                         "columns": footer_cols}).encode()
    with open(os.path.join(chunks_dir, fname), "wb") as f:
        for p in payloads:
            f.write(p)
        f.write(footer)
        f.write(len(footer).to_bytes(4, "little"))
        f.write(CHUNK_MAGIC)
    return rows


def write_chunks(pid_batches, *, chunks_dir: str, manifests_dir: str,
                 run_id: str, chunk_rows: int, chunk_bytes: int,
                 overrides: dict | None = None,
                 group_cols: list[str] | None = None):
    """The store's one executor-side writer: every write path
    (``encode_dataframe``, ``rewrite_small_chunks``, the owrc sink) feeds
    it ``(pid, batch)`` pairs from inside a Spark task.

    Per pid, batches top up an accumulator and a chunk is flushed
    whenever the row or byte budget trips; a run larger than
    ``chunk_rows`` splits into budget-sized chunks instead of flushing
    whole, so chunk size stays deterministic even when Arrow delivers a
    pid's rows as one oversized batch (with a write sort order this is
    what gives consecutive chunks disjoint key ranges). All slicing is
    zero-copy. The task's chunk-level manifest rows go to ONE parquet
    shard executor-side — they scale with the data and never reach the
    driver — and the only output is the pid rollup (``SUMMARY_SCHEMA``,
    bounded by the pid count) the driver commits."""
    from pyspark import TaskContext
    tc = TaskContext.get()
    tag = f"{run_id[:8]}-t{tc.taskAttemptId() if tc else 0}-{uuid.uuid4().hex[:6]}"
    if len(_WORKER_PLAN_CACHE) > _WORKER_PLAN_CACHE_MAX:
        _WORKER_PLAN_CACHE.clear()
    acc: dict[int, list[pa.RecordBatch]] = {}
    acc_rows: dict[int, int] = {}
    acc_bytes: dict[int, int] = {}
    seq: dict[int, int] = {}
    out_rows: list[dict] = []

    def flush(pid: int):
        if not acc.get(pid):
            return
        out_rows.extend(_write_chunk(chunks_dir, pid, seq.get(pid, 0),
                                     pa.Table.from_batches(acc[pid]),
                                     _WORKER_PLAN_CACHE, run_id, tag,
                                     overrides, group_cols))
        seq[pid] = seq.get(pid, 0) + 1
        acc[pid], acc_rows[pid], acc_bytes[pid] = [], 0, 0

    for pid, batch in pid_batches:
        pos = 0
        while pos < batch.num_rows:
            take = min(batch.num_rows - pos,
                       chunk_rows - acc_rows.get(pid, 0))
            sl = batch.slice(pos, take)
            pos += take
            acc.setdefault(pid, []).append(sl)
            acc_rows[pid] = acc_rows.get(pid, 0) + take
            acc_bytes[pid] = acc_bytes.get(pid, 0) + sl.nbytes
            if acc_rows[pid] >= chunk_rows or acc_bytes[pid] >= chunk_bytes:
                flush(pid)
    for pid in list(acc):
        flush(pid)
    if not out_rows:
        return
    import pyarrow.parquet as pq
    shard = f"manifest-shard-{run_id[:8]}-{tag}.parquet"
    pq.write_table(pa.table({f.name: [r[f.name] for r in out_rows]
                             for f in MANIFEST_SCHEMA}, schema=MANIFEST_SCHEMA),
                   os.path.join(manifests_dir, shard))
    # rows counted once per chunk, via the first data column
    first_col = out_rows[0]["column"]
    agg: dict[int, list] = {}
    for r in out_rows:
        a = agg.setdefault(r["pid"], [0, 0, 0, 0])
        a[0] += r["rows"] if r["column"] == first_col else 0
        a[1] += r["bytes_in"]
        a[2] += r["bytes_out"]
        a[3] += 1
    yield pa.RecordBatch.from_pydict({
        "shard_file": [shard] * len(agg),
        "pid": list(agg),
        "rows": [a[0] for a in agg.values()],
        "bytes_in": [a[1] for a in agg.values()],
        "bytes_out": [a[2] for a in agg.values()],
        "chunks": [a[3] for a in agg.values()],
    }, schema=SUMMARY_SCHEMA)


def _encode_task_factory(chunks_dir: str, manifests_dir: str, run_id: str,
                         chunk_rows: int, chunk_bytes: int,
                         overrides: dict | None = None,
                         group_cols: list[str] | None = None):
    """Build the mapInArrow function: split each batch into pid runs and
    feed them to ``write_chunks``."""

    def pid_runs(batches):
        for batch in batches:
            pids = batch.column(PID_COL).to_numpy()
            if len(pids) == 0:
                continue
            # group the batch by pid columnar-side (cheaper than a JVM row
            # sort of the whole partition), then split at run boundaries
            if len(pids) > 1 and (pids[1:] != pids[:-1]).any():
                order = np.argsort(pids, kind="stable")
                batch = batch.take(pa.array(order))
                pids = pids[order]
            data = batch.drop_columns([PID_COL])
            change = np.flatnonzero(pids[1:] != pids[:-1]) + 1
            bounds = np.concatenate(([0], change, [len(pids)]))
            for lo, hi in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
                yield int(pids[lo]), data.slice(lo, hi - lo)

    def task(batches):
        yield from write_chunks(
            pid_runs(batches), chunks_dir=chunks_dir,
            manifests_dir=manifests_dir, run_id=run_id,
            chunk_rows=chunk_rows, chunk_bytes=chunk_bytes,
            overrides=overrides, group_cols=group_cols)

    return task


def pid_expr(partition_by: list[str] | None, salt_key: str | None,
             num_pids: int, salt: int):
    """Content-derived work-unit id: pmod(xxhash64(partition cols [+ salt
    bucket]), num_pids). The salt bucket splits hot partition values."""
    if partition_by:
        cols = [F.col(c) for c in partition_by]
        if salt_key is not None and salt > 1:
            cols.append(F.pmod(F.xxhash64(F.col(salt_key)), F.lit(salt)))
        return F.pmod(F.xxhash64(*cols), F.lit(num_pids)).cast("int")
    if salt_key is None:
        raise ValueError("need partition_by and/or salt_key")
    return F.pmod(F.xxhash64(F.col(salt_key)), F.lit(num_pids)).cast("int")


def _spark_murmur3_int32(ks):
    """Spark's Murmur3Hash of an int32 column (seed 42), vectorized —
    bit-exact against F.hash(int) (pinned by test). Public Murmur3_x86_32
    single-block path; needed driver-side to choose shuffle-key preimages
    without a Spark job."""
    import numpy as np
    ks = ks.astype(np.uint32)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    k1 = ks * c1
    k1 = (k1 << np.uint32(15)) | (k1 >> np.uint32(17))
    k1 = k1 * c2
    h1 = np.uint32(42) ^ k1
    h1 = (h1 << np.uint32(13)) | (h1 >> np.uint32(19))
    h1 = h1 * np.uint32(5) + np.uint32(0xE6546B64)
    h1 ^= np.uint32(4)                     # length in bytes
    h1 ^= h1 >> np.uint32(16)
    h1 = h1 * np.uint32(0x85EBCA6B)
    h1 ^= h1 >> np.uint32(13)
    h1 = h1 * np.uint32(0xC2B2AE35)
    h1 ^= h1 >> np.uint32(16)
    return h1.astype(np.int32)


def _exact_partition_key(num_tasks: int):
    """Column expr routing pid p to shuffle partition p % num_tasks
    EXACTLY: Spark's hash partitioning places a row by
    pmod(murmur3(key), n), so for each target partition t we search (a
    vectorized coupon-collector over the driver-side murmur3 above) an
    integer preimage k_t with pmod(murmur3(k_t), n) == t, and the key is
    the pid's preimage via one array-literal lookup. Pure plan metadata:
    the array is num_tasks ints, the search is O(n log n) hashes."""
    import numpy as np
    pre = np.full(num_tasks, -1, dtype=np.int64)
    found, start = 0, 0
    while found < num_tasks:
        ks = np.arange(start, start + max(4096, num_tasks * 4),
                       dtype=np.int64)
        start = int(ks[-1]) + 1
        part = np.mod(_spark_murmur3_int32(ks).astype(np.int64),
                      num_tasks)
        part = np.where(part < 0, part + num_tasks, part)
        # first preimage per still-missing partition
        for k, t in zip(ks[pre[part] == -1],
                        part[pre[part] == -1]):
            if pre[t] == -1:
                pre[t] = k
                found += 1
    lut = F.lit([int(x) for x in pre])
    # cast to int: Spark hashes ints and longs differently, and the
    # preimages were searched under the int32 hash
    return F.element_at(lut, (F.col(PID_COL) % num_tasks) + 1).cast("int")


def encode_dataframe(
    df: DataFrame,
    out_dir: str,
    partition_by: list[str] | None = None,
    salt_key: str | None = None,
    num_pids: int | None = None,
    salt: int = 64,
    chunk_rows: int = 65536,
    chunk_bytes: int = 64 << 20,
    resume: bool = True,
    run_id: str | None = None,
    codec_overrides: dict | None = None,
    colocate: str = "shuffle",
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    upsert_key: str | None = None,
    branch: str | None = None,
) -> EncodeResult:
    """Encode a DataFrame into the chunk store at ``out_dir``.

    partition_by: value columns that should be homogeneous per work unit
    (e.g. ["lang"] — DICT/FSST tables then specialize per language).
    salt_key: high-cardinality column (e.g. "url") hashed into the pid to
    split skewed partition_by values across `salt` buckets.
    colocate: how a pid's rows reach one encode kernel.
      - "shuffle" (default): one repartition co-locates each pid globally
        — one chunk set per pid, best for fine-grained pids / bounded
        file counts.
      - "local": NO data shuffle; every input partition groups ITS rows
        by pid and writes per-(task, pid) chunks. At the 100 TB end this
        removes the single full-data shuffle — the most expensive stage
        of the job — at the price of more chunk files (tasks x local pid
        groups; compaction bounds read amplification later). Use it when
        the input partitioning is already reasonably sized and pids are
        coarse (e.g. partition_by=["lang"], salt=1). Resume stays sound
        unchanged: a commit only ever happens after the whole job, so a
        committed pid has ALL its rows encoded in either mode and the
        pid anti-filter applies identically.
    sort_by: Iceberg-style write sort order (write.sort-order). A
      task-local sort (sortWithinPartitions — NO extra shuffle) orders
      each pid's rows by these columns before chunking, so every chunk
      covers a narrow range of the sort key: zone maps then prune
      point/range reads to ~one chunk per pid instead of all of them,
      and DELTA/FOR/RLE see sorted runs (better ratios on keys). The
      encode task's stable pid grouping preserves the order into chunks.
    zorder_by: multi-column write layout (OPTIMIZE ZORDER BY). Like
      sort_by but the task-local sort key is the Morton interleave of
      2-4 columns' normalized ordinals (operators/zorder.py), so zone
      maps prune on ANY of the named columns instead of only the first
      of a lexicographic order. Costs one column-pruned min/max
      aggregate over the input for the normalization range
      (layout-only statistics, values are clamped). Mutually exclusive
      with sort_by.
    upsert_key: MERGE-style replace-by-key (Iceberg upsert). The batch's
      distinct key values are committed as an equality-delete file IN THE
      SAME snapshot as the appended data: the delete is sequence-scoped
      at this commit, so it hides only PRIOR rows with those keys — one
      atomic pointer flip, no deleted-but-not-replaced state ever visible,
      and a crash before the commit leaves the store untouched (orphan
      chunks only, GC-able). Costs one extra column-pruned pass over
      ``df`` to collect the distinct keys (driver-held, like every delete
      file — right for CDC-size batches; rewrite the corpus via
      compaction instead of upserting all of it). Requires
      ``resume=False``: the pid-level resume filter would silently skip
      batch rows landing in already-committed pids.
    """
    t0 = time.time()
    spark = df.sparkSession
    run_id = run_id or uuid.uuid4().hex
    store = ChunkStore(out_dir).create()
    if upsert_key is not None:
        if resume:
            raise ValueError(
                "upsert_key requires resume=False: the pid-level resume "
                "filter would skip batch rows in already-committed pids")
        if upsert_key not in df.columns:
            raise ValueError(f"upsert_key {upsert_key!r} is not a column "
                             f"of the batch ({df.columns})")
    # branch commits (write-audit-publish) stage against the BRANCH head:
    # resume state, upsert semantics, and the retired-name guard all read
    # from it (at the fork it IS the main head)
    prior = store.branch_head(branch) if branch is not None \
        else store.current_snapshot()
    if prior is not None:
        # schema evolution: a name ever dropped or renamed-away may not
        # come back — old chunks still carry it physically, so reuse
        # would make alias resolution ambiguous (the reason Iceberg has
        # field ids)
        bad = set(prior.get("retired_names", [])) & set(df.columns)
        if bad:
            raise ValueError(
                f"column name(s) {sorted(bad)} were retired by a schema "
                "evolution (dropped or renamed away) and cannot be "
                "reused; pick a fresh name")
    if num_pids is None:
        num_pids = max(spark.sparkContext.defaultParallelism * 8, 8)

    if salt_key is None and partition_by is None:
        salt_key = df.columns[0]

    pid = pid_expr(partition_by, salt_key, num_pids, salt)
    work = df.withColumn(PID_COL, pid)

    committed = (set(prior["committed_pids"])
                 if resume and prior is not None else set())
    if committed:
        if len(committed) <= _ISIN_MAX:
            work = work.filter(
                ~F.col(PID_COL).isin(*[int(p) for p in committed]))
        else:
            # a million-literal isin() blows up the plan; anti-join a
            # (broadcast) pid DataFrame instead — the committed set is
            # bounded by num_pids, so it broadcasts at any corpus size
            done = spark.createDataFrame(
                [(int(p),) for p in sorted(committed)],
                f"{PID_COL} int")
            work = work.join(F.broadcast(done), PID_COL, "left_anti")

    if colocate == "shuffle":
        shuffle_key = F.col(PID_COL)
        # encode-stage task count: pids are the content-derived
        # work/resume/skew unit, while each Python task behind the shuffle
        # costs ~17 ms of wall on 4 vCPU (runner start plus shuffle
        # fetch), so several pids ride in one task
        num_tasks = max(spark.sparkContext.defaultParallelism * 4, 8)
        if num_pids <= num_tasks * 4:
            # few-pids regime: hash-partitioning m pids into ~m tasks
            # collides (birthday) — some tasks carry 2-3 work units
            # and set the last wave's tail. r5 first fixed this with
            # 2m partitions (most tasks one pid, ~40% empty); the
            # exact mapping below beats that on BOTH axes: pid p is
            # routed to partition p % T deterministically (zero
            # collisions, every task carries ⌈m/T⌉ or ⌊m/T⌋ units),
            # and T ≈ max(2·cores, m/2) halves the task count — the
            # JVM->Python Arrow runner costs are per TASK (measured
            # floor, a no-op consumer of a 100k-row web-corpus shuffle
            # on 4 vCPU: 246 tasks 6.2 s, 123 4.2 s, 64 3.2 s).
            num_tasks = min(num_pids,
                            max(spark.sparkContext
                                .defaultParallelism * 2,
                                -(-num_pids // 2)))
            shuffle_key = _exact_partition_key(num_tasks)
        work = work.repartition(num_tasks, shuffle_key)
    elif colocate != "local":
        raise ValueError(f"colocate must be 'shuffle' or 'local': {colocate}")

    if zorder_by:
        if sort_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        from omi_cpp_parquet_wide_record_spark.operators.zorder import (
            ZKEY_COL, zorder_key,
        )
        zkey = zorder_key(df, zorder_by)
        work = (work.withColumn(ZKEY_COL, zkey)
                .sortWithinPartitions(PID_COL, ZKEY_COL).drop(ZKEY_COL))
    elif sort_by:
        work = work.sortWithinPartitions(PID_COL, *sort_by)

    # upsert: collect the batch's distinct keys (column-pruned extra pass)
    # for the same-snapshot equality delete. The keys are collected even
    # when the store LOOKED empty at the unlocked read above: a
    # concurrent first commit could land before ours takes the lock, and
    # a delete-less upsert would then leave duplicate keys (ADVICE r5).
    # On a truly empty store the sequence-scoped delete hides nothing —
    # same live view, one spare metadata file.
    upsert_delete = None
    if upsert_key is not None:
        upsert_delete = (df.select(upsert_key).distinct().toArrow()
                         .rename_columns([upsert_key]), upsert_key)

    import pyarrow.compute as pc
    task = _encode_task_factory(store.chunks_dir, store.manifests_dir, run_id,
                                chunk_rows, chunk_bytes, codec_overrides,
                                partition_by)
    summaries = work.mapInArrow(task, _summary_ddl()).toArrow() \
        .cast(SUMMARY_SCHEMA)
    if summaries.num_rows == 0 and not committed:
        raise ValueError("nothing to encode: input DataFrame is empty")
    shard_files = sorted(set(summaries.column("shard_file").to_pylist()))
    new_pids = set(summaries.column("pid").to_pylist())
    snap = store.commit(shard_files, _spark_to_arrow_schema(df), run_id,
                        new_pids=new_pids, add_delete=upsert_delete,
                        branch=branch)
    bi = pc.sum(summaries.column("bytes_in")).as_py() or 0
    bo = pc.sum(summaries.column("bytes_out")).as_py() or 0
    rows = pc.sum(summaries.column("rows")).as_py() or 0
    return EncodeResult(
        snapshot=snap, rows=rows, bytes_in=bi, bytes_out=bo,
        seconds=time.time() - t0, pids_encoded=len(new_pids),
        pids_skipped=len(committed),
    )


def _summary_ddl() -> str:
    return ("shard_file string, pid int, rows long, bytes_in long,"
            " bytes_out long, chunks long")


def _spark_to_arrow_schema(df: DataFrame) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(df.schema)
