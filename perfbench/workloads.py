"""Datasets, operations and correctness checks of the benchmark workloads.

Every operation goes through the engine's public entry points only:
``operators.encode.encode_dataframe``, ``operators.decode.decode_store``,
``sources.pcap.read_pcap`` and ``operators.wide_record.parse_packets``.
The modules are always called through their attribute (``E.encode_dataframe``)
so that a traced run can wrap them at run time.

Correctness oracle: a per-column content digest, computed by one Spark
aggregate as ``sum(xxhash64(key, column) & 0xffffffff)`` plus the row count.
The sum is order-independent, keyed by the row's unique key (a value moved to
another row changes it) and cannot overflow a long at these sizes. The input
side is digested from the generator's own table, the output side from the
decoded store, so a bad encode, decode or layout shows as a mismatch.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from omi_cpp_parquet_wide_record_spark import fixtures as FX
from omi_cpp_parquet_wide_record_spark.operators import decode as D
from omi_cpp_parquet_wide_record_spark.operators import encode as E
from omi_cpp_parquet_wide_record_spark.operators import wide_record as W
from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
from omi_cpp_parquet_wide_record_spark.sources import pcap as P

# full-size inputs; --scale multiplies every row count
WEB_READ_ROWS = 8_000           # ~41 MB of Arrow input
ITCH_MESSAGES_PER_FILE = 4_000  # x nproc capture files
ITCH_PIDS = 8                   # encode work units of an ITCH store

# one measured point lookup in ten asks for an absent key: the fourth of
# every ten, so a run with four or more measured lookups includes one
# (warm-up lookups are all present). The lookup median leaves them out.
ABSENT_EVERY, ABSENT_AT = 10, 3
_MASK = 0xFFFFFFFF
_UTC = datetime.timezone.utc

class CheckFailed(Exception):
    """An operation returned a result that differs from the oracle."""


@dataclass
class OpRecord:
    kind: str
    seconds: float
    ok: bool
    bytes_in: int = 0              # logical input bytes the op processed
    bytes_out: int = 0             # stored bytes (ingest ops)
    files_kept: float | None = None    # fraction of chunk files pruning kept
    bytes_read: int | None = None      # manifest bytes of kept files' columns
    spark: dict = field(default_factory=dict)
    traced: bool = False               # recorded with tracing on
    cold: bool = False                 # warm-up op: checked, not measured
    absent: bool = False               # lookup of a key the data lacks


def digest(df, key: str, cols: list[str]) -> dict:
    """Row count and per-column keyed content digest of a DataFrame."""
    from pyspark.sql import functions as F
    exprs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        h = F.xxhash64(F.col(c)) if c == key else F.xxhash64(F.col(key), F.col(c))
        exprs.append(F.sum(h.bitwiseAND(F.lit(_MASK))).alias(c))
    return df.agg(*exprs).collect()[0].asDict()


def _py_values(t: pa.Table, cols: list[str]) -> list[dict]:
    """Rows as comparable Python values (timestamps as epoch micros)."""
    out = []
    for c in cols:
        a = t.column(c)
        if pa.types.is_timestamp(a.type):
            a = a.cast(pa.int64())
        elif pa.types.is_binary(a.type) or pa.types.is_large_binary(a.type):
            a = a.cast(pa.large_binary())
        elif pa.types.is_string(a.type):
            a = a.cast(pa.large_string())
        out.append(a.to_pylist())
    return [dict(zip(cols, vals)) for vals in zip(*out)] if out else []


# ------------------------------------------------------------- datasets

class Dataset:
    """One workload's input: its generator table (the oracle), how the
    engine reads it, and the parameters of the four read types."""

    name: str
    key: str                    # unique row key the digests are keyed by
    projection: list[str]
    partition_col: str
    read_cycle: tuple[str, ...]     # the measured loop's fixed op order
    oracle: pa.Table            # expected rows (in-process)
    columns: list[str]

    def source_df(self, spark):
        raise NotImplementedError

    def encode(self, spark, out_dir: str):
        raise NotImplementedError

    def lookup(self, rng: random.Random, absent: bool):
        raise NotImplementedError

    def window(self, rng: random.Random):
        raise NotImplementedError

    def input_sizes(self) -> dict:
        raise NotImplementedError

    def expected_digest(self, spark) -> dict:
        """The input's digest, cached next to the persisted input (it is
        deterministic per seed and size)."""
        path = os.path.join(self.work, "inputs", self.name + ".digest.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        d = digest(self.oracle_df(spark), self.key, self.columns)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, path)
        return d

    def oracle_df(self, spark):
        return self.source_df(spark)


class WebCorpus(Dataset):
    """Synthetic Common-Crawl-style pages (fixtures F1), persisted as a
    parquet file before any timing."""

    key = "url"
    projection = ["url", "lang"]
    partition_col = "lang"
    # every other read a lookup: the cheapest read here (pruned to one
    # chunk), and the one whose time varies most with the key drawn
    read_cycle = ("lookup", "full", "lookup", "filtered", "lookup",
                  "projected")

    def __init__(self, work: str, rows: int, seed: int):
        self.name = f"web-{rows}-s{seed}"
        self.work = work
        self.rows, self.seed = rows, seed
        self.oracle = FX.web_pages_table(rows, seed=seed)
        self.columns = list(self.oracle.schema.names)
        self.path = _persist(work, self.name, self.oracle)
        ts = self.oracle.column("warc_ts").cast(pa.int64()).to_numpy()
        self._ts_sorted = np.sort(ts)
        self._row_of = {u: i for i, u in
                        enumerate(self.oracle.column("url").to_pylist())}
        self._urls = list(self._row_of)

    def source_df(self, spark):
        return spark.read.parquet(self.path)

    def encode(self, spark, out_dir: str):
        # read-serving layout: one work unit per language, rows sorted by
        # warc_ts and cut into small chunks, so each chunk covers a narrow
        # time range and zone maps can prune
        return E.encode_dataframe(
            self.source_df(spark), out_dir, partition_by=["lang"],
            salt_key="url", salt=1, sort_by=["warc_ts"],
            chunk_rows=max(64, self.rows // 20))

    def lookup(self, rng, absent):
        u = self._urls[rng.randrange(len(self._urls))]
        if absent:
            # same shape, but the trailing row id is past the corpus end
            u = f"{u.rsplit('/', 1)[0]}/{self.rows + rng.randrange(1 << 20):08x}"
            return [("url", "==", u)], None
        return [("url", "==", u)], self.oracle.slice(self._row_of[u], 1)

    def window(self, rng):
        ts = self._ts_sorted
        width = max(1, len(ts) // 50)
        i = rng.randrange(max(1, len(ts) - width))
        lo, hi = int(ts[i]), int(ts[min(i + width, len(ts) - 1)])
        expect = int(np.count_nonzero((ts >= lo) & (ts < hi)))
        return [("warc_ts", ">=", _dt(lo)), ("warc_ts", "<", _dt(hi))], expect

    def input_sizes(self) -> dict:
        return {"rows": self.rows, "arrow_bytes": self.oracle.nbytes,
                "parquet_bytes": os.path.getsize(self.path)}


class ItchCaptures(Dataset):
    """NASDAQ ITCH 5.0 pcap captures (fixtures F5), one per core, each from
    its own seed. Synthesized once per (seed, size) and cached on disk. The
    oracle is the fixtures' independent scalar reference parser."""

    key = "row_key"
    projection = ["row_key", "stock", "price"]
    partition_col = "message_type"
    # lookups cost as much as scans here (nothing prunes them), so each
    # read type gets an equal share
    read_cycle = ("lookup", "full", "filtered", "projected")

    def __init__(self, work: str, files: int, messages: int, seed: int):
        self.work = work
        self.files, self.messages, self.seed = files, messages, seed
        self.name = f"itch-{files}x{messages}-s{seed}"
        self.cap_dir = os.path.join(work, "captures", self.name)
        self.capture_paths = [
            _capture(self.cap_dir, i, messages, seed * 100 + i)
            for i in range(files)]
        oracle_path = os.path.join(work, "inputs", self.name + ".parquet")
        if not os.path.exists(oracle_path):
            parts = []
            for p in self.capture_paths:
                with open(p, "rb") as f:
                    parts.append(FX.reference_parse_pcap(f.read(), "nasdaq"))
            _atomic_write(oracle_path, pa.concat_tables(parts))
        self.oracle_path = oracle_path
        self.oracle = pq.read_table(oracle_path)
        self.columns = list(self.oracle.schema.names) + ["row_key"]
        ts = self.oracle.column("pcap_timestamp").cast(pa.int64()).to_numpy()
        self._ts = ts
        self._ts_sorted = np.sort(ts)
        self._types = self.oracle.column("message_type").to_numpy()
        self._ident = list(zip(
            self.oracle.column("session").to_pylist(),
            self.oracle.column("pcap_index").to_pylist(),
            self.oracle.column("message_index").to_pylist()))
        self._max_index = int(max(i for _, i, _ in self._ident))

    @staticmethod
    def _with_key(df):
        # jobs/convert.py's row key: unique across capture files
        from pyspark.sql import functions as F
        return df.withColumn("row_key", F.xxhash64(
            "pcap_index", "message_index", "pcap_timestamp",
            "message_sequence", "session"))

    def source_df(self, spark):
        pkts = P.read_pcap(spark, self.cap_dir)
        return self._with_key(W.parse_packets(pkts, "nasdaq"))

    def oracle_df(self, spark):
        return self._with_key(spark.read.parquet(self.oracle_path))

    def encode(self, spark, out_dir: str):
        # the jobs/convert.py pipeline: read_pcap -> parse_packets -> encode,
        # with its --num-pids set so a work unit holds ~2k messages at 4
        # cores: the default (8 per core) would cut 16k messages into
        # ~500-row work units, 25x finer than the same pipeline at 400k
        return E.encode_dataframe(self.source_df(spark), out_dir,
                                  partition_by=["message_type"],
                                  salt_key="row_key", num_pids=ITCH_PIDS)

    def lookup(self, rng, absent):
        i = rng.randrange(len(self._ident))
        session, pidx, midx = self._ident[i]
        if absent:
            pidx = self._max_index + 1 + rng.randrange(1 << 16)
        filters = [("session", "==", session), ("pcap_index", "==", pidx),
                   ("message_index", "==", midx)]
        return filters, None if absent else self.oracle.slice(i, 1)

    def window(self, rng):
        ts = self._ts_sorted
        width = max(1, len(ts) // 10)
        i = rng.randrange(max(1, len(ts) - width))
        lo, hi = int(ts[i]), int(ts[min(i + width, len(ts) - 1)])
        mtype = int(self._types[rng.randrange(len(self._types))])
        expect = int(np.count_nonzero((self._ts >= lo) & (self._ts < hi)
                                      & (self._types == mtype)))
        return [("message_type", "==", mtype),
                ("pcap_timestamp", ">=", _dt(lo)),
                ("pcap_timestamp", "<", _dt(hi))], expect

    def input_sizes(self) -> dict:
        return {"files": self.files, "messages": self.oracle.num_rows,
                "arrow_bytes": self.oracle.nbytes,
                "pcap_bytes": sum(os.path.getsize(p)
                                  for p in self.capture_paths)}


def _dt(micros: int) -> datetime.datetime:
    epoch = datetime.datetime(1970, 1, 1, tzinfo=_UTC)
    return epoch + datetime.timedelta(microseconds=micros)


def _atomic_write(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _persist(work: str, name: str, table: pa.Table) -> str:
    path = os.path.join(work, "inputs", name + ".parquet")
    if not os.path.exists(path):
        _atomic_write(path, table)
    return path


def _capture(cap_dir: str, i: int, messages: int, seed: int) -> str:
    path = os.path.join(cap_dir, f"capture-{i:03d}.pcap")
    if not os.path.exists(path):
        os.makedirs(cap_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            f.write(FX.pcap_capture(messages, "nasdaq", seed=seed))
        os.replace(tmp, path)
    return path


# ----------------------------------------------------------- operations

class Runner:
    """Runs timed operations against one dataset, checks each result
    outside the timed region, and keeps every OpRecord."""

    def __init__(self, spark, ds: Dataset, work: str, seed: int,
                 corrupt: bool = False, tracer=None):
        self.spark, self.ds, self.work = spark, ds, work
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.corrupt = corrupt
        self.records: list[OpRecord] = []
        self.expected: dict | None = None
        self._lookups = 0
        self._stores = 0
        self._manifests: dict[str, pa.Table] = {}
        self._unverified: dict[str, OpRecord] = {}   # store -> its ingest

    # -- bookkeeping

    @contextmanager
    def _op(self, kind: str):
        """The timed region of one op: a root span when tracing is on."""
        tr = self.tracer
        if tr is None or not tr.enabled:
            yield
            return
        tr.op = len(self.records)
        with tr.span("op." + kind):
            yield

    def _untraced(self):
        """Harness bookkeeping that calls traced engine functions (the
        pruning figures) must not count as the op's own spans."""
        tr = self.tracer
        if tr is None or not tr.enabled:
            return nullcontext()
        return _Disabled(tr)

    def _job_group(self, kind: str) -> str:
        g = f"op-{len(self.records)}-{kind}"
        self.spark.sparkContext.setJobGroup(g, kind)
        return g

    def _spark_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = [s for j in jobs if (ji := st.getJobInfo(j))
                  for s in ji.stageIds]
        infos = [si for s in stages if (si := st.getStageInfo(s))]
        return {"jobs": len(jobs), "stages": len(stages),
                "tasks": sum(si.numTasks for si in infos),
                "failed_tasks": sum(si.numFailedTasks for si in infos)}

    def _manifest(self, store: str) -> pa.Table:
        if store not in self._manifests:
            self._manifests[store] = ChunkStore(store).manifest_table()
        return self._manifests[store]

    def _pruning(self, store: str, filters, columns) -> tuple[float, int]:
        """Fraction of chunk files the read keeps, and the manifest bytes
        of the kept files' decoded columns (filter columns included)."""
        man = self._manifest(store)
        total = len(set(man.column("chunk_file").to_pylist()))
        kept = set(D.prune_files(man, filters or []))
        cols = set(columns or man.column("column").to_pylist())
        cols |= {c for c, _, _ in filters or []}
        files = man.column("chunk_file").to_pylist()
        names = man.column("column").to_pylist()
        lens = man.column("length").to_pylist()
        read = sum(n for f, c, n in zip(files, names, lens)
                   if f in kept and c in cols)
        return len(kept) / max(total, 1), read

    # -- ingest

    def _new_store_dir(self) -> str:
        self._stores += 1
        d = os.path.join(self.work, f"store-{self._stores:04d}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def ingest(self) -> tuple[str, OpRecord]:
        """One timed encode into a fresh store. Its correctness gate is the
        next full scan of that store (see ``read``)."""
        out = self._new_store_dir()
        group = self._job_group("ingest")
        traced = self.tracer is not None and self.tracer.enabled
        t0 = time.perf_counter()
        try:
            with self._op("ingest"):
                res = self.ds.encode(self.spark, out)
            ok = True
        except Exception as e:          # a failed op is counted, not fatal
            _log(f"ingest failed: {e!r}")
            res, ok = None, False
        dt = time.perf_counter() - t0
        rec = OpRecord("ingest", dt, ok, traced=traced,
                       bytes_in=res.bytes_in if res else 0,
                       bytes_out=res.bytes_out if res else 0,
                       spark=self._spark_counts(group))
        self.records.append(rec)
        self._unverified[out] = rec
        if ok and self.corrupt:
            flip_payload_byte(out)
        return out, rec

    # -- reads

    def read(self, kind: str, store: str, bytes_in: int,
             cold: bool = False) -> OpRecord:
        """One timed read of ``kind``, checked against the oracle. The
        first full scan of a new store is also its ingest's gate: the
        decoded row count and per-column digest must match the input's."""
        spark, ds = self.spark, self.ds
        filters, columns, want, absent = None, None, None, False
        if kind == "lookup":
            absent = not cold and self._lookups % ABSENT_EVERY == ABSENT_AT
            self._lookups += not cold
            filters, want = ds.lookup(self.rng, absent)
        elif kind == "filtered":
            filters, want = ds.window(self.rng)
        elif kind == "projected":
            columns = ds.projection
        group = self._job_group(kind)
        traced = self.tracer is not None and self.tracer.enabled
        t0 = time.perf_counter()
        try:
            with self._op(kind):
                df = D.decode_store(spark, store, columns=columns,
                                    filters=filters)
                if kind == "lookup":
                    got = df.toArrow()
                elif kind == "filtered":
                    got = df.count()
                else:
                    got = digest(df, ds.key, columns or ds.columns)
            dt = time.perf_counter() - t0
            ok = True
        except Exception as e:
            _log(f"{kind} failed: {e!r}")
            dt, ok, got = time.perf_counter() - t0, False, None
        rec = OpRecord(kind, dt, ok, traced=traced, cold=cold, absent=absent,
                       spark=self._spark_counts(group))
        if ok:
            try:
                self._check(kind, got, want, columns)
            except CheckFailed as e:
                _log(f"{kind} incorrect: {e}")
                rec.ok = False
        if kind == "full" and store in self._unverified:
            self._unverified.pop(store).ok &= rec.ok
        if kind in ("projected", "full"):
            rec.bytes_in = bytes_in
        with self._untraced():
            rec.files_kept, rec.bytes_read = self._pruning(store, filters,
                                                           columns)
        self.records.append(rec)
        return rec

    def _check(self, kind, got, want, columns) -> None:
        if kind == "lookup":
            cols = [c for c in self.ds.oracle.schema.names]
            if want is None:
                if got.num_rows:
                    raise CheckFailed(f"absent key returned {got.num_rows} rows")
                return
            if _py_values(got, cols) != _py_values(want, cols):
                raise CheckFailed("looked-up row differs from the generator's")
        elif kind == "filtered":
            if got != want:
                raise CheckFailed(f"filtered count {got} != expected {want}")
        else:
            exp = self.expected
            keys = ["__rows"] + list(columns or self.ds.columns)
            bad = [k for k in keys if got.get(k) != exp.get(k)]
            if bad:
                raise CheckFailed(f"digest mismatch on {bad}")


class _Disabled:
    def __init__(self, tracer):
        self.tracer = tracer

    def __enter__(self):
        self.tracer.enabled = False

    def __exit__(self, *exc):
        self.tracer.enabled = True


def flip_payload_byte(store: str) -> None:
    """Corrupt one byte in the middle of the largest column payload of the
    first chunk file (self-test only)."""
    man = ChunkStore(store).manifest_table()
    first = sorted(set(man.column("chunk_file").to_pylist()))[0]
    rows = [r for r in man.to_pylist() if r["chunk_file"] == first]
    big = max(rows, key=lambda r: r["length"])
    path = os.path.join(ChunkStore(store).chunks_dir, first)
    with open(path, "r+b") as f:
        f.seek(big["offset"] + big["length"] // 2)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))


def _log(msg: str) -> None:
    import sys
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
