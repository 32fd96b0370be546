"""In-memory span tracing and the per-layer metrics of a traced run.

Driver-side engine calls are wrapped at run time (``Tracer.wrap``). The
executor-side kernels run in Spark's Python workers, out of reach of a
wrapper, so ``replay`` runs them again in this process on the workload's own
store and captures, under spans of the same names.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from omi_cpp_parquet_wide_record_spark import selector as SEL
from omi_cpp_parquet_wide_record_spark.codecs import base as CB
from omi_cpp_parquet_wide_record_spark.operators import decode as D
from omi_cpp_parquet_wide_record_spark.operators import encode as E
from omi_cpp_parquet_wide_record_spark.operators import wide_record as W
from omi_cpp_parquet_wide_record_spark.plans import snapshot as SNAP
from omi_cpp_parquet_wide_record_spark.sources import pcap as P

CODECS = ("dict", "rle", "fsst", "fsst2", "bitpack", "for", "delta", "alp",
          "plain")
# driver-side calls wrapped at run time: (owner, attribute, span name)
DRIVER_CALLS = (
    (E, "encode_dataframe", "encode_dataframe"),
    (SNAP.ChunkStore, "commit", "commit"),
    (D, "decode_store", "decode_store"),
    (SNAP.ChunkStore, "manifest_table", "manifest_table"),
    (D, "prune_files", "prune_files"),
    (P, "read_pcap", "read_pcap"),
    (W, "parse_packets", "parse_packets"),
)
REPLAY_KERNELS = ("choose_codec", "encode_column", "decode_column",
                  "read_chunk_file", "packets_from_capture",
                  "parse_packets_batch")
OP_SPANS = ("op.ingest", "op.lookup", "op.filtered", "op.projected",
            "op.full", "replay")
SPAN_NAMES = (tuple(n for _, _, n in DRIVER_CALLS) + REPLAY_KERNELS
              + OP_SPANS)
# plain-equivalent input bytes replayed through every candidate codec
REPLAY_BYTES = 24 << 20
READ_KINDS = ("lookup", "filtered", "projected", "full")


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    u: dict[str, str] = {
        "selector.calls": "count", "selector.busy_s": "s",
        "selector.trials_per_call": "count",
        "selector.trial_bytes_per_input_byte": "ratio",
        "selector.regret": "ratio",
    }
    for c in CODECS:
        u[f"codecs.{c}.encode_mbps"] = "MB/s"
        u[f"codecs.{c}.decode_mbps"] = "MB/s"
        u[f"codecs.{c}.bytes_share"] = "fraction"
    u.update({"encode.chunks": "count", "encode.mean_chunk_mb": "MB",
              "encode.call_s": "s", "encode.residual_share": "fraction",
              "snapshot.commit_s": "s", "snapshot.manifest_table_s": "s",
              "snapshot.manifest_rows": "count"})
    for k in READ_KINDS:
        u[f"decode.{k}.prune_s"] = "s"
        u[f"decode.{k}.files_kept_fraction"] = "fraction"
        u[f"decode.{k}.bytes_read_per_op"] = "bytes"
    u.update({"decode.read_chunk_mbps": "MB/s",
              "pcap.capture_mbps": "MB/s",
              "pcap.udp_frame_fraction": "fraction",
              "wide_record.parse_msgs_per_s": "1/s",
              "wide_record.null_cell_fraction": "fraction",
              "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
              "spark.tasks_per_op": "count", "spark.failed_tasks": "count"})
    for n in SPAN_NAMES:
        u[f"span.{n}.self_s"] = "s"
    u["trace.overhead_share"] = "fraction"
    return u


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Spans in memory: name, start, end, parent and the op they belong to.
    ``enabled`` switches recording off without unwrapping."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid, self._next_id = self._next_id, self._next_id + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, t0, time.perf_counter(),
                                   parent, self.op))

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        for owner, attr, name in DRIVER_CALLS:
            self.wrap(owner, attr, name)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its child spans
        cover (children of one parent never overlap: one driver thread)."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.end - s.start
        out = {n: 0.0 for n in SPAN_NAMES}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start
                                                  - child.get(s.id, 0.0))
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _CodecStats:
    def __init__(self):
        self.enc_s = {c: 0.0 for c in CODECS}
        self.enc_b = {c: 0 for c in CODECS}
        self.dec_s = {c: 0.0 for c in CODECS}
        self.dec_b = {c: 0 for c in CODECS}

    def add(self, kind: str, codec: str, seconds: float, nbytes: int):
        if codec not in CODECS:
            return
        getattr(self, kind + "_s")[codec] += seconds
        getattr(self, kind + "_b")[codec] += nbytes

    @staticmethod
    def rate(b: int, s: float) -> float:
        return b / 1e6 / s if s > 0 else 0.0


def replay(tracer: Tracer, store: str, group_col: str,
           captures: list[str], cores: int) -> dict:
    """Re-run the executor-side kernels in-process and return their
    per-layer metrics.

    - every chunk file is read back (read_chunk_file, decode_column);
    - choose_codec runs once per distinct (partition value, column), the
      engine's plan-cache scope;
    - the chunk columns of the first REPLAY_BYTES of the store are encoded
      with every candidate codec (encode_column) and decoded again, which
      gives per-codec rates and the selector's regret;
    - each capture is framed (packets_from_capture) and parsed
      (parse_packets_batch).
    """
    cs = _CodecStats()
    cstore = SNAP.ChunkStore(store)
    man = cstore.manifest_table()
    rows = man.to_pylist()
    by_file: dict[str, list[dict]] = {}
    for r in rows:
        by_file.setdefault(r["chunk_file"], []).append(r)
    total_in = sum(r["bytes_in"] for r in rows)
    out: dict[str, float] = {}

    orig_decode = D.decode_column

    def timed_decode(payload, params):
        with tracer.span("decode_column"):
            t0 = time.perf_counter()
            arr = orig_decode(payload, params)
            dt = time.perf_counter() - t0
        cs.add("dec", params["codec"], dt, CB.plain_size(arr))
        return arr

    orig_trial = SEL.encode_column
    trials = {"n": 0, "bytes": 0}

    def timed_trial(arr, name, shared=None):
        with tracer.span("encode_column"):
            e = orig_trial(arr, name, shared=shared)
        trials["n"] += 1
        trials["bytes"] += e.bytes_in
        return e

    D.decode_column, SEL.encode_column = timed_decode, timed_trial
    tracer.op = None
    try:
        with tracer.span("replay"):
            read_s, read_b = 0.0, 0
            sel_s, sel_calls, seen = 0.0, 0, set()
            chosen_b = best_b = 0
            chosen_enc_s = replay_in = 0.0
            for fname in sorted(by_file):
                path = os.path.join(cstore.chunks_dir, fname)
                with tracer.span("read_chunk_file"):
                    t0 = time.perf_counter()
                    t = D.read_chunk_file(path)
                    read_s += time.perf_counter() - t0
                read_b += sum(r["bytes_in"] for r in by_file[fname])
                gval = (str(t.column(group_col)[0])
                        if group_col in t.schema.names and t.num_rows else "")
                deep = replay_in < REPLAY_BYTES
                for r in by_file[fname]:
                    arr = t.column(r["column"]).combine_chunks()
                    if (gval, r["column"]) not in seen:
                        seen.add((gval, r["column"]))
                        with tracer.span("choose_codec"):
                            t0 = time.perf_counter()
                            SEL.choose_codec(arr)
                            sel_s += time.perf_counter() - t0
                        sel_calls += 1
                    if not deep:
                        continue
                    replay_in += r["bytes_in"]
                    sizes = {}
                    for c in SEL.candidates_for(arr):
                        with tracer.span("encode_column"):
                            t0 = time.perf_counter()
                            try:
                                e = CB.encode_column(arr, c)
                            except (ValueError, TypeError):
                                continue
                            dt = time.perf_counter() - t0
                        cs.add("enc", c, dt, e.bytes_in)
                        if c == r["codec"]:
                            chosen_enc_s += dt
                        sizes[c] = len(e.payload)
                        timed_decode(e.payload, e.params)
                    if sizes:
                        chosen_b += r["bytes_out"]
                        best_b += min(sizes.values())
            scale = total_in / replay_in if replay_in else 0.0
            cap_b = cap_s = frames = udp = 0
            msgs = cells = nulls = 0
            parse_s = 0.0
            for path in captures:
                with open(path, "rb") as f:
                    data = f.read()
                with tracer.span("packets_from_capture"):
                    t0 = time.perf_counter()
                    pk = P.packets_from_capture(data)
                    cap_s += time.perf_counter() - t0
                cap_b += len(data)
                frames += len(P.frame_records(data)[0])
                udp += pk.num_rows
                with tracer.span("parse_packets_batch"):
                    t0 = time.perf_counter()
                    wide = W.parse_packets_batch(pk, "nasdaq")
                    parse_s += time.perf_counter() - t0
                msgs += wide.num_rows
                cells += wide.num_rows * wide.num_columns
                nulls += sum(c.null_count for c in wide.columns)
    finally:
        D.decode_column, SEL.encode_column = orig_decode, orig_trial

    for c in CODECS:
        out[f"codecs.{c}.encode_mbps"] = cs.rate(cs.enc_b[c], cs.enc_s[c])
        out[f"codecs.{c}.decode_mbps"] = cs.rate(cs.dec_b[c], cs.dec_s[c])
    stored = sum(r["bytes_out"] for r in rows)
    for c in CODECS:
        out[f"codecs.{c}.bytes_share"] = (
            sum(r["bytes_out"] for r in rows if r["codec"] == c)
            / stored if stored else 0.0)
    out["selector.calls"] = float(sel_calls)
    out["selector.busy_s"] = sel_s
    out["selector.trials_per_call"] = trials["n"] / sel_calls if sel_calls else 0.0
    out["selector.trial_bytes_per_input_byte"] = (
        trials["bytes"] / total_in if total_in else 0.0)
    out["selector.regret"] = chosen_b / best_b - 1 if best_b else 0.0
    out["decode.read_chunk_mbps"] = cs.rate(read_b, read_s)
    calls = tracer.durations("encode_dataframe")
    call_s = statistics.median(calls) if calls else 0.0
    files = len(by_file)
    out["encode.chunks"] = float(files)
    out["encode.mean_chunk_mb"] = total_in / 1e6 / files if files else 0.0
    out["encode.call_s"] = call_s
    busy = sel_s + chosen_enc_s * scale
    out["encode.residual_share"] = (1 - busy / (cores * call_s)
                                    if call_s else 0.0)
    out["snapshot.manifest_rows"] = float(man.num_rows)
    out["pcap.capture_mbps"] = cs.rate(cap_b, cap_s)
    out["pcap.udp_frame_fraction"] = udp / frames if frames else 0.0
    out["wide_record.parse_msgs_per_s"] = msgs / parse_s if parse_s else 0.0
    out["wide_record.null_cell_fraction"] = nulls / cells if cells else 0.0
    return out
