"""Binary packet capture -> wide record: the reference's core pipeline,
Spark-first.

Re-expresses the converter chain (ref NQ:3437-3774) over a packets table
(pcap_sec, pcap_usec, payload:binary):

  O3  dense packet index          dense_row_index (etl.py)
  O4  MoldUDP64 envelope parse    fixed-offset numpy folds
  O5  1 packet -> N messages      vectorized cursor walk (loop over message
                                  SLOTS, each slot whole-batch numpy)
  O6  sequence rewrite            header_seq + message_index (incl. first —
                                  the reference's off-by-one kept, NQ:3457)
  O7  21/11-way type dispatch     per-type boolean masks
  O8  per-type field projection   per-(type,field) vectorized byte folds —
                                  the loop runs over the STATIC field table
                                  (~80 entries), never over rows
  O9  wire decoders               big-endian folds + first-space trim
  O10 wide-record assembly        full-width columns + validity masks

Output schema == schema.NASDAQ_WIDE / JNX_WIDE (67 / 31 columns), identical
to what the reference converter would write for the same capture.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from omi_cpp_parquet_wide_record_spark import schema as S
from omi_cpp_parquet_wide_record_spark.codecs.base import bytes_block

_KIND_WIDTH = {"u8": 1, "u16": 2, "u32": 4, "u48": 6, "u64": 8}


def _fold_be(corpus: np.ndarray, offs: np.ndarray, width: int,
             hi: int | None = None) -> np.ndarray:
    """Big-endian unsigned fold of `width` bytes at each offset (vectorized
    over offsets — the numpy htobe*/byte-loop analogue, ref NQ:153/341/2764).
    ``hi`` clamps reads to the last valid corpus index (a message whose
    declared fields run past its packet must not fault or read a
    neighbor; in-bounds reads are unaffected)."""
    v = np.zeros(len(offs), dtype=np.uint64)
    for j in range(width):
        idx = offs + j if hi is None else np.minimum(offs + j, hi)
        v = (v << np.uint64(8)) | corpus[idx].astype(np.uint64)
    return v.view(np.int64)


def parse_packets_batch(batch: pa.RecordBatch,
                        which: str = "nasdaq") -> pa.RecordBatch:
    """One Arrow batch of packets -> one Arrow batch of wide-record rows.

    Bounds-safe on malformed input without changing valid-capture output
    (the scalar-parser parity tests pin bit-identity): packets shorter
    than the 20-byte MoldUDP64 envelope emit no rows, and the message
    walk stops at the first message that does not fit inside its packet
    (torn-tail semantics, like the pcap framer) instead of reading the
    next packet's bytes. The slot loop runs to the largest ACTUAL count
    in the batch, capped by what the longest payload could physically
    hold (>= 3 bytes per message) — a fixed 64-slot cap silently dropped
    messages 65+ of dense packets."""
    if isinstance(batch, pa.Table):
        # packets_from_capture returns a Table (chunked when one capture
        # exceeds int32 binary offsets); parse chunk-wise and recombine
        parts = [parse_packets_batch(b, which) for b in batch.to_batches()]
        sch0 = S.NASDAQ_WIDE if which == "nasdaq" else S.JNX_WIDE
        if not parts:
            return pa.RecordBatch.from_arrays(
                [pa.array([], type=f.type) for f in sch0], schema=sch0)
        t = pa.Table.from_batches(parts).combine_chunks()
        return t.to_batches()[0] if t.num_rows else parts[0]
    kinds = S.NASDAQ_PAYLOAD_KINDS if which == "nasdaq" else S.JNX_PAYLOAD_KINDS
    type_fields = (S.NASDAQ_TYPE_FIELDS if which == "nasdaq"
                   else S.JNX_TYPE_FIELDS)
    sch = S.NASDAQ_WIDE if which == "nasdaq" else S.JNX_WIDE

    pcap_index = batch.column("pcap_index").to_numpy()
    sec = batch.column("pcap_sec").to_numpy()
    usec = batch.column("pcap_usec").to_numpy()
    lengths, corpus_mv = bytes_block(
        batch.column("payload").cast(pa.large_binary()))
    corpus = np.frombuffer(corpus_mv, dtype=np.uint8)
    starts = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=starts[1:])
    starts = starts[:-1]
    n_pkt = len(lengths)

    # O4: envelope — session 10B, sequence 8B BE, count 2B BE. Packets
    # shorter than the 20-byte envelope contribute no rows; their gathers
    # are redirected to offset 0 so nothing reads out of bounds.
    ends = starts + lengths
    ok_env = lengths >= 20
    if not ok_env.any():
        return pa.RecordBatch.from_arrays(
            [pa.array([], type=f.type) for f in sch], schema=sch)
    safe_starts = np.where(ok_env, starts, 0)
    sess_mat = corpus[safe_starts[:, None] + np.arange(10)]
    header_seq = _fold_be(corpus, safe_starts + 10, 8)
    count = np.where(ok_env, _fold_be(corpus, safe_starts + 18, 2), 0)

    # O5: vectorized cursor walk — loop over message slots, not rows.
    # `remaining` zeroes out a packet the moment its next message would
    # not fit before the packet end (lying length field / torn payload).
    cursor = starts + 20
    m_pkt, m_idx, m_type, m_body = [], [], [], []
    remaining = count.copy()
    feasible = (int(lengths.max()) - 20) // 3 + 1 if n_pkt else 0
    loop_bound = min(int(count.max()), max(feasible, 0))
    for slot in range(loop_bound):
        active = remaining > slot
        if not active.any():
            break
        ac = np.flatnonzero(active)
        # the 2-byte length + 1-byte type must fit before the packet end
        headfit = cursor[ac] + 3 <= ends[ac]
        if not headfit.all():
            remaining[ac[~headfit]] = 0
            ac = ac[headfit]
            if len(ac) == 0:
                continue
        mlen = _fold_be(corpus, cursor[ac], 2)
        bodyfit = (mlen >= 1) & (cursor[ac] + 2 + mlen <= ends[ac])
        if not bodyfit.all():
            remaining[ac[~bodyfit]] = 0
            ac, mlen = ac[bodyfit], mlen[bodyfit]
            if len(ac) == 0:
                continue
        m_pkt.append(ac)
        m_idx.append(np.full(len(ac), slot + 1, dtype=np.int64))
        m_type.append(corpus[cursor[ac] + 2].astype(np.int64))
        m_body.append(cursor[ac] + 3)
        cursor[ac] += 2 + mlen
    if not m_pkt:
        return pa.RecordBatch.from_arrays(
            [pa.array([], type=f.type) for f in sch], schema=sch)
    m_pkt = np.concatenate(m_pkt)
    m_idx = np.concatenate(m_idx)
    m_type = np.concatenate(m_type)
    m_body = np.concatenate(m_body)
    # restore packet-major, slot-minor order (the capture's message order)
    order = np.lexsort((m_idx, m_pkt))
    m_pkt, m_idx, m_type, m_body = (m_pkt[order], m_idx[order],
                                    m_type[order], m_body[order])
    n_msg = len(m_pkt)

    # O8/O9: per-(type, field) extraction, vectorized over that type's rows
    int_vals: dict[str, np.ndarray] = {}
    int_valid: dict[str, np.ndarray] = {}
    str_mat: dict[str, np.ndarray] = {}
    str_valid: dict[str, np.ndarray] = {}
    hi = len(corpus) - 1
    for tchar, fields in type_fields.items():
        mask = m_type == ord(tchar)
        if not mask.any():
            continue
        rows = np.flatnonzero(mask)
        off = m_body[rows].copy()
        for f in fields:
            kind, width = kinds[f]
            if kind == "str":
                if f not in str_mat:
                    str_mat[f] = np.full((n_msg, width), 32, dtype=np.uint8)
                    str_valid[f] = np.zeros(n_msg, dtype=bool)
                str_mat[f][rows] = corpus[
                    np.minimum(off[:, None] + np.arange(width), hi)]
                str_valid[f][rows] = True
                off += width
            else:
                w = _KIND_WIDTH[kind]
                if f not in int_vals:
                    int_vals[f] = np.zeros(n_msg, dtype=np.int64)
                    int_valid[f] = np.zeros(n_msg, dtype=bool)
                int_vals[f][rows] = _fold_be(corpus, off, w, hi)
                int_valid[f][rows] = True
                off += w

    # O10: assemble the wide record in schema order
    arrays: list[pa.Array] = []
    for field in sch:
        name = field.name
        if name == "pcap_index":
            arrays.append(pa.array(pcap_index[m_pkt], type=pa.int64()))
        elif name == "pcap_timestamp":
            ts = sec[m_pkt] * 1_000_000 + usec[m_pkt]
            arrays.append(pa.array(ts, type=pa.int64()).cast(field.type))
        elif name == "session":
            flat = sess_mat[m_pkt].reshape(-1)
            offs = np.arange(n_msg + 1, dtype=np.int64) * 10
            arr = pa.Array.from_buffers(
                pa.large_binary(), n_msg,
                [None, pa.py_buffer(offs.tobytes()),
                 pa.py_buffer(flat.tobytes())])
            arrays.append(arr.cast(pa.string()))
        elif name == "message_sequence":
            # O6: header seq incremented before EVERY write incl. the first
            arrays.append(pa.array(header_seq[m_pkt] + m_idx,
                                   type=pa.int64()))
        elif name == "message_index":
            arrays.append(pa.array(m_idx.astype(np.int32), type=pa.int32()))
        elif name == "message_type":
            arrays.append(pa.array(m_type.astype(np.int32), type=pa.int32()))
        elif name in int_vals or (name in kinds and kinds[name][0] != "str"):
            vals = int_vals.get(name, np.zeros(n_msg, dtype=np.int64))
            valid = int_valid.get(name, np.zeros(n_msg, dtype=bool))
            target = np.int32 if field.type == pa.int32() else np.int64
            arrays.append(pa.array(vals.astype(target), type=field.type,
                                   mask=~valid))
        else:
            # space-padded ASCII trimmed at FIRST space (ref NQ:2678-2685)
            width = kinds[name][1]
            mat = str_mat.get(
                name, np.full((n_msg, width), 32, dtype=np.uint8))
            valid = str_valid.get(name, np.zeros(n_msg, dtype=bool))
            is_space = mat == 32
            first_space = np.where(is_space.any(axis=1),
                                   is_space.argmax(axis=1), width)
            lens = np.where(valid, first_space, 0).astype(np.int64)
            offs = np.zeros(n_msg + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            pos_rep = np.arange(int(offs[-1])) - np.repeat(offs[:-1], lens)
            flat = mat[np.repeat(np.arange(n_msg), lens), pos_rep]
            arr = pa.Array.from_buffers(
                pa.large_binary(), n_msg,
                [None, pa.py_buffer(offs.tobytes()),
                 pa.py_buffer(flat.tobytes())]).cast(pa.string())
            if not valid.all():
                import pyarrow.compute as pc
                arr = pc.if_else(pa.array(valid), arr,
                                 pa.scalar(None, type=pa.string()))
            arrays.append(arr)
    return pa.RecordBatch.from_arrays(arrays, schema=sch)


def parse_packets(packets: DataFrame, which: str = "nasdaq") -> DataFrame:
    """Distributed capture decode: packets (pcap_sec, pcap_usec, payload) ->
    the reference's wide-record DataFrame.

    When ``packets`` is exactly the DataFrame ``sources.pcap.read_pcap``
    returned (``capture_files``), one ``mapInArrow`` over its capture-file
    list frames and parses each file in the same task — the reference's
    single per-capture loop (NQ:3777-3809), one Python worker per task
    instead of two. Packets are parsed in slices of at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, the batches
    the chained path receives. Any other packets DataFrame is parsed by a
    second ``mapInArrow`` over its rows: the dense packet index (O3) is
    attached first unless the source already carries one (the pcap file
    reader emits per-file indexes that count dropped non-UDP frames,
    ref NQ:3403); each task then parses its packets fully vectorized."""
    from pyspark.sql.pandas.types import from_arrow_schema
    from omi_cpp_parquet_wide_record_spark.operators.etl import dense_row_index
    from omi_cpp_parquet_wide_record_spark.sources.pcap import (
        _scan_captures, capture_files,
    )

    sch = from_arrow_schema(S.NASDAQ_WIDE if which == "nasdaq"
                            else S.JNX_WIDE)
    names = capture_files(packets)
    if names is not None:
        rows = int(packets.sparkSession.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))

        def fused(batches):
            for b in _scan_captures(batches):
                step = rows if rows > 0 else b.num_rows
                for i in range(0, b.num_rows, step):
                    yield parse_packets_batch(b.slice(i, step), which)

        return names.mapInArrow(fused, sch)

    if "pcap_index" in packets.columns:
        indexed = packets
    else:
        indexed = dense_row_index(
            packets.selectExpr("pcap_sec", "pcap_usec", "payload",
                               "(pcap_sec * 1000000 + pcap_usec) AS __ts"),
            "__ts", out_col="pcap_index").drop("__ts")

    def task(batches):
        for b in batches:
            if b.num_rows:
                yield parse_packets_batch(b, which)

    return indexed.mapInArrow(task, sch)
