"""Real pcap-file ingestion: O1 + O2 on actual capture bytes.

The reference opens an offline capture and iterates packets
(`pcap_open_offline` + `pcap_next_ex`, ref NQ:3777-3809 / JX:1832-1864),
then strips Ethernet (+VLAN tags, 4-byte stepping loop), parses the IPv4
header, and keeps only UDP — non-UDP packets are dropped but still bump the
1-based packet counter (`try_get_nasdaq_itch`, ref NQ:3401-3434; VLAN loop
3410-3412; UDP test 3421; counter bump before the filter, NQ:3403).

Spark shape: `_list_captures` selects the capture files and both entry
points — `read_pcap` (the file list handed to Spark by
`operators.decode._names_df`) and `spark.read.format("pcap")`
(`PcapDataSource`) — fan them out over the cluster and read each with
`_capture_batches` (whole files per task — captures are the natural work
unit, the in-file record chain is inherently sequential, exactly as in
the reference's single pcap loop). Inside a task, the per-record header walk
touches only the 16-byte pcap record headers; every per-packet byte
operation (ethertype reads, VLAN stepping, IHL/protocol extraction, UDP
payload slicing) is whole-array numpy over all records at once.

`read_pcap` remembers, for the exact DataFrame object it returns, the
file-list relation it maps over (`capture_files`). Given that object,
`operators.wide_record.parse_packets` maps ONE task over the same file
list that frames and parses each capture in the same Python worker (the
reference's one pcap_next_ex -> strip -> dispatch loop, NQ:3777-3809),
instead of a second `mapInArrow` over the packets: one Python runner per
capture task instead of two, and no packet round trip through the JVM.
Any other packets DataFrame — one derived from `read_pcap`'s (`filter`,
`select`, `union`, ...), a cached one, or `format("pcap")`'s — is parsed
by the chained second `mapInArrow`. Both of `read_pcap`'s paths read
its file list through `_scan_captures`.

Output: (pcap_index, pcap_sec, pcap_usec, payload) — the packets table the
wide-record parser (operators/wide_record.py, O4-O10) consumes, with
pcap_index already dense per file including dropped non-UDP packets.
"""

from __future__ import annotations

import glob
import os
import weakref

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource, DataSourceReader, InputPartition,
)

from omi_cpp_parquet_wide_record_spark.operators.decode import _names_df

PCAP_MAGIC_LE = b"\xd4\xc3\xb2\xa1"   # 0xa1b2c3d4 written little-endian
PCAP_MAGIC_BE = b"\xa1\xb2\xc3\xd4"
# nanosecond-resolution captures (magic 0xa1b23c4d): same layout, the
# fraction field holds ns — libpcap converts to us at default precision
# (ref NQ:3780 pcap_open_offline accepts both), and so do we
PCAP_MAGIC_NS_LE = b"\x4d\x3c\xb2\xa1"
PCAP_MAGIC_NS_BE = b"\xa1\xb2\x3c\x4d"
LINKTYPE_ETHERNET = 1

ETHERTYPE_VLAN = 0x8100
ETHERTYPE_IPV4 = 0x0800
IPPROTO_UDP = 17


def write_pcap_header(snaplen: int = 65535) -> bytes:
    """24-byte pcap global header (LE byte order, v2.4, Ethernet link)."""
    return (PCAP_MAGIC_LE
            + (2).to_bytes(2, "little") + (4).to_bytes(2, "little")
            + (0).to_bytes(4, "little", signed=True)   # thiszone
            + (0).to_bytes(4, "little")                # sigfigs
            + snaplen.to_bytes(4, "little")
            + LINKTYPE_ETHERNET.to_bytes(4, "little"))


_SCALAR_CUTOFF = 256 << 10   # below this, the plain walk wins on overhead
# int32 binary offsets cap a single payload batch; beyond it the capture
# table chunks (module constant so tests can shrink it)
_BINARY_OFFSET_LIMIT = (1 << 31) - 64


def _u32_at(corpus: np.ndarray, off: np.ndarray, big: bool) -> np.ndarray:
    b0, b1, b2, b3 = (corpus[off + k].astype(np.int64) for k in range(4))
    if big:
        return (b0 << 24) | (b1 << 16) | (b2 << 8) | b3
    return b0 | (b1 << 8) | (b2 << 16) | (b3 << 24)


def _scalar_walk(data: bytes, size: int, pos: int, big: bool) -> list[int]:
    """Reference-shape sequential walk (bytes indexing, offsets only)."""
    offs: list[int] = []
    append = offs.append
    if big:
        while pos + 16 <= size:
            incl = (data[pos + 8] << 24 | data[pos + 9] << 16
                    | data[pos + 10] << 8 | data[pos + 11])
            if pos + 16 + incl > size:
                break     # truncated tail record (killed capture) — drop it
            append(pos)
            pos += 16 + incl
    else:
        while pos + 16 <= size:
            incl = (data[pos + 8] | data[pos + 9] << 8
                    | data[pos + 10] << 16 | data[pos + 11] << 24)
            if pos + 16 + incl > size:
                break
            append(pos)
            pos += 16 + incl
    return offs


def frame_records(data: bytes) -> tuple[np.ndarray, np.ndarray,
                                        np.ndarray, np.ndarray]:
    """Walk the pcap record chain: (sec, usec, frame_off, frame_len) arrays.

    The chain is a sequential dependency (each record header holds the
    length that locates the next), mirroring the reference's pcap_next_ex
    loop (NQ:3792-3808). Large captures resolve it VECTORIZED (VERDICT r2
    #3) instead of per-record Python:

    1. one pass over all byte positions filters CANDIDATE header offsets
       by two sound-in-practice plausibility tests (incl < 2^24, i.e. the
       length field's top byte is 0; record sec within ~+/-16 Msec of the
       first record's — three top-byte values);
    2. every candidate's `next` pointer (pos + 16 + incl) resolves to a
       candidate index via searchsorted — false positives that point
       nowhere get a sentinel;
    3. pointer-doubling enumerates the orbit of offset 24: each round
       squares the jump table and doubles the recovered prefix of the
       chain, so log2(n) numpy passes recover all n records. Because the
       orbit follows ACTUAL length fields through a SUPERSET of the true
       boundaries, the result is exactly the sequential walk's — false
       candidates cost work, never correctness.
    4. if the filters ever drop a true boundary (clock jump > 6 months),
       the orbit simply stops early and a scalar walk resumes from the
       break — the heuristic accelerates, the fallback guarantees parity.

    Timestamps/lengths gather at the final offsets only. Accepts us- and
    ns-resolution magics (ns converts to us, the libpcap
    default-precision behavior, ref NQ:3780)."""
    magic = data[:4]
    big = magic in (PCAP_MAGIC_BE, PCAP_MAGIC_NS_BE)
    ns = magic in (PCAP_MAGIC_NS_LE, PCAP_MAGIC_NS_BE)
    if not big and magic not in (PCAP_MAGIC_LE, PCAP_MAGIC_NS_LE):
        raise ValueError("not a pcap file (bad magic)")
    # linktype (global header bytes 20-24): the downstream strip assumes
    # Ethernet framing — a DLT_LINUX_SLL / DLT_RAW capture would parse
    # "successfully" into zero (or garbage) packets with no signal
    if len(data) >= 24:
        linktype = int.from_bytes(data[20:24], "big" if big else "little")
        if linktype != LINKTYPE_ETHERNET:
            raise ValueError(
                f"unsupported pcap linktype {linktype} (only Ethernet/"
                f"{LINKTYPE_ETHERNET} framing is parsed; re-capture without "
                "-i any / raw link types)")
    corpus = np.frombuffer(data, dtype=np.uint8)
    size = len(data)
    if size < 40:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z
    if size < _SCALAR_CUTOFF:
        return _gather_headers(corpus, _scalar_walk(data, size, 24, big),
                               big, ns)

    # -- 1. candidate filter: one full-size compare (length-field top byte
    # — LE: pos+11, BE: pos+8 — must be 0, i.e. incl < 16M), then the sec
    # plausibility test (top byte within +/-1 of the first record's,
    # ~ +/-16.7M seconds of drift) only on the survivors, as a single
    # uint8-wraparound range check
    len_top = corpus[(8 if big else 11):]
    lim = size - 16
    c0 = np.flatnonzero(len_top[:lim] == 0)
    c0 = c0[np.searchsorted(c0, 24):]
    sec_top_off = 24 + (0 if big else 3)
    t0 = int(corpus[sec_top_off])
    sec_top = corpus[(0 if big else 3):]
    cand = c0[(sec_top[c0] - np.uint8((t0 - 1) % 256)) <= np.uint8(2)]
    if len(cand) == 0 or cand[0] != 24:
        cand = np.concatenate(([24], cand[cand > 24]))

    # -- 2. next pointers, resolved to candidate indices (C = sentinel:
    # "no successor here" — EOF, torn tail, or a filtered-out position).
    # One (C, 12) byte gather covers sec/frac/incl for every candidate —
    # reused untouched for the final output columns, so the end of the
    # function pays no further gathers.
    hdr = corpus[cand[:, None] + np.arange(12)]
    h32 = hdr.view(np.uint32)                     # (C, 3): sec, frac, incl
    if big:
        h32 = h32.byteswap()
    h32 = h32.astype(np.int64)
    incl = h32[:, 2]
    nxt = cand + 16 + incl
    C = len(cand)
    idx = np.searchsorted(cand, nxt)
    ok = (idx < C) & (nxt + 16 <= size)
    safe = np.where(ok, idx, 0)
    ok &= cand[safe] == nxt
    f = np.concatenate([np.where(ok, safe, C), [C]]).astype(np.int64)

    # -- 3. pointer-doubling: after round j, `orbit` holds chain steps
    # 0..2^(j+1)-1 and g = f^(2^(j+1)); the chain strictly advances, so
    # there are no cycles and no duplicates
    start = int(np.searchsorted(cand, 24))
    orbit = np.array([start], dtype=np.int64)
    g = f
    while True:
        new = g[orbit]
        new = new[new != C]
        if len(new) == 0:
            break
        orbit = np.concatenate([orbit, new])
        g = g[g]
    orbit.sort()
    # drop a torn tail record (its own bytes overrun EOF), like the
    # scalar walk does
    keep = cand[orbit] + 16 + incl[orbit] <= size
    orbit = orbit[keep]

    # -- 4. scalar mop-up if the chain broke before EOF (a filtered true
    # boundary): resume the plain walk from the last node's next pointer
    mop: list[int] = []
    if len(orbit):
        li = int(orbit[-1])
        if f[li] == C and int(nxt[li]) + 16 <= size:
            mop = _scalar_walk(data, size, int(nxt[li]), big)
    elif size >= 40:
        mop = _scalar_walk(data, size, 24, big)

    sec = h32[orbit, 0]
    frac = h32[orbit, 1]
    lens = h32[orbit, 2]
    offs = cand[orbit] + 16
    if mop:
        m_sec, m_frac, m_off, m_len = _gather_headers(corpus, mop, big,
                                                      False)
        sec = np.concatenate([sec, m_sec])
        frac = np.concatenate([frac, m_frac])
        lens = np.concatenate([lens, m_len])
        offs = np.concatenate([offs, m_off])
    if ns:
        frac = frac // 1000
    return sec, frac, offs, lens


def _gather_headers(corpus: np.ndarray, offs, big: bool,
                    ns: bool) -> tuple[np.ndarray, np.ndarray,
                                       np.ndarray, np.ndarray]:
    o = np.asarray(offs, dtype=np.int64)
    if len(o) == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z
    sec = _u32_at(corpus, o, big)
    frac = _u32_at(corpus, o + 4, big)
    if ns:
        frac //= 1000
    lens = _u32_at(corpus, o + 8, big)
    return sec, frac, o + 16, lens


def _be16(corpus: np.ndarray, off: np.ndarray) -> np.ndarray:
    return (corpus[off].astype(np.int64) << 8) | corpus[off + 1]


def strip_to_udp(corpus: np.ndarray, offs: np.ndarray, lens: np.ndarray,
                 max_vlan_tags: int = 8
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized eth/VLAN/IPv4/UDP strip over all frames at once.

    Returns (keep_rows, payload_off, payload_len): indices of UDP frames and
    their UDP payload byte ranges. Mirrors try_get_nasdaq_itch
    (ref NQ:3401-3434): VLAN tags stepped 4 bytes at a time while the
    ethertype reads 0x8100 (NQ:3410-3412), IPv4 header length from the IHL
    nibble, protocol test against UDP (NQ:3421). Speculative gathers are
    clipped to the corpus bounds and masked afterwards, so short non-IP
    frames never read out of range.
    """
    n = len(offs)
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    hi = len(corpus) - 2

    def g16(off):
        return _be16(corpus, np.minimum(off, hi))

    etype_off = offs + 12
    etype = g16(etype_off)
    for _ in range(max_vlan_tags):          # VLAN stepping loop, NQ:3410-3412
        vlan = etype == ETHERTYPE_VLAN
        if not vlan.any():
            break
        etype_off = np.where(vlan, etype_off + 4, etype_off)
        etype = np.where(vlan, g16(etype_off), etype)
    ip_off = etype_off + 2
    is_ip = (etype == ETHERTYPE_IPV4) & (ip_off + 20 <= offs + lens)
    ihl = (corpus[np.minimum(ip_off, hi)] & 0x0F).astype(np.int64) * 4
    proto = corpus[np.minimum(ip_off + 9, hi)]
    keep = is_ip & (proto == IPPROTO_UDP)    # UDP test, NQ:3421

    rows = np.flatnonzero(keep)
    udp_off = ip_off[rows] + ihl[rows]
    udp_len = g16(udp_off + 4)
    pay_off = udp_off + 8
    pay_len = np.maximum(udp_len - 8, 0)
    # never run past the captured frame
    frame_end = (offs + lens)[rows]
    pay_len = np.minimum(pay_len, np.maximum(frame_end - pay_off, 0))
    return rows, pay_off, pay_len


def packets_from_capture(data: bytes) -> pa.RecordBatch:
    """One capture file -> (pcap_index, pcap_sec, pcap_usec, payload) batch.

    pcap_index is 1-based over ALL frames — dropped non-UDP frames bump it
    without emitting a row (ref NQ:3403: the counter increments before the
    protocol filter).
    """
    sec, usec, offs, lens = frame_records(data)
    corpus = np.frombuffer(data, dtype=np.uint8)
    rows, pay_off, pay_len = strip_to_udp(corpus, offs, lens)

    # gather payload bytes into one contiguous block (whole-array)
    out_offs = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum(pay_len, out=out_offs[1:])
    total = int(out_offs[-1])
    pos = np.arange(total, dtype=np.int64) - np.repeat(out_offs[:-1], pay_len)
    flat = corpus[np.repeat(pay_off, pay_len) + pos]
    payload = pa.Array.from_buffers(
        pa.large_binary(), len(rows),
        [None, pa.py_buffer(out_offs.tobytes()), pa.py_buffer(flat.tobytes())],
    )
    tbl = pa.table({
        "pcap_index": pa.array(rows + 1, type=pa.int64()),
        "pcap_sec": pa.array(sec[rows], type=pa.int64()),
        "pcap_usec": pa.array(usec[rows], type=pa.int64()),
        "payload": payload,
    })
    lim = _BINARY_OFFSET_LIMIT
    if total < lim:
        return tbl.set_column(3, "payload", payload.cast(pa.binary()))
    # a single capture can exceed int32 binary offsets (>2 GB of UDP
    # payload): split at row boundaries so every slice casts safely —
    # cast rebases the sliced large_binary offsets into fresh int32 ones
    cuts = [0]
    while cuts[-1] < len(rows):
        nxt = int(np.searchsorted(out_offs, out_offs[cuts[-1]] + lim,
                                  side="right")) - 1
        cuts.append(max(nxt, cuts[-1] + 1))
    parts = []
    for a, b in zip(cuts[:-1], cuts[1:]):
        sl = tbl.slice(a, b - a)
        parts.append(sl.set_column(
            3, "payload",
            sl.column("payload").combine_chunks().cast(pa.binary())))
    return pa.concat_tables(parts)


PACKETS_SCHEMA = ("pcap_index long, pcap_sec long, pcap_usec long, "
                  "payload binary")


def _list_captures(path: str) -> list[str]:
    """The capture files both readers scan: an existing file itself,
    every ``*.pcap`` under a directory (recursive; ``_``-prefixed names
    are included, glob skips ``.``-prefixed ones), else the
    ``glob(path)`` matches. Only regular files are kept: a directory
    named like a capture is searched, never read. Glob metacharacters in
    an existing file or directory name match literally. Raises
    FileNotFoundError naming ``path`` when nothing matches."""
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        found = glob.glob(os.path.join(glob.escape(path), "**", "*.pcap"),
                          recursive=True)
    else:
        found = glob.glob(path)
    files = [f for f in found if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no .pcap files under {path}")
    return sorted(files)


def _capture_batches(path: str):
    """One capture file -> its packet batches (none for an empty capture)."""
    with open(path, "rb") as f:
        tbl = packets_from_capture(f.read())
    if tbl.num_rows:
        yield from tbl.to_batches()


def _scan_captures(names):
    """Packet batches of every capture file named in a stream of ``path``
    batches: the per-file loop of ``read_pcap``'s task and of the fused
    ``parse_packets`` task."""
    for b in names:
        for f in b.column("path").to_pylist():
            yield from _capture_batches(f)


# read_pcap's own DataFrames -> the file-list relation each one maps over.
# Keyed by object identity, so a DataFrame derived from one is never found.
_CAPTURE_FILES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_pcap(spark: SparkSession, path: str) -> DataFrame:
    """Distributed pcap scan: capture files -> packets DataFrame.

    The ``_list_captures`` list goes to Spark through ``_names_df``, the
    engine's one file-list path; each task reads whole capture files from
    the local or shared filesystem (a 100 TB corpus is many capture files;
    each decodes independently). The emitted pcap_index is per-file, like
    the reference's per-run counter. ``parse_packets`` over the returned
    DataFrame itself frames and parses in one task per file
    (``capture_files``).
    """
    names = _names_df(spark, _list_captures(path), "path")
    packets = names.mapInArrow(_scan_captures, PACKETS_SCHEMA)
    _CAPTURE_FILES[packets] = names
    return packets


def capture_files(packets: DataFrame) -> DataFrame | None:
    """The ``path`` relation ``packets`` maps over when ``packets`` is a
    DataFrame ``read_pcap`` returned and is not cached, else None."""
    if packets.is_cached:
        return None
    return _CAPTURE_FILES.get(packets)


# ------------------------------------------------ registered Spark format

class _PcapPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _PcapReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pcap source needs a path")

    def partitions(self):
        return [_PcapPartition(f) for f in _list_captures(self.path)]

    def read(self, partition: _PcapPartition):
        yield from _capture_batches(partition.path)


class PcapDataSource(DataSource):
    """spark.read.format("pcap").load(path): one task per capture file of
    ``_list_captures(path)`` (local/shared filesystem paths), the same
    files and rows as ``read_pcap``. Register with
    spark.dataSource.register(PcapDataSource)."""

    @classmethod
    def name(cls) -> str:
        return "pcap"

    def schema(self):
        return PACKETS_SCHEMA

    def reader(self, schema):
        return _PcapReader(self.options)
