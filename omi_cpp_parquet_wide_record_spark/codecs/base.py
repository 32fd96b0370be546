"""Codec substrate: vectorized primitives + the null-aware column container.

Every kernel in this package is pure numpy / pyarrow on whole arrays — zero
per-row Python — per the engine's north rule. The reference's per-field wire
codecs (ref NQ:283-327: each field struct pins name/type/size/set()/reset())
become here a per-column *codec descriptor*: ``(codec, params_json)`` recorded
in the chunk manifest, with the payload bytes laid out as length-prefixed
sections.

Layout of one encoded column chunk::

    [section 0: packed validity bitmap]   -- only if nulls > 0
    [section 1..k: codec-specific]

Section lengths live in ``params["sections"]`` so the payload itself carries
no framing bytes. ``params`` must stay JSON-safe (manifest rows are a Spark
DataFrame column).
"""

from __future__ import annotations

import functools
import itertools
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# --------------------------------------------------------------------------
# Arrow type registry (JSON-safe names <-> pa.DataType)
# --------------------------------------------------------------------------

_TYPES: dict[str, pa.DataType] = {
    "bool": pa.bool_(),
    "int8": pa.int8(),
    "int16": pa.int16(),
    "int32": pa.int32(),
    "int64": pa.int64(),
    "uint8": pa.uint8(),
    "uint16": pa.uint16(),
    "uint32": pa.uint32(),
    "uint64": pa.uint64(),
    "float32": pa.float32(),
    "float64": pa.float64(),
    "date32": pa.date32(),
    "timestamp_us": pa.timestamp("us"),
    "timestamp_us_utc": pa.timestamp("us", tz="UTC"),
    "timestamp_ns": pa.timestamp("ns"),
    "string": pa.string(),
    "large_string": pa.large_string(),
    "binary": pa.binary(),
    "large_binary": pa.large_binary(),
}
_TYPE_NAMES = {v: k for k, v in _TYPES.items()}

# storage width in bytes for fixed-width logicals (plain encoding width)
_WIDTHS = {
    "bool": 1, "int8": 1, "uint8": 1, "int16": 2, "uint16": 2,
    "int32": 4, "uint32": 4, "int64": 8, "uint64": 8,
    "float32": 4, "float64": 8, "date32": 4,
    "timestamp_us": 8, "timestamp_us_utc": 8, "timestamp_ns": 8,
}

_NP_BY_NAME = {
    "bool": np.uint8, "int8": np.int8, "uint8": np.uint8,
    "int16": np.int16, "uint16": np.uint16, "int32": np.int32,
    "uint32": np.uint32, "int64": np.int64, "uint64": np.uint64,
    "float32": np.float32, "float64": np.float64, "date32": np.int32,
    "timestamp_us": np.int64, "timestamp_us_utc": np.int64, "timestamp_ns": np.int64,
}


def type_name(t: pa.DataType) -> str:
    try:
        return _TYPE_NAMES[t]
    except KeyError:
        # nested lists name recursively: list<float32>, large_list<string>,
        # list<list<int64>> — parsed back by name_type
        if pa.types.is_list(t):
            return f"list<{type_name(t.value_type)}>"
        if pa.types.is_large_list(t):
            return f"large_list<{type_name(t.value_type)}>"
        if pa.types.is_struct(t):
            # the serialized type string splits on ':' ',' '<' '>' — Spark
            # struct field names CAN contain them (backtick-quoted), so a
            # store written with such a name could never be read back.
            # Refuse at encode time with a clear error instead.
            for f in t:
                if any(ch in f.name for ch in ":,<>"):
                    raise ValueError(
                        f"struct field name {f.name!r} contains one of "
                        "':,<>' which the codec type serialization cannot "
                        "represent; rename the field before encoding")
            return "struct<" + ",".join(
                f"{f.name}:{type_name(f.type)}" for f in t) + ">"
        if pa.types.is_map(t):
            return f"map<{type_name(t.key_type)},{type_name(t.item_type)}>"
        raise TypeError(f"unsupported column type for codec layer: {t}") from None


def _split_top(s: str) -> list[str]:
    """Split on commas at bracket depth 0 (struct<a:int64,b:list<...>>)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


@functools.lru_cache(maxsize=1024)
def name_type(name: str) -> pa.DataType:
    if name.startswith("list<") and name.endswith(">"):
        return pa.list_(name_type(name[5:-1]))
    if name.startswith("large_list<") and name.endswith(">"):
        return pa.large_list(name_type(name[11:-1]))
    if name.startswith("struct<") and name.endswith(">"):
        fields = []
        for part in _split_top(name[7:-1]):
            fname, ftype = part.split(":", 1)
            fields.append(pa.field(fname, name_type(ftype)))
        return pa.struct(fields)
    if name.startswith("map<") and name.endswith(">"):
        k, v = _split_top(name[4:-1])
        return pa.map_(name_type(k), name_type(v))
    return _TYPES[name]


def is_bytes_like(t: pa.DataType) -> bool:
    return pa.types.is_string(t) or pa.types.is_binary(t) or \
        pa.types.is_large_string(t) or pa.types.is_large_binary(t)


def is_int_like(t: pa.DataType) -> bool:
    """Integer-valued logicals eligible for BITPACK/FOR/DELTA/RLE."""
    return (
        pa.types.is_integer(t)
        or pa.types.is_boolean(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_date(t)
    )


# --------------------------------------------------------------------------
# Section framing
# --------------------------------------------------------------------------

def pack_sections(sections: list[bytes]) -> tuple[bytes, list[int]]:
    return b"".join(sections), [len(s) for s in sections]


def split_sections(payload: bytes | memoryview, lens: list[int]) -> list[memoryview]:
    """``payload`` cut into sections of the byte lengths ``lens``. Lengths
    that overrun the payload raise ``ValueError``: a slice past the end
    would come back short, and the codec would read it as data."""
    mv = memoryview(payload)
    if sum(lens) > mv.nbytes:
        raise ValueError(f"section lengths {list(lens)} sum past the "
                         f"payload's {mv.nbytes} bytes")
    out, pos = [], 0
    for n in lens:
        out.append(mv[pos:pos + n])
        pos += n
    return out


# --------------------------------------------------------------------------
# Bit packing (vectorized; the RLE_DICTIONARY index-packing analogue,
# ref: parquet defaults the reference relies on at NQ:3396)
# --------------------------------------------------------------------------

def bit_width(max_value: int) -> int:
    return int(max_value).bit_length()


# widths whose lanes are whole big-endian machine words: packed bits are
# then exactly the values' big-endian bytes
_BYTE_LANES = {8: ">u1", 16: ">u2", 32: ">u4", 64: ">u8"}

# The narrowest width whose full decode gathers windows (``_gather`` over
# every position) instead of looping once per bit position. Measured on
# one Xeon core (x86-64) with numpy 1.26: the loop costs ~5.5 us per bit
# of width on 2,000 values (~24 us on 20,000) and the gather ~37 us
# (~150 us) at any width up to 57, so they cross between 6 and 7 bits at
# both sizes.
GATHER_MIN_WIDTH = 7


def pack_bits(values: np.ndarray, width: int) -> bytes:
    """Pack uint64 values into MSB-first ``width``-bit lanes (the low
    ``width`` bits of each value).

    Widths 8, 16, 32 and 64 are the values' big-endian bytes. Other widths
    take one pass per bit position instead of a broadcast (n, width) uint64
    matrix: the broadcast form peaked at ~72x the payload in temporaries
    (n*width*8 bytes) on every int-codec encode; the loop keeps the peak
    at the n*width uint8 bit plane plus one n-length uint64 scratch.
    Byte output is identical on every path."""
    if width == 0 or len(values) == 0:
        return b""
    v = values.astype(np.uint64, copy=False)
    if width in _BYTE_LANES:
        return v.astype(_BYTE_LANES[width]).tobytes()
    n = len(v)
    bits = np.empty((n, width), dtype=np.uint8)
    tmp = np.empty(n, dtype=np.uint64)
    for j in range(width):                    # MSB first
        np.right_shift(v, np.uint64(width - 1 - j), out=tmp)
        np.bitwise_and(tmp, np.uint64(1), out=tmp)
        bits[:, j] = tmp
    return np.packbits(bits.ravel()).tobytes()


def _packed_bytes(data: bytes | memoryview, n: int, width: int) -> np.ndarray:
    """``data`` as uint8, checked to hold ``n`` values of ``width`` bits.
    A short section raises ``ValueError``: unpacking would read its
    missing tail as zeros."""
    u8 = np.frombuffer(data, dtype=np.uint8)
    need = (n * width + 7) // 8
    if len(u8) < need:
        raise ValueError(f"bit-packed section holds {len(u8)} bytes; {n} "
                         f"values of {width} bits need {need}")
    return u8


def unpack_bits(data: bytes | memoryview, n: int, width: int) -> np.ndarray:
    """Inverse of pack_bits: the ``n`` values of ``data`` as uint64.

    One entry point, three paths with the same output: widths 8, 16, 32
    and 64 read the bytes as big-endian words; widths from
    ``GATHER_MIN_WIDTH`` up gather each value's byte window (as
    ``unpack_bits_at`` does, over every position); narrower widths
    unpack the bit plane and OR in one bit position per pass (the
    reshape + astype(uint64) + shift form peaked at ~131x the payload).
    A section shorter than ``n`` values raises ``ValueError``."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    u8 = _packed_bytes(data, n, width)
    if width in _BYTE_LANES:
        return np.frombuffer(u8, dtype=_BYTE_LANES[width],
                             count=n).astype(np.uint64)
    if width >= GATHER_MIN_WIDTH:
        return _gather(u8, np.arange(n, dtype=np.int64), width)
    return _unpack_bits_loop(u8, n, width)


def _unpack_bits_loop(u8: np.ndarray, n: int, width: int) -> np.ndarray:
    """``unpack_bits``'s per-bit-position path over a checked section."""
    bits = np.unpackbits(u8, count=n * width).reshape(n, width)
    out = np.zeros(n, dtype=np.uint64)
    tmp = np.empty(n, dtype=np.uint64)
    for j in range(width):                    # MSB first
        np.copyto(tmp, bits[:, j])            # widening copy, no alloc
        tmp <<= np.uint64(width - 1 - j)
        out |= tmp
    return out


def unpack_bits_at(data: bytes | memoryview, idx: np.ndarray, width: int,
                   n: int) -> np.ndarray:
    """The values at positions ``idx`` of a section packed by pack_bits
    with ``n`` values, as uint64, equal to ``unpack_bits(data, n,
    width)[idx]`` in O(len(idx)): each value is shifted out of the
    big-endian 8-byte window that holds it (9 bytes for widths over
    57, where 7 bits of offset plus the width pass 64). A section shorter
    than ``n`` values raises ``ValueError``; a position outside [0, n)
    raises ``IndexError``."""
    idx = np.asarray(idx, dtype=np.int64)
    if len(idx) and (int(idx.min()) < 0 or int(idx.max()) >= n):
        raise IndexError(f"bit-packed positions outside [0, {n})")
    if width == 0 or len(idx) == 0:
        return np.zeros(len(idx), dtype=np.uint64)
    return _gather(_packed_bytes(data, n, width), idx, width)


def _gather(u8: np.ndarray, idx: np.ndarray, width: int) -> np.ndarray:
    """``unpack_bits_at`` over a checked section and in-range positions:
    shifting a value's window left by its bit offset drops the bits
    before it, and a right shift by (64 - width) the bits after it."""
    bit = idx * width
    start = bit >> 3
    shift = bit.view(np.uint64) & np.uint64(7)
    win = _be64_at(u8, start)
    win <<= shift
    if width > 57:
        # the shift bits the window lacks come from the next byte (a right
        # shift by 8 when the offset is 0 adds none)
        nxt = _be64_at(u8, start + 1) & np.uint64(0xFF)
        win |= nxt >> (np.uint64(8) - shift)
    win >>= np.uint64(64 - width)
    return win


def _be64_at(u8: np.ndarray, start: np.ndarray) -> np.ndarray:
    """The big-endian uint64 of the 8 bytes at each offset in ``start``
    (each in [0, len(u8)]). Windows that fit read ``u8`` in place; the few
    that run past its end read a copy of its last bytes followed by zeros,
    which hold no wanted bit."""
    m = len(u8)
    if len(start) and m >= 8 and start.max() <= m - 8:
        return _words(u8).take(start).astype(np.uint64)
    over = start > m - 8
    past = np.flatnonzero(over)
    win = np.empty(len(start), dtype=np.uint64)
    if m >= 8:
        win[:] = _words(u8).take(np.where(over, 0, start) if len(past)
                                 else start)
    if len(past):
        base = max(m - 8, 0)
        tail = np.zeros(m - base + 8, dtype=np.uint8)
        tail[:m - base] = u8[base:]
        win[past] = _words(tail).take(start[past] - base)
    return win


def _words(u8: np.ndarray) -> np.ndarray:
    """A view of the big-endian uint64 at every byte offset of ``u8``
    whose 8 bytes lie inside it (a 1-byte stride, no copy)."""
    return np.ndarray((len(u8) - 7,), dtype=">u8", buffer=u8, strides=(1,))


# --------------------------------------------------------------------------
# uintpack: frame-of-reference + bitpack for auxiliary integer vectors
# (run lengths, string lengths, dictionary indices). Self-describing params.
# --------------------------------------------------------------------------

def pack_uints(values: np.ndarray) -> tuple[bytes, dict]:
    """Lossless pack of any int64/uint64 vector: subtract min (mod 2^64), bitpack."""
    if len(values) == 0:
        return b"", {"n": 0, "ref": 0, "w": 0}
    u = values.astype(np.uint64, copy=False) if values.dtype != np.int64 \
        else values.view(np.uint64)
    ref = int(values.min())  # python int, exact
    d = u - np.uint64(ref & 0xFFFFFFFFFFFFFFFF)
    w = bit_width(int(d.max()))
    return pack_bits(d, w), {"n": len(values), "ref": ref, "w": w}


def unpack_uints(data: bytes | memoryview, p: dict, dtype=np.int64) -> np.ndarray:
    n = p["n"]
    if n == 0:
        return np.zeros(0, dtype=dtype)
    d = unpack_bits(data, n, p["w"])
    out = d + np.uint64(p["ref"] & 0xFFFFFFFFFFFFFFFF)
    return out.view(np.int64).astype(dtype, copy=False) if dtype == np.int64 \
        else out.astype(dtype, copy=False)


def zigzag(v: np.ndarray) -> np.ndarray:
    s = v.astype(np.int64, copy=False)
    return ((s << np.int64(1)) ^ (s >> np.int64(63))).view(np.uint64)


def unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64, copy=False)
    return ((u >> np.uint64(1)).view(np.int64)) ^ -(u & np.uint64(1)).view(np.int64)


# --------------------------------------------------------------------------
# Bytes-block view: (lengths, corpus) of a null-free binary-like array
# --------------------------------------------------------------------------

def bytes_block(arr: pa.Array) -> tuple[np.ndarray, memoryview]:
    """Zero-ish-copy (one cast) view of a null-free string/binary array."""
    if arr.null_count:
        raise ValueError("bytes_block requires a null-free array")
    a = arr.cast(pa.large_binary())
    if isinstance(a, pa.ChunkedArray):  # pragma: no cover
        a = a.combine_chunks()
    off = np.frombuffer(a.buffers()[1], dtype=np.int64,
                        count=len(a) + 1, offset=a.offset * 8)
    data = a.buffers()[2]
    corpus = memoryview(data)[int(off[0]):int(off[-1])] if data is not None \
        else memoryview(b"")
    return np.diff(off), corpus


def block_to_array(lengths: np.ndarray, corpus: bytes | memoryview,
                   target: pa.DataType) -> pa.Array:
    """Rebuild a binary-like array from (lengths, corpus); cast validates UTF-8."""
    n = len(lengths)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=off[1:])
    arr = pa.Array.from_buffers(
        pa.large_binary(), n,
        [None, pa.py_buffer(off.tobytes()), pa.py_buffer(bytes(corpus))],
    )
    return arr.cast(target)


# --------------------------------------------------------------------------
# Numeric views
# --------------------------------------------------------------------------

def numeric_values(arr: pa.Array) -> np.ndarray:
    """Null-free arrow array -> numpy, integer-like widened to int64."""
    t = arr.type
    if pa.types.is_timestamp(t):
        arr = arr.cast(pa.int64())
    elif pa.types.is_date32(t):
        arr = arr.cast(pa.int32())
    elif pa.types.is_boolean(t):
        arr = arr.cast(pa.uint8())
    v = arr.to_numpy(zero_copy_only=False)
    if v.dtype.kind in "iu" and v.dtype != np.int64 and v.dtype != np.uint64:
        v = v.astype(np.int64)
    if v.dtype == np.uint64:
        v = v.view(np.int64)  # keep one canonical int lane; mod-2^64 exact
    return v


def values_to_array(v: np.ndarray, target: pa.DataType) -> pa.Array:
    name = type_name(target)
    npdt = _NP_BY_NAME[name]
    if name == "bool":
        return pa.array(v.astype(np.uint8).view(np.bool_), type=pa.bool_())
    if name in ("timestamp_us", "timestamp_us_utc", "timestamp_ns", "date32"):
        return pa.array(v.astype(npdt), type=pa.int64() if npdt == np.int64 else pa.int32()).cast(target)
    if npdt == np.uint64 and v.dtype == np.int64:
        v = v.view(np.uint64)
    return pa.array(v.astype(npdt, copy=False), type=target)


# --------------------------------------------------------------------------
# Codec registry + null-aware container
# --------------------------------------------------------------------------

@dataclass
class Encoded:
    codec: str
    params: dict          # JSON-safe; includes "sections", "atype", "rows", "nulls"
    payload: bytes
    rows: int
    nulls: int
    bytes_in: int         # plain-equivalent input size (for ratio accounting)


class Codec:
    name: str = "?"

    def encode(self, arr: pa.Array) -> tuple[list[bytes], dict]:
        raise NotImplementedError

    def decode(self, sections: list[memoryview], params: dict) -> pa.Array:
        raise NotImplementedError

    def decode_rows(self, sections: list[memoryview], params: dict,
                    rows: np.ndarray) -> pa.Array:
        """The dense (null-free) values at the sorted positions ``rows``.
        Codecs whose format can locate a row without decoding the rest
        override this; the default decodes everything and takes."""
        return self.decode(sections, params).take(pa.array(rows))


_REGISTRY: dict[str, Codec] = {}


def register(codec: Codec) -> Codec:
    _REGISTRY[codec.name] = codec
    return codec


def get_codec(name: str) -> Codec:
    return _REGISTRY[name]


def codec_names() -> list[str]:
    return sorted(_REGISTRY)


def plain_size(arr: pa.Array) -> int:
    """Size this column would occupy PLAIN (the reference's UNCOMPRESSED
    baseline shape, ref NQ:3396): fixed width * rows, or corpus + 4B/len."""
    t = arr.type
    n = len(arr)
    if is_bytes_like(t):
        nn = arr.drop_null() if arr.null_count else arr
        nbytes = int(pc.sum(pc.binary_length(nn)).as_py() or 0)
        return nbytes + 4 * n
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        nn = arr.drop_null() if arr.null_count else arr
        flat = nn.combine_chunks().flatten() if isinstance(
            nn, pa.ChunkedArray) else nn.flatten()
        return plain_size(flat) + 4 * n          # child values + offsets
    if pa.types.is_struct(t):
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        return sum(plain_size(arr.field(i)) for i in range(t.num_fields))
    if pa.types.is_map(t):
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        nn = arr.drop_null() if arr.null_count else arr
        return plain_size(nn.keys) + plain_size(nn.items) + 4 * n
    return _WIDTHS[type_name(t)] * n


def encode_column(arr: pa.Array, codec_name: str,
                  shared: dict | None = None) -> Encoded:
    """Null-aware entry point: strips nulls, bitmaps them, delegates to codec.

    ``shared`` is an optional mutable dict scoped by the caller to one
    data distribution (e.g. a partition value + column); codecs that set
    ``supports_shared_plan`` stash reusable trained state there (FSST's
    symbol table) so later chunks of the same distribution skip training."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    nulls = arr.null_count
    atype = type_name(arr.type)
    bytes_in = plain_size(arr)
    nn = arr.drop_null() if nulls else arr
    codec = get_codec(codec_name)
    if shared is not None and getattr(codec, "supports_shared_plan", False):
        sections, cparams = codec.encode(nn, shared=shared)
    else:
        sections, cparams = codec.encode(nn)
    if nulls:
        valid = np.zeros(n, dtype=np.uint8)
        validity = arr.is_valid().to_numpy(zero_copy_only=False)
        valid[:] = validity
        bitmap = np.packbits(valid).tobytes()
        sections = [bitmap, *sections]
    payload, lens = pack_sections(sections)
    params = {"codec": codec_name, "atype": atype, "rows": n, "nulls": nulls,
              "sections": lens, **cparams}
    return Encoded(codec_name, params, payload, n, nulls, bytes_in)


class ColumnLayout(dict):
    """A column chunk's params, with what decoding needs from them worked
    out once: the codec, the Arrow target type, the row and null counts
    and the section bounds. ``decode_column`` takes it wherever it takes
    params; a chunk footer keeps one per column, so repeated reads of a
    chunk skip the params parsing. Never mutated once built."""

    __slots__ = ("codec", "target", "n", "nulls", "bounds", "size", "bitmap")

    def __init__(self, params: dict):
        super().__init__(params)
        self.codec = get_codec(params["codec"])
        self.target = name_type(params["atype"])
        self.n = params["rows"]
        self.nulls = params["nulls"]
        ends = list(itertools.accumulate(params["sections"]))
        self.bounds = list(zip([0] + ends[:-1], ends))
        self.size = ends[-1] if ends else 0
        # some rows valid, and a validity bitmap long enough to test any
        self.bitmap = 0 < self.nulls < self.n and \
            self.bounds[0][1] >= (self.n + 7) // 8

    def sections(self, payload: bytes | memoryview) -> list[memoryview]:
        """``split_sections`` of ``payload`` by the precomputed bounds."""
        mv = memoryview(payload)
        if self.size > mv.nbytes:
            raise ValueError(f"section lengths {list(self['sections'])} "
                             f"sum past the payload's {mv.nbytes} bytes")
        return [mv[a:b] for a, b in self.bounds]


class WantedRows:
    """Sorted row positions of a subset, with each row's validity-bitmap
    byte and bit mask computed once for every column of a chunk read."""

    __slots__ = ("rows", "byte", "mask", "bit", "span")

    def __init__(self, rows):
        self.rows = np.asarray(rows, dtype=np.int64)
        # (first, last) row, for the range check of each column
        self.span = (int(self.rows[0]), int(self.rows[-1])) \
            if len(self.rows) else (0, -1)
        self.byte = self.rows >> 3
        self.bit = (self.rows & 7).astype(np.intp)
        self.mask = np.uint8(0x80) >> self.bit.astype(np.uint8)

    def __len__(self) -> int:
        return len(self.rows)

    def __iter__(self):
        return iter(self.rows)


def any_valid(buf: np.ndarray, starts: np.ndarray,
              sel: WantedRows) -> np.ndarray:
    """For the validity bitmaps (payload section 0) that start at each of
    ``starts`` in the uint8 ``buf``, whether any of ``sel``'s rows is
    valid: one gather for every column of a chunk read."""
    at = buf[starts[:, None] + sel.byte]
    return ((at & sel.mask) != 0).any(axis=1)


# popcount of every byte, and of its top j bits (MSB first) for j in 0..7
_POPCOUNT = np.array([bin(b).count("1") for b in range(256)], dtype=np.uint8)
_POPCOUNT_TOP = np.array([[bin(b >> (8 - j)).count("1") if j else 0
                           for j in range(8)] for b in range(256)],
                         dtype=np.int64)


def decode_column(payload: bytes | memoryview, params: dict,
                  rows=None) -> pa.Array:
    """Decode a column chunk; with ``rows`` (sorted row positions, or a
    ``WantedRows`` of them shared by a chunk's columns), only those rows,
    equal to ``decode_column(payload, params).take(rows)``. ``params``
    may be a ``ColumnLayout``, which skips parsing them.

    A subset reads only the wanted rows' validity bits, O(len(rows)):
    when none is set (a filtered read of the sparse wide record keeps one
    message type, so most columns hold no value on any surviving row) it
    returns nulls without touching the codec. Otherwise the wanted rows'
    positions among the dense (non-null) values come from byte popcounts,
    O(n / 8), and only those values decode."""
    lay = params if isinstance(params, ColumnLayout) else ColumnLayout(params)
    sel = rows if rows is None or isinstance(rows, WantedRows) else \
        WantedRows(rows)
    n, target = lay.n, lay.target
    m = n if sel is None else len(sel)
    sections = lay.sections(payload)
    if n and lay.nulls == n:            # an all-NULL chunk column
        return pa.nulls(m, target)
    if sel is not None and (sel.span[0] < 0 or sel.span[1] >= n):
        raise IndexError(f"row positions outside [0, {n})")
    hit = None
    if lay.nulls:
        bm = np.frombuffer(sections[0], np.uint8)
        sections = sections[1:]
        if len(bm) < (n + 7) // 8:
            raise ValueError(f"validity bitmap holds {len(bm)} bytes; "
                             f"{n} rows need {(n + 7) // 8}")
        if sel is None:
            hit = np.unpackbits(bm, count=n).astype(bool)
        else:
            at = bm[sel.byte]
            hit = (at & sel.mask).astype(bool)
        if not hit.any():
            return pa.nulls(m, target)
        if sel is not None:
            # dense position = set bits before the row: those of the
            # whole bytes before its byte, then those above its bit
            pop = _POPCOUNT.take(bm)
            ends = np.cumsum(pop, dtype=np.int64)
            dense_rows = (ends[sel.byte] - pop[sel.byte]
                          + _POPCOUNT_TOP[at, sel.bit])[hit]
    if sel is None:
        dense = lay.codec.decode(sections, lay)
    else:
        dense = lay.codec.decode_rows(
            sections, lay, sel.rows if hit is None else dense_rows)
    if dense.type != target:
        dense = dense.cast(target)
    if hit is None or len(dense) == m:
        return dense
    # scatter the dense (null-free) values back under the validity bitmap:
    # a take with NULL indices yields null rows, one kernel for any type
    # (if_else has no kernel for nested types like map)
    idx = np.zeros(m, dtype=np.int64)
    idx[hit] = np.arange(len(dense), dtype=np.int64)
    return dense.take(pa.Array.from_buffers(pa.int64(), m, [
        pa.py_buffer(np.packbits(hit, bitorder="little")),
        pa.py_buffer(idx)]))
