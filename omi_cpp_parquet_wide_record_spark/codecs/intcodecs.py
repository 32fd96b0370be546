"""Integer codecs: BITPACK, FOR (frame-of-reference), DELTA (+zigzag).

SURVEY.md §2.3: BITPACK covers small-domain unsigned ints (the reference's
`message_index` UINT_16 shape, ref NQ:181-208), FOR/DELTA cover monotone-ish
counters the reference stores uncompressed — `pcap_index` (ref NQ:23-45),
`message_sequence` (ref NQ:3457), and `warc_ts`-style timestamps. All three
operate on the widened int64 lane (mod-2^64 arithmetic, exact round trip).

Row subsets (``decode_rows``): BITPACK and FOR read only the wanted rows'
bit windows (``unpack_bits_at``), O(rows wanted) whatever the chunk's size.
DELTA keeps the default full decode and take: a value is the prefix sum
of every difference before it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from omi_cpp_parquet_wide_record_spark.codecs.base import (
    Codec, bit_width, name_type, numeric_values, pack_bits, pack_uints,
    register, unpack_bits, unpack_bits_at, unpack_uints, values_to_array,
    zigzag, unzigzag,
)

_MASK = 0xFFFFFFFFFFFFFFFF


def _int_values(arr: pa.Array, codec: str) -> np.ndarray:
    from omi_cpp_parquet_wide_record_spark.codecs.base import is_int_like
    if not is_int_like(arr.type):
        raise TypeError(f"{codec} supports integer-like columns only, got {arr.type}")
    return numeric_values(arr)


class BitpackCodec(Codec):
    """width = ceil(log2(max+1)) bit lanes; requires non-negative values."""

    name = "bitpack"

    def encode(self, arr: pa.Array) -> tuple[list[bytes], dict]:
        v = _int_values(arr, self.name)
        if len(v) == 0:
            return [b""], {"n": 0, "w": 0}
        if int(v.min()) < 0:
            raise ValueError("bitpack requires non-negative values (use 'for')")
        w = bit_width(int(v.max()))
        return [pack_bits(v.view(np.uint64), w)], {"n": len(v), "w": w}

    def decode(self, sections, params: dict) -> pa.Array:
        v = unpack_bits(sections[0], params["n"], params["w"]).view(np.int64)
        return values_to_array(v, name_type(params["atype"]))

    def decode_rows(self, sections, params: dict, rows) -> pa.Array:
        v = unpack_bits_at(sections[0], rows, params["w"], params["n"])
        return values_to_array(v.view(np.int64), name_type(params["atype"]))


class ForCodec(Codec):
    """Frame-of-reference: deltas from min, mod-2^64 exact for any int64."""

    name = "for"

    def encode(self, arr: pa.Array) -> tuple[list[bytes], dict]:
        # delegate the subtract-min-mod-2^64 + bitpack to base.pack_uints
        # (one copy of the reference arithmetic; params keys identical)
        payload, p = pack_uints(_int_values(arr, self.name))
        return [payload], p

    def decode(self, sections, params: dict) -> pa.Array:
        v = unpack_uints(sections[0], params)
        return values_to_array(v, name_type(params["atype"]))

    def decode_rows(self, sections, params: dict, rows) -> pa.Array:
        d = unpack_bits_at(sections[0], rows, params["w"], params["n"])
        d += np.uint64(params["ref"] & _MASK)
        return values_to_array(d.view(np.int64), name_type(params["atype"]))


class DeltaCodec(Codec):
    """first value + zigzag(diff) bitpacked; wins on near-monotone columns."""

    name = "delta"

    def encode(self, arr: pa.Array) -> tuple[list[bytes], dict]:
        v = _int_values(arr, self.name)
        if len(v) == 0:
            return [b""], {"n": 0, "w": 0, "first": 0}
        first = int(v[0])
        u = v.view(np.uint64)
        d = (u[1:] - u[:-1]).view(np.int64)  # mod-2^64 diff, exact
        z = zigzag(d)
        w = bit_width(int(z.max())) if len(z) else 0
        return [pack_bits(z, w)], {"n": len(v), "w": w, "first": first}

    def decode(self, sections, params: dict) -> pa.Array:
        n = params["n"]
        target = name_type(params["atype"])
        if n == 0:
            return values_to_array(np.zeros(0, np.int64), target)
        z = unpack_bits(sections[0], n - 1, params["w"])
        d = unzigzag(z).view(np.uint64)
        v = np.empty(n, dtype=np.uint64)
        v[0] = np.uint64(params["first"] & _MASK)
        np.cumsum(d, out=v[1:])
        v[1:] += v[0]
        return values_to_array(v.view(np.int64), target)


register(BitpackCodec())
register(ForCodec())
register(DeltaCodec())
