"""DICT codec: arrow dictionary-encode + bit-packed codes.

The explicit analogue of the Parquet dictionary encoding the reference relies
on implicitly (default WriterProperties, ref NQ:3396). Values page is encoded
recursively with PLAIN; codes are bit-packed at ceil(log2(n_dict)) bits, the
RLE_DICTIONARY shape without the hybrid runs (RLE is its own codec here).

Row subsets (``decode_rows``): DICT reads only the wanted rows' codes
(``unpack_bits_at``) and takes them from the dictionary page; RLE finds
each wanted row's run by binary search over the cumulative run lengths,
O(runs + rows wanted). Both still decode the whole dictionary page.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from omi_cpp_parquet_wide_record_spark.codecs.base import (
    Codec, bit_width, name_type, pack_bits, register, split_sections,
    type_name, unpack_bits, unpack_bits_at,
)
from omi_cpp_parquet_wide_record_spark.codecs.plain import PlainCodec


class DictCodec(Codec):
    name = "dict"

    def encode(self, arr: pa.Array) -> tuple[list[bytes], dict]:
        if len(arr) == 0:
            return [b"", b""], {"n": 0, "w": 0, "ndict": 0,
                                "values": {"sections": []}}
        denc = arr.dictionary_encode()
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.uint64)
        values = denc.dictionary
        w = bit_width(len(values) - 1) if len(values) > 1 else 0
        vsections, vparams = PlainCodec().encode(values)
        vpayload = b"".join(vsections)
        vparams = {**vparams, "atype": type_name(values.type),
                   "sections": [len(s) for s in vsections]}
        return [pack_bits(codes, w), vpayload], {
            "n": len(arr), "w": w, "ndict": len(values), "values": vparams}

    def decode(self, sections, params: dict) -> pa.Array:
        if params["n"] == 0:
            return pa.array([], type=name_type(params["atype"]))
        codes = unpack_bits(sections[0], params["n"], params["w"])
        return _take(sections[1], params, codes)

    def decode_rows(self, sections, params: dict, rows) -> pa.Array:
        if params["n"] == 0:
            return pa.array([], type=name_type(params["atype"]))
        codes = unpack_bits_at(sections[0], rows, params["w"], params["n"])
        return _take(sections[1], params, codes)


class RleCodec(Codec):
    """Run-length encoding: run values (dict-encoded) + bit-packed run lengths.

    Wins on sorted/clustered columns; the analogue of Parquet's def-level RLE
    that the reference's OPTIONAL columns lean on (ref NQ:286 repetition).
    Works for any logical type by running over dictionary codes.
    """

    name = "rle"

    def encode(self, arr: pa.Array) -> tuple[list[bytes], dict]:
        n = len(arr)
        if n == 0:
            return [b"", b"", b""], {"n": 0, "nruns": 0, "wlen": 0, "wcode": 0,
                                     "values": {"sections": []}}
        denc = arr.dictionary_encode()
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        values = denc.dictionary
        change = np.empty(n, dtype=bool)
        change[0] = True
        np.not_equal(codes[1:], codes[:-1], out=change[1:])
        starts = np.flatnonzero(change)
        run_codes = codes[starts].astype(np.uint64)
        run_lens = (np.diff(np.append(starts, n))).astype(np.uint64)
        wcode = bit_width(len(values) - 1) if len(values) > 1 else 0
        wlen = bit_width(int(run_lens.max()))
        vsections, vparams = PlainCodec().encode(values)
        vparams = {**vparams, "atype": type_name(values.type),
                   "sections": [len(s) for s in vsections]}
        return [pack_bits(run_codes, wcode), pack_bits(run_lens, wlen),
                b"".join(vsections)], {
            "n": n, "nruns": len(starts), "wlen": wlen, "wcode": wcode,
            "values": vparams}

    def decode(self, sections, params: dict) -> pa.Array:
        if params["n"] == 0:
            return pa.array([], type=name_type(params["atype"]))
        run_codes, run_lens = _runs(sections, params)
        return _take(sections[2], params, np.repeat(run_codes, run_lens))

    def decode_rows(self, sections, params: dict, rows) -> pa.Array:
        if params["n"] == 0:
            return pa.array([], type=name_type(params["atype"]))
        run_codes, run_lens = _runs(sections, params)
        run = np.searchsorted(np.cumsum(run_lens), rows, side="right")
        return _take(sections[2], params, run_codes[run])


def _runs(sections, params: dict) -> tuple[np.ndarray, np.ndarray]:
    """An RLE chunk's run codes and run lengths; lengths that do not sum
    to the chunk's rows raise ``ValueError``."""
    nruns = params["nruns"]
    run_codes = unpack_bits(sections[0], nruns, params["wcode"])
    run_lens = unpack_bits(sections[1], nruns, params["wlen"]).view(np.int64)
    total = int(run_lens.sum())
    if total != params["n"]:
        raise ValueError(f"rle run lengths sum to {total}, not the chunk's "
                         f"{params['n']} rows")
    return run_codes, run_lens


def _take(vsection, params: dict, codes: np.ndarray) -> pa.Array:
    """The dictionary page in ``vsection`` (PLAIN, cast to the column's
    type) taken at ``codes``."""
    vparams = params["values"]
    values = PlainCodec().decode(split_sections(vsection, vparams["sections"]),
                                 vparams)
    target = name_type(params["atype"])
    if values.type != target:
        values = values.cast(target)
    return values.take(pa.array(codes.view(np.int64), type=pa.int64()))


register(DictCodec())
register(RleCodec())
