"""Codec kernel round trips (SURVEY.md §5.2 item 2, fixtures per FIXTURES.md F6).

Every codec must satisfy decode(encode(x)) == x bitwise on its supported
types, including the edge shapes: empty, all-null, single-run, max
cardinality, exact bit widths (1/7/32/48/64 — the u48 shape mirrors the
reference's 6-byte timestamp decode, ref NQ:2764-2771), non-ASCII UTF-8,
zero-length-vs-NULL strings (the reference distinguishes unset optional from
empty trim, ref NQ:293-304).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from omi_cpp_parquet_wide_record_spark.codecs import (
    codec_names, decode_column, encode_column,
)
from omi_cpp_parquet_wide_record_spark.codecs.base import (
    pack_bits, split_sections, unpack_bits, unpack_bits_at,
)
from tests.conftest import arrays_equal

INT_CODECS = ["plain", "for", "delta", "dict", "rle"]
POSINT_CODECS = INT_CODECS + ["bitpack"]
STR_CODECS = ["plain", "dict", "rle", "fsst", "fsst2"]


def roundtrip(arr: pa.Array, codec: str) -> None:
    e = encode_column(arr, codec)
    d = decode_column(e.payload, e.params)
    assert arrays_equal(arr, d), f"{codec} round trip failed"


# ---------------------------------------------------------------- integers

@pytest.mark.parametrize("codec", INT_CODECS)
def test_int64_edges(codec):
    for vals in (
        [],
        [None] * 7,
        [0],
        [5] * 100,                                   # single run
        list(range(1000)),                           # monotone, max cardinality
        [1, None, -1, 2**62, -(2**62), 0, None],     # extremes + nulls
        [2**63 - 1, -(2**63), 0],                    # full int64 range (FOR wrap)
        [(1 << 48) - 1, 1 << 47, 0, 12345],          # u48 timestamp shape
    ):
        roundtrip(pa.array(vals, type=pa.int64()), codec)


@pytest.mark.parametrize("codec", POSINT_CODECS)
@pytest.mark.parametrize("width", [1, 7, 32, 48, 63])
def test_exact_bit_widths(codec, width):
    top = (1 << width) - 1
    vals = [0, 1, top, top // 2, top, None, 0]
    roundtrip(pa.array(vals, type=pa.int64()), codec)


@pytest.mark.parametrize("codec", INT_CODECS)
@pytest.mark.parametrize("t", [pa.int32(), pa.int16(), pa.int8()])
def test_narrow_int_types(codec, t):
    roundtrip(pa.array([1, -5, None, 100, 0, 100], type=t), codec)


@pytest.mark.parametrize("codec", ["plain", "for", "delta", "rle"])
def test_timestamp_and_date(codec):
    roundtrip(pa.array([1735689600000000 + i * 1001 for i in range(500)],
                       type=pa.timestamp("us")), codec)
    roundtrip(pa.array([19000, 19001, None, 20000], type=pa.date32()), codec)


@pytest.mark.parametrize("codec", ["plain", "bitpack", "rle", "dict"])
def test_bool(codec):
    roundtrip(pa.array([True, False, None, True] * 50), codec)


# ---------------------------------------------------------------- floats

@pytest.mark.parametrize("codec", ["plain", "dict", "rle"])
def test_floats(codec):
    roundtrip(pa.array([1.5, None, -0.0, 0.0, float("nan"), float("inf"), 2.5e300],
                       type=pa.float64()), codec)
    roundtrip(pa.array([1.5, None, -0.0], type=pa.float32()), codec)


# ---------------------------------------------------------------- strings

@pytest.mark.parametrize("codec", STR_CODECS)
def test_string_edges(codec):
    for vals in (
        [],
        [None, None],
        [""],                                        # empty != NULL (NQ:293-304)
        ["", None, "", None],
        ["a"] * 200,
        ["日本語テキスト", "über", "naïve", "ÿþ", ""],
        [f"https://example{i % 7}.com/path/{i}" for i in range(300)],
    ):
        roundtrip(pa.array(vals, type=pa.string()), codec)


@pytest.mark.parametrize("codec", STR_CODECS)
def test_binary_with_escape_bytes(codec):
    # 0xFF is the FSST escape: stress runs of it in payload
    vals = [b"\xff" * k for k in range(20)] + [b"\x00\xffa\xff\xff", None, b""]
    roundtrip(pa.array(vals, type=pa.binary()), codec)


def test_fsst_compresses_web_text():
    rng = np.random.default_rng(42)
    words = ["the", "quick", "brown", "compression", "http", "table", "spark"]
    docs = [" ".join(rng.choice(words, 60)) for _ in range(200)]
    arr = pa.array(docs)
    e = encode_column(arr, "fsst")
    assert len(e.payload) < 0.5 * e.bytes_in, (len(e.payload), e.bytes_in)
    assert arrays_equal(arr, decode_column(e.payload, e.params))


def test_fsst_round0_raw_bit_identical():
    # the uint16 raw-byte fast path for the first merge round must produce
    # byte-identical payloads to the generic sentineled path — boundary
    # masking vs sentinel tokens must break the greedy parity runs at the
    # same places (multi-block corpus: > BLOCK_BYTES forces the replay path)
    import omi_cpp_parquet_wide_record_spark.codecs.fsst as FZ
    rng = np.random.default_rng(7)
    words = ["<div>", "</div>", "href=", "banana", "Jabberwock", "\xff\xff"]
    docs = ["".join(rng.choice(words, rng.integers(0, 900)))
            for _ in range(1200)] + ["", "x"]
    arr = pa.array(docs)
    assert arr.nbytes > FZ.BLOCK_BYTES_DEFAULT
    c = FZ.FsstCodec()
    fast, p_fast = c.encode(arr)
    orig = FZ._round0_lut16
    FZ._round0_lut16 = lambda prog: None      # force the generic path
    try:
        slow, p_slow = c.encode(arr)
    finally:
        FZ._round0_lut16 = orig
    assert p_fast == p_slow
    assert all(a == b for a, b in zip(fast, slow))


def test_fsst_shared_plan_reuse_and_roundtrip():
    # a shared dict carries the trained table across chunks of one
    # distribution: chunk 2 must replay chunk 1's plan (no retrain) and
    # still round-trip exactly; ratio must stay within a few % of fresh
    rng = np.random.default_rng(3)
    words = ["lorem", "ipsum", "dolor", "<html>", "</html>", "href=\"x\""]
    docs = ["".join(rng.choice(words, rng.integers(1, 120)))
            for _ in range(4000)]
    arr = pa.array(docs)
    n = len(arr)
    c1, c2 = arr.slice(0, n // 2), arr.slice(n // 2)
    for codec in ("fsst", "fsst2"):
        sh: dict = {}
        e1 = encode_column(c1, codec, shared=sh)
        plan = sh["plan"] if codec == "fsst" else sh["p1"]["plan"]
        e2 = encode_column(c2, codec, shared=sh)
        after = sh["plan"] if codec == "fsst" else sh["p1"]["plan"]
        assert after is plan, f"{codec}: plan retrained without drift"
        assert arrays_equal(c1, decode_column(e1.payload, e1.params))
        assert arrays_equal(c2, decode_column(e2.payload, e2.params))
        fresh = encode_column(c2, codec)
        assert len(e2.payload) <= 1.05 * len(fresh.payload), \
            (codec, len(e2.payload), len(fresh.payload))


def test_fsst_shared_plan_drift_retrains():
    # a chunk whose bytes no longer match the trained distribution must
    # trigger a retrain (and the retrained plan replaces the shared one)
    rng = np.random.default_rng(5)
    tame = pa.array(["abcabcabc" * rng.integers(2, 40)
                     for _ in range(2000)])
    wild = pa.array(["".join(chr(33 + int(x))
                             for x in rng.integers(0, 90, 300))
                     for _ in range(1500)])
    sh: dict = {}
    encode_column(tame, "fsst", shared=sh)
    plan = sh["plan"]
    e = encode_column(wild, "fsst", shared=sh)
    assert sh["plan"] is not plan, "drifted chunk did not retrain"
    assert arrays_equal(wild, decode_column(e.payload, e.params))


def test_fsst_shared_slot_does_not_change_output():
    """A fresh ``shared`` slot only stashes the trained plan: every web
    chunk column encodes to the same payload and params with
    ``shared=None`` and with ``shared={}``."""
    from omi_cpp_parquet_wide_record_spark import fixtures as FX
    t = FX.web_pages_table(8000, seed=1)
    checked = 0
    for lang in sorted(set(t.column("lang").to_pylist())):
        part = t.filter(pa.compute.equal(t.column("lang"), lang))
        for off in range(0, part.num_rows, 400):
            chunk = part.slice(off, 400)
            for name in ("url", "text", "html"):
                arr = chunk.column(name).combine_chunks()
                for codec in ("fsst", "fsst2"):
                    alone = encode_column(arr, codec)
                    stashed = encode_column(arr, codec, shared={})
                    assert alone.payload == stashed.payload, (name, codec)
                    assert alone.params == stashed.params, (name, codec)
                    checked += 1
    assert checked >= 100


# ---------------------------------------------------------------- lists

def test_list_roundtrips():
    """Composite list codec: lengths + flattened values each re-enter the
    selector. Null rows, inner nulls, empty lists, strings, and nested
    lists all round-trip; fixed-dim float lists (the embeddings shape)
    get RLE'd lengths."""
    cases = [
        pa.array([[1.0, 2.5], [], None, [3.25], [float("nan")]],
                 type=pa.list_(pa.float32())),
        pa.array([[1, None, 3], None, [], [2**62]],
                 type=pa.list_(pa.int64())),
        pa.array([["a", None], [], ["日本", ""]],
                 type=pa.list_(pa.string())),
        pa.array([[[1, 2], []], None, [[3], None]],
                 type=pa.list_(pa.list_(pa.int32()))),
        pa.array([], type=pa.list_(pa.float64())),
        pa.array([[0.5] * 16] * 300, type=pa.large_list(pa.float64())),
    ]
    for arr in cases:
        roundtrip(arr, "list")
    # the selector routes list columns to the composite codec
    from omi_cpp_parquet_wide_record_spark.selector import choose_codec
    assert choose_codec(cases[-1]).codec == "list"
    # fixed-dim lengths are one RLE/constant run — the encoded lengths
    # must be tiny next to the values
    e = encode_column(cases[-1], "list")
    assert e.params["lp"]["codec"] in ("rle", "for", "dict", "bitpack")


def test_struct_roundtrips():
    """Composite struct codec: each field encodes independently through
    the selector; null struct rows, null fields, and nesting (struct in
    list, list in struct) round-trip."""
    cases = [
        pa.array([{"a": 1, "b": "x"}, None, {"a": None, "b": ""}],
                 type=pa.struct([("a", pa.int64()), ("b", pa.string())])),
        pa.array([{"v": [1.0, 2.0], "n": 3}, {"v": [], "n": None}],
                 type=pa.struct([("v", pa.list_(pa.float64())),
                                 ("n", pa.int32())])),
        pa.array([[{"k": 1}], None, [{"k": None}, {"k": 2}]],
                 type=pa.list_(pa.struct([("k", pa.int64())]))),
    ]
    for arr in cases:
        codec = "struct" if pa.types.is_struct(arr.type) else "list"
        roundtrip(arr, codec)
    from omi_cpp_parquet_wide_record_spark.selector import choose_codec
    assert choose_codec(cases[0]).codec == "struct"


def test_map_roundtrips():
    """Composite map codec: lengths + keys + items each take their own
    codec; null map rows and null values round-trip."""
    cases = [
        pa.array([{"a": 1, "b": 2}, None, {}, {"c": None}],
                 type=pa.map_(pa.string(), pa.int64())),
        pa.array([[(1, "x"), (2, "y")], []],
                 type=pa.map_(pa.int32(), pa.string())),
    ]
    for arr in cases:
        roundtrip(arr, "map")
    from omi_cpp_parquet_wide_record_spark.selector import choose_codec
    assert choose_codec(cases[0]).codec == "map"


# ---------------------------------------------------------------- row subsets

def _rows_inputs(rng) -> dict[str, list[pa.Array]]:
    """Null-free inputs of every codec, on each of its types."""
    n = 240
    ints = pa.array(rng.integers(-1000, 1000, n))
    small = pa.array(rng.integers(0, 9, n))
    bools = pa.array(rng.random(n) < 0.3)
    ts = pa.array(rng.integers(0, 10**6, n) * 1000, pa.timestamp("us"))
    reals = pa.array(rng.normal(size=n))
    prices = pa.array(np.round(rng.uniform(0, 500, n), 2))
    words = ["<div>", "href=", "banana", "日本", "", "spark "]
    text = pa.array(["".join(rng.choice(words, rng.integers(0, 12)))
                     for _ in range(n)])
    escapes = pa.array([b"\xff" * (i % 5) + b"a\xff" * (i % 3)
                        for i in range(n)], pa.binary())
    # long rows: FSST writes its row-index section for these
    pages = pa.array(["".join(rng.choice(words, rng.integers(0, 400)))
                      for _ in range(n)])
    lists = pa.array([[float(i)] * (i % 4) for i in range(n)],
                     pa.list_(pa.float64()))
    struct = pa.array([{"a": i % 7, "b": f"b{i % 11}"} for i in range(n)])
    maps = pa.array([{"k": i, "j": -i} if i % 3 else {} for i in range(n)],
                    pa.map_(pa.string(), pa.int64()))
    # one value: dict codes and rle run codes are 0 bits wide
    const = pa.array([7] * n)
    return {"plain": [ints, bools, ts, reals, text],
            "for": [ints, ts, *_width_inputs(rng, n, for_=True)],
            "delta": [ints, ts],
            "bitpack": [small, bools, *_width_inputs(rng, n, for_=False)],
            "dict": [ints, reals, text, const],
            "rle": [small, text, bools, const],
            "alp": [prices], "alprd": [reals],
            "fsst": [text, escapes, pages], "fsst2": [text, escapes, pages],
            "list": [lists], "struct": [struct], "map": [maps]}


_WIDTHS = (1, 7, 8, 9, 16, 31, 32, 33, 57, 58, 63, 64)


def _width_inputs(rng, n: int, for_: bool) -> list[pa.Array]:
    """int64 columns whose values pack at each width of ``_WIDTHS``: for
    bitpack, [0, 2^w) with 2^w - 1 present (63 bits at most: bitpack
    takes no negative int64); for FOR, the same span above a negative
    reference, and at 64 bits int64's min and max."""
    out = []
    for w in _WIDTHS:
        if w == 64:
            if for_:
                v = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64,
                                 endpoint=True)
                v[[3, 7]] = np.iinfo(np.int64).min, np.iinfo(np.int64).max
                out.append(pa.array(v))
            continue
        v = rng.integers(0, 2**w - 1, n, dtype=np.int64, endpoint=True)
        v[5] = 2**w - 1
        if for_:
            v[9] = 0
            v = v + np.int64(-(2**62) if w < 62 else -1)
        out.append(pa.array(v))
    return out


@pytest.mark.parametrize("codec", codec_names())
def test_decode_rows_equals_take(codec):
    """``decode_column(p, params, rows)`` equals the full decode's
    ``take(rows)`` on every codec and type, with and without nulls, on
    subsets that hold the last row (whose bit window runs past the end of
    its section) and subsets that are all NULL. FSST inputs cover both
    row-offset sources: long rows get the row-index section, short ones
    are located by a pass over the stream. Bitpack and FOR inputs cover
    every width in ``_WIDTHS`` that they can take."""
    rng = np.random.default_rng(11)
    indexed, widths = set(), set()
    for base in _rows_inputs(rng)[codec]:
        n = len(base)
        holes = pa.array(np.arange(n), mask=rng.random(n) < 0.3)
        for arr in (base, base.take(holes)):
            e = encode_column(arr, codec)
            indexed.add("row_index" in e.params)
            widths.add(e.params.get("w", e.params.get("wcode")))
            full = decode_column(e.payload, e.params)
            assert arrays_equal(full, arr), (codec, arr.type)
            subsets = [[], [0], [n - 1], range(n)] + [
                np.sort(rng.choice(n, k, replace=False)) for k in (1, 9, 150)]
            if arr.null_count:
                subsets.append(np.flatnonzero(
                    arr.is_null().to_numpy(zero_copy_only=False)))
            for rows in subsets:
                rows = np.asarray(rows, dtype=np.int64)
                got = decode_column(e.payload, e.params, rows=rows)
                assert arrays_equal(got, full.take(pa.array(rows))), \
                    (codec, arr.type, arr.null_count, rows)
    if codec in ("fsst", "fsst2"):
        assert indexed == {True, False}
    if codec in ("bitpack", "for"):
        assert widths >= set(_WIDTHS) - ({64} if codec == "bitpack" else
                                         set())
    if codec in ("dict", "rle"):
        assert 0 in widths


def _edit_row_index(e, edit: str) -> tuple[bytes, dict]:
    """``e``'s payload and params with its row-index section (the last
    section) replaced by a corrupt one: a length too few (same sum), a
    negative length (same sum), or a sum one past the stream."""
    from omi_cpp_parquet_wide_record_spark.codecs.base import (
        pack_uints, split_sections, unpack_uints,
    )
    secs = [bytes(s) for s in split_sections(e.payload,
                                             e.params["sections"])]
    lens = unpack_uints(secs[-1], e.params["row_index"])
    if edit == "index_rows":
        lens = np.concatenate((lens[:-2], [lens[-2] + lens[-1]]))
    elif edit == "index_negative":
        lens[0] += lens[1] + 1
        lens[1] = -1
    else:
        lens[0] += 1
    secs[-1], index_params = pack_uints(lens.astype(np.int64))
    return b"".join(secs), {**e.params, "row_index": index_params,
                            "sections": [len(s) for s in secs]}


@pytest.mark.parametrize("edit", ["truncated", "extra", "index_rows",
                                  "index_negative", "index_sum"])
def test_fsst_bad_payload_raises_value_error(edit):
    """A payload whose token stream is cut short or carries extra bytes,
    or whose row-index section does not describe the stream (wrong row
    count, a negative length, a sum other than the stream length),
    raises ``ValueError`` (an assert would vanish under ``python -O``),
    on the full decode and on the row-subset decode."""
    if edit in ("truncated", "extra"):
        arr = pa.array([f"row {i} of the table" for i in range(50)])
        e = encode_column(arr, "fsst")
        assert "row_index" not in e.params   # the stream is the last section
        lens = list(e.params["sections"])
        payload = e.payload[:-3] if edit == "truncated" else \
            e.payload + b"\x00\x01\x02"
        lens[-1] += -3 if edit == "truncated" else 3
        cases = [(payload, {**e.params, "sections": lens})]
    else:
        rng = np.random.default_rng(2)
        arr = pa.array([" ".join(map(str, rng.integers(0, 10**6, 200)))
                        for _ in range(50)])
        cases = []
        for codec in ("fsst", "fsst2"):
            e = encode_column(arr, codec)
            assert "row_index" in e.params, codec
            cases.append(_edit_row_index(e, edit))
    for payload, params in cases:
        for rows in (None, np.array([0, 7, 49])):
            with pytest.raises(ValueError, match="fsst"):
                decode_column(payload, params, **(
                    {} if rows is None else {"rows": rows}))


@pytest.mark.parametrize("codec", ["fsst", "fsst2"])
def test_fsst_chunks_without_row_index_still_decode(codec):
    """A column encoded before the row-index section existed (payload and
    params checked in under ``tests/data``; long rows, which the codec
    now indexes, with nulls and an empty row) decodes in full and by
    row subset to the values it was encoded from."""
    import base64
    import json
    import os
    path = os.path.join(os.path.dirname(__file__), "data",
                        "fsst_head_format.json")
    with open(path, encoding="utf-8") as f:
        fx = json.load(f)
    want = pa.array(fx["values"], pa.string())
    payload = base64.b64decode(fx[codec]["payload"])
    params = fx[codec]["params"]
    assert "row_index" not in params
    assert "row_index" in encode_column(want, codec).params
    assert arrays_equal(decode_column(payload, params), want)
    n = len(want)
    for rows in ([], [0], [n - 1], range(n), [1, 4, 6, 9], [3, 4, 5]):
        rows = np.asarray(rows, dtype=np.int64)
        assert arrays_equal(decode_column(payload, params, rows=rows),
                            want.take(pa.array(rows))), rows


def _batched_read(payloads: list[bytes], params: list[dict], rows,
                  gap: int = 3):
    """``decode_payloads`` over the payloads laid out in one buffer, as a
    chunk read holds them, ``gap`` junk bytes apart; ``rows`` None reads
    whole columns."""
    from omi_cpp_parquet_wide_record_spark.codecs.base import WantedRows
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        FooterColumn, decode_payloads,
    )
    buf, cols = b"", []
    for i, (payload, p) in enumerate(zip(payloads, params)):
        buf += b"\xa5" * gap
        cols.append(FooterColumn({"name": f"c{i}", "offset": len(buf),
                                  "length": len(payload), "sha256": "",
                                  "params": p}))
        buf += payload
    buf += b"\xa5" * gap
    starts = np.array([c.offset for c in cols], dtype=np.int64)
    return decode_payloads(np.frombuffer(buf, np.uint8), starts, cols,
                           None if rows is None else WantedRows(rows))


_BATCH_INPUTS = _rows_inputs(np.random.default_rng(13))


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_batched_subset_read_equals_take(data):
    """A chunk read's batched decode (``decode_payloads``: one buffer, one
    validity gather for every column, shared row positions) equals
    ``decode_column(payload, params).take(rows)`` on every codec, for
    columns with no NULL, a few NULLs, a few values and only NULLs side
    by side, and subsets that are empty, one row, every row or any
    sorted set. Exactly the columns no wanted row holds a value in come
    back as None, undecoded."""
    codec = data.draw(st.sampled_from(codec_names()), label="codec")
    inputs = _BATCH_INPUTS[codec]
    base = inputs[data.draw(st.integers(0, len(inputs) - 1), label="input")]
    n = len(base)
    picks = data.draw(st.lists(st.integers(0, n - 1), min_size=1,
                               max_size=n // 4, unique=True), label="picks")
    holes = np.zeros(n, dtype=bool)
    holes[picks] = True
    # a few NULLs, then values at the picked rows only (the sparse wide
    # record: most rows NULL)
    arrs = [base] + [base.take(pa.array(np.arange(n), mask=m))
                     for m in (holes, ~holes)] + [pa.nulls(n, base.type)]
    cols = []
    for a in arrs:
        try:
            cols.append((a, encode_column(a, codec)))
        except ValueError:      # ALP-RD: no cut beats PLAIN on so few values
            assert codec == "alprd"
    rows = data.draw(st.one_of(
        st.just([]), st.integers(0, n - 1).map(lambda r: [r]),
        st.just(list(range(n))), st.none(),
        st.lists(st.integers(0, n - 1), unique=True).map(sorted)),
        label="rows")
    got = _batched_read([e.payload for _, e in cols],
                        [e.params for _, e in cols], rows)
    for (a, e), g in zip(cols, got):
        full = decode_column(e.payload, e.params)
        assert arrays_equal(full, a), (codec, a.type)
        want = full if rows is None else full.take(pa.array(rows,
                                                            pa.int64()))
        if rows is not None and len(rows):
            # exactly the columns with no value on a wanted row skip decoding
            assert (g is None) == (want.null_count == len(want)), a.null_count
        if g is not None:
            assert arrays_equal(g, want), (codec, a.type, a.null_count, rows)


@pytest.mark.parametrize("codec", ["fsst", "fsst2"])
def test_batched_read_decodes_fsst_head_format(codec):
    """Columns encoded before FSST's row-index section existed (the
    ``tests/data`` fixture) decode through a chunk read's batched decode,
    whole and by row subset."""
    import base64
    import json
    import os
    path = os.path.join(os.path.dirname(__file__), "data",
                        "fsst_head_format.json")
    with open(path, encoding="utf-8") as f:
        fx = json.load(f)
    want = pa.array(fx["values"], pa.string())
    payload = base64.b64decode(fx[codec]["payload"])
    params = fx[codec]["params"]
    n = len(want)
    for rows in (None, [0], [n - 1], range(n), [1, 4, 6, 9], [3, 4, 5]):
        [got] = _batched_read([payload], [params], rows, gap=11)
        sub = want if rows is None else want.take(pa.array(list(rows)))
        assert arrays_equal(got, sub) if got is not None else \
            sub.null_count == len(sub), rows


def _short_input(codec: str) -> tuple[pa.Array, int]:
    """A null-free column for ``codec`` and the index of a bit-packed
    section of its encoding that holds more than 20 bytes."""
    rng = np.random.default_rng(5)
    n = 400
    if codec == "alp":
        return pa.array(np.round(rng.uniform(0, 500, n), 2)), 0
    if codec == "dict":
        return pa.array(rng.integers(0, 300, n)), 0
    if codec == "rle":
        return pa.array(np.repeat(rng.integers(0, 9, n // 2), 2)), 1
    return pa.array(rng.integers(0, 10**6, n)), 0


@pytest.mark.parametrize("codec", ["bitpack", "for", "delta", "dict", "rle",
                                   "alp"])
def test_short_bit_packed_section_raises_value_error(codec):
    """A bit-packed section cut by 20 bytes, with its length in
    ``sections`` cut to match, raises ``ValueError`` on the full and the
    row-subset decode instead of reading its missing values as 0; a
    payload cut without its section lengths raises from the split."""
    arr, k = _short_input(codec)
    e = encode_column(arr, codec)
    secs = [bytes(x) for x in split_sections(e.payload, e.params["sections"])]
    assert len(secs[k]) > 20
    secs[k] = secs[k][:-20]
    cut = b"".join(secs), {**e.params, "sections": [len(x) for x in secs]}
    for payload, params, match in (
            (*cut, "bit-packed section holds"),
            (e.payload[:-20], e.params, "section lengths")):
        for kw in ({}, {"rows": np.array([0, 7, len(arr) - 1])}):
            with pytest.raises(ValueError, match=match):
                decode_column(payload, params, **kw)


def test_unpack_short_section_raises_value_error():
    """Both unpackers refuse a section shorter than its values (the
    parent's unpack_bits read the missing half as zeros), and a position
    past the last value raises."""
    data = pack_bits(np.arange(100, dtype=np.uint64), 7)[:50]
    with pytest.raises(ValueError, match="holds 50 bytes; 100 values"):
        unpack_bits(data, 100, 7)
    with pytest.raises(ValueError, match="holds 50 bytes; 100 values"):
        unpack_bits_at(data, np.array([0]), 7, 100)
    with pytest.raises(IndexError):
        unpack_bits_at(pack_bits(np.arange(100, dtype=np.uint64), 7),
                       np.array([100]), 7, 100)


@pytest.mark.parametrize("codec", ["bitpack", "for", "dict"])
def test_row_subset_decode_reads_only_wanted_rows(codec, monkeypatch):
    """A ``rows=`` decode of bitpack, FOR and dict columns never runs the
    full bit unpacker, and a subset whose rows are all NULL never calls
    the codec at all."""
    from omi_cpp_parquet_wide_record_spark.codecs import (
        base, dictionary, intcodecs,
    )
    rng = np.random.default_rng(3)
    n = 500
    v = rng.integers(0, 200, n)
    arr = pa.array(v, mask=np.arange(n) % 4 == 1)
    e = encode_column(arr, codec)
    full = decode_column(e.payload, e.params)
    null_rows = np.arange(1, n, 4)

    def boom(*a, **k):
        raise AssertionError("full decode on a row-subset read")
    for mod in (base, dictionary, intcodecs):
        monkeypatch.setattr(mod, "unpack_bits", boom)
    rows = np.sort(rng.choice(n, 50, replace=False))
    assert arrays_equal(decode_column(e.payload, e.params, rows=rows),
                        full.take(pa.array(rows)))
    codec_type = type(base.get_codec(codec))
    monkeypatch.setattr(codec_type, "decode", boom)
    monkeypatch.setattr(codec_type, "decode_rows", boom)
    got = decode_column(e.payload, e.params, rows=null_rows)
    assert got.null_count == len(null_rows) and got.type == pa.int64()


# ---------------------------------------------------------------- hypothesis

@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)), max_size=300))
@pytest.mark.parametrize("codec", INT_CODECS)
def test_prop_int64(codec, xs):
    roundtrip(pa.array(xs, type=pa.int64()), codec)


def _pack_bits_reference(v: np.ndarray, width: int) -> bytes:
    """pack_bits as a broadcast (n, width) bit matrix, MSB first."""
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    bits = (v[:, None] >> shifts) & np.uint64(1)
    return np.packbits(bits.astype(np.uint8).ravel()).tobytes()


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 64).flatmap(lambda w: st.tuples(
    st.just(w), st.lists(st.integers(0, (1 << w) - 1), min_size=1,
                         max_size=200))), st.data())
def test_prop_bit_unpackers(wv, data):
    """Every path of pack_bits matches the bit-matrix reference;
    unpack_bits (byte-aligned, window-gather or per-bit path) equals the
    per-bit loop; unpack_bits_at equals the values at any positions,
    the last one included."""
    from omi_cpp_parquet_wide_record_spark.codecs.base import (
        _packed_bytes, _unpack_bits_loop,
    )
    width, xs = wv
    v = np.array(xs, dtype=np.uint64)
    n = len(v)
    packed = pack_bits(v, width)
    assert packed == (_pack_bits_reference(v, width) if width else b"")
    assert np.array_equal(unpack_bits(packed, n, width), v)
    assert np.array_equal(
        _unpack_bits_loop(_packed_bytes(packed, n, width), n, width), v)
    idx = np.array(data.draw(st.lists(st.integers(0, n - 1), max_size=40))
                   + [n - 1], dtype=np.int64)
    assert np.array_equal(unpack_bits_at(packed, idx, width, n), v[idx])


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.binary(max_size=40)), max_size=200))
@pytest.mark.parametrize("codec", STR_CODECS)
def test_prop_binary(codec, xs):
    roundtrip(pa.array(xs, type=pa.binary()), codec)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=30)), max_size=200))
@pytest.mark.parametrize("codec", STR_CODECS)
def test_prop_text(codec, xs):
    roundtrip(pa.array(xs, type=pa.string()), codec)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(
    st.none(),
    st.lists(st.one_of(st.none(), st.integers(-(2**62), 2**62)),
             max_size=12)), max_size=120))
def test_prop_list_int(xs):
    roundtrip(pa.array(xs, type=pa.list_(pa.int64())), "list")


# ---------------------------------------------------------------- slices

def test_sliced_nested_roundtrips():
    """Nested codecs must be offset-correct on SLICED arrays: a MapArray
    slice exposes slice-adjusted offsets but the FULL child keys/items
    arrays, so the codec has to rebase the children explicitly (r5 fix;
    list/large_list flatten() is already slice-aware but is pinned here
    too so a pyarrow behavior change is caught)."""
    m = pa.array([{"a": 1}, {"b": 2, "c": 3}, {"d": 4}, {"e": 5, "f": 6}],
                 type=pa.map_(pa.string(), pa.int64()))
    for lo, n in ((1, 2), (0, 3), (2, 2), (1, 3)):
        s = m.slice(lo, n)
        e = encode_column(s, "map")
        d = decode_column(e.payload, e.params)
        assert d.to_pylist() == s.to_pylist(), (lo, n)

    ls = pa.array([[1, 2], [3], [], [4, 5, 6], None, [7]],
                  type=pa.list_(pa.int64()))
    for lo, n in ((1, 3), (0, 4), (3, 3), (2, 4)):
        s = ls.slice(lo, n)
        e = encode_column(s, "list")
        d = decode_column(e.payload, e.params)
        assert d.to_pylist() == s.to_pylist(), (lo, n)

    stc = pa.array([{"a": 1, "b": "x"}, {"a": 2, "b": "y"},
                    None, {"a": 4, "b": "w"}],
                   type=pa.struct([("a", pa.int64()), ("b", pa.string())]))
    for lo, n in ((1, 2), (0, 3), (2, 2)):
        s = stc.slice(lo, n)
        e = encode_column(s, "struct")
        d = decode_column(e.payload, e.params)
        assert d.to_pylist() == s.to_pylist(), (lo, n)


def test_struct_field_name_validation():
    """Field names containing ':' ',' '<' '>' cannot be represented in the
    serialized type string; encode must refuse them up front (a store that
    encodes but cannot decode is the worst failure mode)."""
    for bad in ("a:b", "a,b", "a<b", "a>b"):
        arr = pa.array([{bad: 1}], type=pa.struct([(bad, pa.int64())]))
        with pytest.raises(ValueError, match="field name"):
            encode_column(arr, "struct")
    # plain names with other punctuation stay fine
    ok = pa.array([{"a.b c-d": 1}],
                  type=pa.struct([("a.b c-d", pa.int64())]))
    roundtrip(ok, "struct")


# ---------------------------------------------------------------- ALP floats

def test_alp_roundtrip_decimal_with_exceptions():
    """Decimal-valued doubles FOR-pack; specials ride as bit-exact
    positioned exceptions (codecs/alp.py)."""
    vals = [round(x * 0.01, 2) for x in range(-300, 300)]
    vals[7] = float("nan")
    vals[100] = float("inf")
    vals[200] = -0.0
    vals[250] = 2.5e300             # no finite 10^e digit fits -> exception
    arr = pa.array(vals + [None, None], type=pa.float64())
    e = encode_column(arr, "alp")
    assert e.params["nexc"] >= 3     # nan, inf, 2.5e300 at least
    assert len(e.payload) < e.bytes_in / 2
    assert arrays_equal(decode_column(e.payload, e.params), arr)


def test_alp_rejects_high_entropy():
    rng = np.random.default_rng(7)
    arr = pa.array(rng.standard_normal(2000), type=pa.float64())
    with pytest.raises(ValueError):
        encode_column(arr, "alp")


def test_alprd_roundtrip_reals():
    """Unit-range reals share exponent/high-mantissa bits: the left-part
    dictionary beats PLAIN while staying bit-exact (incl -0.0, nan)."""
    rng = np.random.default_rng(11)
    v = (rng.random(4000) * 0.5 - 0.25).astype(np.float32)
    v[5] = np.float32("nan")
    v[6] = np.float32(-0.0)
    arr = pa.array(v, type=pa.float32())
    e = encode_column(arr, "alprd")
    assert len(e.payload) < e.bytes_in
    assert arrays_equal(decode_column(e.payload, e.params), arr)


def test_alp_selector_picks_by_regime():
    from omi_cpp_parquet_wide_record_spark.selector import choose_codec
    decimals = pa.array([round(i * 0.25, 2) for i in range(5000)],
                        type=pa.float64())
    assert choose_codec(decimals).codec in ("alp", "delta", "dict")
    rng = np.random.default_rng(3)
    reals = pa.array((rng.random(5000) - 0.5).astype(np.float32),
                     type=pa.float32())
    assert choose_codec(reals).codec == "alprd"


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(
    st.none(),
    st.floats(allow_nan=True, allow_infinity=True, width=64),
    st.integers(-10**6, 10**6).map(lambda i: i / 100.0)), max_size=300))
@pytest.mark.parametrize("codec", ["alp", "alprd"])
def test_prop_alp_floats(codec, xs):
    """If the regime gate accepts the data, the round trip is bit-exact."""
    arr = pa.array(xs, type=pa.float64())
    try:
        e = encode_column(arr, codec)
    except ValueError:
        return
    assert arrays_equal(decode_column(e.payload, e.params), arr)
