"""Codec auto-selector: expected choices on characteristic columns
(SURVEY.md §7 step 3) and the pick-is-decodable invariant."""

from __future__ import annotations

import pyarrow as pa

from omi_cpp_parquet_wide_record_spark import fixtures as FX
from omi_cpp_parquet_wide_record_spark.codecs import decode_column, encode_column
from omi_cpp_parquet_wide_record_spark.selector import choose_codec
from tests.conftest import arrays_equal


def test_expected_choices_on_web_pages():
    t = FX.web_pages_table(5000)
    plan = {name: choose_codec(t[name].combine_chunks())
            for name in t.column_names}
    assert plan["lang"].codec in ("dict", "rle")
    assert plan["warc_ts"].codec in ("for", "delta")
    # template-heavy text/url: the cascaded table beats single-pass fsst
    # by >3%, so the tolerance rule lets fsst2 take them
    assert plan["text"].codec in ("fsst", "fsst2")
    assert plan["url"].codec in ("fsst", "fsst2")
    # html: mostly-entropy binary — plain or fsst (template head is
    # compressible); must never pick an int codec
    assert plan["html"].codec in ("plain", "fsst")


def test_selector_ratio_sanity():
    t = FX.web_pages_table(3000)
    c = choose_codec(t["text"].combine_chunks())
    assert c.est_ratio > 2.0
    assert set(c.trials) >= {"plain", "fsst"}


def test_choice_always_roundtrips():
    t = FX.wide_itch_table(3000, "nasdaq")
    for name in t.column_names:
        arr = t[name].combine_chunks()
        c = choose_codec(arr)
        e = encode_column(arr, c.codec)
        assert arrays_equal(arr, decode_column(e.payload, e.params)), \
            (name, c.codec)


def test_selector_on_constant_and_sorted():
    const = pa.array(["x"] * 10000)
    c = choose_codec(const)
    assert c.codec in ("rle", "dict") and c.trials[c.codec] <= 3
    sorted_ints = pa.array(sorted([i // 50 for i in range(10000)]))
    assert choose_codec(sorted_ints).codec in ("rle", "delta", "bitpack", "for")
