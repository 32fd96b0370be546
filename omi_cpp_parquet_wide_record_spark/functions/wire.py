"""Wire-format decoders over BINARY columns, as pure Catalyst expressions.

The true Spark re-expressions of the reference's field decoders (O9):
big-endian u16/u32/u48/u64 folds (ref NQ:2722, NQ:341, NQ:2764-2771,
NQ:153), u8 ASCII codes (ref NQ:426-429), and fixed-width ASCII trimmed at
the first space (ref NQ:2678-2685). Everything compiles to JVM expressions —
`substring` on binary + `ascii`/`conv` arithmetic — so protocol decode runs
inside whole-stage codegen with no Python.

Offsets are 1-based (Spark substring convention).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _byte(col: Column, pos: int) -> Column:
    """Unsigned value of one payload byte, JVM-side."""
    # substring works on binary; cast 1-byte binary -> its code via hex/conv
    return F.conv(F.hex(F.substring(col, pos, 1)), 16, 10).cast("long")


def be_uint(col: Column, pos: int, width: int) -> Column:
    """Big-endian unsigned integer of `width` bytes at 1-based `pos`.
    Single hex/conv on the whole slice — one expression, not a byte loop.
    Widths up to 8 supported (u48 timestamps fit comfortably, NQ:2753)."""
    return F.conv(F.hex(F.substring(col, pos, width)), 16, 10).cast("long")


def u8_code(col: Column, pos: int) -> Column:
    """u8 ASCII code stored as int (the reference's enum chars, NQ:416-440)."""
    return _byte(col, pos).cast("int")


def ascii_trimmed(col: Column, pos: int, width: int) -> Column:
    """Fixed-width ASCII field truncated at the FIRST space (not rtrim —
    the reference stops at the first space, NQ:2678-2685)."""
    s = F.decode(F.substring(col, pos, width), "UTF-8")
    return F.split(s, " ").getItem(0)


def ascii_raw(col: Column, pos: int, width: int) -> Column:
    """Fixed ASCII, no trim (the session field shape, NQ:107-127)."""
    return F.decode(F.substring(col, pos, width), "UTF-8")
