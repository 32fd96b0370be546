"""Z-order (Morton) write layout: multi-column data skipping.

A single-column write sort order makes that column's zone maps tight but
leaves every other column's bounds as wide as the pid's whole value range
— a filter on the second query column then prunes nothing. Interleaving
the bits of k normalized column ordinals into one sort key gives every
participating column *partially* tight bounds per chunk: a chunk covering
a contiguous z-range spans at most ~2^(16 - b/k) of each column's
normalized domain after b leading z-bits, so zone maps prune on ANY of
the z-columns, not just the first (the Delta/Iceberg OPTIMIZE ZORDER BY
layout story, built here from plain Catalyst expressions — no UDF, no
extra shuffle; the sort stays task-local like ``sort_by``).

Each column is mapped to an orderable non-negative long ("ordinal"),
min/max-normalized into 16 bits via one column-pruned aggregate over the
input, and bit-interleaved with stride k. NULL ordinals sort as 0 (the
column's minimum), matching NULLS FIRST. The normalization statistics
affect only LAYOUT quality — clamping keeps any out-of-range value legal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ZKEY_COL = "__owr_zkey"
_BITS = 16
_MAXQ = (1 << _BITS) - 1


def _ordinal(df: DataFrame, name: str) -> Column:
    """An orderable non-negative long/double expression for the column.

    Strings order by their first 7 UTF-8 bytes (big-endian, space-padded
    by zero-extension): 7 bytes stay under 2^56 so the long never goes
    negative. Binary columns likewise. Timestamps/dates become epoch
    micros/days; numerics pass through as doubles.
    """
    dt = df.schema[name].dataType
    col = F.col(name)
    if isinstance(dt, (T.StringType, T.BinaryType)):
        # first 7 bytes RIGHT-PADDED with zero bytes (concat + substring:
        # rpad's pad argument is a string, not bytes) -> hex -> long.
        # Without the pad, a short string's ordinal was smaller than any
        # longer string's ('b' < 'aa' numerically), breaking the
        # lexicographic order the layout is supposed to follow (ADVICE
        # r5). conv() returns NULL for NULL input; coalesce to 0
        # (sorts first, NULLS FIRST).
        raw = F.substring(F.concat(col.cast("binary"), F.lit(bytes(7))),
                          1, 7)
        return F.coalesce(F.conv(F.hex(raw), 16, 10).cast("long"),
                          F.lit(0).cast("long"))
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(col)
    if isinstance(dt, T.DateType):
        return F.datediff(col, F.lit("1970-01-01"))
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.FloatType, T.DoubleType, T.DecimalType,
                       T.BooleanType)):
        return col.cast("double")
    raise ValueError(f"zorder_by does not support column {name!r} of type "
                     f"{dt.simpleString()}")


def _quantize(ordinal: Column, lo: float, hi: float,
              bits: int = _BITS) -> Column:
    """Min/max-normalize an ordinal into [0, 2^bits): floor((x-lo)*scale),
    clamped (stats may be sampled / stale), NULL -> 0."""
    maxq = (1 << bits) - 1
    if hi <= lo:
        return F.lit(0).cast("long")
    scale = float(maxq) / (float(hi) - float(lo))
    q = F.floor((ordinal.cast("double") - float(lo)) * F.lit(scale))
    q = F.least(F.greatest(q, F.lit(0)), F.lit(maxq))
    return F.coalesce(q.cast("long"), F.lit(0).cast("long"))


def _interleave(quantized: list[Column], bits: int = _BITS) -> Column:
    """Bit-interleave k values of `bits` bits into one long: bit b of
    column i lands at position b*k + i. Pure shift/mask expression tree
    (~bits*k codegen'd ops), no UDF. The caller keeps b*k+i <= 62 — a
    shift into bit 63 made those rows' keys NEGATIVE, sorting them before
    all others and silently breaking Morton locality (ADVICE r5)."""
    k = len(quantized)
    out = F.lit(0).cast("long")
    for i, q in enumerate(quantized):
        for b in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)),
                            b * k + i))
    return out


def zorder_key(df: DataFrame, cols: list[str]) -> Column:
    """The Morton sort-key expression for ``cols`` over ``df``.

    Runs ONE column-pruned min/max aggregate over ``df`` to learn each
    column's range — layout-only statistics; clamping keeps out-of-range
    rows legal.
    """
    if not 2 <= len(cols) <= 4:
        raise ValueError("zorder_by takes 2-4 columns")
    # keep the top interleaved bit out of the sign: bits*k - 1 <= 62
    # (16 bits fits k<=3; k=4 drops to 15 bits — a one-bit quantization
    # cost on each column instead of a sign-flipped key for rows with
    # the 4th column's top bit set)
    bits = _BITS if len(cols) * _BITS <= 63 else 63 // len(cols)
    ords = [_ordinal(df, c) for c in cols]
    aggs = []
    for c, o in zip(cols, ords):
        aggs += [F.min(o).alias(f"lo_{c}"), F.max(o).alias(f"hi_{c}")]
    row = df.agg(*aggs).first()
    qs = [_quantize(o, row[f"lo_{c}"] or 0, row[f"hi_{c}"] or 0, bits)
          for c, o in zip(cols, ords)]
    return _interleave(qs, bits)
