"""Decode: chunk store -> DataFrame, bit-identical to the input.

The inverse of operators/encode.py and the engine's analogue of the
reference's read-back path (O13, ref NQ:3811-3824: StreamReader >> record for
every row). Spark shape: a tiny DataFrame of chunk file paths fans out over
the cluster; each task reads its files, decodes every column with the numpy
kernels, and emits Arrow batches. A read that pruning cuts to at most
``DRIVER_DECODE_BYTES`` of plain-equivalent data decodes on the driver into a
local relation instead: below that size a Spark job's fixed cost exceeds the
decode itself, and driver traffic stays bounded by the constant.

Repeated small reads re-parse no metadata: planning prunes on a cached
``PruneIndex`` of the live manifest view (``view_index``) and chunk reads
take parsed footers from a cache keyed by file identity (``chunk_footer``),
both held by ``plans.snapshot.cached``. Decoded data is never cached.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from omi_cpp_parquet_wide_record_spark.codecs import decode_column
from omi_cpp_parquet_wide_record_spark.codecs.base import (
    ColumnLayout, WantedRows, any_valid,
)
from omi_cpp_parquet_wide_record_spark.operators.encode import (
    BLOOM_BITS, CHUNK_MAGIC, bloom_positions,
)
from omi_cpp_parquet_wide_record_spark.plans.snapshot import (
    LIVE_MANIFEST_SCHEMA, ChunkStore, cached, file_key,
)

# Plain-equivalent bytes (the manifest's ``bytes_in``) up to which a
# driver-planned read decodes on the driver instead of in a Spark job. One
# core decodes ~40 MB/s (41.6 MB in 1.06 s), and a Spark read's 8 tasks
# (``_names_df``) cost a fixed ~0.27 s (a no-op 8-task ``mapInArrow`` job,
# 4 vCPU, reused workers) before they spread the decode over 4 cores:
# x / 40 = 0.27 + x / 160 breaks even at ~14 MB, so the cut sits at the
# break-even, erring slightly towards the driver. (It was set when that
# fixed cost was 0.4-0.8 s, before ``session.reuse_zip_directories``.)
DRIVER_DECODE_BYTES = 16 << 20


# Payload byte ranges of one chunk read that lie at most this far apart
# are read with one read call: reading a gap from the page cache costs
# about what one more seek + read call costs (~2-4 us) at this size, and a
# projection of a few far-apart columns of a fat chunk still skips the
# bytes between them.
READ_GAP_BYTES = 16 << 10


def _chunk_footer(f, path: str) -> dict:
    """The footer of the open chunk file ``f``, read from its tail."""
    f.seek(0, os.SEEK_END)
    fsize = f.tell()
    tail = min(fsize, 64 << 10)
    f.seek(fsize - tail)
    buf = f.read(tail)
    if buf[-5:] != CHUNK_MAGIC:
        raise ValueError(f"bad chunk magic in {path}")
    flen = int.from_bytes(buf[-9:-5], "little")
    if flen + 9 > fsize:
        raise ValueError(f"chunk footer length {flen} exceeds the "
                         f"{fsize}-byte file {path}")
    if flen + 9 > len(buf):
        f.seek(fsize - flen - 9)
        buf = f.read(flen + 9)
    return json.loads(buf[-9 - flen:-9])


class FooterColumn:
    """One column entry of a chunk footer: where its payload lies, its
    sha256 and its params as a ``ColumnLayout``, built on first use."""

    __slots__ = ("name", "offset", "length", "sha256", "params", "_layout")

    def __init__(self, c: dict):
        self.name, self.offset, self.length = c["name"], c["offset"], \
            c["length"]
        self.sha256, self.params, self._layout = c["sha256"], c["params"], \
            None

    @property
    def layout(self) -> ColumnLayout:
        if self._layout is None:
            self._layout = ColumnLayout(self.params)
        return self._layout


class ChunkFooter:
    """A chunk file's parsed footer: its row count and its columns by
    name, in footer order."""

    __slots__ = ("rows", "columns", "nbytes")

    def __init__(self, meta: dict, footer_bytes: int):
        self.rows = meta["rows"]
        self.columns = {c["name"]: FooterColumn(c) for c in meta["columns"]}
        # the parsed objects take ~5x the footer's JSON bytes (measured
        # with tracemalloc on ITCH and web chunks)
        self.nbytes = 6 * footer_bytes


def chunk_footer(path: str) -> ChunkFooter:
    """The parsed footer of the chunk file at ``path``, from the metadata
    cache (``plans.snapshot.cached``) while the file's identity is
    unchanged: a file rewritten, replaced or truncated is parsed again."""
    key = file_key(path)

    def load():
        with open(path, "rb") as f:
            meta = _chunk_footer(f, path)
        end = max((c["offset"] + c["length"] for c in meta["columns"]),
                  default=0)
        return ChunkFooter(meta, key[2] - end)

    return cached(("footer", *key), load)


def _payloads(f, path: str, cols: list[FooterColumn],
              check_sha: bool) -> tuple[np.ndarray, np.ndarray]:
    """The payload bytes of the footer columns ``cols`` of the open chunk
    file ``f``: one uint8 buffer and each column's start in it, in the
    order of ``cols``, sha256-checked on request. Byte ranges at most
    ``READ_GAP_BYTES`` apart are read with one read call; a file that
    ends inside a range raises ``ValueError``."""
    starts = np.empty(len(cols), dtype=np.int64)
    runs: list[list[int]] = []      # [file lo, file hi, buffer position]
    for i in sorted(range(len(cols)), key=lambda i: cols[i].offset):
        c = cols[i]
        if runs and c.offset - runs[-1][1] <= READ_GAP_BYTES:
            r = runs[-1]
            r[1] = max(r[1], c.offset + c.length)
        else:
            r = [c.offset, c.offset + c.length,
                 runs[-1][2] + runs[-1][1] - runs[-1][0] if runs else 0]
            runs.append(r)
        starts[i] = r[2] + c.offset - r[0]
    buf = np.empty(runs[-1][2] + runs[-1][1] - runs[-1][0] if runs else 0,
                   dtype=np.uint8)
    for lo, hi, pos in runs:
        f.seek(lo)
        got = f.readinto(buf[pos:pos + hi - lo].data)
        if got < hi - lo:
            raise ValueError(f"chunk {path} ends at byte {lo + got}, "
                             f"inside payloads that end at byte {hi}")
    if check_sha:
        for c, s in zip(cols, starts):
            if hashlib.sha256(buf[s:s + c.length]).hexdigest() != c.sha256:
                raise ValueError(f"sha256 mismatch for {c.name} in {path}")
    return buf, starts


def decode_payloads(buf: np.ndarray, starts: np.ndarray,
                    cols: list[FooterColumn], rows: WantedRows | None = None
                    ) -> list[pa.Array | None]:
    """Decode the footer columns ``cols`` of one chunk from the payloads
    ``_payloads`` read (``buf``, ``starts``), whole or only for the wanted
    ``rows``: each result equals ``decode_column(payload, params)
    .take(rows)``, except that a column with no value on any wanted row
    is None. One gather tests the wanted rows' validity bits of every
    column (``any_valid``); only the columns that hold a value on one of
    them decode, and they share ``rows``' bit positions."""
    skip = np.zeros(len(cols), dtype=bool)
    if rows is not None:
        lays = [c.layout for c in cols]
        skip[[i for i, lay in enumerate(lays) if lay.nulls == lay.n]] = True
        sparse = [i for i, lay in enumerate(lays) if lay.bitmap]
        if sparse:
            skip[sparse] = ~any_valid(buf, starts[sparse], rows)
    return [None if k else
            decode_column(buf[s:s + c.length], c.layout, rows=rows)
            for c, s, k in zip(cols, starts.tolist(), skip.tolist())]


def read_chunk_file(path: str, columns: list[str] | None = None,
                    check_sha: bool = False) -> pa.Table:
    """Decode the ``columns`` (default: all) of one self-describing chunk
    file, reading only their byte ranges (the chunk-level analogue of
    Parquet column-chunk seeks): 2 of 67 wide-record columns read ~3%.
    The recovery and tooling reader: it needs no manifest."""
    cols = [c for c in chunk_footer(path).columns.values()
            if columns is None or c.name in columns]
    with open(path, "rb") as f:
        buf, starts = _payloads(f, path, cols, check_sha)
    return pa.table({c.name: decode_column(buf[s:s + c.length], c.layout)
                     for c, s in zip(cols, starts)})


# per-python-worker cache of delete-key arrays: every chunk of a scan
# applies the same few delete files, and delete files are immutable
# (uuid-named), so without it F chunks x D deletes cost F x D parquet
# reads per scan. Size-capped as a leak guard.
_DELETE_KEY_CACHE: dict = {}


def _delete_keys(path: str, key: str) -> pa.Array:
    ck = (path, key)
    if ck not in _DELETE_KEY_CACHE:
        if len(_DELETE_KEY_CACHE) > 256:
            _DELETE_KEY_CACHE.clear()
        _DELETE_KEY_CACHE[ck] = pq.read_table(
            path, columns=[key]).column(key).combine_chunks()
    return _DELETE_KEY_CACHE[ck]


def read_chunk_table(path: str, schema: pa.Schema,
                     aliases: dict[str, list[str]] | None = None,
                     check_sha: bool = False,
                     deletes=(), filters=()) -> pa.Table:
    """Read one chunk file INTO a target (live) schema, applying the
    snapshot's schema-evolution semantics, merge-on-read deletes and row
    filter — the one per-chunk read every read path (``decode_store`` in
    both planning modes, the owrc DataSource, ``rewrite_small_chunks``)
    calls:

    - rename: a chunk written before a column was renamed carries the
      retired physical name; it is decoded under that name and relabeled
      to the live one (``aliases``: live -> retired names). Name reuse is
      blocked at evolve time, so the resolution is unambiguous.
    - deletes: ``[(delete_file, physical_key, live_key), ...]`` — the
      equality deletes that scope this chunk (``ScanPlan.deletes_for``).
      Rows whose live key is in a delete file's keys drop, with
      anti-join semantics: a null on either side matches nothing. Key
      columns decode even when ``schema`` does not project them.
    - add-column: columns added after the chunk committed null-fill
      (Iceberg's read-time null-fill for added fields).
    - drop: a dropped column simply isn't in ``schema`` — its bytes stay
      in old chunks (readable via time travel) but are never decoded.
    - filters: ``decode_store``'s list; rows ``_row_mask`` rejects drop.

    Filter-first: the delete keys and filter columns decode whole, then
    the other columns only for the surviving rows (``decode_column``'s
    ``rows``; no ``rows`` when all survive, as on an unfiltered read). A
    chunk with no survivor returns a table with no chunks and decodes
    nothing else; ``check_sha`` still hashes every projected payload.
    Each phase reads its payloads with one read per ``READ_GAP_BYTES``
    run (``_payloads``); ``decode_payloads`` tests the survivors'
    validity bits of every column with one gather and decodes only the
    columns that hold a value on one of them. The footer comes from the
    metadata cache (``chunk_footer``). An empty ``schema`` yields a table
    with no column that still counts the surviving rows.
    """
    first = _decoded_columns([], [lk for _, _, lk in deletes], filters)
    footer = chunk_footer(path)
    n, names, fc = footer.rows, schema.names, footer.columns
    # live name -> its footer column, else a retired one's
    src = {c: fc[c] for c in (*names, *first) if c in fc}
    for live, olds in (aliases or {}).items():
        if live not in src and (live in first or live in names):
            for o in olds:
                if o in fc:
                    src[live] = fc[o]
                    break
    with open(path, "rb") as f:
        # phase 1: the delete keys and filter columns, whole
        have = [c for c in first if c in src]
        buf, starts = _payloads(f, path, [src[c] for c in have], check_sha)
        cols = {c: decode_column(buf[s:s + src[c].length], src[c].layout)
                for c, s in zip(have, starts)}
        for c in first:
            if c not in cols:   # a column added after the chunk committed
                cols[c] = pa.nulls(n, schema.field(c).type
                                   if c in names else pa.null())
        keep = np.ones(n, dtype=bool)
        for dpath, key, live_key in deletes:
            if live_key in src:      # else: chunk predates the key
                keep &= ~pc.is_in(
                    cols[live_key], value_set=_delete_keys(dpath, key),
                    skip_nulls=True).to_numpy(zero_copy_only=False)
        if filters:
            keep &= _row_mask(pa.table(cols), filters)
        if not keep.any():
            if check_sha:            # the integrity check reads them all
                _payloads(f, path, [src[c] for c in src.keys() - cols.keys()],
                          True)
            return pa.Table.from_batches([], schema)
        # phase 2: every other column, only for the surviving rows
        rows = None if keep.all() else np.flatnonzero(keep)
        rest = [c for c in names if c in src and c not in cols]
        buf, starts = _payloads(f, path, [src[c] for c in rest], check_sha)
    m = n if rows is None else len(rows)
    out = dict(zip(rest, decode_payloads(
        buf, starts, [src[c] for c in rest],
        None if rows is None else WantedRows(rows))))
    out.update((c, cols[c] if rows is None else cols[c].take(rows))
               for c in names if c in cols)
    blank: dict = {}    # one all-NULL array per type
    arrays = []
    for c, t in zip(names, schema.types):
        a = out.get(c)
        if a is None:   # no value on a wanted row, or a column added later
            a = blank.get(t)
            if a is None:
                a = blank[t] = pa.nulls(m, t)
        elif not a.type.equals(t, check_metadata=True):
            a = a.cast(t)       # (== ignores list field names)
        arrays.append(a)
    if not arrays:              # no column: the table still counts rows
        return pa.table({"": pa.nulls(m)}).select([])
    return pa.Table.from_arrays(arrays, schema=schema)


def _decoded_columns(names, delete_keys, filters) -> list[str]:
    """A chunk read's projection, delete keys and filter base columns."""
    return list(dict.fromkeys(list(names) + list(delete_keys) + [
        _split_filter_col(c)[0] for c, _, _ in filters]))


_CMP = {"<": pc.less, "<=": pc.less_equal, ">": pc.greater,
        ">=": pc.greater_equal, "==": pc.equal}


def _row_mask(t: pa.Table, filters) -> np.ndarray:
    """The numpy mask of the rows of ``t`` that satisfy every ``(col, op,
    value)`` filter: the engine's one row evaluator, with Spark's
    semantics. A null result drops the row, ``in`` never matches a null,
    NaN equals NaN and sorts above every number, numbers compare as Spark
    promotes them and other literals cast to the column type (a naive
    datetime reads as UTC, as in ``prune_files``). ``c#len`` is a list or
    map length, ``c#f:x`` a struct field, and ``c#val`` holds when SOME
    element (map value) satisfies the op. Bad filters raise ``ValueError``,
    also for a column ``t`` does not have and for a literal that Arrow
    cannot compare with the column's type, so evaluating a list over no
    rows checks it."""
    keep = np.ones(t.num_rows, dtype=bool)
    for c, op, v in filters:
        base, acc = _split_filter_col(c)
        if acc == "val" and op in ("is_null", "is_not_null"):
            # SOME element null, or the row null? Ambiguous: rejected
            raise ValueError(f"filter op {op!r} is not supported on the "
                             f"'#val' nested accessor ({c})")
        if base not in t.schema.names:
            raise ValueError(f"filter ({c!r}, {op!r}, ...): no column "
                             f"{base!r}")
        a = t.column(base).combine_chunks()
        if pa.types.is_null(a.type):     # a column the chunk predates
            keep &= op == "is_null"
            continue
        if acc in ("len", "val"):
            off = a.offsets.to_numpy(zero_copy_only=False)
            valid = a.is_valid().to_numpy(zero_copy_only=False)
        if acc == "val":
            seen = np.concatenate(([0], np.cumsum(_compare(
                a.items if pa.types.is_map(a.type) else a.values, op, v,
                c))))
            keep &= valid & (seen[off[1:]] > seen[off[:-1]])
            continue
        if acc == "len":
            a = pa.array(np.diff(off), mask=~valid)
        elif acc is not None and acc.startswith("f:"):
            a = pc.struct_field(a, acc[2:])
        elif acc is not None:
            raise ValueError(f"unknown nested accessor {acc!r} in {c}")
        keep &= _compare(a, op, v, c)
    return keep


def _compare(a: pa.Array, op: str, v, c: str) -> np.ndarray:
    """Spark's ``a <op> v`` per element of ``a``, null read as False.
    A literal Arrow cannot compare with ``a`` raises ``ValueError``
    naming the filter column ``c``."""
    try:
        r = _compare_arrow(a, op, v)
    except (pa.ArrowNotImplementedError, pa.ArrowTypeError,
            pa.ArrowInvalid) as e:
        kind = type(v).__name__ if op != "in" else "list of " + "/".join(
            sorted({type(x).__name__ for x in v if x is not None}))
        raise ValueError(f"filter ({c!r}, {op!r}, ...): a literal of type "
                         f"{kind} cannot be compared with column {c!r} of "
                         f"type {a.type}") from e
    return pc.fill_null(r, False).to_numpy(zero_copy_only=False)


def _compare_arrow(a: pa.Array, op: str, v):
    """``_compare``'s Arrow boolean result, nulls kept."""
    if op in ("is_null", "is_not_null"):
        r = pc.is_null(a) if op == "is_null" else pc.is_valid(a)
    elif op == "startswith":
        r = pc.starts_with(a, pattern=v)
    elif op == "in" or op in _CMP:
        if isinstance(v, str) and pa.types.is_timestamp(a.type):
            v = datetime.datetime.fromisoformat(v)    # as Spark casts it
        lit = pa.array([x for x in v if x is not None]) if op == "in" \
            else pa.scalar(v)
        if lit.type != a.type and not pa.types.is_integer(lit.type) \
                and not pa.types.is_floating(lit.type):
            lit = lit.cast(a.type)
        r = pc.is_in(a, value_set=lit) if op == "in" else _CMP[op](a, lit)
        v_nan = isinstance(v, float) and v != v
        if op != "in" and (v_nan or pa.types.is_floating(a.type)):
            # where either side is NaN, Spark compares NaN-ness (NaN sorts
            # above every number); NaN is the one value unequal to itself
            a_nan = pc.not_equal(a, a)
            r = pc.if_else(pc.or_(a_nan, v_nan), _CMP[op](a_nan, v_nan), r)
    else:
        raise ValueError(f"unknown filter op {op!r}")
    return r


def _nullable_type(t: pa.DataType) -> pa.DataType:
    """Recursively rewrite nested fields nullable: the merged read view is
    nullable at every level (codec decode rebuilds nested arrays with
    nullable children; add-column evolution null-fills whole rows), so a
    source schema's 'not null' nested fields must not make the final cast
    reject otherwise-identical data. Spark reads nullable regardless."""
    if pa.types.is_list(t):
        return pa.list_(_nullable_type(t.value_type))
    if pa.types.is_large_list(t):
        return pa.large_list(_nullable_type(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _nullable_type(f.type),
                                   nullable=True) for f in t])
    if pa.types.is_map(t):
        return pa.map_(_nullable_type(t.key_type),
                       _nullable_type(t.item_type))
    return t


def _prefix_upper(p: str) -> str | None:
    """The least string strictly greater than every string with prefix
    ``p`` (increment the last incrementable code point, dropping any
    trailing U+10FFFF); None when no such bound exists ('' or all-max)."""
    cp = list(p)
    while cp:
        if ord(cp[-1]) < 0x10FFFF:
            cp[-1] = chr(ord(cp[-1]) + 1)
            return "".join(cp)
        cp.pop()
    return None


def _startswith_keep(lo, hi, v):
    """Chunk may hold a string with prefix v iff its range intersects
    [v, prefix_upper(v)). Works element-wise on numpy arrays or scalars."""
    up = _prefix_upper(v)
    keep = hi >= v
    return keep if up is None else keep & (lo < up)


def _bloom_literal_groups(ops) -> list[list]:
    """Bloom-probe groups for one column's (op, value) filters: each ==
    bytes-like literal is a singleton group; each IN list of bytes-like
    values is one group (prune only when the WHOLE group is absent).
    Non-bytes and empty lists yield no group (zone maps handle those)."""
    groups: list[list] = []
    for op, v in ops:
        if op == "==" and isinstance(v, (str, bytes)):
            groups.append([v])
        elif op == "in" and isinstance(v, (list, tuple)) and v \
                and all(isinstance(x, (str, bytes)) for x in v):
            groups.append(list(v))
    return groups


def _split_filter_col(c: str) -> tuple[str, str | None]:
    """Filter-column accessor syntax for NESTED columns (r5): a '#' in
    the column name splits into (base_column, accessor) —

      'embedding#len'   list/map length          (Spark's size)
      'embedding#val'   SOME flattened element   (Spark's exists)
      'point#f:x'       struct field 'x'         (F.col('point.x'))

    '#' is never legal in the engine's column names (Spark unquoted
    identifiers), so plain columns pass through unchanged."""
    if "#" in c:
        base, acc = c.split("#", 1)
        return base, acc
    return c, None


class PruneIndex:
    """A live manifest view compiled for ``prune_files``: the sorted
    chunk files with their commit numbers, each manifest row's file,
    column and ``bytes_in``, and per column, built on first use, its
    rows' null and row counts, zone-map bounds parsed from JSON (numbers
    as typed numpy arrays, strings as object arrays) and bloom bitsets
    as one bit-matrix. ``view_index`` caches one per live manifest view,
    so repeated reads of a snapshot re-parse none of it. The index keeps
    the view's table for the columns it has not built yet, and reports
    that table's Arrow bytes as its size: more than the index adds (it
    drops the params JSON and holds blooms raw, not in base64)."""

    def __init__(self, manifest: pa.Table):
        self.table = manifest
        files = manifest.column("chunk_file").combine_chunks()
        self.files = sorted(pc.unique(files).to_pylist())
        self.pos = {f: i for i, f in enumerate(self.files)}
        self.fi = _positions(files, self.files)
        col = manifest.column("column").combine_chunks()
        names = pc.unique(col).to_pylist()
        ci = _positions(col, names)
        order = np.argsort(ci, kind="stable")
        cuts = np.searchsorted(ci[order], np.arange(len(names) + 1))
        self._rows = {c: order[cuts[k]:cuts[k + 1]]
                      for k, c in enumerate(names)}
        self._ci, self._code = ci, {c: k for k, c in enumerate(names)}
        self._cols: dict[str, _ColumnIndex] = {}
        has = set(manifest.schema.names)
        self.commit_n = self.bytes_in = None
        if "commit_n" in has:
            self.commit_n = np.full(len(self.files), np.iinfo(np.int64).max)
            np.minimum.at(self.commit_n, self.fi, manifest.column(
                "commit_n").to_numpy().astype(np.int64))
        if "bytes_in" in has:
            self.bytes_in = pc.fill_null(manifest.column("bytes_in"),
                                         0).to_numpy()
        self.nbytes = manifest.nbytes + 24 * manifest.num_rows

    def column(self, name: str) -> "_ColumnIndex | None":
        """The pruning data of column ``name``; None if no row has it."""
        c = self._cols.get(name)
        if c is None and name in self._rows:
            c = self._cols[name] = _ColumnIndex(self, self._rows[name])
        return c

    def kept(self, filters) -> tuple[list[str], np.ndarray]:
        """The files ``prune_files`` keeps, sorted, and their positions
        in ``files``."""
        names = prune_files(self, filters or [])
        return names, np.fromiter((self.pos[f] for f in names), np.int64,
                                  len(names))

    def bytes_of(self, pos: np.ndarray, columns: list[str] | None) -> int:
        """The summed ``bytes_in`` of ``columns`` (default: every column)
        over the files at ``pos``."""
        on = np.zeros(len(self.files), dtype=bool)
        on[pos] = True
        on = on[self.fi]
        if columns is not None:
            on &= np.isin(self._ci, [self._code[c] for c in columns
                                     if c in self._code])
        return int(self.bytes_in[on].sum())


def _positions(values: pa.Array, sorted_set: list) -> np.ndarray:
    """The position of each of ``values`` in the list ``sorted_set``."""
    return pc.index_in(values, value_set=pa.array(sorted_set, values.type)) \
        .to_numpy(zero_copy_only=False).astype(np.int64)


class _ColumnIndex:
    """One column's rows of a ``PruneIndex``, parsed for pruning: file
    positions (``fi``) with null and row counts; ``s_fi``/``lo``/``hi``
    for the rows with zone-map bounds (``lo_a``/``hi_a`` as arrays); and
    ``b_fi``/``mat`` for the rows with a bloom bitset."""

    __slots__ = ("fi", "nulls", "rows", "s_fi", "lo", "hi", "lo_a",
                 "hi_a", "b_fi", "mat")

    def __init__(self, index: PruneIndex, rows: np.ndarray):
        import base64
        sub = index.table.take(rows)
        has = set(sub.schema.names)
        self.fi = index.fi[rows]
        self.nulls = self.rows = None
        if "nulls" in has:
            self.nulls = sub.column("nulls").to_numpy(zero_copy_only=False)
            self.rows = sub.column("rows").to_numpy(zero_copy_only=False)
        valid = sub.column("stat_min").is_valid() \
            .to_numpy(zero_copy_only=False)
        srows = sub.filter(valid)
        self.s_fi = self.fi[valid]
        # whole-column JSON parse: arrow-side join into one "[..]" string
        # (no per-row Python list), one C-level json.loads
        self.lo, self.hi = (json.loads("[" + pc.binary_join(
            pa.ListArray.from_arrays([0, srows.num_rows], srows.column(
                c).combine_chunks()), ",")[0].as_py() + "]")
            if srows.num_rows else [] for c in ("stat_min", "stat_max"))
        self.lo_a, self.hi_a = _bounds_array(self.lo), _bounds_array(self.hi)
        self.b_fi = self.mat = None
        if "bloom" in has:
            bvalid = sub.column("bloom").is_valid() \
                .to_numpy(zero_copy_only=False)
            if bvalid.any():
                blooms = sub.column("bloom").filter(bvalid).to_pylist()
                raw = b"".join(base64.b64decode(b) for b in blooms)
                self.b_fi = self.fi[bvalid]
                self.mat = np.frombuffer(raw, dtype=np.uint8).reshape(
                    len(blooms), BLOOM_BITS // 8)


def _bounds_array(vals: list) -> np.ndarray:
    """Zone-map bounds as one numpy array for vectorized compares;
    strings stay Python objects, as a fixed-width unicode array would
    take 4 bytes per character of the longest bound on every row."""
    if any(isinstance(v, str) for v in vals):
        return np.fromiter(vals, dtype=object, count=len(vals))
    return np.asarray(vals)


def view_index(store: ChunkStore, snap: dict) -> PruneIndex:
    """The ``PruneIndex`` of ``snap``'s live manifest view, from the
    metadata cache (``plans.snapshot.cached``) under
    ``store.view_key(snap)``: built once per view, re-built when a shard
    file changes."""
    return cached(store.view_key(snap),
                  lambda: PruneIndex(store.manifest_table(snap)))


def prune_files(manifest: pa.Table | PruneIndex,
                filters: list[tuple[str, str, object]]) -> list[str]:
    """Zone-map pruning: keep only chunk files whose per-column min/max
    stats could satisfy EVERY filter (conjunction). Conservative — files
    without stats for a filtered column always survive; type-mismatched
    comparisons never prune. Driver-side over a live manifest table or
    its ``PruneIndex`` (planning passes the cached one), COLUMNAR: per
    filtered column the stat bounds compare as one numpy op, and bloom
    bitsets probe as one stacked matrix gather — no per-row Python, so
    the driver path holds to its 'millions of chunk rows' claim.
    Timestamps compare as epoch micros."""

    def _norm(v):
        # stats store timestamps as epoch micros; normalize filter values
        if isinstance(v, datetime.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=datetime.timezone.utc)
            return int(v.timestamp() * 1_000_000)
        return v

    filters = [(c, op, _norm(v)) for c, op, v in filters]
    if not filters:
        if isinstance(manifest, PruneIndex):
            return list(manifest.files)
        return sorted(pc.unique(manifest.column("chunk_file")).to_pylist())
    index = manifest if isinstance(manifest, PruneIndex) else \
        PruneIndex(manifest)

    by_col: dict[str, list] = {}
    for c, op, v in filters:
        by_col.setdefault(c, []).append((op, v))

    _vec = {
        "<": lambda lo, hi, v: lo < v,
        "<=": lambda lo, hi, v: lo <= v,
        ">": lambda lo, hi, v: hi > v,
        ">=": lambda lo, hi, v: hi >= v,
        "==": lambda lo, hi, v: (lo <= v) & (hi >= v),
        "in": lambda lo, hi, v: np.logical_or.reduce(
            [(lo <= x) & (hi >= x) for x in v]) if len(v) else
            np.zeros(np.shape(lo), dtype=bool),
        "startswith": _startswith_keep,
    }
    keep = np.ones(len(index.files), dtype=bool)
    for c, ops in by_col.items():
        base_c, acc = _split_filter_col(c)
        col = index.column(base_c)
        if col is None:
            continue
        # null-count pruning: the manifest's nulls/rows columns answer
        # IS [NOT] NULL exactly — a chunk with zero nulls can't satisfy
        # is_null, an all-null chunk can't satisfy is_not_null (the
        # latter also covers all-null chunks, which carry no stats at
        # all). Top-level columns only; nested accessors stay unpruned.
        null_ops = [op for op, _ in ops
                    if op in ("is_null", "is_not_null")]
        if null_ops and acc is None and col.nulls is not None:
            nbad = np.zeros(len(col.nulls), dtype=bool)
            for op in null_ops:
                nbad |= (col.nulls == 0) if op == "is_null" \
                    else (col.nulls == col.rows)
            keep[col.fi[nbad]] = False
        if len(col.s_fi):
            s_fi, lo, hi, lo_a, hi_a = \
                col.s_fi, col.lo, col.hi, col.lo_a, col.hi_a
            if acc is not None:
                # nested stats are JSON objects keyed by accessor; rows
                # without the key (all-null children, pre-r5 manifests)
                # can never be excluded — drop them from the compare set
                lo = [d.get(acc) if isinstance(d, dict) else None
                      for d in lo]
                hi = [d.get(acc) if isinstance(d, dict) else None
                      for d in hi]
                ok = np.array([l is not None and h is not None
                               for l, h in zip(lo, hi)], dtype=bool)
                if not ok.all():
                    if not ok.any():
                        continue
                    s_fi = s_fi[ok]
                    lo = [l for l, k in zip(lo, ok) if k]
                    hi = [h for h, k in zip(hi, ok) if k]
                lo_a, hi_a = _bounds_array(lo), _bounds_array(hi)
            bad = np.zeros(len(lo), dtype=bool)
            for op, v in ops:
                # a NaN sorts above every number (Spark), so no bound
                # can rule a NaN literal out
                if op not in _vec or any(
                        x != x for x in (v if op == "in" else [v])):
                    continue
                try:
                    bad |= ~np.asarray(_vec[op](lo_a, hi_a, v), dtype=bool)
                except TypeError:
                    # mixed-type stats: the same ops per scalar, skipping
                    # mismatches (rare, stays conservative)
                    for i, (l, h) in enumerate(zip(lo, hi)):
                        try:
                            bad[i] |= not _vec[op](l, h, v)
                        except TypeError:
                            pass
            keep[s_fi[bad]] = False
        # bloom pruning for equality/IN on bytes-like columns: min/max
        # ranges on high-cardinality strings rarely exclude anything, the
        # bitset does. Missing blooms read as "may contain". All literals
        # for the column probe one stacked bitset matrix at once. Group
        # semantics: an == literal is its own group; an IN list is one
        # group — a chunk is excluded when ANY group is WHOLLY absent
        # (filters are a conjunction; IN needs only one member present).
        groups = _bloom_literal_groups(ops)
        if groups and col.mat is not None:
            flat = [v.encode() if isinstance(v, str) else v
                    for g in groups for v in g]
            goff = np.cumsum([0] + [len(g) for g in groups])
            idx = bloom_positions(pa.array(flat, pa.binary()))
            byte_i, bit_i = idx // 8, 7 - (idx % 8)
            bits = (col.mat[:, byte_i] >> bit_i[None, :, :]) & 1
            absent = ~bits.all(axis=2)              # (nr, sum(|g|))
            bad = np.zeros(len(col.mat), dtype=bool)
            for gi in range(len(groups)):
                bad |= absent[:, goff[gi]:goff[gi + 1]].all(axis=1)
            keep[col.b_fi[bad]] = False
    return [index.files[i] for i in np.flatnonzero(keep)]


def _names_df(spark: SparkSession, names: list[str], col: str,
              **ints: list[int]) -> DataFrame:
    """A list of names (chunk files or manifest shards) as a DataFrame
    column ``col`` spread over up to 2 x cores partitions — 2 x cores
    balances task-level skew against the per-task cost of a Python task
    (JVM task start to Python init done: 3-55 ms, median 12 ms, on a
    reused worker; a no-op job takes 0.18 s with 1 task, 0.27 s with 8 on
    4 vCPU). Each keyword is an int column that rides along row for row
    (``commit_n=[...]``).
    Up to 65536 names, range(numPartitions) + an array-literal lookup
    distributes the list WITHOUT an exchange: createDataFrame of a local
    list plans as a single-partition LocalTableScan, and the repartition
    it needs costs a whole extra stage (~0.3 s/action measured). An empty
    list is an empty relation, no repartition."""
    ddl = ", ".join([f"{col} string"] + [f"{k} long" for k in ints])
    if not names:
        return spark.createDataFrame([], ddl)
    parallelism = min(len(names), spark.sparkContext.defaultParallelism * 2)
    if len(names) <= 65536:
        from pyspark.sql import functions as F
        i = F.col("id").cast("int") + 1
        return spark.range(0, len(names), 1, parallelism).select(
            F.element_at(F.lit(names), i).alias(col),
            *[F.element_at(F.lit(v), i).cast("long").alias(k)
              for k, v in ints.items()])
    return spark.createDataFrame(list(zip(names, *ints.values())), ddl) \
        .repartition(parallelism)


@dataclass
class ScanPlan:
    """Every read-path decision taken before a chunk is opened, made once
    for ``decode_store`` (both planning modes), the owrc DataSource,
    ``metadata_table`` and ``rewrite_small_chunks``:

    - ``snap``: the resolved snapshot (``snapshot``/``ref``, trimmed to
      the manifests committed after ``since_snapshot``);
    - ``schema``: its nullable live read schema;
    - ``aliases``: live name -> retired physical names (renames);
    - ``deletes``: ``(delete_file, physical_key, live_key, n)`` per
      equality-delete file whose key is a live column.

    Build with ``ScanPlan.resolve``. ``kept_files`` (driver planning) and
    ``shard_files`` (distributed planning) list the chunk files a filter
    keeps with each file's commit number, which ``deletes_for`` turns
    into the deletes ``read_chunk_table`` applies to that chunk."""
    store: ChunkStore
    snap: dict
    schema: pa.Schema
    aliases: dict[str, list[str]]
    deletes: list[tuple[str, str, str, int | None]]

    @classmethod
    def resolve(cls, root: str, snapshot: int | None = None,
                ref: str | None = None,
                since_snapshot: int | None = None) -> "ScanPlan":
        store = ChunkStore(root)
        if ref is not None and snapshot is not None:
            raise ValueError("pass snapshot= or ref=, not both")
        if ref is not None:
            snap = store.resolve_ref(ref)
        elif snapshot is not None:
            snap = store.snapshot_at(int(snapshot))
        else:
            snap = store.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot under {root}")
        if since_snapshot is not None:
            # incremental append scan: skip pid-rewrite commits (they
            # reorganize bytes, appending no logical rows) and read the
            # ORIGINAL appended rows instead of the rewritten view —
            # Iceberg's incremental scan skips replace snapshots the same
            # way (their files are retained until the base expires)
            base = store.snapshot_at(int(since_snapshot))
            seen = set(base["manifests"]) | set(
                snap.get("rewrite_manifests", []))
            snap = {**snap,
                    "manifests": [m for m in snap["manifests"]
                                  if m not in seen],
                    "pid_rewrites": {}}
        # the merged view is nullable at every level: add-column evolution
        # null-fills rows from chunks committed before a column existed
        schema = pa.schema(
            [pa.field(f.name, _nullable_type(f.type), nullable=True)
             for f in store.arrow_schema(snap)])
        aliases = ChunkStore.alias_map(snap)
        # a delete file's key is its PHYSICAL name at delete time: resolve
        # it to the live name the alias-aware chunk read produces
        deletes = []
        for d in store.delete_files(snap):
            live = ChunkStore.live_name_of(snap, d["key"])
            if live in schema.names:
                deletes.append((os.path.join(store.deletes_dir, d["file"]),
                                d["key"], live,
                                int(d["n"]) if d.get("n") is not None
                                else None))
        return cls(store, snap, schema, aliases, deletes)

    def deletes_for(self, commit_n: int) -> list[tuple[str, str, str]]:
        """Deletes scoping a chunk committed at ``commit_n`` (Iceberg
        sequence numbers): a delete committed at n applies only to data
        from earlier commits, so rows re-inserted after it stay visible."""
        return _scoped_deletes(self.deletes, commit_n)

    def kept_files(self, filters: list[tuple[str, str, object]] | None,
                   columns: list[str] | None = None) -> "KeptFiles":
        """Driver planning: {kept chunk file: commit number}, pruned on
        the cached ``PruneIndex`` of the snapshot's live manifest view
        (``view_index``). ``bytes_in`` of the result sums the manifest's
        plain-equivalent bytes of ``columns`` (default: every column)
        over the kept files."""
        index = view_index(self.store, self.snap)
        names, pos = index.kept(filters)
        out = KeptFiles(zip(names, index.commit_n[pos].tolist()))
        out.bytes_in = index.bytes_of(pos, columns)
        return out

    def shard_files(self, spark: SparkSession,
                    filters: list[tuple[str, str, object]] | None
                    ) -> DataFrame:
        """Distributed planning: the same (chunk_file, commit_n) rows as
        ``kept_files``, pruned per manifest shard in a Spark job, each on
        its one-shard view's cached ``PruneIndex``."""
        store, snap = self.store, self.snap

        def kept(m):
            index = view_index(store, {**snap, "manifests": [m]})
            names, pos = index.kept(filters)
            return pa.table([pa.array(names, pa.string()),
                             pa.array(index.commit_n[pos], pa.int32())],
                            schema=_KEPT_SCHEMA)

        return self._shards(spark, kept, _KEPT_SCHEMA)

    def live_rows(self, spark: SparkSession) -> DataFrame:
        """The live manifest view (what ``manifest_table`` concatenates,
        with ``commit_n``) as a distributed DataFrame."""
        store, snap = self.store, self.snap
        return self._shards(spark, lambda m: store.shard_view(snap, m),
                            LIVE_MANIFEST_SCHEMA)

    def _shards(self, spark: SparkSession, fn, schema: pa.Schema
                ) -> DataFrame:
        """``fn(manifest_name) -> pa.Table`` over every manifest shard of
        the snapshot as one Spark job: the distributed form of a
        driver-side loop over shards, so chunk-level manifest rows never
        materialize on the driver. Per-shard pruning equals global
        pruning because every chunk file's manifest rows live in one
        shard (``write_chunks``, the one writer, puts all of a task's
        chunk rows in that task's shard)."""
        from pyspark.sql.pandas.types import from_arrow_schema

        def task(batches):
            for b in batches:
                for m in b.column("manifest").to_pylist():
                    yield from fn(m).cast(schema).to_batches()

        return _names_df(spark, list(self.snap["manifests"]), "manifest") \
            .mapInArrow(task, from_arrow_schema(schema))


def _scoped_deletes(deletes, commit_n: int) -> list[tuple[str, str, str]]:
    """``ScanPlan.deletes_for`` over a bare ``ScanPlan.deletes`` list,
    which a Spark task can carry without the plan's store and snapshot."""
    return [(p, k, lk) for p, k, lk, n in deletes
            if n is None or commit_n < n]


class KeptFiles(dict):
    """``ScanPlan.kept_files``' result: {chunk file: commit number}, plus
    ``bytes_in``, the plain-equivalent bytes the read would decode."""
    bytes_in: int = 0


_KEPT_SCHEMA = pa.schema([("chunk_file", pa.string()),
                          ("commit_n", pa.int32())])


def decode_store(spark: SparkSession, out_dir: str,
                 columns: list[str] | None = None,
                 check_sha: bool = False,
                 snapshot: int | None = None,
                 filters: list[tuple[str, str, object]] | None = None,
                 planning: str = "driver",
                 since_snapshot: int | None = None,
                 ref: str | None = None,
                 ) -> DataFrame:
    """A committed snapshot as a DataFrame.

    ``snapshot=N`` time-travels to snapshot #N (Iceberg-style as-of read);
    default is the live snapshot `_current` points to. ``ref="name"``
    reads the snapshot a tag points at (Iceberg ref read; mutually
    exclusive with ``snapshot``).

    ``since_snapshot=M`` reads INCREMENTALLY (Iceberg's incremental
    append scan): only rows from manifests committed AFTER snapshot #M,
    up to the target snapshot — the "process just the new batch"
    primitive for training-data pipelines. Implemented as a manifest
    set-difference, so it composes with filters/columns/planning and
    costs nothing extra. Equality deletes committed in the range still
    apply to in-range data via the normal sequence scoping; deletes
    aimed at pre-M data are invisible here (their targets are not
    scanned), matching append-scan semantics.

    ``columns`` projects the read, in the order given. A name the
    snapshot's schema lacks, or one named twice, raises ``ValueError``
    from this call. ``columns=[]`` reads no column but keeps every row
    the filters keep, as Spark's ``select()`` does: ``count()`` of it is
    the row count of the filtered read.

    ``filters=[(col, op, value), ...]`` (ops: < <= > >= == in startswith
    is_null is_not_null, ANDed; ``in`` takes a list/tuple of values,
    ``startswith`` a string prefix pruned as the range
    [p, prefix_upper(p)), the null ops ignore the value and prune on the
    manifest's per-chunk null counts; nested accessors per
    ``_split_filter_col``) pushes the predicate into the store: chunk
    files whose zone maps and blooms cannot satisfy it are never opened
    (an IN list prunes a chunk only when EVERY member is provably
    absent), and ``read_chunk_table`` drops each opened chunk's failing
    rows in Arrow with a post-hoc .filter()'s semantics; no row filter
    runs in Spark. A bad filter raises ``ValueError`` from this call. So
    does a literal Arrow cannot compare with its column, such as
    ``("s", "==", 1)`` or ``("s", "in", [1, 2])`` on a string column:
    Spark's own ``col == lit`` would cast one side to a common type and
    compare; the engine never casts a column, so write the literal in
    the column's type.

    ``planning`` chooses where scan planning runs; both modes prune with
    the same compiler (``prune_files``) and read each chunk with the same
    ``read_chunk_table``:
      - "driver" (default): the manifests concat into one driver Arrow
        table and ``prune_files`` runs over it. Right up to millions of
        chunk rows, and the per-query overhead is minimal.
      - "distributed": a Spark job over the manifest shard names runs
        ``prune_files`` on each shard's live rows, so the chunk-file list
        never materializes on the driver — chunk-level manifest rows
        scale with the data, so at corpus scale (tens of millions of
        chunks) planning must distribute like everything else (Iceberg's
        distributed planning). Per-shard pruning opens the same chunk set
        driver planning would (parity pinned by test).

    Where the chunks decode: a driver-planned read whose kept files hold
    at most ``DRIVER_DECODE_BYTES`` of plain-equivalent data (the
    manifest's ``bytes_in`` over the columns the read decodes) decodes on
    the driver, eagerly, into a local relation — no Python-worker job
    runs, and a decode error (a ``check_sha`` mismatch, a bad chunk)
    raises from this call instead of at the first action. An empty plan
    opens no chunk at all. Larger reads and every distributed-planning
    read decode in Spark tasks. Both forks read and filter each chunk with
    the same ``read_chunk_table`` call, which decodes the filter columns
    first and every other column only for the rows that pass."""
    if planning not in ("driver", "distributed"):
        raise ValueError(
            f"planning must be 'driver' or 'distributed': {planning}")
    plan = ScanPlan.resolve(out_dir, snapshot, ref, since_snapshot)
    filters = list(filters or [])
    names = set(plan.schema.names)
    # raises on a bad filter; checked over the filtered columns alone, as
    # an empty table costs ~5 us per column
    _row_mask(pa.schema([plan.schema.field(b) for b in {
        _split_filter_col(c)[0] for c, _, _ in filters} if b in names])
        .empty_table(), filters)
    if columns is not None:
        seen = set()
        for c in columns:
            if c not in names:
                raise ValueError(f"columns: no column {c!r} in the store")
            if c in seen:
                raise ValueError(f"columns: {c!r} is named more than once")
            seen.add(c)
    schema = plan.schema if columns is None else \
        pa.schema([plan.schema.field(c) for c in columns])
    from pyspark.sql.pandas.types import from_arrow_schema
    spark_schema = from_arrow_schema(schema)
    chunks_dir, aliases, deletes = \
        plan.store.chunks_dir, plan.aliases, plan.deletes
    if planning == "driver":
        kept = plan.kept_files(filters, _decoded_columns(
            schema.names, [lk for _, _, lk, _ in deletes], filters))
        fdf = None if kept.bytes_in <= DRIVER_DECODE_BYTES else \
            _names_df(spark, list(kept), "chunk_file",
                      commit_n=list(kept.values()))
    else:
        fdf = plan.shard_files(spark, filters).repartition(
            spark.sparkContext.defaultParallelism * 2)

    # the Spark task pickles this closure: it carries the read's schema,
    # aliases, deletes, filters and check_sha, not the plan
    def read(fname, n):
        return read_chunk_table(os.path.join(chunks_dir, fname), schema,
                                aliases, check_sha,
                                _scoped_deletes(deletes, n), filters)

    def task(batches):
        for b in batches:
            for fname, n in zip(b.column("chunk_file").to_pylist(),
                                b.column("commit_n").to_pylist()):
                yield from read(fname, n).to_batches()

    if fdf is not None:
        return fdf.mapInArrow(task, spark_schema)
    # a small read decodes here, eagerly, into a local relation: no
    # Python-worker job, and decode errors raise from this call
    # tables with rows only: createDataFrame drops rows after an empty batch
    tables = [t for t in (read(f, n) for f, n in kept.items()) if t.num_rows]
    if len(schema) == 0:
        # Arrow tables without columns lose their row counts in
        # concat_tables and createDataFrame; a range keeps them
        return spark.range(sum(t.num_rows for t in tables)).select()
    table = pa.concat_tables(tables) if tables else schema.empty_table()
    return spark.createDataFrame(table, schema=spark_schema)
