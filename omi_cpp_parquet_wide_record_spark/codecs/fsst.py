"""FSST-style string symbol-table codec (SURVEY.md §2.3), pure numpy.

Random-access string compression in the spirit of FSST (Boncz, Neumann,
Leis — "FSST: Fast Random Access String Compression", VLDB 2020): a
per-chunk table of up to 255 byte-string symbols (codes 0..254), output code
255 reserved as an escape prefix for literals outside the table. The
reference stores its string columns completely uncompressed (default writer
properties, ref NQ:3396), so this codec is one of the engine's headline wins
on web text (`url`, `text`).

Departure from the paper, for the zero-per-row-Python rule: the symbol table
is trained by iterative *vectorized pair merging* over the whole chunk corpus
(BPE-style) instead of the paper's sequential greedy bottom-up pass. Every
training round, encode pass, and the decode are whole-array numpy ops, shaped
for cache residency under full-core concurrency (the kernels are memory-bound;
every avoided full-stream pass shows up directly in aggregate throughput):

- row boundaries       -> sentinel tokens inserted once per block (a pair
                          containing the sentinel never merges), so merge
                          rounds carry no boundary bookkeeping at all
- pair counting        -> ``np.bincount`` over a dense (V x V) key space,
                          on a ~2 MB training sample only
- non-overlap greedy   -> run-parity selection on the marked-position SUBSET
- merge replay         -> trained program re-applied to ~1 MB cache-resident
                          blocks: lut gather + subset select + compaction
- code assignment      -> demotion fixed point on the <=510-entry
                          id-frequency space (children inherit demoted
                          counts); the stream itself is never rewritten
- output assembly      -> one width-gather + repeat + gather chain from a
                          per-id final-byte-sequence table (sentinels emit
                          zero bytes); int32 index math while a chunk fits
- escape parsing       -> run-parity over the 0xFF-position subset
- decode expansion     -> one sequential-write gather from an extended
                          [symbol table | encoded stream] source

Symbols never span row boundaries, so decoding the concatenated corpus and
re-slicing at the stored original lengths is exact.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from omi_cpp_parquet_wide_record_spark.codecs.base import (
    Codec, block_to_array, bytes_block, name_type, pack_uints, register,
    unpack_uints,
)

ESCAPE = 255
MAX_CODES = 255           # codes 0..254
MAX_SYMBOL_LEN = 8        # FSST paper cap
_KSPACE = 512             # token ids < 512 (256 literals + <=254 learned + SEP)
_SEP = 511                # row-boundary sentinel token: never merges, so no
                          # per-round boundary masking or start-array upkeep
_NKEYS = _KSPACE * _KSPACE

# replay-block / training-sample byte budgets: blocks must stay L2-resident
# under full-core concurrency (token stream int16 + pair-key int32 + temps
# ~= 7x the block bytes). Training sample 512 KB: an r3 sweep over disjoint
# corpus slices and chunk sizes (0.3-7 MB) showed 512 KB trains the same or
# slightly better table (the finer stride samples more rows; min_count
# scales down with the sample) at 1.5-1.9x the encode throughput of the
# r2 2 MB budget; 256 KB starts to wobble the ratio on text columns.
import sys as _sys

TRAIN_BYTES_DEFAULT = 512 << 10
# 512 KB replay blocks (r5 sweep: 22.4 vs 20.1 MB/s single-proc and
# 279 vs 264 MB/s aggregate at 32-way against the old 1 MB — the int16
# stream + temps of a 1 MB block overflow L2 under full-core concurrency)
BLOCK_BYTES_DEFAULT = 512 << 10

# Largest share of a column's encoded stream the row-index section (one
# bit-packed encoded length per row, ~1-2 bytes) may cost, so only long
# rows get it. On the web corpus's 400-row chunks it costs 0.08% of an
# ``html`` stream and 0.6% of a ``text`` one; urls (~14 encoded bytes a
# row) and ITCH tickers (~2) stay without it, and locating a few rows in
# their short streams with one pass is cheap.
ROW_INDEX_SHARE = 0.01


def _with_sentinels(corpus: np.ndarray, start_pos: np.ndarray) -> np.ndarray:
    """int16 token stream with a _SEP token before each row start — paid
    once per block; every merge round then needs no boundary bookkeeping
    (a pair containing _SEP is never a merge candidate)."""
    t = corpus.astype(np.int16)
    n = len(t)
    if len(start_pos) == 0:
        return t
    is_start = np.zeros(n, dtype=bool)
    is_start[start_pos] = True
    dst = np.cumsum(is_start, dtype=np.int32)
    dst += np.arange(n, dtype=np.int32)
    out = np.full(n + len(start_pos), _SEP, dtype=np.int16)
    out[dst] = t
    return out


def _train_and_tokenize(t: np.ndarray, rounds: int, per_round: int,
                        min_count: int):
    """Merge frequent adjacent pairs into new symbols over a sentineled
    token stream. Returns (final token stream, (left,right) child pair per
    learned id 256+, and the per-round merge program [(keys, new_ids), ...]
    for replay on other blocks). Every pass is whole-array; the stream
    shrinks as merges land."""
    pairs: list[tuple[int, int]] = []      # learned ids 256, 257, ...
    program: list[tuple[np.ndarray, np.ndarray]] = []
    exp_len = np.ones(_KSPACE, dtype=np.int32)
    next_id = 256
    for _ in range(rounds):
        if next_id - 256 >= MAX_CODES - 1 or len(t) < 2:
            break
        # pair key = (left << 9) | right, one fused widening multiply
        k = np.multiply(t[:-1], np.int32(_KSPACE), dtype=np.int32)
        k |= t[1:]
        counts = np.bincount(k, minlength=_NKEYS)
        counts[_SEP << 9:(_SEP + 1) << 9] = 0   # pairs with SEP on the left
        counts[_SEP::_KSPACE] = 0               # ...or on the right
        cand = np.flatnonzero(counts >= min_count)
        if len(cand) == 0:
            break
        left, right = cand >> 9, cand & (_KSPACE - 1)
        fits = (exp_len[left] + exp_len[right]) <= MAX_SYMBOL_LEN
        cand, left, right = cand[fits], left[fits], right[fits]
        if len(cand) == 0:
            break
        budget = min(per_round, MAX_CODES - 1 - (next_id - 256))
        order = np.argsort(counts[cand])[::-1][:budget]
        cand, left, right = cand[order], left[order], right[order]
        lut = np.full(_NKEYS, -1, dtype=np.int16)
        round_ids = np.arange(next_id, next_id + len(cand), dtype=np.int16)
        lut[cand] = round_ids
        # positions whose pair is chosen; greedy-left-to-right non-overlap.
        # Run-parity selection happens on the marked SUBSET (runs of marked
        # positions are consecutive indices), not on full-stream aux arrays.
        new_ids = lut[k]
        sel = _select_nonoverlap(new_ids)
        if sel is None or len(sel) * 100 < len(t):
            # diminishing returns: do NOT mint this round's symbols at
            # all — a low-yield round would still cost replay a full
            # key+gather+select+compact pass per block (and its ids would
            # compete for output codes), for <1% of positions merged
            break
        program.append((cand.astype(np.int32), round_ids))
        for l_id, r_id in zip(left.tolist(), right.tolist()):
            pairs.append((l_id, r_id))
            exp_len[next_id] = exp_len[l_id] + exp_len[r_id]
            next_id += 1
        t[sel] = new_ids[sel]
        keep = np.ones(len(t), dtype=bool)
        keep[sel + 1] = False
        t = t[keep]
    return t, pairs, program


def _select_nonoverlap(new_ids: np.ndarray) -> np.ndarray | None:
    """Greedy left-to-right non-overlapping positions among marked ones
    (new_ids >= 0): within each run of consecutive marked positions, take
    the even offsets. All work after the flatnonzero is on the (usually
    small) marked subset."""
    marked_pos = np.flatnonzero(new_ids >= 0)
    if len(marked_pos) == 0:
        return None
    # int32 position math: a replay block never exceeds ~1M tokens and even
    # whole-chunk streams stay < 2^31, and the marked subset is reread ~6
    # times below — halving its width halves the dominant traffic here
    mp = marked_pos.astype(np.int32, copy=False)
    d = np.empty(len(mp), dtype=np.int32)
    d[0] = 2
    np.subtract(mp[1:], mp[:-1], out=d[1:])
    anchor = np.where(d > 1, mp, 0)
    np.maximum.accumulate(anchor, out=anchor)
    np.subtract(mp, anchor, out=d)
    d &= 1
    return mp[d == 0]


def _round0_lut16(program) -> np.ndarray | None:
    """uint16-keyed LUT for the FIRST merge round. Round-0 pairs are pure
    byte pairs (both children < 256 — learned ids are only minted after the
    round), so the (left<<9)|right training key converts losslessly to a
    65,536-entry table. The table is 128 KB of int16 (L1/L2-resident vs
    the 512 KB full-keyspace LUT), and it is keyed LITTLE-ENDIAN —
    left | (right<<8) — so _round0_raw can index it with a zero-copy
    unaligned uint16 view over the raw block instead of materializing a
    2-byte-per-position key array. Round 0 sees the longest stream of any
    round, so dropping its key write+read matters under the 32-thread
    DRAM ceiling (~25% off the key+gather step, measured). Returns None
    when the program is empty."""
    if not program:
        return None
    keys, ids = program[0]
    left, right = keys >> 9, keys & (_KSPACE - 1)
    if len(left) and (left.max() >= 256 or right.max() >= 256):
        return None   # defensive: not a byte-pair round, use the slow path
    lut16 = np.full(65536, -1, dtype=np.int16)
    lut16[left | (right << 8)] = ids
    return lut16


def _round0_raw(block: np.ndarray, bpos: np.ndarray,
                lut16: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Apply the first merge round directly on the raw uint8 block and
    return the (int16 token stream, row-start positions) pair for the
    remaining BOUNDARY-MASKED rounds — no sentinel tokens anywhere on the
    replay path (r5: masking position row_start-1 breaks the marked runs
    at exactly the places a sentinel would have, so the greedy parity
    selection picks the identical pair set; sentinel insertion cost a
    cumsum + scatter + SEP fill per block, and inflated short-row streams
    by a token per row)."""
    n = len(block)
    if n < 2:
        return block.astype(np.int16), bpos
    if block.flags.c_contiguous and _sys.byteorder == "little":
        # zero-copy key stream: an unaligned little-endian uint16 view over
        # the raw bytes IS the (left | right<<8) key at every position —
        # no 2-byte-per-position key array to write and re-read (the lut is
        # keyed to match; x86/arm64 handle the unaligned gather natively)
        k = np.ndarray(shape=(n - 1,), dtype=np.uint16,
                       buffer=block, strides=(1,))
    else:
        k = block[1:].astype(np.uint16)
        k <<= 8
        k |= block[:-1]
    ids = lut16[k]
    inner = bpos[bpos > 0]
    if len(inner):
        ids[inner - 1] = -1          # pairs crossing a row boundary
    sel = _select_nonoverlap(ids)
    if sel is None:
        return block.astype(np.int16), bpos
    # compact FIRST on the 1-byte raw block, widen after, and scatter the
    # merged ids at their compacted coordinates (sel[i] has exactly i
    # removals — all sel+1, strictly increasing — before it): this skips
    # the full-width int16 materialization of dropped positions
    keep = np.ones(n, dtype=bool)
    keep[sel + 1] = False
    t = block[keep].astype(np.int16)
    t[sel - np.arange(len(sel), dtype=sel.dtype)] = ids[sel]
    # row starts in compacted coordinates: dropped positions are sel+1,
    # all strictly inside rows, so a searchsorted over the (sorted) sel
    # array replaces a full-length cumsum
    new_bpos = bpos - np.searchsorted(sel, bpos - 1, side="left")
    return t, new_bpos


def _apply_program(t: np.ndarray, bpos: np.ndarray, program,
                   lut: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Replay a trained merge program on one (cache-sized) token block
    with BOUNDARY MASKING: per round only lut-gather + boundary mask +
    parity-select + compaction — no counting, no sentinel tokens (the
    masked positions break marked runs exactly where sentinels would,
    so the selected pair set is identical). Returns the token stream and
    its row starts in token coordinates."""
    for keys, ids in program:
        if len(t) < 2:
            break
        lut[keys] = ids
        # one fused widening multiply instead of astype+shift (saves a
        # full-length int32 pass per round)
        k = np.multiply(t[:-1], np.int32(_KSPACE), dtype=np.int32)
        k |= t[1:]
        new_ids = lut[k]
        inner = bpos[bpos > 0]
        if len(inner):
            new_ids[inner - 1] = -1    # pairs crossing a row boundary
        sel = _select_nonoverlap(new_ids)
        if sel is not None:
            t[sel] = new_ids[sel]
            keep = np.ones(len(t), dtype=bool)
            keep[sel + 1] = False
            t = t[keep]
            bpos = bpos - np.searchsorted(sel, bpos - 1, side="left")
        lut[keys] = -1     # restore shared lut for the next round/block
    return t, bpos


def _assign_codes_from_freq(freq_full: np.ndarray,
                            pairs: list[tuple[int, int]],
                            complete: bool = False
                            ) -> tuple[np.ndarray, list[bytes], np.ndarray]:
    """Give the 255 output codes to the most frequent *final* tokens
    (learned or literal alike) and demote the rest.

    A learned symbol without a code cannot be escaped (escape carries one
    literal byte), so demoted symbols are re-expanded in the stream into
    their nearest coded/literal descendants — one vectorized splice. This is
    what keeps high-entropy payloads near 1x instead of 2x: frequent raw
    bytes win codes over marginal learned symbols.

    Returns (code table as expansion bytes per code, and per-token-id final
    output byte encodings as (enc_flat, enc_off, enc_w) arrays over the
    full _KSPACE id space).

    The demotion fixed point is computed entirely on the (tiny, <=510-entry)
    id-frequency space: a demoted learned symbol redistributes its count to
    its two children, which may demote further symbols, until the top-255 is
    stable. The stream itself is never rewritten — each id (coded, escaped
    literal, or demoted) maps straight to its final byte sequence, and the
    sentinel maps to zero bytes, so the caller emits the whole chunk with a
    single width-gather + repeat + gather chain.

    complete=True: `freq_full` is an ESTIMATE (training-sample counts, not
    the real stream's), so any id the merge program can mint may appear in
    the stream with zero sample count. Every minted learned id's count is
    floored to 1 (an alive-but-uncoded learned id cannot be escaped — it
    must enter the code competition and either win a code or be demoted),
    and an encoding is built for EVERY id, not just sampled ones. Ranking
    by sampled counts costs only ratio (marginal symbols may swap code vs
    escape), never correctness — decode reads the same table either way."""
    n_ids = 256 + len(pairs)                   # <= 510 (< _SEP)
    freq = freq_full[:n_ids].copy()
    if complete:
        freq[256:n_ids] = np.maximum(freq[256:n_ids], 1)
    stream_freq = freq.copy()   # ids actually present in the final stream
    alive = np.ones(n_ids, dtype=bool)     # literals always alive for escape
    while True:
        cand = np.flatnonzero((freq > 0) & alive)
        if len(cand) > MAX_CODES:
            order = cand[np.argsort(freq[cand], kind="stable")[::-1]]
            coded_ids = order[:MAX_CODES]
        else:
            coded_ids = cand
        keep = np.zeros(n_ids, dtype=bool)
        keep[coded_ids] = True
        demoted = np.flatnonzero(alive & (freq > 0) & ~keep
                                 & (np.arange(n_ids) >= 256))
        if len(demoted) == 0:
            break
        # redistribution: children inherit the demoted counts — cascading
        # past already-dead children to their nearest still-alive
        # descendants (a one-level push stranded counts on dead ids, so
        # the leaves a demoted symbol will actually emit were
        # under-credited in the code competition)
        for d in demoted.tolist():
            amt = freq[d]
            freq[d] = 0
            alive[d] = False
            stack = list(pairs[d - 256])
            while stack:
                s = stack.pop()
                if s >= 256 and not alive[s]:
                    stack.extend(pairs[s - 256])
                else:
                    freq[s] += amt

    # every alive learned id MUST get a code (a learned symbol cannot be
    # escaped — escapes carry one literal byte); remaining slots go to the
    # most frequent literals. |alive learned| <= 255 by the fixed point.
    ids = np.arange(n_ids)
    learned_alive = np.flatnonzero(alive & (freq > 0) & (ids >= 256))
    lits = np.flatnonzero((freq > 0) & (ids < 256))
    lits = lits[np.lexsort((lits, -freq[lits]))]     # freq desc, id asc
    coded = [int(i) for i in learned_alive] + \
        [int(i) for i in lits[:MAX_CODES - len(learned_alive)]]

    # expansion bytes per id (for the decode table)
    exp_bytes: dict[int, bytes] = {}

    def expansion(tok: int) -> bytes:
        if tok < 256:
            return bytes([tok])
        if tok not in exp_bytes:
            l_id, r_id = pairs[tok - 256]
            exp_bytes[tok] = expansion(l_id) + expansion(r_id)
        return exp_bytes[tok]

    code_of = np.full(n_ids, -1, dtype=np.int16)
    table: list[bytes] = []
    for tok in coded:
        code_of[tok] = len(table)
        table.append(expansion(tok))

    alive_set = set(np.flatnonzero(alive).tolist())

    def expand(tok: int) -> list[int]:
        if tok < 256 or tok in alive_set:
            return [tok]
        l_id, r_id = pairs[tok - 256]
        return expand(l_id) + expand(r_id)

    # final output byte sequence per token id (code byte, ESCAPE+literal,
    # or the concatenation for a demoted id); _SEP encodes to zero bytes
    enc_seqs: list[bytes] = []
    for tok in range(_KSPACE):
        # ids absent from the final stream need no encoding — and may not
        # even have one (their descendants can be uncoded); demoted ids ARE
        # in the stream (freq was only redistributed on the id space), so
        # the guard uses the original stream counts. With estimated counts
        # (complete=True) every id can appear: build them all.
        if tok >= n_ids or tok == _SEP or \
                (not complete and stream_freq[tok] == 0):
            enc_seqs.append(b"")
            continue
        out = bytearray()
        for s in expand(tok):
            c = int(code_of[s])
            if c >= 0:
                out.append(c)
            else:                      # uncoded ids are literals (< 256)
                out.append(ESCAPE)
                out.append(s)
        enc_seqs.append(bytes(out))
    # uint8 widths / int32 offsets: every per-token gather in _assemble
    # then touches 1-4 bytes instead of 4-8 (an encoding is at most 16
    # bytes — 8 expanded literals, each possibly escaped; the flat table
    # is a few KB, so int32 offsets always fit)
    enc_w = np.array([len(s) for s in enc_seqs], dtype=np.uint8)
    enc_off = np.zeros(_KSPACE, dtype=np.int32)
    np.cumsum(enc_w[:-1], out=enc_off[1:])
    enc_flat = np.frombuffer(b"".join(enc_seqs), dtype=np.uint8)
    return table, enc_flat, enc_off, enc_w


def _assemble(p: np.ndarray, enc_flat: np.ndarray, enc_off: np.ndarray,
              enc_w: np.ndarray, row_tok: np.ndarray
              ) -> tuple[np.ndarray, np.ndarray]:
    """Single-gather output assembly for one token block: token id -> final
    byte sequence (code, ESCAPE+literal, or demoted expansion; sentinels
    emit zero bytes, so no strip pass). Writes are purely sequential;
    index math stays int32 while the block fits. Also returns the output
    offset of each token position in ``row_tok`` (the first token of each
    non-empty row), read off the running sum the assembly computes."""
    w = enc_w[p]                            # uint8: 1 byte per token
    total = int(w.sum(dtype=np.int64))
    it = np.int32 if total < 2**31 - 8 else np.int64
    ends = np.cumsum(w, dtype=it)
    row_off = ends[row_tok] - w[row_tok]
    src0 = enc_off[p].astype(it, copy=False)
    np.subtract(src0, ends, out=src0)
    src0 += w                               # enc_off[p] - (ends - w)
    src = np.repeat(src0, w)
    src += np.arange(total, dtype=it)
    return enc_flat[src], row_off


def _replay_blocks(corpus: np.ndarray, starts: np.ndarray,
                   start_pos: np.ndarray, n_rows: int, prog,
                   lut16: np.ndarray | None, enc_flat: np.ndarray,
                   enc_off: np.ndarray, enc_w: np.ndarray,
                   block_bytes: int) -> tuple[np.ndarray, np.ndarray]:
    """Replay a trained merge program + code assignment over the corpus in
    ~1 MB blocks (round-0 -> remaining rounds -> assembly per block, all
    while the cache-sized token stream is resident). Block boundaries are
    the first row start at/after each multiple of block_bytes (vectorized
    searchsorted, no per-row loop). Returns the encoded stream and the
    stream offset where each non-empty row starts."""
    row_ends = starts[1:]
    marks = np.arange(block_bytes, int(row_ends[-1]),
                      block_bytes, dtype=np.int64)
    cuts = np.unique(np.concatenate(
        ([0], np.searchsorted(row_ends, marks, side="left") + 1,
         [n_rows])))
    cuts = cuts[cuts <= n_rows]
    lut = np.full(_NKEYS, -1, dtype=np.int16)
    rest = prog[1:] if lut16 is not None else prog
    outs, offs, done = [], [], 0
    for a, b in zip(cuts[:-1].tolist(), cuts[1:].tolist()):
        lo, hi = int(starts[a]), int(starts[b])
        if hi <= lo:
            continue
        bpos = start_pos[np.searchsorted(start_pos, lo):
                         np.searchsorted(start_pos, hi)] - lo
        if lut16 is not None:
            tb, bp = _round0_raw(corpus[lo:hi], bpos, lut16)
        else:
            tb, bp = corpus[lo:hi].astype(np.int16), bpos
        tb, bp = _apply_program(tb, bp, rest, lut)
        out, off = _assemble(tb, enc_flat, enc_off, enc_w, bp)
        outs.append(out)
        offs.append(off.astype(np.int64) + done)
        done += len(out)
    if len(outs) == 1:
        return outs[0], offs[0]
    return np.concatenate(outs), np.concatenate(offs)


def _make_plan(prog, table: list[bytes], enc_flat: np.ndarray,
               enc_off: np.ndarray, enc_w: np.ndarray, out_bytes: int,
               in_bytes: int, lut16: np.ndarray | None = None) -> dict:
    """Bundle everything replay needs (merge program, round-0 LUT, code
    assignment, table) plus the training compression ratio the drift
    guard compares against."""
    if lut16 is None:
        lut16 = _round0_lut16(prog)
    return {"prog": prog, "lut16": lut16, "table": table,
            "enc_flat": enc_flat, "enc_off": enc_off, "enc_w": enc_w,
            "exp": out_bytes / max(1, in_bytes)}


def _markers(enc: np.ndarray) -> np.ndarray:
    """Positions of the escape markers in an encoded stream."""
    # escape parsing on the 0xFF-position SUBSET: inside each run of
    # consecutive 0xFF bytes the even-offset ones are escape markers,
    # odd-offset ones are escaped literals — runs of 0xFF positions are
    # consecutive indices, so run-parity needs only the subset
    ff_pos = np.flatnonzero(enc == ESCAPE)
    if len(ff_pos):
        rs = np.empty(len(ff_pos), dtype=bool)
        rs[0] = True
        np.not_equal(ff_pos[1:], ff_pos[:-1] + 1, out=rs[1:])
        anchor = np.where(rs, ff_pos, 0)
        np.maximum.accumulate(anchor, out=anchor)
        ff_pos = ff_pos[((ff_pos - anchor) & 1) == 0]
    if len(ff_pos) and ff_pos[-1] == len(enc) - 1:
        # corrupt/truncated payload ending in a bare escape marker:
        # there is no literal slot after it — fail loudly instead of
        # the IndexError the marker_pos+1 write would raise (ADVICE r2)
        raise ValueError(
            "fsst: truncated payload ends with escape marker")
    return ff_pos


def _code_widths(tab_lens: np.ndarray) -> np.ndarray:
    """Decoded width per code byte, as a 256-entry uint8 LUT: codes are
    0..ncodes-1 < 255, so the ESCAPE slot keeps width 1 naturally (the
    LUT gather touches 1 byte per token on a memory-bound kernel)."""
    code_len8 = np.ones(256, dtype=np.uint8)
    code_len8[:len(tab_lens)] = tab_lens
    return code_len8


def _expand(tab_flat: np.ndarray, tab_lens: np.ndarray,
            enc: np.ndarray) -> np.ndarray:
    """The decoded bytes of an encoded stream (or of whole rows of one,
    concatenated: rows start and end on token boundaries)."""
    marker_pos = _markers(enc)
    tok = enc != ESCAPE
    tok[marker_pos + 1] = False          # the literal slot after a marker
    tok[marker_pos] = True               # the marker is the token
    tok_pos = np.flatnonzero(tok)
    codes = enc[tok_pos]
    widths = _code_widths(tab_lens)[codes]
    total = int(widths.sum(dtype=np.int64))
    ncodes = len(tab_lens)
    # single-gather expansion: every output byte reads from an extended
    # source [symbol table | encoded stream] — table reads stay
    # cache-resident, the output writes are purely sequential (the old
    # per-code scatter loop wrote to random positions, DRAM-hostile);
    # int32 index math while the chunk fits, and every full-length
    # temporary stays at most 4 bytes wide (the memory-bound budget)
    big = np.concatenate([tab_flat, enc])
    it = np.int32 if max(total, len(big)) < 2**31 - 8 else np.int64
    ends = np.cumsum(widths, dtype=it)
    tab_off = np.zeros(256, dtype=it)
    np.cumsum(tab_lens[:-1] if ncodes else tab_lens,
              out=tab_off[1:ncodes])
    src0 = tab_off[codes]
    if len(marker_pos):
        esc = np.flatnonzero(codes == ESCAPE)  # markers: the only ESCAPEs
        src0[esc] = (tok_pos[esc] + (len(tab_flat) + 1)).astype(it)
    np.subtract(src0, ends, out=src0)
    src0 += widths                        # src0 - (ends - widths)
    src = np.repeat(src0, widths)
    src += np.arange(total, dtype=it)
    return big[src]


class FsstCodec(Codec):
    """Sections: [tab_lens, tab_flat, row_lens, stream] and, when the
    params carry ``row_index``, a fifth: the encoded length of every row
    (``pack_uints``; ``row_index`` holds its pack params). A row's bytes
    in the stream then start at the sum of the lengths before it, so
    ``decode_rows`` slices the wanted rows without a pass over the whole
    stream. The section is written only where it costs at most
    ``ROW_INDEX_SHARE`` of the stream, i.e. for long rows: web ``html``
    chunks (~1.5 KB a row) carry it, short strings such as urls or
    tickers do not. Chunks without it locate rows with one pass over the
    stream."""

    name = "fsst"

    # rounds=4: measured on the web corpus, rounds 5-6 leave the ratio
    # unchanged (2.57 text / 2.31 html) while costing ~2x encode time —
    # the table caps at 255 codes and the late rounds only churn marginal
    # symbols (r3 sweep; r2 ran rounds=6)
    supports_shared_plan = True

    def __init__(self, rounds: int = 4, per_round: int = 64, min_count: int = 8):
        self.rounds = rounds
        self.per_round = per_round
        self.min_count = min_count

    def encode(self, arr: pa.Array, shared: dict | None = None
               ) -> tuple[list[bytes], dict]:
        """``shared`` (optional, mutable) carries a trained plan across
        chunks of one distribution (same partition value / column): the
        symbol table, merge program, and code assignment are trained once
        and replayed on subsequent chunks — training is ~30% of encode
        time, so salt buckets of one language stop re-paying it. A drift
        guard retrains when a replayed chunk compresses >30% worse than
        the plan's training ratio, bounding the same-distribution
        assumption. Decode is unaffected: every chunk still carries its
        own (now shared) table in its payload."""
        lengths, corpus_mv = bytes_block(arr)
        lens_payload, lens_params = pack_uints(lengths)
        corpus = np.frombuffer(corpus_mv, dtype=np.uint8)
        n_rows = len(arr)
        if len(corpus) == 0:
            return [b"", b"", lens_payload, b""], {
                "n": n_rows, "ncodes": 0, "lens": lens_params}
        starts = np.zeros(n_rows + 1, dtype=np.int64)
        np.cumsum(lengths, out=starts[1:])
        start_pos = starts[:-1][lengths > 0]

        plan = shared.get("plan") if shared is not None else None
        if plan is not None:
            out, row_off = _replay_blocks(
                corpus, starts, start_pos, n_rows, plan["prog"],
                plan["lut16"], plan["enc_flat"], plan["enc_off"],
                plan["enc_w"], BLOCK_BYTES_DEFAULT)
            if len(out) > int(plan["exp"] * len(corpus) * 1.3) + 4096:
                # drift: this chunk's bytes no longer match the trained
                # distribution — retrain below and replace the shared plan
                plan = None
        if plan is not None:
            table = plan["table"]
        elif len(corpus) <= BLOCK_BYTES_DEFAULT:
            # whole corpus is the training sample. THIS chunk's output uses
            # the exact assignment (ids absent from the stream get no table
            # entry); the PLAN, when there is a ``shared`` slot to stash it
            # in, takes a complete=True assignment, since replay on a later
            # chunk can mint ids this stream never produced. The second
            # assignment runs on the <=510-entry id space — negligible.
            min_count = max(self.min_count, len(corpus) >> 15)
            t, pairs, prog = _train_and_tokenize(
                _with_sentinels(corpus, start_pos), self.rounds,
                self.per_round, min_count)
            freq = np.bincount(t, minlength=_KSPACE).astype(np.int64)
            table, enc_flat, enc_off, enc_w = _assign_codes_from_freq(
                freq, pairs)
            # a row starts at its sentinel, which emits no bytes
            out, row_off = _assemble(t, enc_flat, enc_off, enc_w,
                                     np.flatnonzero(t == _SEP))
            if shared is not None:
                ptable, pflat, poff, pw = _assign_codes_from_freq(
                    freq, pairs, complete=True)
                shared["plan"] = _make_plan(prog, ptable, pflat, poff, pw,
                                            len(out), len(corpus))
        else:
            # train on a strided row sample (TRAIN_BYTES_DEFAULT), replay
            # the merge program on BLOCK_BYTES_DEFAULT blocks — the
            # per-round passes then run over cache-resident token arrays
            # instead of DRAM-sized ones
            row_off = starts[:-1]
            nz = np.flatnonzero(lengths > 0)
            stride = max(1, int(np.ceil(
                float(lengths[nz].sum()) / TRAIN_BYTES_DEFAULT)))
            pick = nz[::stride]
            plens = lengths[pick]
            s_off = np.concatenate(([0], np.cumsum(plens)[:-1]))
            psrc = np.repeat(row_off[pick], plens) + (
                np.arange(int(plens.sum())) - np.repeat(s_off, plens))
            sample = corpus[psrc]
            min_count = max(self.min_count, len(sample) >> 15)
            st, pairs, prog = _train_and_tokenize(
                _with_sentinels(sample, s_off), self.rounds,
                self.per_round, min_count)
            # code assignment from the SAMPLE's final token frequencies
            # (complete=True: every mintable id gets an encoding) — the
            # assignment is then known BEFORE the replay loop, so each
            # block is touched exactly once: round-0 -> remaining rounds ->
            # output assembly, all while the (cache-sized) token stream is
            # still resident. The former order (replay all blocks, global
            # bincount, then re-read every block for assembly) streamed
            # each block's tokens from DRAM twice more; ranking marginal
            # code winners by sampled instead of exact counts costs ~0.1%
            # ratio and never correctness.
            table, enc_flat, enc_off, enc_w = _assign_codes_from_freq(
                np.bincount(st, minlength=_KSPACE).astype(np.int64),
                pairs, complete=True)
            lut16 = _round0_lut16(prog)
            out, row_off = _replay_blocks(corpus, starts, start_pos, n_rows,
                                          prog, lut16, enc_flat, enc_off,
                                          enc_w, BLOCK_BYTES_DEFAULT)
            if shared is not None:
                shared["plan"] = _make_plan(prog, table, enc_flat, enc_off,
                                            enc_w, len(out), len(corpus),
                                            lut16)

        sections = [np.array([len(s) for s in table], dtype=np.uint8)
                    .tobytes(), b"".join(table), lens_payload, out.tobytes()]
        params = {"n": n_rows, "ncodes": len(table), "lens": lens_params}
        if n_rows > 1:     # one row (fsst2's pass 2) has nothing to locate
            # encoded length per row: empty rows have none, and each
            # non-empty row runs to the next one's start
            enc_lens = np.zeros(n_rows, dtype=np.int64)
            enc_lens[lengths > 0] = np.diff(row_off, append=len(out))
            index, index_params = pack_uints(enc_lens)
            if len(index) <= ROW_INDEX_SHARE * len(out):
                sections.append(index)
                params["row_index"] = index_params
        return sections, params

    def decode(self, sections, params: dict) -> pa.Array:
        return self.decode_rows(sections, params, None)

    def decode_rows(self, sections, params: dict, rows) -> pa.Array:
        """The rows at sorted positions ``rows`` (None: every row): the
        stream bytes of those rows, sliced at the row offsets, parse and
        expand; the rest of the stream is never touched. The offsets come
        from the row-index section where the chunk has one, else from
        ``_locate_rows``."""
        target = name_type(params["atype"])
        lengths = unpack_uints(sections[2], params["lens"])
        enc = np.frombuffer(sections[3], dtype=np.uint8)
        tab_lens = np.frombuffer(sections[0], dtype=np.uint8,
                                 count=params["ncodes"])
        tab_flat = np.frombuffer(sections[1], dtype=np.uint8)
        indexed = "row_index" in params
        if rows is not None:
            bounds = _indexed_rows(sections[4], params["row_index"],
                                   len(lengths), len(enc)) if indexed \
                else _locate_rows(enc, tab_lens, lengths)
            lo = bounds[rows]
            cnt = bounds[rows + 1] - lo
            enc = enc[np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
                      + np.arange(int(cnt.sum()))]
            lengths = lengths[rows]
        out = _expand(tab_flat, tab_lens, enc)
        if int(lengths.sum()) != len(out):
            raise ValueError("fsst decode length mismatch")
        if rows is None and indexed:
            # a full decode needs no offsets, but still checks the index
            _indexed_rows(sections[4], params["row_index"], len(lengths),
                          len(enc))
        return block_to_array(lengths, out.tobytes(), target)


def _indexed_rows(section, index_params: dict, n_rows: int,
                  stream_len: int) -> np.ndarray:
    """Stream offset of each row's first byte, plus the stream's end,
    from a row-index section; a section that does not describe the
    stream raises ``ValueError``."""
    enc_lens = unpack_uints(section, index_params)
    if len(enc_lens) != n_rows or (n_rows and int(enc_lens.min()) < 0) \
            or int(enc_lens.sum()) != stream_len:
        raise ValueError("fsst: row index does not match the stream "
                         f"({len(enc_lens)} lengths for {n_rows} rows, "
                         f"summing to {int(enc_lens.sum())} of "
                         f"{stream_len} bytes)")
    bounds = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(enc_lens, out=bounds[1:])
    return bounds


def _locate_rows(enc: np.ndarray, tab_lens: np.ndarray,
                 lengths: np.ndarray) -> np.ndarray:
    """``_indexed_rows``' offsets from one pass over the stream: symbols
    never span rows, so a running sum of the decoded width of each stream
    byte (an escaped literal's slot adds 0) meets every row start."""
    width = np.take(_code_widths(tab_lens), enc)
    width[_markers(enc) + 1] = 0
    # a byte decodes to at most 255 bytes: int32 while that fits
    ends = np.cumsum(width, dtype=np.int32 if len(enc) < 2**23
                     else np.int64)
    if (int(ends[-1]) if len(ends) else 0) != int(lengths.sum()):
        raise ValueError("fsst decode length mismatch")
    starts = np.zeros(len(lengths) + 1, dtype=ends.dtype)
    np.cumsum(lengths, out=starts[1:])
    return np.searchsorted(ends, starts, side="right")


class Fsst2Codec(Codec):
    """Cascaded FSST: a second symbol-table pass over the FIRST pass's
    code stream. Template-heavy text leaves repeated CODE sequences in
    the fsst output (boilerplate compresses to the same code runs), and a
    second 255-symbol table over those captures up to 16 original bytes
    per final code — measured ~+10% on the web corpus's text column and
    ~+6% on urls, while high-entropy streams (html) expand and the
    sampling selector correctly keeps plain fsst there.

    Sections: [tab_lens1, tab_flat1, row_lens, tab_lens2, tab_flat2,
    stream_lens2, out2], then pass 1's row index when its params carry
    ``row_index`` (``FsstCodec``'s rule, against pass 1's stream; pass 2
    encodes one row and has none). Decode inverts pass 2 in full (one-row
    binary holding pass 1's stream), then pass 1 for the wanted rows."""

    name = "fsst2"
    supports_shared_plan = True

    def encode(self, arr: pa.Array, shared: dict | None = None
               ) -> tuple[list[bytes], dict]:
        inner = FsstCodec()
        s1 = shared.setdefault("p1", {}) if shared is not None else None
        secs1, p1 = inner.encode(arr, shared=s1)
        stream = pa.array([secs1[3]], type=pa.large_binary())
        s2 = shared.setdefault("p2", {}) if shared is not None else None
        secs2, p2 = inner.encode(stream, shared=s2)
        return [*secs1[:3], *secs2, *secs1[4:]], {**p1, "p2": p2}

    def decode(self, sections, params: dict) -> pa.Array:
        return self.decode_rows(sections, params, None)

    def decode_rows(self, sections, params: dict, rows) -> pa.Array:
        """Pass 2 in full, then pass 1 for the wanted ``rows`` only."""
        inner = FsstCodec()
        p2 = {**params["p2"], "atype": "large_binary"}
        stream = inner.decode(list(sections[3:7]), p2)[0].as_py()
        p1 = {k: v for k, v in params.items() if k != "p2"}
        return inner.decode_rows(
            [*sections[:3], stream, *sections[7:]], p1, rows)


register(FsstCodec())
register(Fsst2Codec())
