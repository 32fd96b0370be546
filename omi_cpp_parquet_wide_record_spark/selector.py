"""Sampling-based codec auto-selection (SURVEY.md §2.3).

Mirrors how each reference field struct pins its own parquet_type /
converted_type statically (ref NQ:287-289) — except our engine *chooses* the
encoding per column per chunk, by measuring: take a bounded sample of the
column, actually encode it with every candidate codec for its type, and pick
the smallest output. Trial-encoding the sample is cheap (samples are capped)
and honest — no model of codec behavior can drift from the codecs themselves.

Candidate sets by logical type:

- integer-like (ints, bool, timestamp, date): dict, rle, bitpack*, for, delta, plain
- float: dict, rle, alp, alprd, plain
- bytes-like (string/binary): dict, rle, fsst, plain

(*bitpack only when the sample is non-negative.)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from omi_cpp_parquet_wide_record_spark.codecs import encode_column
from omi_cpp_parquet_wide_record_spark.codecs.base import (
    is_bytes_like, is_int_like,
)

DEFAULT_SAMPLE_ROWS = 4096


@dataclass
class Choice:
    codec: str
    est_ratio: float          # sample bytes_in / sample payload bytes
    trials: dict[str, int]    # codec -> sample payload bytes
    # trial-trained shared plans (codec -> shared dict), reusable by the
    # real encode so trial-training is not paid twice per distribution
    plans: dict | None = None


def candidates_for(arr: pa.Array) -> list[str]:
    t = arr.type
    if is_bytes_like(t):
        # fsst2 (cascaded symbol tables) wins on template-heavy text whose
        # code stream still repeats; the trial rejects it where the second
        # pass expands (high-entropy streams like html)
        return ["dict", "rle", "fsst", "fsst2", "plain"]
    if is_int_like(t):
        cands = ["dict", "rle", "for", "delta", "plain"]
        nn = arr.drop_null() if arr.null_count else arr
        if pa.types.is_boolean(t):
            cands.insert(2, "bitpack")
        elif len(nn):
            vt = nn
            if pa.types.is_timestamp(t):
                vt = nn.cast(pa.int64())
            elif pa.types.is_date32(t):
                vt = nn.cast(pa.int32())
            mn = pa.compute.min(vt).as_py()
            if mn is not None and int(mn) >= 0:
                cands.insert(2, "bitpack")
        return cands
    if pa.types.is_floating(t):
        # alp fires on decimal-valued floats (prices/scores: big win),
        # alprd on high-entropy reals (embeddings: left-bits dictionary);
        # both raise fast on data outside their regime
        return ["dict", "rle", "alp", "alprd", "plain"]
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        # composite: lengths + flattened values each re-enter the
        # selector inside the codec, so one candidate suffices here
        return ["list"]
    if pa.types.is_struct(t):
        return ["struct"]
    if pa.types.is_map(t):
        return ["map"]
    return ["plain"]


DEFAULT_SAMPLE_BYTES = 128 << 10


def sample_array(arr: pa.Array, max_rows: int = DEFAULT_SAMPLE_ROWS,
                 max_bytes: int = DEFAULT_SAMPLE_BYTES) -> pa.Array:
    """Deterministic sample: a contiguous head slice plus a strided tail.

    Contiguity matters — RLE/DELTA gains live in run structure that a random
    shuffle would destroy, so uniform row sampling would systematically
    mis-rank them. Half the budget goes to the head (run structure), half to
    an even stride across the rest (global value diversity). For bytes-like
    columns the row budget is additionally capped so trial encodes stay
    cheap on fat columns (html pages can be KBs per row).
    """
    n = len(arr)
    if is_bytes_like(arr.type) and n:
        import pyarrow.compute as pc
        nn = arr.drop_null() if arr.null_count else arr
        total = pc.sum(pc.binary_length(nn)).as_py() or 0
        if total > 0:
            avg = max(total / max(len(nn), 1), 1.0)
            max_rows = min(max_rows, max(int(max_bytes / avg), 64))
    if n <= max_rows:
        return arr
    head = max_rows // 2
    stride_budget = max_rows - head
    idx = np.unique(np.concatenate([
        np.arange(head, dtype=np.int64),
        np.linspace(head, n - 1, stride_budget, dtype=np.int64),
    ]))
    return arr.take(pa.array(idx))


def choose_codec(arr: pa.Array, max_rows: int = DEFAULT_SAMPLE_ROWS) -> Choice:
    sample = sample_array(arr, max_rows)
    trials: dict[str, int] = {}
    plans: dict[str, dict] = {}
    bytes_in = None
    for name in candidates_for(sample):
        # trials SHARE trained state where the codec supports it: the
        # fsst2 trial replays the fsst trial's pass-1 plan instead of
        # retraining it on the same sample, and the winning plan is
        # handed to the caller (Choice.plans) so the real encode replays
        # instead of training a third time — training dominates the
        # per-distribution fixed cost, and the drift guard retrains
        # whenever a later chunk stops matching the sampled distribution
        if name == "fsst2" and "fsst" in plans:
            sh = plans.setdefault("fsst2", {"p1": plans["fsst"]})
        else:
            sh = plans.setdefault(name, {})
        try:
            e = encode_column(sample, name, shared=sh)
        except (ValueError, TypeError):
            plans.pop(name, None)
            continue
        trials[name] = len(e.payload)
        bytes_in = e.bytes_in
    if not trials:
        return Choice("plain", 1.0, trials)
    # cheapest-decoder-wins-within-tolerance: candidates_for lists codecs
    # in decode-cost order, so the FIRST one within 3% of the minimum
    # takes it — a cascaded fsst2 shaving 2% off dict on a sample is not
    # worth the second decode pass (and sampling noise swamps 3% anyway)
    best_size = min(trials.values())
    cutoff = best_size * 1.03
    best = next(n for n in candidates_for(sample)
                if trials.get(n, 1 << 62) <= cutoff)
    best_size = trials[best]
    ratio = (bytes_in / best_size) if (bytes_in and best_size) else 1.0
    return Choice(best, ratio, trials,
                  plans={k: v for k, v in plans.items() if v})

