"""Reference FSST trainer: the dense pair-count grid loop, kept verbatim as
the oracle for ``fsst.train``'s incremental pair counts. Both must produce
identical symbol tables (the wire bytes and golden pins depend on them)."""

from __future__ import annotations

import numpy as np

from mapbox_vector_tile_java_spark.codecs.fsst import (
    MAX_SYMBOL_LEN, MAX_SYMBOLS, SymbolTable, _greedy_parse, _hash_symbols,
    spread_sample)


def _merge_pass(toks: np.ndarray, a: int, b: int, t: int) -> np.ndarray:
    """Replace adjacent (a, b) token pairs with token t, one vectorized pass.
    Overlaps (a == b) resolved greedily left-to-right via run parity."""
    if len(toks) < 2:
        return toks
    m = np.flatnonzero((toks[:-1] == a) & (toks[1:] == b))
    if len(m) == 0:
        return toks
    if a == b:
        first = np.empty(len(m), dtype=bool)
        first[0] = True
        np.not_equal(np.diff(m), 1, out=first[1:])
        run_start = m[np.maximum.accumulate(np.where(first, np.arange(len(m)), 0))]
        m = m[(m - run_start) % 2 == 0]
    toks[m] = t
    keep = np.ones(len(toks), dtype=bool)
    keep[m + 1] = False
    return toks[keep]


def reference_train(
    data: np.ndarray,
    max_rounds: int = 360,
    sample_cap: int = 1 << 18,
    min_count_frac: float = 2e-4,
    refine_rounds: int = 2,
    merge_cap: int = 1 << 17,
) -> SymbolTable:
    sample = spread_sample(data, sample_cap) if len(data) > sample_cap else data
    sample = np.ascontiguousarray(sample, dtype=np.uint8)
    msample = (spread_sample(sample, merge_cap) if len(sample) > merge_cap
               else sample)
    toks = msample.astype(np.int32)
    tok_bytes: list[bytes] = [bytes([i]) for i in range(256)]
    ntok = 256 + max_rounds
    tok_lens = np.ones(ntok, dtype=np.int64)
    min_count = max(4, int(len(msample) * min_count_frac))
    # one bincount over the whole ntok^2 key domain per round; argmax over
    # it returns the smallest (a, b) with the max valid count
    valid = np.zeros((ntok, ntok), dtype=bool)
    valid[:256, :256] = True  # 1 + 1 <= MAX_SYMBOL_LEN
    for _ in range(max_rounds):
        if len(toks) < 2:
            break
        keys = toks[:-1] * np.int32(ntok) + toks[1:]
        counts = np.bincount(keys, minlength=ntok * ntok)
        counts[~valid.ravel()[: len(counts)]] = 0
        best = int(np.argmax(counts))
        if counts[best] < min_count:
            break
        a, b = divmod(best, ntok)
        t = len(tok_bytes)
        tok_bytes.append(tok_bytes[a] + tok_bytes[b])
        tok_lens[t] = len(tok_bytes[t])
        valid[t, :] = tok_lens[t] + tok_lens <= MAX_SYMBOL_LEN
        valid[:, t] = tok_lens + tok_lens[t] <= MAX_SYMBOL_LEN
        toks = _merge_pass(toks, a, b, t)

    cand = sorted(set(s for s in tok_bytes[256:]))
    byte_counts = np.bincount(sample, minlength=256).astype(np.int64)

    chosen = cand
    for _ in range(max(1, refine_rounds)):
        tables = _hash_symbols(chosen)
        with np.errstate(over="ignore"):
            vp, sym = _greedy_parse(sample, tables)
        lens_c = np.fromiter((len(s) for s in chosen), dtype=np.int64,
                             count=len(chosen))
        usage = np.bincount(sym[sym >= 0], minlength=len(chosen))
        savings = usage * (lens_c - 1)
        un = vp[sym < 0]
        ub = np.bincount(sample[un], minlength=256).astype(np.int64)
        multi = [(int(savings[i]), chosen[i]) for i in range(len(chosen))
                 if savings[i] > 0]
        single = [(int(ub[v]), bytes([v])) for v in range(256) if ub[v] > 0]
        ranked = sorted(multi + single, key=lambda x: (-x[0], x[1]))
        chosen = sorted(s for _, s in ranked[:MAX_SYMBOLS])
        if not chosen:
            chosen = [bytes([v]) for v in np.argsort(-byte_counts)[:16]]
            break
    return SymbolTable(symbols=chosen)
