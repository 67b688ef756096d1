"""FSST-style symbol-table string compression, from scratch, vectorized.

Design (public knowledge: Boncz/Neumann/Leis, "FSST: Fast Random Access
String Compression", VLDB 2020 — we implement the interface and wire
discipline of FSST with our own vectorized construction):

- a table of up to 255 symbols, each 1..8 bytes; output codes are one byte;
  code 255 is an escape marker meaning "next byte is a literal".
- encoding is greedy longest-match, fully vectorized: rolling hashes per
  symbol length, 2^16 LUT candidate filter, exact byte verification, and the
  sequential greedy walk resolved by pointer doubling inside fixed chunks.
- table construction: most-frequent-adjacent-pair merging (vectorized) to
  generate candidate symbols, then a refinement pass that parses the sample
  with the REAL encoder over all candidates and keeps the 255 symbols with
  the highest realized savings — aligning the table with the parse the
  encoder will actually produce (the FSST paper's iterate-with-the-encoder
  idea).

The reference analog is the layer-global key/value dictionary
(MvtLayerProps.java:33-60): a shared table built from the data, with rows
storing only compact references into it. FSST generalizes that from whole
values to substrings.

Losslessness: every input byte either becomes part of an exactly-verified
symbol match or is escaped verbatim, so decode(encode(x)) == x for arbitrary
bytes regardless of what the table contains.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .gather import multi_range
from .pool import pbuf

ESCAPE = 255
MAX_SYMBOLS = 255  # codes 0..254; 255 reserved for escape
MAX_SYMBOL_LEN = 8
CHUNK = 4096  # greedy-walk chunk; matches never cross a chunk edge
SEGMENT = 1 << 19  # cache-blocked parse segment (multiple of CHUNK; swept
                   # 256KB-4MB on webtext, 512KB is the measured optimum)
_HM32 = np.uint32(0x01000193)  # FNV-1 32-bit prime (public constant)


# ---------------------------------------------------------------------------
# matching machinery (shared by compress and trainer refinement)

def _hash_symbols(symbols: list[bytes]):
    """Match tables: an exact direct-indexed 2^16 table for L=2 (the
    dominant candidate volume — no hashing, no verification needed) and
    per-length (lut, sorted 32-bit hashes, symbol index, byte matrix) for
    L>=3 (32-bit rolling hash halves the memory traffic of the old 64-bit
    chain; collisions are rejected by exact byte verification, so
    losslessness never depends on hash quality)."""
    lut2 = None
    by_len: dict[int, list[tuple[int, int]]] = {}
    with np.errstate(over="ignore"):
        for i, s in enumerate(symbols):
            if len(s) < 2:
                continue
            if len(s) == 2:
                if lut2 is None:
                    lut2 = np.full(1 << 16, -1, dtype=np.int32)
                lut2[(s[0] << 8) | s[1]] = i
                continue
            b = np.frombuffer(s, dtype=np.uint8).astype(np.uint32)
            h = b[0]
            for j in range(1, len(b)):
                h = h * _HM32 + b[j]
            by_len.setdefault(len(s), []).append((int(h), i))
    tables: dict = {2: lut2}  # None when the table has no 2-byte symbols
    for L, entries in by_len.items():
        entries.sort()
        hs = np.array([h for h, _ in entries], dtype=np.uint32)
        idx = np.array([i for _, i in entries], dtype=np.int64)
        lut = np.zeros(1 << 16, dtype=bool)
        lut[(hs & np.uint32(0xFFFF)).astype(np.int64)] = True
        mat = np.zeros((len(entries), L), dtype=np.uint8)
        for row, (_, i) in enumerate(entries):
            mat[row] = np.frombuffer(symbols[i], dtype=np.uint8)
        # longest run of equal 32-bit hashes: >1 only on a (rare) intra-
        # table collision; the matcher scans the whole run so a collided
        # symbol is still matchable (not silently shadowed)
        maxrun = 1
        if len(hs) > 1:
            runs = np.diff(np.flatnonzero(np.concatenate(
                ([True], hs[1:] != hs[:-1], [True]))))
            maxrun = int(runs.max())
        tables[L] = (lut, hs, idx, mat, maxrun)
    return tables


def _greedy_parse(data: np.ndarray, tables: dict):
    """Greedy longest-match parse. Returns (positions, symbol_index_or_-1).

    Cache-blocked matching: the per-length match pipeline runs per SEGMENT
    (segment edges are CHUNK edges, which matches never cross, so
    per-segment matches concatenate exactly) — keeping every temporary
    segment-sized turns the dominant full-array passes into cache-resident
    ones. The greedy WALK then runs once, globally, as a frontier walk with
    one int32 lane per CHUNK (see below) — this replaced the per-segment
    pointer-doubling walk (13 full-array gather rounds) with total gather
    work proportional to the number of emitted tokens plus idle-lane spin,
    measured 8.5 -> ~11 MB/s/core on webtext text (identical parse, ratio
    unchanged, golden wire pins untouched).
    """
    n = len(data)
    if n >= (1 << 31):
        raise ValueError("fsst: block too large for int32 parse")
    best_len = pbuf("fsst.gblen", n + 1, np.int32)  # +1: sink slot (see walk)
    best_sym = pbuf("fsst.gbsym", max(n, 1), np.int32)
    for s0 in range(0, n, SEGMENT):
        e = min(s0 + SEGMENT, n)
        _match_segment(data[s0:e], tables, best_len[s0:e], best_sym[s0:e])

    # Frontier walk: each CHUNK is an independent greedy chain seeded at its
    # start (matches never cross chunk edges). One lane per chunk advances
    # next = pos + best_len[pos] per iteration; a lane that reaches its
    # chunk end parks on the sink slot n (best_len[n] = 0 keeps it there).
    # Iterations are bounded by the longest chain in any chunk (<= CHUNK);
    # finished lanes are compacted away when they outnumber live ones.
    best_len[n] = 0
    visited = pbuf("fsst.vis", n + 1, bool)
    visited.fill(False)
    starts = np.arange(0, n, CHUNK, dtype=np.int32)
    ends = np.minimum(starts.astype(np.int64) + CHUNK, n).astype(np.int32)
    visited[starts] = True
    visited[n] = True
    frontier, f_ends = starts, ends
    while len(frontier):
        nxt = frontier + best_len[frontier]
        nxt[nxt >= f_ends] = n
        visited[nxt] = True
        live = nxt != n
        n_live = int(live.sum())
        if n_live == 0:
            break
        if n_live * 2 <= len(frontier):
            frontier, f_ends = nxt[live], f_ends[live]
        else:
            frontier = nxt
    vp = np.flatnonzero(visited[:n])
    return vp, best_sym[vp].copy()


def _match_segment(data: np.ndarray, tables: dict,
                   best_len: np.ndarray, best_sym: np.ndarray) -> None:
    """Longest-match tables for one segment (see _greedy_parse): fills the
    provided best_len/best_sym slices via ascending-length overwrite.

    Int32 throughout (a segment is far below 2^31), uint16-truncation LUT
    indexing, and pooled scratch buffers with ``out=`` ufunc forms keep
    memory traffic off fresh pages — this sandbox services first-touch page
    faults at ~150 MB/s vs 6-10 GB/s for reused heap (see pool.py).
    """
    n = len(data)
    best_len.fill(1)
    best_sym.fill(-1)
    cmask = np.int32(CHUNK - 1)  # CHUNK is a power of two
    lut2 = tables.get(2)
    h = pbuf("fsst.h", n, np.uint32)
    np.copyto(h, data)
    if n >= 2 and lut2 is not None:
        # L=2: exact direct-indexed lookup — every hit IS a verified match
        key = pbuf("fsst.key", n - 1, np.uint32)
        np.left_shift(h[: n - 1], np.uint32(8), out=key)
        np.add(key, data[1:], out=key)
        s2 = pbuf("fsst.s2", n - 1, np.int32)
        np.take(lut2, key, out=s2)
        hit = np.flatnonzero(s2 >= 0).astype(np.int32)
        hit = hit[(hit & cmask) + 2 <= CHUNK]
        best_len[hit] = 2
        best_sym[hit] = s2[hit]
    for L in range(2, MAX_SYMBOL_LEN + 1):
        if n < L:
            break
        m = n - L + 1
        h = h[:m]
        with np.errstate(over="ignore"):
            np.multiply(h, _HM32, out=h)
            np.add(h, data[L - 1 :], out=h)
        if L == 2:
            continue  # handled exactly above; h chain still advances
        entry = tables.get(L)
        if entry is None:
            continue
        lut, hs, sidx, mat, maxrun = entry
        # uint16 truncation == (h & 0xFFFF) without a second temporary
        hv = pbuf("fsst.hv", m, np.uint16)
        np.copyto(hv, h, casting="unsafe")
        lb = pbuf("fsst.lb", m, bool)
        np.take(lut, hv, out=lb)
        cand = np.flatnonzero(lb).astype(np.int32)
        if len(cand) == 0:
            continue
        cand = cand[(cand & cmask) + L <= CHUNK]
        if len(cand) == 0:
            continue
        pos = np.searchsorted(hs, h[cand])
        ok = hs[np.minimum(pos, len(hs) - 1)] == h[cand]
        cand, pos = cand[ok], pos[ok]
        if len(cand) == 0:
            continue
        # scan the whole equal-hash run (maxrun>1 only on a rare intra-
        # table 32-bit collision) so no symbol is silently shadowed
        window = data[cand[:, None] + np.arange(L, dtype=np.int32)[None, :]]
        for off in range(maxrun):
            p = pos + off
            inb = p < len(hs)
            live = inb.copy()
            live[inb] &= hs[p[inb]] == h[cand[inb]]
            if not live.any():
                break
            exact = live.copy()
            exact[live] = (window[live] == mat[p[live]]).all(axis=1)
            hitc = cand[exact]
            best_len[hitc] = L
            best_sym[hitc] = sidx[p[exact]]
            keep = ~exact
            cand, pos, window = cand[keep], pos[keep], window[keep]
            if len(cand) == 0:
                break
@dataclass
class SymbolTable:
    """Symbol table: code i <-> symbols[i]; encode + decode state."""

    symbols: list[bytes]

    def __post_init__(self):
        self._tables = None
        self._enc_cache = None
        lens = np.fromiter((len(s) for s in self.symbols), dtype=np.int64,
                           count=len(self.symbols))
        if len(lens) == 0:
            lens = np.zeros(1, dtype=np.int64)
        self._sym_lens = lens
        self._sym_ofs = np.concatenate(([0], np.cumsum(lens)))[:-1]
        self._sym_data = np.frombuffer(b"".join(self.symbols), dtype=np.uint8)

    # -- encode ---------------------------------------------------------------
    def _byte_enc(self):
        """Per raw byte value: output encoding (code, or escape+byte)."""
        if self._enc_cache is not None:
            return self._enc_cache
        code_of_byte = np.full(256, -1, dtype=np.int64)
        for i, s in enumerate(self.symbols):
            if len(s) == 1:
                code_of_byte[s[0]] = i
        enc = []
        for bv in range(256):
            c = code_of_byte[bv]
            enc.append(bytes([c]) if c >= 0 else bytes([ESCAPE, bv]))
        lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=256)
        ofs = np.concatenate(([0], np.cumsum(lens)))[:-1]
        dat = np.frombuffer(b"".join(enc), dtype=np.uint8)
        self._enc_cache = (lens, ofs, dat)
        return self._enc_cache

    def compress(self, data: np.ndarray) -> bytes:
        if len(data) == 0:
            return b""
        if self._tables is None:
            self._tables = _hash_symbols(self.symbols)
        with np.errstate(over="ignore"):
            vp, sym = _greedy_parse(np.ascontiguousarray(data, dtype=np.uint8),
                                    self._tables)
        matched = sym >= 0
        lens_e, ofs_e, enc_data = self._byte_enc()
        k = len(vp)
        out_lens = pbuf("fsst.olen", k, np.int64)
        np.take(lens_e, data[vp], out=out_lens)
        out_lens[matched] = 1
        out_ofs = pbuf("fsst.oofs", k + 1, np.int64)
        out_ofs[0] = 0
        np.cumsum(out_lens, out=out_ofs[1:])
        out = pbuf("fsst.out", int(out_ofs[-1]), np.uint8)
        out[out_ofs[:-1][matched]] = sym[matched].astype(np.uint8)
        um = ~matched
        if um.any():
            out[multi_range(out_ofs[:-1][um], out_lens[um])] = \
                enc_data[multi_range(ofs_e[data[vp[um]]], out_lens[um])]
        return out.tobytes()

    # -- decode ---------------------------------------------------------------
    def decompress(self, buf: bytes | np.ndarray) -> np.ndarray:
        b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
        if len(b) == 0:
            return b[:0]
        p255 = np.flatnonzero(b == ESCAPE)
        if len(p255):
            first = np.empty(len(p255), dtype=bool)
            first[0] = True
            np.not_equal(np.diff(p255), 1, out=first[1:])
            run_start = p255[np.maximum.accumulate(
                np.where(first, np.arange(len(p255)), 0))]
            esc = p255[(p255 - run_start) % 2 == 0]
            if len(esc) and esc[-1] + 1 >= len(b):
                raise ValueError("corrupt fsst stream: trailing escape")
        else:
            esc = p255
        m = len(b)
        kind = pbuf("fsst.kind", m, np.int8)  # 0=code 1=escape 2=literal
        kind.fill(0)
        kind[esc] = 1
        kind[esc + 1] = 2
        codes = pbuf("fsst.codes", m, np.int64)
        np.copyto(codes, b)
        is_code = kind == 0
        if is_code.any() and int(codes[is_code].max()) >= len(self.symbols):
            raise ValueError("corrupt fsst stream: code out of range")
        safe = np.where(is_code, codes, 0)
        out_lens = np.where(kind == 1, 0, np.where(kind == 2, 1, self._sym_lens[safe]))
        src = np.where(kind == 2, len(self._sym_data) + np.arange(m),
                       self._sym_ofs[safe])
        pool = np.concatenate((self._sym_data, b))
        return pool[multi_range(src, out_lens)]

    # -- serialization ----------------------------------------------------------
    def table_bytes(self) -> bytes:
        parts = [bytes([len(self.symbols)])]
        parts.append(bytes(len(s) for s in self.symbols))
        parts.append(b"".join(self.symbols))
        return b"".join(parts)


def table_from_bytes(buf) -> tuple[list[bytes], int]:
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    n = int(b[0])
    lens = b[1 : 1 + n].astype(np.int64)
    ofs = 1 + n + np.concatenate(([0], np.cumsum(lens)))
    raw = b.tobytes()
    symbols = [raw[ofs[i] : ofs[i + 1]] for i in range(n)]
    return symbols, int(ofs[-1])


def decoder_from_table_bytes(buf) -> SymbolTable:
    symbols, _ = table_from_bytes(buf)
    return SymbolTable(symbols=symbols)


# ---------------------------------------------------------------------------
# training

def spread_sample(data: np.ndarray, cap: int, k: int = 16) -> np.ndarray:
    """Deterministic diverse sample: k evenly spaced chunks totalling cap."""
    chunk = cap // k
    stride = len(data) // k
    starts = np.arange(k) * stride
    idx = (starts[:, None] + np.arange(chunk)[None, :]).ravel()
    return data[idx]


def train(
    data: np.ndarray,
    max_rounds: int = 360,
    sample_cap: int = 1 << 18,
    min_count_frac: float = 2e-4,
    refine_rounds: int = 2,
    merge_cap: int = 1 << 17,
) -> SymbolTable:
    """Train a table: pair-merge candidate generation + encoder-aligned
    refinement. Deterministic (ties break to the smallest pair key); the
    tables must equal those of the reference trainer in
    ``tests/fsst_reference.py`` symbol for symbol (wire bytes depend on them).

    The merge loop costs O(rounds * tokens) — it runs on a smaller
    sub-sample (merge_cap) than the refinement parse (sample_cap): candidate
    *generation* saturates early, while the refinement ranking benefits from
    seeing more data through the real encoder.
    """
    sample = spread_sample(data, sample_cap) if len(data) > sample_cap else data
    sample = np.ascontiguousarray(sample, dtype=np.uint8)
    msample = (spread_sample(sample, merge_cap) if len(sample) > merge_cap
               else sample)
    toks = msample.astype(np.int32)
    tok_bytes: list[bytes] = [bytes([i]) for i in range(256)]
    ntok = 256 + max_rounds
    tok_lens = np.ones(ntok, dtype=np.int32)
    min_count = max(4, int(len(msample) * min_count_frac))

    def pair_keys(pos: np.ndarray) -> np.ndarray:
        """Keys a * ntok + b of the pairs (toks[p], toks[p + 1]), p in pos,
        that could merge (la + lb <= MAX_SYMBOL_LEN); only those are
        counted. Positions with no pair are dropped."""
        pos = pos[(pos >= 0) & (pos < len(toks) - 1)]
        a, b = toks[pos], toks[pos + 1]
        ok = tok_lens[a] + tok_lens[b] <= MAX_SYMBOL_LEN
        return a[ok] * np.int32(ntok) + b[ok]

    # Incremental pair counts (standard BPE): count every adjacent pair once,
    # then per merge retire the pairs that touch a merge site and count the
    # pairs the new token forms. A pair's validity depends only on token
    # lengths, which never change, so retiring and counting agree on it.
    # argmax over the dense ascending-key prefix of existing tokens returns
    # the smallest (a, b) among the max counts: ties break to the smallest
    # pair key. int32 counts (bounded by len(msample)) halve argmax's bytes.
    counts = np.bincount(pair_keys(np.arange(len(toks) - 1)),
                         minlength=ntok * ntok).astype(np.int32)
    for t in range(256, ntok):
        best = int(np.argmax(counts[: t * ntok]))
        if counts[best] < min_count:
            break
        a, b = divmod(best, ntok)
        tok_bytes.append(tok_bytes[a] + tok_bytes[b])
        tok_lens[t] = len(tok_bytes[t])
        m = np.flatnonzero((toks[:-1] == a) & (toks[1:] == b))
        if a == b:  # overlapping runs merge greedily left to right
            first = np.empty(len(m), dtype=bool)
            first[0] = True
            np.not_equal(np.diff(m), 1, out=first[1:])
            run_start = m[np.maximum.accumulate(
                np.where(first, np.arange(len(m)), 0))]
            m = m[(m - run_start) % 2 == 0]
        np.subtract.at(counts, pair_keys(np.unique(
            np.concatenate((m - 1, m, m + 1)))), 1)
        toks[m] = t
        keep = np.ones(len(toks), dtype=bool)
        keep[m + 1] = False
        toks = toks[keep]
        j = m - np.arange(len(m))  # merge sites in the compacted tokens
        np.add.at(counts, pair_keys(np.unique(np.concatenate((j - 1, j)))), 1)

    # candidate pool: every distinct multi-byte token + frequent single bytes
    cand = sorted(set(s for s in tok_bytes[256:]))
    byte_counts = np.bincount(sample, minlength=256).astype(np.int64)

    # refinement: parse the sample with the real encoder over ALL candidates,
    # keep the MAX_SYMBOLS symbols with the highest realized savings
    chosen = cand
    for _ in range(max(1, refine_rounds)):
        tables = _hash_symbols(chosen)
        with np.errstate(over="ignore"):
            vp, sym = _greedy_parse(sample, tables)
        lens_c = np.fromiter((len(s) for s in chosen), dtype=np.int64,
                             count=len(chosen))
        usage = np.bincount(sym[sym >= 0], minlength=len(chosen))
        savings = usage * (lens_c - 1)  # L bytes -> 1 code
        # unmatched single bytes: in-table costs 1, escaped costs 2
        un = vp[sym < 0]
        ub = np.bincount(sample[un], minlength=256).astype(np.int64)
        # rank: multi-byte candidates by savings, single bytes by count
        multi = [(int(savings[i]), chosen[i]) for i in range(len(chosen))
                 if savings[i] > 0]
        single = [(int(ub[v]), bytes([v])) for v in range(256) if ub[v] > 0]
        ranked = sorted(multi + single, key=lambda x: (-x[0], x[1]))
        chosen = sorted(s for _, s in ranked[:MAX_SYMBOLS])
        if not chosen:
            chosen = [bytes([v]) for v in np.argsort(-byte_counts)[:16]]
            break
    return SymbolTable(symbols=chosen)
