"""Bytes-shape codecs (string / binary columns): raw, dictionary,
global-broadcast dictionary, FSST.

A bytes column is carried as ``(lengths: int64[], data: uint8[])`` — exactly
the Arrow varbinary layout (offsets become lengths). Lengths are themselves
compressed with the best int codec (auto-picked by exact size), mirroring how
the reference's packed geometry stream nests varint parameters under a
run-length header (vector_tile.proto:44,52).

``dict_bytes`` is the direct descendant of the reference's layer-global
key/value dictionaries (MvtLayerProps.java:33-60 insert-or-get +
MvtUtil.writeProps MvtUtil.java:246-255): unique values stored once, rows as
bit-packed indexes. ``dict_global`` hoists the table out of the blob into a
table registry shared across all partitions via a Spark broadcast — the
"layer-global" idea at cluster scale; the blob stores only the table id
(analog of Layer.keys being tile-level, vector_tile.proto:69-72).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import fsst as fsstmod
from .base import ByteReader, CodecSpec, SHAPE_BYTES, put_section, put_uvarint, register
from .intcodecs import (
    CONST_INT,
    FOR_BITPACK,
    FOR_DELTA,
    HUFF_INT,
    RAW_INT,
    RLE_INT,
    VARINT_INT,
    delta_size,
    for_size,
    raw_int_size,
    rle_size,
    varint_int_size,
)
from .gather import gather_runs, multi_range


# ---------------------------------------------------------------------------
# auto-picked int sub-blob (used for lengths and by the column-level selector)

def encode_int_sub(a: np.ndarray, params: dict | None = None) -> bytes:
    """[codec_id byte][payload] with the smallest-output int codec, chosen by
    exact size formulas (stats-driven choice — descendant of the reference's
    JtsGeomStats sampling, JtsGeomStats.java:48-153)."""
    params = params or {}
    a = np.ascontiguousarray(a, dtype=np.int64)
    n = len(a)
    if n == 0:
        return bytes([RAW_INT.codec_id])
    if a.min() == a.max():
        return bytes([CONST_INT.codec_id]) + CONST_INT.encode(a, params)
    cands = [
        (for_size(a), FOR_BITPACK),
        (delta_size(a), FOR_DELTA),
        (varint_int_size(a), VARINT_INT),
        (raw_int_size(n), RAW_INT),
    ]
    # RLE exact-size probe is the most expensive one (two varint-length
    # passes over per-run arrays — on run-free streams that is 2 full
    # passes for a codec that cannot win). Gate it behind its exact lower
    # bound (count varint >=1 byte, every run >=1 length byte + >=1 value
    # byte): when that bound already exceeds a computed candidate, RLE can
    # never be the argmin whether we record the bound or the true size, so
    # the choice — and therefore the wire — is unchanged.
    best_cheap = min(c[0] for c in cands)
    n_runs = int((a[1:] != a[:-1]).sum()) + 1
    rle_lb = 1 + 2 * n_runs
    cands.append(((rle_lb if rle_lb > best_cheap else rle_size(a)), RLE_INT))
    prep = None
    if n >= 1024:
        # entropy coding pays only on long skewed streams; the model build
        # is not worth running on short sub-blobs. The prepared model is
        # shared between the size probe and (if huffman wins) the encode.
        from . import huffman

        prep = huffman.prepare(a)
        cands.append((huffman.encoded_size(a, prep), HUFF_INT))
    cands.sort(key=lambda c: (c[0], c[1].codec_id))
    spec = cands[0][1]
    if spec is HUFF_INT:
        from . import huffman

        return bytes([spec.codec_id]) + huffman.encode(a, prep)
    return bytes([spec.codec_id]) + spec.encode(a, params)


def decode_int_sub(r: ByteReader, n: int) -> np.ndarray:
    from .base import by_id

    spec = by_id(int(r.take(1)[0]))
    if n == 0:
        return np.empty(0, dtype=np.int64)
    return spec.decode(r, n)


# ---------------------------------------------------------------------------
# raw bytes

def _rawb_encode(inp: tuple[np.ndarray, np.ndarray], params: dict) -> bytes:
    lens, data = inp
    return encode_int_sub(lens) + data.tobytes()


def _rawb_decode(r: ByteReader, n: int, ctx: dict | None = None):
    lens = decode_int_sub(r, n)
    data = r.take(int(lens.sum()))
    return lens, data


# ---------------------------------------------------------------------------
# dictionary (inline table)

def _bytes_array(lens: np.ndarray, data: np.ndarray) -> pa.Array:
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), len(lens),
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
    )


def _bytes_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Non-null varbinary arrow array -> (lengths int64, data uint8):
    zero-copy views of its large_binary offsets and data buffers."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = arr.cast(pa.large_binary())
    o = np.frombuffer(arr.buffers()[1], dtype=np.int64)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(arr.buffers()[2] or b"", dtype=np.uint8)[o[0] : o[-1]]
    return np.diff(o), data


def _dictb_encode(inp: tuple[np.ndarray, np.ndarray], params: dict) -> bytes:
    lens, data = inp
    arr = _bytes_array(lens, data)
    enc = arr.dictionary_encode()
    table = enc.dictionary
    idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    t_lens, t_data = _bytes_parts(table)
    parts: list[bytes] = []
    put_uvarint(parts, len(table))
    parts.append(encode_int_sub(t_lens))
    parts.append(t_data.tobytes())
    # index stream through the int selector: skewed dictionaries get
    # huffman/rle instead of fixed-width packing
    parts.append(encode_int_sub(idx))
    return b"".join(parts)


def _dictb_decode(r: ByteReader, n: int, ctx: dict | None = None):
    nuniq = r.uvarint()
    t_lens = decode_int_sub(r, nuniq)
    t_data = r.take(int(t_lens.sum()))
    idx = decode_int_sub(r, n)
    if n and (int(idx.min()) < 0 or int(idx.max()) >= nuniq):
        raise ValueError("dict_bytes: index out of range")
    lens = t_lens[idx]
    ofs = np.concatenate(([0], np.cumsum(t_lens)))[:-1]
    return lens, gather_runs(t_data, ofs[idx], lens)


# ---------------------------------------------------------------------------
# global-broadcast dictionary (escape-capable)
#
# The symbol list comes from a *sample* (at 10^12-doc scale an exact global
# distinct is a full scan); values absent from it are escaped inline: the
# reserved code len(symbols) marks "next exception", exceptions are stored
# in-order in the blob. Reference analog: MvtLayerProps.addValue returning
# -1 for values the dictionary cannot hold (MvtLayerProps.java:49-60).

def _dictg_encode(inp: tuple[np.ndarray, np.ndarray], params: dict) -> bytes:
    lens, data = inp
    symbols: list[bytes] = params["symbols"]  # sorted, deterministic
    symtab_id: int = params["symtab_id"]
    arr = _bytes_array(lens, data)
    idx = pc.index_in(arr, value_set=pa.array(symbols, type=pa.large_binary()))
    esc = len(symbols)
    missing = idx.null_count > 0
    iv = (pc.fill_null(idx, esc).cast(pa.int64())
          .to_numpy(zero_copy_only=False).astype(np.int64))
    parts: list[bytes] = []
    put_uvarint(parts, symtab_id)
    parts.append(encode_int_sub(iv))
    if missing:
        is_exc = iv == esc
        exc_lens = lens[is_exc]
        exc_data = _take_rows(lens, data, is_exc)
        put_uvarint(parts, len(exc_lens))
        parts.append(encode_int_sub(exc_lens))
        parts.append(exc_data.tobytes())
    else:
        put_uvarint(parts, 0)
    return b"".join(parts)


def _take_rows(lens: np.ndarray, data: np.ndarray, mask: np.ndarray) -> np.ndarray:
    ofs = np.cumsum(lens) - lens
    return np.asarray(data)[multi_range(ofs[mask], lens[mask])]


def _dictg_decode(r: ByteReader, n: int, ctx: dict | None = None):
    symtab_id = r.uvarint()
    symbols: list[bytes] = ctx["symtabs"][symtab_id]
    esc = len(symbols)
    idx = decode_int_sub(r, n)
    n_exc = r.uvarint()
    if (int((idx == esc).sum()) != n_exc or (idx > esc).any()
            or (len(idx) and int(idx.min()) < 0)):
        raise ValueError("dict_global: exception count/code mismatch")
    t_lens = np.fromiter((len(s) for s in symbols), dtype=np.int64, count=len(symbols))
    t_lens = np.append(t_lens, 0)  # escape rows filled below
    t_data = np.frombuffer(b"".join(symbols), dtype=np.uint8)
    ofs = np.concatenate(([0], np.cumsum(t_lens)))[:-1]
    lens = t_lens[idx]
    out = gather_runs(t_data, ofs[idx], lens)
    if n_exc:
        exc_lens = decode_int_sub(r, n_exc)
        exc_data = r.take(int(exc_lens.sum()))
        is_exc = idx == esc
        lens = lens.copy()
        lens[is_exc] = exc_lens
        # rebuild: splice exception bytes into their row positions
        n_total = int(lens.sum())
        full = np.empty(n_total, dtype=np.uint8)
        dst_ofs = np.cumsum(lens) - lens
        full[multi_range(dst_ofs[~is_exc], lens[~is_exc])] = out
        full[multi_range(dst_ofs[is_exc], exc_lens)] = np.asarray(exc_data)
        return lens, full
    return lens, out


# ---------------------------------------------------------------------------
# FSST

def _fsst_encode(inp: tuple[np.ndarray, np.ndarray], params: dict) -> bytes:
    lens, data = inp
    table: fsstmod.SymbolTable | None = params.get("fsst_table")
    if table is None:
        table = fsstmod.train(data)
    comp = table.compress(data)
    parts: list[bytes] = [encode_int_sub(lens)]
    tb = table.table_bytes()
    put_uvarint(parts, len(tb))
    parts.append(tb)
    put_uvarint(parts, len(comp))
    parts.append(comp)
    return b"".join(parts)


def _fsst_decode(r: ByteReader, n: int, ctx: dict | None = None):
    lens = decode_int_sub(r, n)
    tb = r.section()
    comp = r.section()
    table = fsstmod.decoder_from_table_bytes(tb)
    data = table.decompress(comp)
    if len(data) != int(lens.sum()):
        raise ValueError("fsst decode length mismatch")
    return lens, data


# ---------------------------------------------------------------------------
# FSST with a globally-trained, broadcast symbol table: the blob stores only
# the table id (the cluster-scale analog of Layer.keys being tile-level,
# vector_tile.proto:69-72). Training happens ONCE per column per encode job
# on a driver-side sample; executors only compress. Losslessness never
# depends on the table fitting the data, so a sampled table is always safe.

def _fsstg_encode(inp: tuple[np.ndarray, np.ndarray], params: dict) -> bytes:
    lens, data = inp
    table: fsstmod.SymbolTable = params["fsst_table"]
    symtab_id: int = params["symtab_id"]
    comp = table.compress(data)
    parts: list[bytes] = []
    put_uvarint(parts, symtab_id)
    parts.append(encode_int_sub(lens))
    put_uvarint(parts, len(comp))
    parts.append(comp)
    return b"".join(parts)


def _fsstg_decode(r: ByteReader, n: int, ctx: dict | None = None):
    symtab_id = r.uvarint()
    cache = ctx.setdefault("_fsst_decoders", {})
    table = cache.get(symtab_id)
    if table is None:
        table = fsstmod.SymbolTable(symbols=list(ctx["symtabs"][symtab_id]))
        cache[symtab_id] = table
    lens = decode_int_sub(r, n)
    comp = r.section()
    data = table.decompress(comp)
    if len(data) != int(lens.sum()):
        raise ValueError("fsst_global decode length mismatch")
    return lens, data


# ---------------------------------------------------------------------------
# token dictionary: split rows on the 0x20 separator, dictionary-encode the
# token stream (pyarrow C++ hash), frequency-remap ids so hot tokens get
# 1-byte varints, FSST-compress the unique-token table.
#
# This composes the reference's two core tricks at a finer grain: the
# layer-global value dictionary (MvtLayerProps.java:33-60) applied to
# sub-value tokens, with the packed-varint reference stream of
# vector_tile.proto:44. Losslessness: every 0x20 byte is by definition a
# separator, so rows == join(tokens, ' ') exactly — arbitrary binary rows
# (including 0x20 bytes inside noise) round-trip, they just dict poorly.

TOK_SEP = 0x20


def _tokd_encode(inp: tuple[np.ndarray, np.ndarray], params: dict) -> bytes:
    lens, data = inp
    n = len(lens)
    if n == 0:
        return b"\x00"
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    # Logical model: data2 = rows with one separator appended each (tokens
    # never cross rows); sp = every 0x20 position in data2. data2 is NEVER
    # materialized — a data-space byte at position p in row r maps to
    # data2 position p + r, so sp is the sorted union of (in-row spaces
    # shifted by their row index) and the appended per-row separators.
    # Identical output to the former scatter-built data2 at ~4 memory
    # passes over the payload instead of ~19 (the 8-byte scatter/gather
    # index arrays dominated traffic on bandwidth-bound hosts).
    cum = np.cumsum(lens)
    sep_pos = cum + np.arange(1, n + 1, dtype=np.int64) - 1
    if len(data):
        mask = data == TOK_SEP
        sd = np.flatnonzero(mask)
        if len(sd):
            row_of = np.searchsorted(cum, sd, side="right")
            # merge, don't sort: in-row positions (sd + row_of) are already
            # sorted (sd ascending, row_of nondecreasing) and so are the
            # appended separators; the two sets are disjoint by
            # construction, so a stable two-list merge (searchsorted +
            # scatter) replaces the former O(n log n) full sort — one of
            # the two big passes over the position array
            inrow = sd + row_of
            sp = np.empty(len(inrow) + n, dtype=np.int64)
            at = np.searchsorted(inrow, sep_pos) + np.arange(n)
            keep = np.ones(len(sp), dtype=bool)
            keep[at] = False
            sp[at] = sep_pos
            sp[keep] = inrow
        else:
            sp = sep_pos
        values = data[~mask]
    else:
        sp = sep_pos
        values = data
    tok_lens = np.diff(sp, prepend=-1) - 1
    n_tokens = len(sp)
    # tokens per row = separators up to & incl. the row's appended one
    c = np.searchsorted(sp, sep_pos, side="left") + 1
    tokens_per_row = np.diff(c, prepend=0)
    tofs = np.zeros(n_tokens + 1, dtype=np.int64)
    np.cumsum(tok_lens, out=tofs[1:])
    tok_arr = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n_tokens,
        [None, pa.py_buffer(tofs.tobytes()), pa.py_buffer(values.tobytes())])
    denc = tok_arr.dictionary_encode()
    ids = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    t_lens, t_data = _bytes_parts(denc.dictionary)

    # frequency remap: hot tokens -> small ids -> 1-byte varints.
    # deterministic: stable sort, ties keep first-occurrence order.
    counts = np.bincount(ids, minlength=len(t_lens))
    order = np.argsort(-counts, kind="stable")
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    ids = rank[ids]
    t_ofs = np.zeros(len(t_lens) + 1, dtype=np.int64)
    np.cumsum(t_lens, out=t_ofs[1:])
    t_lens = t_lens[order]
    t_data = gather_runs(t_data, t_ofs[:-1][order], t_lens)

    parts: list[bytes] = [b"\x01"]
    put_uvarint(parts, n_tokens)
    parts.append(encode_int_sub(tokens_per_row))
    put_uvarint(parts, len(t_lens))
    parts.append(encode_int_sub(t_lens))
    tb_len = t_data.nbytes  # materialize bytes only if the raw path wins
    table = params.get("fsst_table")
    use_fsst = tb_len >= 2048
    if use_fsst:
        if table is None:
            table = fsstmod.train(t_data, sample_cap=1 << 16)
        comp = table.compress(t_data)
        stb = table.table_bytes()
        if len(comp) + len(stb) + 10 < tb_len:
            parts.append(b"\x01")
            put_section(parts, stb)
            put_section(parts, comp)
        else:
            use_fsst = False
    if not use_fsst:
        parts.append(b"\x00")
        parts.append(t_data.tobytes())
    parts.append(encode_int_sub(ids))
    return b"".join(parts)


def _tokd_decode(r: ByteReader, n: int, ctx: dict | None = None):
    flag = int(r.take(1)[0])
    if flag == 0:
        if n != 0:
            raise ValueError("tok_dict: empty payload for non-empty block")
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint8)
    n_tokens = r.uvarint()
    tokens_per_row = decode_int_sub(r, n)
    # every row encodes >=1 token (the row's trailing separator token); a
    # corrupt zero entry would make the row-end index ct-1 wrap to -1 and
    # garble rows silently instead of failing like the other field checks
    if n and int(tokens_per_row.min()) < 1:
        raise ValueError("tok_dict: tokens_per_row < 1 — blob is corrupt")
    nuniq = r.uvarint()
    t_lens = decode_int_sub(r, nuniq)
    table_flag = int(r.take(1)[0])
    if table_flag == 1:
        stb = r.section()
        comp = r.section()
        t_data = fsstmod.decoder_from_table_bytes(stb).decompress(comp)
    else:
        t_data = r.take(int(t_lens.sum()))
    if len(t_data) != int(t_lens.sum()):
        raise ValueError("tok_dict: table length mismatch")
    ids = decode_int_sub(r, n_tokens)
    if n_tokens and (int(ids.min()) < 0 or int(ids.max()) >= nuniq):
        raise ValueError("tok_dict: id out of range")
    t_ofs = np.zeros(nuniq + 1, dtype=np.int64)
    np.cumsum(t_lens, out=t_ofs[1:])

    # Reconstruct via one Arrow C++ take on a (token + separator) dictionary:
    # the taken array's values buffer IS data2 (every token already carries
    # its trailing separator), so no python-side index arrays are built at
    # output scale — the former multi_range gather+scatter shipped 8 bytes
    # of int64 index per output byte, which dominated decode on
    # bandwidth-bound hosts. The small dictionary rebuild is O(table).
    td = np.ascontiguousarray(np.asarray(t_data, dtype=np.uint8))
    sep_ofs = t_ofs + np.arange(nuniq + 1, dtype=np.int64)
    td_sep = np.empty(len(td) + nuniq, dtype=np.uint8)
    is_tok = np.ones(len(td_sep), dtype=bool)
    is_tok[sep_ofs[1:] - 1] = False
    td_sep[is_tok] = td
    td_sep[~is_tok] = TOK_SEP
    dict_arr = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), nuniq,
        [None, pa.py_buffer(sep_ofs), pa.py_buffer(td_sep)])
    taken = dict_arr.take(pa.array(ids, type=pa.int64()))
    buf_ofs = np.frombuffer(taken.buffers()[1], dtype=np.int64)[
        taken.offset: taken.offset + n_tokens + 1]
    ends2 = buf_ofs[1:] - buf_ofs[0]  # rebase: data2 below starts at buf_ofs[0]
    total2 = int(ends2[-1]) if n_tokens else 0
    data2 = np.frombuffer(taken.buffers()[2], dtype=np.uint8)[
        buf_ofs[0]: buf_ofs[0] + total2]
    # rows = data2 split at each row's final (appended) separator, dropped
    ct = np.cumsum(tokens_per_row)
    if len(ct) and int(ct[-1]) != n_tokens:
        raise ValueError("tok_dict: token count mismatch")
    row_end2 = ends2[ct - 1] if n_tokens else np.zeros(n, dtype=np.int64)
    out_lens = np.diff(row_end2, prepend=0) - 1
    keep = np.ones(total2, dtype=bool)
    keep[row_end2 - 1] = False
    return out_lens, data2[keep]


RAW_BYTES = register(CodecSpec("raw_bytes", 0x11, SHAPE_BYTES, _rawb_encode, _rawb_decode))
DICT_BYTES = register(CodecSpec("dict_bytes", 0x12, SHAPE_BYTES, _dictb_encode, _dictb_decode))
DICT_GLOBAL = register(CodecSpec("dict_global", 0x13, SHAPE_BYTES, _dictg_encode, _dictg_decode))
FSST_BYTES = register(CodecSpec("fsst", 0x14, SHAPE_BYTES, _fsst_encode, _fsst_decode))
TOK_DICT = register(CodecSpec("tok_dict", 0x15, SHAPE_BYTES, _tokd_encode, _tokd_decode))
FSST_GLOBAL = register(CodecSpec("fsst_global", 0x16, SHAPE_BYTES, _fsstg_encode, _fsstg_decode))
