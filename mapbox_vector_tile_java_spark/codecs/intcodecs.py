"""Integer-shape codecs: raw, const, RLE, frame-of-reference+bitpack,
delta+bitpack, dictionary.

These re-express the reference's integer wire discipline:

- RLE with a run-length cap mirrors the MVT command header
  ``(cmdId & 0x7) | (length << 3)`` with max run 2^29-1
  (MvtUtil.java:29,102-105) -- but ours *counts* duplicates instead of
  dropping them (JtsAdapter.java:405,488 is lossy; we are lossless).
- delta encoding with a running cursor across rows mirrors
  JtsAdapter.moveCursor (JtsAdapter.java:444-451): first value = frame base,
  successive values stored as zig-zag deltas.
- frame-of-reference is the columnar generalization of the reference's
  affine [0,extent) normalization (JtsAdapter.java:206-218).

All encoders take a non-null ``np.int64`` array and a params dict; all
decoders take a ByteReader plus the expected count and return ``np.int64``.
Every codec is exactly invertible over the full int64 domain (wraparound
arithmetic in uint64).
"""

from __future__ import annotations

import numpy as np

from .base import ByteReader, CodecSpec, SHAPE_INT, put_uvarint, register
from .primitives import (
    bit_width,
    bitpack,
    bitunpack,
    varint_byte_lengths,
    varint_encode,
    varint_encode_one,
    zigzag_decode,
    zigzag_encode,
)

# reference command-header run cap: 2^29 - 1 (MvtUtil.java:29)
DEFAULT_RUN_CAP = (1 << 29) - 1


# ---------------------------------------------------------------------------
# raw

def _raw_encode(a: np.ndarray, params: dict) -> bytes:
    return np.ascontiguousarray(a, dtype="<i8").tobytes()


def _raw_decode(r: ByteReader, n: int) -> np.ndarray:
    return r.take(8 * n).view("<i8").astype(np.int64)


def raw_int_size(n: int) -> int:
    return 8 * n


# ---------------------------------------------------------------------------
# const (all values equal — the degenerate single-run RLE)

def _const_encode(a: np.ndarray, params: dict) -> bytes:
    return varint_encode(zigzag_encode(a[:1]))


def _const_decode(r: ByteReader, n: int) -> np.ndarray:
    v = zigzag_decode(np.array([r.uvarint()], dtype=np.uint64))[0]
    return np.full(n, v, dtype=np.int64)


# ---------------------------------------------------------------------------
# RLE

def _runs(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(run_values, run_lengths) of an int64 array, vectorized."""
    n = len(a)
    if n == 0:
        return a[:0], np.empty(0, dtype=np.int64)
    change = np.empty(n, dtype=bool)
    change[0] = True
    np.not_equal(a[1:], a[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    lengths = np.diff(np.append(starts, n))
    return a[starts], lengths


def _chunk_runs(values: np.ndarray, lengths: np.ndarray, cap: int):
    """Split runs longer than ``cap`` (reference cap 2^29-1, MvtUtil.java:29)."""
    if len(lengths) == 0 or int(lengths.max()) <= cap:
        return values, lengths
    reps = -(-lengths // cap)  # ceil div
    v = np.repeat(values, reps)
    l = np.full(int(reps.sum()), cap, dtype=np.int64)
    # last chunk of each run gets the remainder
    ends = np.cumsum(reps) - 1
    rem = lengths - (reps - 1) * cap
    l[ends] = rem
    return v, l


def _rle_encode(a: np.ndarray, params: dict) -> bytes:
    cap = int(params.get("run_cap", DEFAULT_RUN_CAP))
    values, lengths = _runs(a)
    values, lengths = _chunk_runs(values, lengths, cap)
    parts: list[bytes] = []
    put_uvarint(parts, len(values))
    parts.append(varint_encode(lengths.astype(np.uint64)))
    parts.append(varint_encode(zigzag_encode(values)))
    return b"".join(parts)


def _rle_decode(r: ByteReader, n: int) -> np.ndarray:
    nruns = r.uvarint()
    lengths = r.uvarints(nruns).astype(np.int64)
    values = zigzag_decode(r.uvarints(nruns))
    out = np.repeat(values, lengths)
    if len(out) != n:
        raise ValueError(f"RLE decoded {len(out)} values, expected {n}")
    return out


def rle_size(a: np.ndarray, cap: int = DEFAULT_RUN_CAP) -> int:
    values, lengths = _runs(a)
    values, lengths = _chunk_runs(values, lengths, cap)
    return (
        len(varint_encode_one(len(values)))
        + int(varint_byte_lengths(lengths.astype(np.uint64)).sum())
        + int(varint_byte_lengths(zigzag_encode(values)).sum())
    )


# ---------------------------------------------------------------------------
# frame-of-reference + bit-pack

def _for_encode(a: np.ndarray, params: dict) -> bytes:
    if len(a) == 0:
        return b"\x00\x00"  # base=0 varint, width=0
    ua = np.ascontiguousarray(a, dtype=np.int64).view(np.uint64)
    base = np.array([a.min()], dtype=np.int64)
    res = ua - base.view(np.uint64)[0]  # wraparound-exact residuals
    w = bit_width(res)
    parts: list[bytes] = [varint_encode(zigzag_encode(base))]
    parts.append(bytes([w]))
    parts.append(bitpack(res, w))
    return b"".join(parts)


def _for_decode(r: ByteReader, n: int) -> np.ndarray:
    if n == 0:
        r.take(2)
        return np.empty(0, dtype=np.int64)
    base = zigzag_decode(np.array([r.uvarint()], dtype=np.uint64))[0]
    w = int(r.take(1)[0])
    res = bitunpack(r.take((n * w + 7) // 8), n, w)
    return (res + np.array([base], dtype=np.int64).view(np.uint64)[0]).view(np.int64)


def for_size(a: np.ndarray) -> int:
    ua = a.view(np.uint64)
    base = np.array([a.min()], dtype=np.int64).view(np.uint64)[0]
    w = bit_width(ua - base)
    return 11 + 1 + (len(a) * w + 7) // 8  # base varint upper bound + width + packed


# ---------------------------------------------------------------------------
# delta (running cursor) + frame-of-reference on deltas + bit-pack

def _delta_parts(a: np.ndarray):
    ua = np.ascontiguousarray(a, dtype=np.int64).view(np.uint64)
    d = (ua[1:] - ua[:-1]).view(np.int64)
    z = zigzag_encode(d)
    zmin = np.uint64(z.min()) if len(z) else np.uint64(0)
    res = z - zmin
    return ua, z, zmin, res


def _delta_encode(a: np.ndarray, params: dict) -> bytes:
    if len(a) == 0:
        return b"\x00\x00\x00"
    if len(a) == 1:
        return varint_encode(zigzag_encode(a)) + b"\x00\x00"
    ua, z, zmin, res = _delta_parts(a)
    w = bit_width(res)
    parts: list[bytes] = [
        varint_encode(zigzag_encode(a[:1])),      # first value (frame base)
        varint_encode(np.array([zmin], dtype=np.uint64)),
        bytes([w]),
        bitpack(res, w),
    ]
    return b"".join(parts)


def _delta_decode(r: ByteReader, n: int) -> np.ndarray:
    if n == 0:
        r.take(3)
        return np.empty(0, dtype=np.int64)
    if n == 1:
        v = zigzag_decode(np.array([r.uvarint()], dtype=np.uint64))
        r.take(2)
        return v.astype(np.int64)
    first = zigzag_decode(np.array([r.uvarint()], dtype=np.uint64))[0]
    zmin = np.uint64(r.uvarint())
    w = int(r.take(1)[0])
    res = bitunpack(r.take(((n - 1) * w + 7) // 8), n - 1, w)
    d = zigzag_decode(res + zmin).view(np.uint64)
    out = np.empty(n, dtype=np.uint64)
    out[0] = np.array([first], dtype=np.int64).view(np.uint64)[0]
    np.cumsum(d, out=out[1:])  # wraparound-exact running cursor
    out[1:] += out[0]
    return out.view(np.int64)


def delta_size(a: np.ndarray) -> int:
    if len(a) < 2:
        return 1 << 62
    _, z, zmin, res = _delta_parts(a)
    return 22 + 1 + ((len(a) - 1) * bit_width(res) + 7) // 8


# ---------------------------------------------------------------------------
# plain LEB128 varint stream (no zig-zag: the shortest encoding for skewed
# non-negative streams like frequency-remapped dictionary ids; negative
# values still round-trip exactly via the uint64 bit pattern, they just cost
# 10 bytes — the size-based selector keeps this codec away from them)
# reference analog: packed uint32 varint tag/geometry streams
# (vector_tile.proto:44,52; generated VectorTile.java:1768-1785)

def _varint_int_encode(a: np.ndarray, params: dict) -> bytes:
    return varint_encode(np.ascontiguousarray(a, dtype=np.int64).view(np.uint64))


def _varint_int_decode(r: ByteReader, n: int) -> np.ndarray:
    return r.uvarints(n).view(np.int64)


def varint_int_size(a: np.ndarray) -> int:
    return int(varint_byte_lengths(
        np.ascontiguousarray(a, dtype=np.int64).view(np.uint64)).sum())


# ---------------------------------------------------------------------------
# dictionary (sorted-unique symbol table + bit-packed indexes)
# reference analog: MvtLayerProps insert-or-get dict build
# (MvtLayerProps.java:33-60) + packed tag index stream (vector_tile.proto:44)

def _dict_encode(a: np.ndarray, params: dict) -> bytes:
    if len(a) == 0:
        return b"\x00\x00"  # nuniq=0, width=0
    uniq, idx = np.unique(a, return_inverse=True)
    w = bit_width(np.array([max(len(uniq) - 1, 0)], dtype=np.uint64))
    parts: list[bytes] = []
    put_uvarint(parts, len(uniq))
    # delta-encode the sorted dictionary itself
    parts.append(_delta_encode(uniq, {}) if len(uniq) > 1 else varint_encode(zigzag_encode(uniq)))
    parts.append(bytes([w]))
    parts.append(bitpack(idx.astype(np.uint64), w))
    return b"".join(parts)


def _dict_decode(r: ByteReader, n: int) -> np.ndarray:
    nuniq = r.uvarint()
    if nuniq == 0:
        r.take(1)
        return np.empty(0, dtype=np.int64)
    if nuniq > 1:
        uniq = _delta_decode(r, nuniq)
    else:
        uniq = zigzag_decode(r.uvarints(nuniq))
    w = int(r.take(1)[0])
    idx = bitunpack(r.take((n * w + 7) // 8), n, w)
    return uniq[idx.astype(np.int64)]


def dict_size(a: np.ndarray, uniq: np.ndarray) -> int:
    n_unique = len(uniq)
    w = bit_width(np.array([max(n_unique - 1, 0)], dtype=np.uint64))
    table = delta_size(uniq) if n_unique > 1 else 11
    return 5 + table + 1 + (len(a) * w + 7) // 8


# ---------------------------------------------------------------------------
# canonical Huffman (lane-vectorized; see huffman.py) — the entropy coder
# for skewed streams where even 1-byte varints waste bits

def _huff_encode(a: np.ndarray, params: dict) -> bytes:
    from . import huffman

    return huffman.encode(a)


def _huff_decode(r: ByteReader, n: int) -> np.ndarray:
    from . import huffman

    return huffman.decode(r, n)


# ---------------------------------------------------------------------------
# byte-plane transpose + per-plane {raw, rle, const} — the float-targeted
# stage: floats canonicalize to int64 bit views (columns.py), where float32
# sign-extension makes planes 4-7 constant and double sign/exponent planes
# are low-entropy runs. Also wins on narrow-range ints with byte-aligned
# structure. Each plane independently picks its smallest encoding by exact
# size (same stats-then-choose discipline as the reference's JtsGeomStats).

_BP_RAW, _BP_RLE, _BP_CONST = 0, 1, 2


def _byteplanes(a: np.ndarray) -> np.ndarray:
    """(n, 8) uint8 view of the little-endian bytes of each value."""
    return np.ascontiguousarray(a, dtype="<i8").view(np.uint8).reshape(-1, 8)


def _plane_encode(p: np.ndarray) -> bytes:
    n = len(p)
    if n and int(p.min()) == int(p.max()):
        return bytes([_BP_CONST, int(p[0])])
    values, lengths = _runs(p.astype(np.int64))
    rle_sz = (len(varint_encode_one(len(values)))
              + int(varint_byte_lengths(lengths.astype(np.uint64)).sum())
              + len(values))
    if rle_sz < n:
        parts: list[bytes] = [bytes([_BP_RLE])]
        put_uvarint(parts, len(values))
        parts.append(varint_encode(lengths.astype(np.uint64)))
        parts.append(values.astype(np.uint8).tobytes())
        return b"".join(parts)
    return bytes([_BP_RAW]) + p.tobytes()


def _plane_decode(r: ByteReader, n: int) -> np.ndarray:
    tag = int(r.take(1)[0])
    if tag == _BP_CONST:
        return np.full(n, int(r.take(1)[0]), dtype=np.uint8)
    if tag == _BP_RLE:
        nruns = r.uvarint()
        lengths = r.uvarints(nruns).astype(np.int64)
        values = np.asarray(r.take(nruns), dtype=np.uint8)
        out = np.repeat(values, lengths)
        if len(out) != n:
            raise ValueError(f"byteplane RLE decoded {len(out)}, expected {n}")
        return out
    if tag == _BP_RAW:
        return np.asarray(r.take(n), dtype=np.uint8)
    raise ValueError(f"byteplane: unknown plane tag {tag}")


def _byteplane_encode(a: np.ndarray, params: dict) -> bytes:
    if len(a) == 0:
        return b""
    B = _byteplanes(a)
    return b"".join(_plane_encode(np.ascontiguousarray(B[:, p]))
                    for p in range(8))


def _byteplane_decode(r: ByteReader, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.int64)
    out = np.empty((n, 8), dtype=np.uint8)
    for p in range(8):
        out[:, p] = _plane_decode(r, n)
    return out.view("<i8").ravel().astype(np.int64, copy=False)


def byteplane_size(a: np.ndarray) -> int:
    if len(a) == 0:
        return 0
    B = _byteplanes(a)
    n = len(a)
    total = 0
    for p in range(8):
        col = np.ascontiguousarray(B[:, p])
        if int(col.min()) == int(col.max()):
            total += 2
            continue
        values, lengths = _runs(col.astype(np.int64))
        rle_sz = (len(varint_encode_one(len(values)))
                  + int(varint_byte_lengths(lengths.astype(np.uint64)).sum())
                  + len(values))
        total += 1 + min(rle_sz, n)
    return total


RAW_INT = register(CodecSpec("raw_int", 0x01, SHAPE_INT, _raw_encode, _raw_decode))
CONST_INT = register(CodecSpec("const_int", 0x02, SHAPE_INT, _const_encode, _const_decode))
RLE_INT = register(CodecSpec("rle_int", 0x03, SHAPE_INT, _rle_encode, _rle_decode))
FOR_BITPACK = register(CodecSpec("for_bitpack", 0x04, SHAPE_INT, _for_encode, _for_decode))
FOR_DELTA = register(CodecSpec("for_delta", 0x05, SHAPE_INT, _delta_encode, _delta_decode))
DICT_INT = register(CodecSpec("dict_int", 0x06, SHAPE_INT, _dict_encode, _dict_decode))
VARINT_INT = register(CodecSpec("varint_int", 0x07, SHAPE_INT, _varint_int_encode, _varint_int_decode))
HUFF_INT = register(CodecSpec("huff_int", 0x08, SHAPE_INT, _huff_encode, _huff_decode))
BYTEPLANE = register(CodecSpec("byteplane", 0x09, SHAPE_INT, _byteplane_encode, _byteplane_decode))
