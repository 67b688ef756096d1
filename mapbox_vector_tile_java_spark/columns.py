"""Arrow column <-> codec-shape bridge: the per-column encode/decode envelope.

This is the analog of the reference's variant scalar encode/decode dispatch
(``MvtUtil.toMvtValue`` MvtUtil.java:171-200 / ``toObject`` :207-239): a
typed dispatch table mapping logical types onto physical codec shapes, plus
exact restoration of the logical type on decode.

Canonicalization (all lossless, bit-exact):
- integers/bool/date32            -> int64
- timestamp[any unit, any tz]     -> int64 (unit ticks)
- float64 / float32               -> int64 / int32 bit *views* (never a
                                     float->float arithmetic path, per
                                     SURVEY §7 "no float paths anywhere")
- string/binary (+large variants) -> (lengths, data bytes)
- list<fixed-width>               -> lengths + recursively encoded child

Envelope wire format (version-pinned like the reference layer version,
MvtUtil.java:157-164):

    [ver=1][n varint][null_count varint]
    [validity bitmap ceil(n/8) bytes, LSB-first, iff 0 < null_count < n]
    [codec_id byte][codec payload]              (INT / BYTES shapes)
    [lengths int-sub][child envelope section]   (LIST / MAP shape)
    [per field: varint(len) + child envelope]   (STRUCT shape; field count
                                                 and order fixed by the
                                                 schema, like protobuf tags)

Struct children are encoded for non-null struct rows only (their own nulls
nest recursively); a map is wire-identical to list<struct<key,value>> and is
rebuilt as a MapArray on decode. This is the typed-union generalization the
reference's Value oneof + tag pairs imply (vector_tile.proto:23-34,44;
MvtUtil.java:171-239): arbitrary nesting of the scalar shapes.

Nulls are carried in the envelope, values encoded for non-null slots only —
mirroring protobuf oneof absent-field semantics (vector_tile.proto:23-34):
null and empty string stay distinct.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

from .codecs.base import ByteReader, by_id, by_name
from .codecs.bytescodecs import _bytes_parts, decode_int_sub, encode_int_sub
from .codecs.primitives import pack_validity, unpack_validity, varint_encode_one
from .codecs.selector import choose_bytes_codec, choose_int_codec

ENVELOPE_VERSION = 1


# ---------------------------------------------------------------------------
# type classification

def _is_intlike(t: pa.DataType) -> bool:
    return (
        pa.types.is_integer(t)
        or pa.types.is_boolean(t)
        or pa.types.is_date(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_time(t)
        or pa.types.is_floating(t)  # via bit view
    )


def _is_byteslike(t: pa.DataType) -> bool:
    return (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    )


def _is_listlike(t: pa.DataType) -> bool:
    return pa.types.is_list(t) or pa.types.is_large_list(t)


def supported(t: pa.DataType) -> bool:
    if _is_intlike(t) or _is_byteslike(t) or pa.types.is_decimal128(t):
        return True
    if _is_listlike(t):
        return supported(t.value_type)
    if pa.types.is_struct(t):
        return all(supported(f.type) for f in t)
    if pa.types.is_map(t):
        return supported(t.key_type) and supported(t.item_type)
    return False


def _decimal_planes(nn: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Non-null decimal128 array -> (lo, hi) int64 planes of the 128-bit
    two's-complement values (little-endian host). Typical decimals fit the
    low plane; the high plane is pure sign extension -> const/RLE, so a
    decimal column costs barely more than an int64 one."""
    raw = np.frombuffer(nn.buffers()[1], dtype=np.int64)
    pair = raw[nn.offset * 2 : (nn.offset + len(nn)) * 2].reshape(-1, 2)
    return np.ascontiguousarray(pair[:, 0]), np.ascontiguousarray(pair[:, 1])


# ---------------------------------------------------------------------------
# canonical int64 view per type

def _to_int64(arr: pa.Array) -> np.ndarray:
    """Non-null arrow array -> canonical int64 (bit-exact, invertible)."""
    t = arr.type
    if pa.types.is_floating(t):
        v = arr.to_numpy(zero_copy_only=False)
        if t == pa.float64():
            return v.view(np.int64)
        return v.view(np.int32).astype(np.int64)  # float32: sign-extend bits
    if pa.types.is_boolean(t):
        return arr.cast(pa.int8()).to_numpy(zero_copy_only=False).astype(np.int64)
    if pa.types.is_uint64(t):
        return arr.to_numpy(zero_copy_only=False).view(np.int64)
    if pa.types.is_date32(t):
        return arr.cast(pa.int32()).to_numpy(zero_copy_only=False).astype(np.int64)
    if pa.types.is_timestamp(t) or pa.types.is_date64(t) or pa.types.is_time(t):
        # view the raw tick buffer (tz-aware casts to int64 are restricted)
        return arr.view(pa.int64() if t.bit_width == 64 else pa.int32()) \
                  .to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    return arr.cast(pa.int64()).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def _from_int64(vals: np.ndarray, t: pa.DataType, valid: np.ndarray) -> pa.Array:
    """Canonical int64 (+ validity) -> arrow array of exactly type ``t``."""
    n = len(valid)
    full = np.zeros(n, dtype=np.int64)
    full[valid] = vals
    mask = None if valid.all() else ~valid
    if pa.types.is_floating(t):
        if t == pa.float64():
            return pa.array(full.view(np.float64), type=t, mask=mask)
        return pa.array(full.astype(np.int32).view(np.float32), type=t, mask=mask)
    if pa.types.is_boolean(t):
        return pa.array(full.astype(bool), type=t, mask=mask)
    if pa.types.is_uint64(t):
        return pa.array(full.view(np.uint64), type=t, mask=mask)
    if pa.types.is_integer(t):
        return pa.array(full, type=pa.int64(), mask=mask).cast(t)
    # timestamp / date / time: rebuild from the raw tick buffer (exact,
    # sidesteps restricted tz-aware casts)
    ticks = full if t.bit_width == 64 else full.astype(np.int32)
    nulls = int(n - valid.sum())
    vbuf = None if nulls == 0 else pa.py_buffer(pack_validity(valid))
    return pa.Array.from_buffers(t, n, [vbuf, pa.py_buffer(ticks.tobytes())],
                                 null_count=nulls)


def _build_varbin(t: pa.DataType, lens: np.ndarray, data: np.ndarray,
                  valid: np.ndarray) -> pa.Array:
    n = len(valid)
    full_lens = np.zeros(n, dtype=np.int64)
    full_lens[valid] = lens
    large = pa.types.is_large_string(t) or pa.types.is_large_binary(t)
    off_dt = np.int64 if large else np.int32
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(full_lens, out=offsets[1:])
    offsets = offsets.astype(off_dt, copy=False)
    nulls = int(n - valid.sum())
    vbuf = None if nulls == 0 else pa.py_buffer(pack_validity(valid))
    return pa.Array.from_buffers(
        t, n,
        [vbuf, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
        null_count=nulls,
    )


# ---------------------------------------------------------------------------
# encode / decode

def _split_nulls(arr: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """(validity mask, the non-null values) of one column."""
    if not arr.null_count:
        return np.ones(len(arr), dtype=bool), arr
    return arr.is_valid().to_numpy(zero_copy_only=False), arr.drop_null()


def _list_lengths(nn: pa.Array) -> np.ndarray:
    """Per-row value counts of a list array without nulls."""
    large = pa.types.is_large_list(nn.type)
    obuf = np.frombuffer(nn.buffers()[1], dtype=np.int64 if large else np.int32)
    return np.diff(obuf[nn.offset : nn.offset + len(nn) + 1].astype(np.int64))


def _map_entries(arr: pa.Array) -> pa.Array:
    """A map column as its wire-identical list<struct<key,value>>."""
    t = arr.type
    return arr.cast(pa.list_(pa.struct([t.key_field, t.item_field])))


def encode_column(arr: pa.Array | pa.ChunkedArray, codec: str = "auto",
                  params: dict | None = None) -> tuple[bytes, dict]:
    """Encode one column block. Returns (blob, meta).

    meta: {codec, raw_bytes, enc_bytes, content_crc, n_rows, null_count,
    symtab_id}. The checksum is ``content_crc`` of the whole column, taken
    once here rather than per nested child.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    params = params or {}
    blob, name = _encode(arr, codec, params)
    canon = _map_entries(arr) if pa.types.is_map(arr.type) else arr
    n, nulls = len(arr), arr.null_count
    return blob, {
        "codec": name,
        "raw_bytes": sum(b.size for b in canon.buffers() if b is not None),
        "enc_bytes": len(blob),
        "content_crc": content_crc(arr),
        "n_rows": n,
        "null_count": nulls,
        "symtab_id": int(params.get("symtab_id", -1)) if nulls < n else -1,
    }


def _encode(arr: pa.Array, codec: str, params: dict) -> tuple[bytes, str]:
    """The envelope of one column (recursing into nested children).
    Returns (blob, codec name)."""
    t = arr.type
    if pa.types.is_map(t):
        blob, name = _encode(_map_entries(arr), codec, params)
        return blob, f"map({name})"
    n = len(arr)
    valid, nn = _split_nulls(arr)

    parts: list[bytes] = [bytes([ENVELOPE_VERSION]), varint_encode_one(n),
                          varint_encode_one(int(arr.null_count))]
    if 0 < arr.null_count < n:
        parts.append(pack_validity(valid))

    if arr.null_count == n or n == 0:
        return b"".join(parts), "all_null"

    if _is_intlike(t):
        vals = _to_int64(nn)
        name = choose_int_codec(vals) if codec == "auto" else codec
        spec = by_name(name)
        parts.append(bytes([spec.codec_id]))
        parts.append(spec.encode(vals, params))
    elif _is_byteslike(t):
        lens, data = _bytes_parts(nn)
        if codec == "auto":
            name, auto_params = choose_bytes_codec(lens, data, nn)
            params = {**auto_params, **params}
        else:
            name = codec
        spec = by_name(name)
        parts.append(bytes([spec.codec_id]))
        parts.append(spec.encode((lens, data), params))
    elif _is_listlike(t):
        # values of non-null lists only
        child_blob, child_name = _encode(nn.flatten(), codec, params)
        parts.append(encode_int_sub(_list_lengths(nn)))
        parts.append(varint_encode_one(len(child_blob)))
        parts.append(child_blob)
        name = f"list({child_name})"
    elif pa.types.is_struct(t):
        sub = []
        for i in range(t.num_fields):
            child_blob, child_name = _encode(nn.field(i), codec, params)
            parts.append(varint_encode_one(len(child_blob)))
            parts.append(child_blob)
            sub.append(child_name)
        name = f"struct({','.join(sub)})"
    elif pa.types.is_decimal128(t):
        lo, hi = _decimal_planes(nn)
        parts.append(encode_int_sub(lo))
        parts.append(encode_int_sub(hi))
        name = "decimal128"
    else:
        raise TypeError(f"unsupported column type: {t}")
    return b"".join(parts), name


def content_crc(arr: pa.Array | pa.ChunkedArray) -> int:
    """The manifest content checksum of an arrow column: the one definition
    — ``encode_column`` records it and decode recomputes it from the decoded
    column, so decode verifies bit-identity without the source (SURVEY A16:
    corruption check ≡ checksum in manifest; round-trip discipline of
    MvtBuildTest.java:179). A nested child enters its parent's chain as its
    own checksum in 8 little-endian bytes (part of the stored value)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_map(t):
        return content_crc(_map_entries(arr))
    n = len(arr)
    valid, nn = _split_nulls(arr)
    crc = zlib.crc32(pack_validity(valid))
    if arr.null_count == n or n == 0:
        return crc
    if _is_intlike(t):
        crc = zlib.crc32(np.ascontiguousarray(_to_int64(nn)), crc)
    elif _is_byteslike(t):
        lens, data = _bytes_parts(nn)
        crc = zlib.crc32(np.ascontiguousarray(lens), crc)
        crc = zlib.crc32(np.ascontiguousarray(data), crc)
    elif _is_listlike(t):
        crc = zlib.crc32(np.ascontiguousarray(_list_lengths(nn)), crc)
        crc = zlib.crc32(content_crc(nn.flatten()).to_bytes(8, "little"), crc)
    elif pa.types.is_struct(t):
        for i in range(t.num_fields):
            crc = zlib.crc32(content_crc(nn.field(i)).to_bytes(8, "little"), crc)
    elif pa.types.is_decimal128(t):
        lo, hi = _decimal_planes(nn)
        crc = zlib.crc32(np.ascontiguousarray(lo), crc)
        crc = zlib.crc32(np.ascontiguousarray(hi), crc)
    else:
        raise TypeError(f"unsupported column type: {t}")
    return crc


def decode_column(blob: bytes | memoryview | np.ndarray, t: pa.DataType,
                  ctx: dict | None = None) -> pa.Array:
    """Decode a column blob back to an arrow array of exactly type ``t``."""
    r = ByteReader(blob)
    out = _decode_from(r, t, ctx)
    r.expect_end()
    return out


def _decode_from(r: ByteReader, t: pa.DataType, ctx: dict | None) -> pa.Array:
    ver = int(r.take(1)[0])
    if ver != ENVELOPE_VERSION:
        raise ValueError(f"unknown envelope version {ver}")
    n = r.uvarint()
    null_count = r.uvarint()
    if 0 < null_count < n:
        valid = unpack_validity(r.take((n + 7) // 8).tobytes(), n)
    elif null_count == 0:
        valid = np.ones(n, dtype=bool)
    else:
        return pa.nulls(n, type=t)
    if n == 0:
        return pa.nulls(0, type=t)

    nn = int(valid.sum())
    if _is_intlike(t):
        spec = by_id(int(r.take(1)[0]))
        vals = spec.decode(r, nn)
        return _from_int64(vals, t, valid)
    if _is_byteslike(t):
        spec = by_id(int(r.take(1)[0]))
        lens, data = spec.decode(r, nn, ctx or {})
        return _build_varbin(t, lens, np.asarray(data), valid)
    if _is_listlike(t) or pa.types.is_map(t):
        is_map = pa.types.is_map(t)
        value_t = (pa.struct([t.key_field, t.item_field]) if is_map
                   else t.value_type)
        lens = decode_int_sub(r, nn)
        child_len = r.uvarint()
        child_r = ByteReader(r.take(child_len))
        child = _decode_from(child_r, value_t, ctx)
        child_r.expect_end()
        full_lens = np.zeros(n, dtype=np.int64)
        full_lens[valid] = lens
        large = pa.types.is_large_list(t)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(full_lens, out=offsets[1:])
        offsets = offsets.astype(np.int64 if large else np.int32, copy=False)
        nulls = n - nn
        vbuf = None if nulls == 0 else pa.py_buffer(pack_validity(valid))
        return pa.Array.from_buffers(
            t, n, [vbuf, pa.py_buffer(offsets.tobytes())],
            null_count=nulls, children=[child],
        )
    if pa.types.is_struct(t):
        children = []
        for i in range(t.num_fields):
            child_len = r.uvarint()
            child_r = ByteReader(r.take(child_len))
            c = _decode_from(child_r, t.field(i).type, ctx)
            child_r.expect_end()
            children.append(c)
        nulls = n - nn
        if nulls:
            # children were encoded for non-null struct rows only; scatter
            # them back to full length (null indices yield null slots)
            idx = pa.array(np.cumsum(valid, dtype=np.int64) - 1, mask=~valid)
            children = [c.take(idx) for c in children]
            return pa.StructArray.from_arrays(children, fields=list(t),
                                              mask=pa.array(~valid))
        return pa.StructArray.from_arrays(children, fields=list(t))
    if pa.types.is_decimal128(t):
        lo = decode_int_sub(r, nn)
        hi = decode_int_sub(r, nn)
        full = np.zeros((n, 2), dtype=np.int64)
        full[valid, 0] = lo
        full[valid, 1] = hi
        nulls = n - nn
        vbuf = None if nulls == 0 else pa.py_buffer(pack_validity(valid))
        return pa.Array.from_buffers(
            t, n, [vbuf, pa.py_buffer(full.tobytes())], null_count=nulls)
    raise TypeError(f"unsupported column type: {t}")
