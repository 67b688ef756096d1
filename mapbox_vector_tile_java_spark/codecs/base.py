"""Blob framing + codec registry.

The reference pins its wire format with a protobuf schema and a layer
``version`` field (MvtUtil.java:157-164 sets version=2). We pin ours with a
one-byte codec id at the head of every column payload plus a version byte in
the column envelope (see columns.py), so a manifest-driven decoder can
dispatch codec versions the way MvtReader dispatches RingClassifier
strategies (MvtReader.java:49-57).

Framing primitive: a *section* is ``varint(len) || bytes``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np

from .primitives import varint_decode, varint_encode_one


def put_section(parts: list[bytes], payload: bytes) -> None:
    parts.append(varint_encode_one(len(payload)))
    parts.append(payload)


def put_uvarint(parts: list[bytes], v: int) -> None:
    parts.append(varint_encode_one(v))


class ByteReader:
    """Sequential reader over a blob; strict — trailing garbage is an error
    (unlike the reference decoder, which silently truncates trailing bytes,
    MvtReader.java:343-347; SURVEY A15 calls for strict mode)."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes | memoryview):
        self.buf = np.frombuffer(buf, dtype=np.uint8)
        self.pos = 0

    def uvarint(self) -> int:
        vals, consumed = varint_decode(self.buf[self.pos :], 1)
        self.pos += consumed
        return int(vals[0])

    def uvarints(self, n: int) -> np.ndarray:
        vals, consumed = varint_decode(self.buf[self.pos :], n)
        self.pos += consumed
        return vals

    def section(self) -> np.ndarray:
        ln = self.uvarint()
        out = self.buf[self.pos : self.pos + ln]
        if len(out) != ln:
            raise ValueError("section truncated")
        self.pos += ln
        return out

    def take(self, n: int) -> np.ndarray:
        out = self.buf[self.pos : self.pos + n]
        if len(out) != n:
            raise ValueError("buffer truncated")
        self.pos += n
        return out

    def expect_end(self) -> None:
        if self.pos != len(self.buf):
            raise ValueError(
                f"trailing bytes in blob: pos={self.pos} len={len(self.buf)}"
            )


# ---------------------------------------------------------------------------
# registry

# physical shapes a codec can operate on
SHAPE_INT = "int"      # np.int64 array
SHAPE_BYTES = "bytes"  # (lengths: np.int64 array, data: np.uint8 array)


@dataclass(frozen=True)
class CodecSpec:
    name: str
    codec_id: int
    shape: str
    encode: Callable  # shape-specific input, params dict -> bytes
    decode: Callable  # ByteReader, context -> shape-specific output


_BY_NAME: dict[str, CodecSpec] = {}
_BY_ID: dict[int, CodecSpec] = {}


def register(spec: CodecSpec) -> CodecSpec:
    if spec.name in _BY_NAME or spec.codec_id in _BY_ID:
        raise ValueError(f"duplicate codec {spec.name}/{spec.codec_id}")
    _BY_NAME[spec.name] = spec
    _BY_ID[spec.codec_id] = spec
    return spec


def by_name(name: str) -> CodecSpec:
    return _BY_NAME[name]


def by_id(codec_id: int) -> CodecSpec:
    return _BY_ID[codec_id]


def all_codecs() -> dict[str, CodecSpec]:
    return dict(_BY_NAME)
