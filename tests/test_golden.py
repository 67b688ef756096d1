"""Golden wire-format tests: checked-in encoded blobs must stay decodable
and the encoder must reproduce them byte-for-byte.

The engine analog of the reference's golden .mvt fixtures
(MvtReaderTest.java:39-138): any unintentional wire change — codec id,
envelope layout, selector choice, kernel output — fails here before it can
strand previously-encoded data. Intentional format changes re-run
tests/golden_gen.py and show up as a reviewed fixture diff.
"""

from __future__ import annotations

import os

import pytest

from mapbox_vector_tile_java_spark.columns import (
    content_crc,
    decode_column,
    encode_column,
)

from golden_gen import HERE, PLANNED, fixtures, planned_webtext

FIX = fixtures()


@pytest.mark.parametrize("name", sorted(FIX))
def test_golden_blob_roundtrip_and_determinism(name):
    path = os.path.join(HERE, f"{name}.bin")
    assert os.path.exists(path), f"missing golden fixture {path} — run tests/golden_gen.py"
    golden = open(path, "rb").read()
    arr = FIX[name]

    # 1. the golden bytes decode to exactly the fixture values
    # (floats compared by bit pattern: arrow equals() says NaN != NaN)
    import pyarrow as pa

    out = decode_column(golden, arr.type)
    if pa.types.is_floating(arr.type):
        a = arr.to_numpy(zero_copy_only=False)
        b = out.to_numpy(zero_copy_only=False)
        assert a.tobytes() == b.tobytes(), name
        assert out.is_valid().equals(arr.is_valid()), name
    else:
        assert out.equals(arr), name

    # 2. the encoder reproduces the golden bytes exactly (determinism pin)
    blob, meta = encode_column(arr, "auto")
    assert blob == golden, (
        f"{name}: wire format drifted (codec={meta['codec']}); if intentional, "
        "regenerate via python tests/golden_gen.py and review the diff")

    # 3. crc chain stable
    assert content_crc(out) == meta["content_crc"]


@pytest.mark.parametrize("name", sorted(FIX))
@pytest.mark.parametrize("mutation", ["truncate", "trailing", "flip_head"])
def test_golden_blob_corruption_detected(name, mutation):
    """Structural corruption raises; any corruption that still decodes must
    change the content CRC (the manifest-level integrity gate)."""
    golden = bytearray(open(os.path.join(HERE, f"{name}.bin"), "rb").read())
    arr = FIX[name]
    if mutation == "truncate":
        golden = golden[: max(1, len(golden) - 4)]
    elif mutation == "trailing":
        golden = golden + b"\x00\x07"
    else:  # flip a byte in the envelope/codec header region
        golden[min(4, len(golden) - 1)] ^= 0x5A
    _, meta = encode_column(arr, "auto")
    try:
        out = decode_column(bytes(golden), arr.type)
    except Exception:
        return  # structural detection — the strict-reader path
    assert content_crc(out) != meta["content_crc"], (
        f"{name}/{mutation}: corrupt blob decoded with matching checksum")


def test_planned_encode_path_pinned():
    """The planned path (global dictionary, FSST tables, tok_dict with
    planner tables, manifest checksums) reproduces its pinned bytes; the
    per-column codecs and sizes are compared first so a drift names the
    column."""
    import json

    with open(PLANNED) as f:
        want = json.load(f)
    got = planned_webtext()
    assert got["columns"] == want["columns"]
    assert got["sha256"] == want["sha256"], (
        "planned wire bytes drifted; if intentional, regenerate via "
        "python tests/golden_gen.py and review the diff")
