"""Generate the golden wire-format fixtures under tests/golden/.

Run ONCE when the wire format intentionally changes:
    python tests/golden_gen.py
The paired test (test_golden.py) then pins both decodability and encoder
determinism against these bytes — the engine's analog of the reference's
checked-in .mvt fixtures (MvtReaderTest.java:39-138).

Besides the per-block ``"auto"`` blobs, ``planned_webtext.json`` pins the
planned encode path without Spark: ``plan_from_sample`` over a
``collect_sample``-shaped slice of a webtext table, then ``encode_batch``
over its blocks (global dictionaries, FSST tables, ``tok_dict``, manifest
checksums).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa

from mapbox_vector_tile_java_spark.columns import encode_column

HERE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")


def fixtures() -> dict[str, pa.Array]:
    rng = np.random.default_rng(487125064)  # reference seed, MvtBuildTest.java:60
    words = ["the", "quick", "brown", "fox", "data", "web", "crawl", "page"]
    texts = [" ".join(rng.choice(words, size=int(k))) for k in rng.integers(0, 30, 400)]
    texts[5] = ""
    ts = 1_600_000_000_000_000 + np.cumsum(rng.integers(0, 1000, 500))
    return {
        "int64_delta": pa.array(ts, type=pa.int64()),
        "int64_mixed": pa.array(
            np.concatenate([np.repeat([7, -3], 200),
                            rng.integers(-(2**40), 2**40, 100)]), type=pa.int64()),
        "string_tokens": pa.array(texts + [None, ""], type=pa.string()),
        "string_lowcard": pa.array(
            [["en", "de", "fr"][i % 3] for i in range(300)] + [None],
            type=pa.string()),
        "float_bits": pa.array(
            [1.5, -0.0, float("nan"), float("inf"), None, 2.5e-308],
            type=pa.float64()),
        "timestamp_us": pa.Array.from_buffers(
            pa.timestamp("us"), 500, [None, pa.py_buffer(ts.astype(np.int64).tobytes())],
            null_count=0),
        "binary_with_sep": pa.array(
            [bytes(rng.integers(0, 256, int(k)).astype(np.uint8)) for k in
             rng.integers(0, 60, 200)], type=pa.binary()),
        "list_int": pa.array(
            [list(range(i % 7)) for i in range(150)] + [None],
            type=pa.list_(pa.int64())),
        # two non-adjacent random byte planes, six constant -> the exact-size
        # selector picks byteplane (FoR would need a 40-bit width)
        "int64_byteplane": pa.array(
            (np.int64(0x22_00_00_00_11_00_00_00)
             | rng.integers(0, 256, 300).astype(np.int64)
             | (rng.integers(0, 256, 300).astype(np.int64) << 32)),
            type=pa.int64()),
        "struct_props": pa.array(
            [None if i % 11 == 0 else
             {"lang": ["en", "de", None][i % 3],
              "n": None if i % 7 == 0 else i * 17,
              "tags": list(range(i % 4))}
             for i in range(200)],
            type=pa.struct([("lang", pa.string()), ("n", pa.int64()),
                            ("tags", pa.list_(pa.int32()))])),
        "decimal_prices": pa.array(
            [None if i % 17 == 0 else
             __import__("decimal").Decimal(int(rng.integers(-10**6, 10**6))) / 100
             for i in range(300)],
            type=pa.decimal128(12, 2)),
        "map_tags": pa.array(
            [None if i % 13 == 0 else
             [(f"k{j}", i * j if j % 2 else None) for j in range(i % 5)]
             for i in range(200)],
            type=pa.map_(pa.string(), pa.int64())),
    }


PLANNED = os.path.join(HERE, "planned_webtext.json")
PLANNED_ROWS, PLANNED_SEED, PLANNED_PARTS, PLANNED_BLOCK = 4000, 1, 4, 250


def planned_webtext() -> dict:
    """Plan from a ``collect_sample``-shaped sample (the first
    ``SAMPLE_ROWS_PER_PART`` rows of each partition), then encode every
    partition in ``PLANNED_BLOCK``-row blocks. Returns the per-column codec
    and encoded bytes, plus one sha256 over the blobs, the manifest rows
    and the persisted plan."""
    from mapbox_vector_tile_java_spark.operators.encode import encode_batch
    from mapbox_vector_tile_java_spark.plans.codec_plan import (
        SAMPLE_ROWS_PER_PART, plan_from_sample)
    from mapbox_vector_tile_java_spark.sources.webtext import webtext_table

    table = webtext_table(PLANNED_ROWS, PLANNED_SEED)
    per = PLANNED_ROWS // PLANNED_PARTS
    parts = [table.slice(p * per, per) for p in range(PLANNED_PARTS)]
    sample = pa.concat_tables(
        [t.slice(0, SAMPLE_ROWS_PER_PART) for t in parts])
    overrides, symtabs, note = plan_from_sample(sample)

    h = hashlib.sha256()
    columns: dict[str, dict] = {}
    for pid, part in enumerate(parts):
        for block_id, batch in enumerate(part.to_batches(PLANNED_BLOCK)):
            block, mrows = encode_batch(batch, pid, block_id, overrides)
            for r in mrows:
                h.update(block[f"c_{r['name']}"])
                col = columns.setdefault(r["name"], {"codec": [], "enc_bytes": 0})
                if r["codec"] not in col["codec"]:
                    col["codec"].append(r["codec"])
                col["enc_bytes"] += r["enc_bytes"]
            h.update(json.dumps(mrows, sort_keys=True).encode())
    h.update(json.dumps({str(sid): [s.hex() for s in syms]
                         for sid, syms in sorted(symtabs.items())}).encode())
    h.update(json.dumps(note, sort_keys=True).encode())
    return {"rows": PLANNED_ROWS, "seed": PLANNED_SEED, "columns": columns,
            "sha256": h.hexdigest()}


def main():
    os.makedirs(HERE, exist_ok=True)
    for name, arr in fixtures().items():
        blob, meta = encode_column(arr, "auto")
        with open(os.path.join(HERE, f"{name}.bin"), "wb") as f:
            f.write(blob)
        print(f"{name}: {meta['codec']} {len(blob)}B crc={meta['content_crc']}")
    pin = planned_webtext()
    with open(PLANNED, "w") as f:
        json.dump(pin, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"planned_webtext: {pin['sha256']}")


if __name__ == "__main__":
    main()
