"""Encoded-table layout: block files, per-partition manifests, table meta.

Reference analog: a Layer carries its own dictionaries + feature streams and
the tile is the container (vector_tile.proto:56-81). Here a *block* (one
Arrow batch) carries its column blobs, a *partition file* is the container,
and the table meta pins schema + global symbol tables.

Layout under <out_dir>/:
    blocks/part-<pid>.parquet   one file per Spark partition, rows = blocks
    commits/part-<pid>.done     commit marker: json manifest rows + file crc
                                (per-partition atomic commit -> exact resume;
                                reference analog: cursor rollback keeping
                                prior state intact, JtsAdapter.java:374,424)
    manifest.parquet            all manifest rows (written last)
    meta.json                   schema (arrow IPC b64), symtabs, config
"""

from __future__ import annotations

import base64
import json
import os
import zlib

import pyarrow as pa

FORMAT_VERSION = 2


def block_schema(table_schema: pa.Schema) -> pa.Schema:
    """Per-table block-file schema: one parquet COLUMN per encoded table
    column (blob + crc + zone map), not a list-of-structs row. Parquet
    column pruning then skips unrequested blobs at the scan (`ReadSchema`),
    and zone-map min/max land in parquet row-group stats so block pruning
    pushes down as an ordinary predicate — both essential at 100 TB."""
    fields = [
        pa.field("part_id", pa.int32()),
        pa.field("block_id", pa.int64()),
        pa.field("n_rows", pa.int64()),
    ]
    for f in table_schema:
        fields.append(pa.field(f"c_{f.name}", pa.large_binary()))
        fields.append(pa.field(f"crc_{f.name}", pa.int64()))
        fields.append(pa.field(f"mn_{f.name}", pa.int64()))
        fields.append(pa.field(f"mx_{f.name}", pa.int64()))
    return pa.schema(fields)

# flat manifest row (no blob) — what the encode job returns to the driver
MANIFEST_ARROW = pa.schema([
    pa.field("part_id", pa.int32()), pa.field("block_id", pa.int64()),
    pa.field("n_rows", pa.int64()), pa.field("name", pa.string()),
    pa.field("dtype", pa.string()), pa.field("codec", pa.string()),
    pa.field("null_count", pa.int64()), pa.field("raw_bytes", pa.int64()),
    pa.field("enc_bytes", pa.int64()), pa.field("content_crc", pa.int64()),
    pa.field("min_i64", pa.int64()), pa.field("max_i64", pa.int64()),
    pa.field("symtab_id", pa.int64()),
])


def manifest_spark_schema():
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(MANIFEST_ARROW)


def blocks_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "blocks")


def part_file(out_dir: str, pid: int) -> str:
    return os.path.join(blocks_dir(out_dir), f"part-{pid:05d}.parquet")


def done_file(out_dir: str, pid: int) -> str:
    return os.path.join(out_dir, "commits", f"part-{pid:05d}.done")


def write_marker(path: str, obj) -> None:
    """Commit one write-once JSON artifact: write a tmp file, fsync it, then
    ``os.replace`` it onto ``path``. A reader sees the whole object or no
    file — never a torn one, whatever instant the writer dies at."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def read_marker(path: str) -> dict | None:
    """The object ``write_marker`` committed at ``path``, or None when the
    file is absent or does not parse (treated as never written)."""
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def write_done(out_dir: str, pid: int, manifest_rows: list[dict]) -> None:
    """Atomic commit marker: manifest rows + crc of the data file."""
    with open(part_file(out_dir, pid), "rb") as f:
        crc = zlib.crc32(f.read())
    os.makedirs(os.path.dirname(done_file(out_dir, pid)), exist_ok=True)
    write_marker(done_file(out_dir, pid),
                 {"pid": pid, "file_crc": crc, "rows": manifest_rows})


def read_done(out_dir: str, pid: int) -> list[dict] | None:
    """Return committed manifest rows iff marker exists and data file crc
    matches (a torn/partial data file is treated as uncommitted)."""
    d = read_marker(done_file(out_dir, pid))
    if d is None:
        return None
    try:
        with open(part_file(out_dir, pid), "rb") as f:
            return d["rows"] if zlib.crc32(f.read()) == d["file_crc"] else None
    except (KeyError, OSError):
        return None


def write_meta(out_dir: str, schema: pa.Schema, symtabs: dict[int, list[bytes]],
               config: dict) -> None:
    write_marker(os.path.join(out_dir, "meta.json"), {
        "format_version": FORMAT_VERSION,
        "schema_b64": base64.b64encode(schema.serialize().to_pybytes()).decode(),
        "symtabs": {str(k): [base64.b64encode(s).decode() for s in v]
                    for k, v in symtabs.items()},
        "config": config,
    })


def read_meta(out_dir: str) -> tuple[pa.Schema, dict[int, list[bytes]], dict]:
    path = os.path.join(out_dir, "meta.json")
    meta = read_marker(path)
    if meta is None:
        raise FileNotFoundError(f"no readable table meta at {path}")
    if meta["format_version"] != FORMAT_VERSION:
        raise ValueError(f"unknown format version {meta['format_version']}")
    schema = pa.ipc.read_schema(pa.py_buffer(base64.b64decode(meta["schema_b64"])))
    symtabs = {int(k): [base64.b64decode(s) for s in v]
               for k, v in meta["symtabs"].items()}
    return schema, symtabs, meta["config"]
