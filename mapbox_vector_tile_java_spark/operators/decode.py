"""Distributed decode: encoded block files -> original DataFrame.

SURVEY §3.2 engine equivalent: read manifests -> prune -> mapInArrow
dispatching per-column codec decode by manifest codec id -> reassembled
DataFrame. Shuffle-free: every block row is self-contained, so decode is a
pure map over the blocks parquet (no groupBy needed).

Column pruning: ``columns=[...]`` decodes only the requested columns, and
because each column's blobs are a separate top-level parquet column, the
explicit projection reaches the scan (verified: FileScan ReadSchema lists
only the requested ``c_*``/``crc_*`` columns) — unrequested columns' bytes
are never read. Parquet's column chunks ARE the column-chunk layout.

Block pruning: ``ts_range``-style predicates are evaluated against the
per-column min/max zone maps stored beside each block's blobs, inside the
parquet scan and *before* decode — the descendant of the reference's cheap
AABB pre-filter before expensive intersection (JtsAdapter.java:232).

One table or many (streaming segments) decode through the same scan and
the same kernel: ``decode_table`` takes a table dir or a list of them.
"""

from __future__ import annotations

import os

import pyarrow as pa

from ..columns import decode_column
from ..plans import manifest as M

_SRC = "__src_file"  # block source-file column fed to the decode fn


def _norm_file_dir(path: str) -> str:
    """Normalize a block file's URI to the realpath of its parent directory
    (the table's blocks dir) for symtab-namespace lookup."""
    from urllib.parse import unquote, urlparse

    p = urlparse(path)
    local = unquote(p.path) if p.scheme else path
    return os.path.realpath(os.path.dirname(local))


def make_decode_fn(schema: pa.Schema,
                   symtabs_by_dir: dict[str, dict[int, list[bytes]]],
                   columns: list[str] | None):
    """Decode fn for blocks drawn from one or many tables in one scan: the
    last input column is the block's source file, which selects its table's
    symbol-table namespace (symtab ids are per table). Per-ROW lookup cost is
    one cached dict hit — each row is a whole encoded block, and a scan
    partition rarely mixes files anyway."""
    names = columns or schema.names
    out_schema = pa.schema([schema.field(n) for n in names])

    def fn(batches):
        from ..columns import content_crc

        ctx_cache: dict[str, dict] = {}
        for b in batches:
            blobs = {n: b.column(f"c_{n}") for n in names}
            crcs = {n: b.column(f"crc_{n}") for n in names}
            srcs = b.column(_SRC)
            for i in range(b.num_rows):
                raw_src = srcs[i].as_py()
                ctx = ctx_cache.get(raw_src)
                if ctx is None:
                    key = _norm_file_dir(raw_src)
                    try:
                        ctx = {"symtabs": symtabs_by_dir[key]}
                    except KeyError:
                        raise ValueError(
                            f"block file {raw_src!r} (dir {key!r}) matches no "
                            f"known segment — segment list changed under the "
                            f"decode?") from None
                    ctx_cache[raw_src] = ctx
                arrays = []
                for n in names:
                    blob = blobs[n][i].as_buffer()
                    arr = decode_column(blob, out_schema.field(n).type, ctx)
                    want = crcs[n][i].as_py()
                    got = content_crc(arr)
                    if got != want:
                        raise ValueError(
                            f"checksum mismatch decoding column {n!r}: "
                            f"manifest={want} decoded={got} — block is corrupt")
                    arrays.append(arr)
                yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return fn


def decode_table(spark, out_dir: str | list[str],
                 columns: list[str] | None = None,
                 zone_filters: list[tuple[str, int, int]] | None = None):
    """Read one encoded table, or many (streaming segments), back as ONE
    DataFrame.

    ``out_dir`` is a table dir or a list of segment dirs. The union happens
    at the FILE LISTING level: one parquet scan over every listed table's
    block files and one ``mapInArrow``, so plan depth does not grow with the
    segment count (a union-of-decodes plan is O(#segments) deep; 10^5
    micro-batches would melt the analyzer). Each block's source file
    (``_metadata.file_path``) selects its table's symbol-table namespace.
    Driver cost is O(#segments) small meta.json reads — listing cost, not
    plan cost. All tables must share one logical schema (they are
    micro-batches of the same stream); a mismatch raises rather than
    miscasts.

    zone_filters: [(col, lo, hi)] keeps only blocks whose [min,max] overlaps
    [lo,hi]. Zone maps are plain top-level block columns, so the predicate
    pushes down to the parquet scan and prunes whole row groups via their
    stats before any decode work — the cluster-scale descendant of the
    reference's cheap AABB pre-filter before expensive intersection
    (JtsAdapter.java:232). NOTE: pruning is block-level; callers still
    apply the exact row-level predicate afterwards.

    Reference lineage: the reference decodes MANY layers from ONE tile
    buffer in a single pass, resolving each layer's own key/value tables
    as it goes (MvtReader.java:149-158) — segments are the cluster-scale
    layers here, and the per-segment symbol-table namespace plays the
    per-layer dictionary.
    """
    import glob as _glob

    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    seg_dirs = [out_dir] if isinstance(out_dir, (str, os.PathLike)) else list(out_dir)
    if not seg_dirs:
        raise ValueError("decode_table: empty segment list")
    schema = None
    symtabs_by_dir: dict[str, dict[int, list[bytes]]] = {}
    files: list[str] = []
    for s in seg_dirs:
        seg_schema, symtabs, _ = M.read_meta(s)
        if schema is None:
            schema = seg_schema
        elif seg_schema != schema:
            raise ValueError(
                f"segment {s!r} schema {seg_schema} != first segment's "
                f"{schema} — segments must share one logical schema")
        bdir = M.blocks_dir(s)
        symtabs_by_dir[os.path.realpath(bdir)] = symtabs
        files.extend(sorted(_glob.glob(os.path.join(bdir, "*.parquet"))))
    names = columns or schema.names
    for c in names:
        if c not in schema.names:
            raise KeyError(f"unknown column {c}")
    spark_schema = from_arrow_schema(pa.schema([schema.field(n) for n in names]))
    if not files:
        # zero-row tables: the encode job had no tasks, so no block files
        return spark.createDataFrame([], spark_schema)
    # known schemas: a schema-less read runs a job to infer one from a footer
    blocks = spark.read.schema(
        from_arrow_schema(M.block_schema(schema))).parquet(*files)
    for col, lo, hi in zone_filters or ():
        blocks = blocks.filter(
            F.col(f"mn_{col}").isNull()
            | ((F.col(f"mn_{col}") <= F.lit(int(hi)))
               & (F.col(f"mx_{col}") >= F.lit(int(lo)))))
    # explicit projection -> parquet reads ONLY the requested blob columns;
    # the source file is a deterministic metadata column, so the zone
    # filters above still push into the scan
    need = (["part_id", "block_id", "n_rows"] + [f"c_{n}" for n in names]
            + [f"crc_{n}" for n in names])
    blocks = blocks.select(*need, F.col("_metadata.file_path").alias(_SRC))
    return blocks.mapInArrow(
        make_decode_fn(schema, symtabs_by_dir, columns), spark_schema)


def read_manifest(spark, out_dir: str):
    return (spark.read.schema(M.manifest_spark_schema())
            .parquet(os.path.join(out_dir, "manifest.parquet")))


def meta_column_stats(spark, out_dir: str):
    """Aggregate pushdown to metadata: per-column row count, null count and
    (for int-like columns) min/max answered ENTIRELY from the manifest — no
    data block is opened. This is the engine analog of parquet/Iceberg
    aggregate pushdown: at 10^12 rows the manifest is the only thing read
    (millions of rows, not trillions), and the plan is one partial+final
    aggregation over the manifest parquet.

    min/max are the encode-time zone-map values (``_minmax_i64``) — exact,
    not sampled: every block records the true min/max of its rows
    (timestamps in their native tick unit; bytes-like, float and uint64
    columns yield NULL).
    The reference's analog is answering layer extent questions from the
    tile header instead of decoding features (MvtReader.java:99-147 reads
    layer metadata before any geometry decode).
    """
    from pyspark.sql import functions as F

    m = read_manifest(spark, out_dir)
    # one row per column: sort it in one partition; a global orderBy would
    # range-partition it, sampling the ranges in jobs of their own
    return (m.groupBy("name")
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.sum("null_count").alias("null_count"),
                 F.min("min_i64").alias("min_i64"),
                 F.max("max_i64").alias("max_i64"))
            .coalesce(1).sortWithinPartitions("name"))


def compression_report(spark, out_dir: str):
    """Per-column raw/encoded byte totals + ratio from the manifest."""
    from pyspark.sql import functions as F

    m = read_manifest(spark, out_dir)
    return (m.groupBy("name")
            .agg(F.sum("raw_bytes").alias("raw_bytes"),
                 F.sum("enc_bytes").alias("enc_bytes"),
                 F.count("*").alias("n_blocks"),
                 F.first("codec").alias("example_codec"))
            .withColumn("ratio", F.col("raw_bytes") / F.col("enc_bytes"))
            .coalesce(1).sortWithinPartitions("name"))
