"""Structured Streaming ingestion: incremental encode of a webtext stream.

The reference is batch-only (a whole tile is built then serialized,
MvtEncoder.java:82-100), and the north rule's "resumable from checkpoint"
is satisfied by per-partition manifest idempotence — but a 10^12-document
corpus arrives continuously, so the engine also offers a streaming front
end: ``readStream -> foreachBatch(encode micro-batch)``.

Design:
- each micro-batch becomes one *segment* directory ``segment=<batch_id>``
  encoded with the SAME planner/encode path as batch mode (plan persisted
  per segment; per-partition commit markers within the segment);
- exactly-once across restarts comes from the pairing of Spark's streaming
  checkpoint (batch replay) with segment-level idempotence: a replayed
  batch re-enters ``encode_table`` with ``resume=True`` and every committed
  partition is skipped, so duplicate delivery cannot duplicate bytes;
- ``decode_segments`` reads all segments back as one DataFrame through ONE
  flat scan (``decode_table``) — plan depth does not grow with the
  segment count, so 10^5 accumulated micro-batches stay analyzable;
- ``compact_segments`` + ``promote_compacted`` are the LSM answer to
  segment accumulation; compacted segments live in their own name space
  (``segment=compacted-<uid>``) so a stream restarted with a fresh
  checkpoint can never replay batch 0 INTO a compacted table.

This is the streaming analog of the layer-per-tile layout: a segment is a
tile appended to a growing tileset.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..plans.manifest import manifest_spark_schema, read_marker, write_marker

_SNAPSHOT_FILE = "compact_sources.json"


def encode_stream(stream_df: DataFrame, out_dir: str, n_parts: int = 4,
                  checkpoint_dir: str | None = None):
    """Start a streaming query that encodes each micro-batch as a segment.

    Returns the StreamingQuery; caller manages its lifecycle
    (processAllAvailable / stop). Empty micro-batches are skipped via the
    encode pipeline's own sampling job (``skip_if_empty``) — no dedicated
    per-batch probe job runs at production trigger rates.
    """
    from ..operators.encode import encode_webtext

    os.makedirs(out_dir, exist_ok=True)

    def sink(batch_df: DataFrame, batch_id: int):
        seg = os.path.join(out_dir, f"segment={batch_id}")
        # resume=True inside encode_webtext makes batch replay idempotent
        encode_webtext(batch_df, seg, n_parts=n_parts, skip_if_empty=True)

    writer = (stream_df.writeStream
              .foreachBatch(sink)
              .outputMode("append"))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _seg_order(basename: str):
    """Oldest-first segment ordering: compacted segments hold the oldest
    data by construction, then numeric micro-batch ids in batch order,
    then anything else lexicographically."""
    name = basename.split("=", 1)[1]
    if name.startswith("compacted-"):
        return (0, 0, name)
    try:
        return (1, int(name), "")
    except ValueError:
        return (2, 0, name)


def list_segments(out_dir: str) -> list[str]:
    segs = [d for d in os.listdir(out_dir)
            if d.startswith("segment=") and
            os.path.exists(os.path.join(out_dir, d, "manifest.parquet"))]
    segs.sort(key=_seg_order)
    return [os.path.join(out_dir, d) for d in segs]


def decode_segments(spark, out_dir: str, columns: list[str] | None = None) -> DataFrame:
    """Decode every committed segment as one DataFrame.

    One flat scan over all segments' block files (plan depth O(1) in the
    segment count), with per-segment symbol-table namespaces resolved by
    block source file — see ``decode_table``.
    """
    from ..operators.decode import decode_table

    segs = list_segments(out_dir)
    if not segs:
        raise FileNotFoundError(f"no committed segments under {out_dir}")
    return decode_table(spark, segs, columns=columns)


def compact_segments(spark, out_dir: str, dst_dir: str, n_parts: int,
                     max_segments: int | None = None,
                     segments: list[str] | None = None):
    """Merge committed segments into ONE compacted encoded table.

    A micro-batch-per-segment layout accumulates small segments (each with
    its own plan, symbol tables and sub-optimally small blocks) — the LSM
    problem. Compaction decodes the union of segments (ONE flat scan, no
    shuffle: each block row is self-contained) and re-encodes it through
    the normal planner at a production partition count, so the compacted
    table gets one global plan, full-size FSST/dict tables trained on the
    whole corpus slice, and ``n_parts`` right-sized blocks.

    Live-stream safety: the segment list is SNAPSHOTTED here and persisted
    into ``dst_dir`` (compact_sources.json). ``promote_compacted`` swaps
    out exactly the snapshotted segments — a segment the stream commits
    between compact and promote is left in place and stays readable.
    ``max_segments`` bounds one compaction round to the K oldest segments
    (tiered compaction): at production cadence run it periodically so no
    single round decodes an unbounded backlog.

    Correctness contract (the reference's discipline: what round-trips is
    the table's CONTENT, not its segment structure — a tile re-encoded from
    decoded features must decode identically, MvtBuildTest.java:141-308):
    decode(compact(segments)) must equal decode(segments) row-for-row.

    Scale: one decode map + one repartition shuffle + one encode map —
    identical plan shape to a fresh bulk encode; ``encode_webtext``
    resumes with the same per-partition idempotent commit, so a killed
    compaction rerun skips finished partitions. The swap into place is
    ``promote_compacted`` (separate, so callers control the cutover point).
    """
    from ..operators.decode import decode_table
    from ..operators.encode import encode_webtext

    segs = list_segments(out_dir)
    if not segs:
        raise FileNotFoundError(f"no committed segments under {out_dir}")
    if segments is not None:
        # explicit basenames (e.g. from compaction_due's size tier) — any
        # subset is content-safe: the snapshot/promote pair retires exactly
        # these, and decode order was never part of the table contract
        want = set(segments)
        segs = [s for s in segs if os.path.basename(s) in want]
        missing = want - {os.path.basename(s) for s in segs}
        if missing:
            raise FileNotFoundError(
                f"requested segments not committed under {out_dir}: "
                f"{sorted(missing)}")
    elif max_segments is not None:
        segs = segs[:max_segments]
    df = decode_table(spark, segs)
    man = encode_webtext(df, dst_dir, n_parts=n_parts)
    write_marker(os.path.join(dst_dir, _SNAPSHOT_FILE),
                 {"source_segments": [os.path.basename(s) for s in segs]})
    return man


def promote_compacted(out_dir: str, compacted_dir: str,
                      segments: list[str] | None = None) -> str:
    """Swap the compacted table in as ``segment=compacted-<uid>`` and move
    its SOURCE segments aside. Segments committed after the compaction
    snapshot are untouched and stay readable throughout.

    ``segments``: basenames to retire; defaults to the snapshot
    ``compact_segments`` persisted into ``compacted_dir``. Old segments are
    moved aside into a fresh ``<out_dir>/.pre_compact/<unique>/`` directory
    rather than deleted — the caller reaps that directory after verifying
    the compacted table (the same verify-then-delete discipline as the
    encode commit markers). The compacted segment name lives OUTSIDE the
    numeric micro-batch namespace, so a stream restarted with a fresh
    checkpoint (which replays batch 0 into ``segment=0``) can never collide
    with — and silently resume-skip into — the compacted table.

    Checkpoint discipline after a promote: RETAIN the stream's checkpoint.
    A stream resumed with its checkpoint knows its batches are committed
    and replays nothing. A stream restarted with a FRESH checkpoint
    replays the source from scratch into fresh numeric segments — the
    compacted segment's separate namespace guarantees that replay can only
    DUPLICATE rows (repairable via dedup / a fresh compaction), never
    silently drop them the way replaying into a resume-markered
    ``segment=0`` compacted table would have.

    NOTE on real object stores: directory rename is not atomic on S3-style
    stores; production there would commit via a manifest-of-segments
    pointer swap instead. The segment layout already supports that (a
    segment is discovered only through its committed manifest).
    """
    import shutil
    import tempfile
    import time as _time
    import uuid

    if not os.path.exists(os.path.join(compacted_dir, "manifest.parquet")):
        raise FileNotFoundError(
            f"compacted table at {compacted_dir} has no committed manifest")
    if segments is None:
        snap = read_marker(os.path.join(compacted_dir, _SNAPSHOT_FILE))
        if snap is None:
            raise FileNotFoundError(
                f"{compacted_dir} has no {_SNAPSHOT_FILE} snapshot — compact "
                f"with compact_segments, or pass segments= explicitly")
        segments = snap["source_segments"]
    missing = [b for b in segments
               if not os.path.isdir(os.path.join(out_dir, b))]
    if missing:
        raise FileNotFoundError(
            f"snapshot segments missing from {out_dir}: {missing} — "
            f"already promoted, or the segment store changed underneath")
    aside_root = os.path.join(out_dir, ".pre_compact")
    os.makedirs(aside_root, exist_ok=True)
    # mkdtemp: unique even for two promotes within the same second
    aside = tempfile.mkdtemp(
        prefix=_time.strftime("%Y%m%dT%H%M%S") + "-", dir=aside_root)
    dst = os.path.join(out_dir, f"segment=compacted-{uuid.uuid4().hex[:12]}")
    # land the NEW segment first, then retire the old ones: a reader that
    # races the swap sees duplicated rows (repairable), never missing ones
    shutil.move(compacted_dir, dst)
    for b in segments:
        shutil.move(os.path.join(out_dir, b), os.path.join(aside, b))
    # pair this aside dir with its compacted segment so verify_and_reap can
    # fingerprint-compare the two before deleting anything
    write_marker(os.path.join(aside, "promoted.json"),
                 {"compacted": os.path.basename(dst), "segments": segments})
    return dst


def content_fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row_count, order-independent multiset fingerprint) of a DataFrame.

    SUM over rows of a per-row hash — commutative, so it is invariant
    under the repartitioning a compaction performs, yet multiset-sensitive
    (a duplicated or dropped row shifts the sum). decimal(38,0)
    accumulation: no overflow below ~10^19 rows. ONE partial aggregate per
    partition + a single-row final combine — the cheapest whole-content
    equality check that does not ship any data anywhere.

    The row hash is ONE xxhash64 over the row's POSITION-BOUND column
    hashes (xxhash64(ordinal, value)). Binding each column to its ordinal
    keeps a NULL's position in the row observable: Spark's hash functions
    skip NULL arguments, so a bare xxhash64 over the columns would hash
    (NULL, 'a') and ('a', NULL) identically, while the inner hashes are
    never NULL. Hashing them together binds the columns to their row: a
    sum of per-column hashes factorizes per column, so two values swapped
    between rows of one column would leave it unchanged — and this
    fingerprint gates deletion.
    """
    from pyspark.sql import functions as F

    row_hash = F.xxhash64(*[F.xxhash64(F.lit(i), F.col(c))
                            for i, c in enumerate(df.columns)])
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(row_hash.cast("decimal(38,0)")).alias("fp")).first()
    return int(row["n"]), int(row["fp"] or 0)


def verify_and_reap(spark, out_dir: str) -> list[str]:
    """Verify-then-delete for promoted compactions: for every aside dir
    under ``<out_dir>/.pre_compact``, decode its retired segments AND the
    compacted segment that replaced them, compare order-independent
    content fingerprints (``content_fingerprint``), and delete the aside
    dir only on an exact match. Returns the reaped aside dirs.

    Every matching aside dir is reaped first; then, if any did not match,
    one ``ValueError`` names every mismatch, and those aside dirs stay in
    place — the retired source segments are the recovery path, exactly the
    discipline the encode commit markers follow (nothing is deleted until
    the replacement is proven equal). An aside dir whose compacted segment
    has since itself been compacted away is also left in place (there is
    nothing to verify against; a later fingerprint chain through the
    NEWER compaction's own aside dir still covers its content).
    """
    import shutil

    from ..operators.decode import decode_table

    aside_root = os.path.join(out_dir, ".pre_compact")
    if not os.path.isdir(aside_root):
        return []
    reaped, mismatches = [], []
    for name in sorted(os.listdir(aside_root)):
        aside = os.path.join(aside_root, name)
        info = read_marker(os.path.join(aside, "promoted.json"))
        if info is None:
            continue  # no committed pairing: manual reap only
        comp = os.path.join(out_dir, info["compacted"])
        if not os.path.exists(os.path.join(comp, "manifest.parquet")):
            continue  # compacted away since; covered by a newer aside dir
        srcs = [os.path.join(aside, b) for b in info["segments"]
                if os.path.exists(os.path.join(aside, b, "manifest.parquet"))]
        want = content_fingerprint(decode_table(spark, srcs))
        got = content_fingerprint(decode_table(spark, comp))
        if want != got:
            mismatches.append(
                f"compacted segment {info['compacted']} does not match its "
                f"retired sources in {aside}: sources (rows, fp)={want}, "
                f"compacted={got}")
            continue
        shutil.rmtree(aside)
        reaped.append(aside)
    if mismatches:
        raise ValueError("; ".join(mismatches)
                         + " — aside dirs kept for recovery")
    return reaped


def compaction_due(spark, out_dir: str, min_segments: int = 4,
                   max_segments: int = 64) -> list[str]:
    """Size-tiered compaction trigger: the segment basenames worth merging
    this round, or ``[]`` when compaction is not warranted.

    Policy (the STCS shape LSM stores use): bucket segments by the
    power-of-two of their encoded byte total (``segments_manifest`` sums —
    metadata only, no blob column is touched), find the most-populated
    tier of similar-sized segments, and propose it (oldest first, capped
    at ``max_segments``) once it holds at least ``min_segments`` members.
    Merging like-sized segments keeps write amplification logarithmic:
    each byte is rewritten O(log(table/segment)) times as its segment
    climbs tiers, instead of O(n_compactions) under always-merge-all.

    Run periodically next to the stream::

        due = compaction_due(spark, out_dir)
        if due:
            compact_segments(spark, out_dir, dst, n_parts, segments=due)
            promote_compacted(out_dir, dst)
            verify_and_reap(spark, out_dir)
    """
    import math

    from pyspark.sql import functions as F

    sizes = {r["segment"]: r["bytes"]
             for r in segments_manifest(spark, out_dir)
             .groupBy("segment")
             .agg(F.sum("enc_bytes").alias("bytes")).collect()}
    ordered = [os.path.basename(s) for s in list_segments(out_dir)]
    tiers: dict[int, list[str]] = {}
    for name in ordered:
        b = sizes.get(name.split("=", 1)[1], 0)
        tiers.setdefault(int(math.log2(max(b, 1))), []).append(name)
    best = max(tiers.values(), key=len, default=[])
    if len(best) < min_segments:
        return []
    return best[:max_segments]


def maintain_table(spark, out_dir: str, n_parts: int,
                   min_segments: int = 4, max_segments: int = 64) -> str | None:
    """One table-maintenance round: size-tiered trigger → compact →
    promote → fingerprint-verified reap. Returns the promoted segment
    path, or ``None`` when compaction is not warranted yet.

    This is the call a production ingest loop runs on a timer (or every K
    micro-batches) next to a LIVE stream: the compaction works off a
    snapshot, the promote retires exactly the snapshotted segments, and
    sources are deleted only after the compacted segment fingerprint-
    matches them — every step is individually crash-safe, so a killed
    maintenance round leaves a readable table and resumes idempotently.
    The staging dir lives INSIDE ``out_dir`` (same filesystem: the promote
    rename is a move, not a copy) but outside the ``segment=`` namespace,
    so readers never see a half-built segment.
    """
    import uuid

    due = compaction_due(spark, out_dir, min_segments, max_segments)
    if not due:
        return None
    staging = os.path.join(out_dir, ".compact_tmp", uuid.uuid4().hex[:12])
    compact_segments(spark, out_dir, staging, n_parts, segments=due)
    promoted = promote_compacted(out_dir, staging)
    verify_and_reap(spark, out_dir)
    try:  # the promote moved the staging dir away; drop the empty parent
        os.rmdir(os.path.dirname(staging))
    except OSError:
        pass  # a concurrent round's staging is still in it
    return promoted


def segments_manifest(spark, out_dir: str):
    """Every segment's manifest as one DataFrame with a ``segment`` name
    column — one flat scan over all manifest dirs (same O(1)-plan-depth
    shape as ``decode_segments``), segment recovered from the file path.
    Segment names are [0-9a-z-] by construction, so no URL-escaping in
    ``input_file_name`` can corrupt the extraction."""
    from pyspark.sql import functions as F

    segs = list_segments(out_dir)
    if not segs:
        raise FileNotFoundError(f"no committed segments under {out_dir}")
    mdirs = [os.path.join(s, "manifest.parquet") for s in segs]
    return (spark.read.schema(manifest_spark_schema()).parquet(*mdirs)
            .withColumn("segment",
                        F.regexp_extract(F.input_file_name(),
                                         r"segment=([^/]+)/", 1)))
