"""Segment compaction + metadata-only aggregates.

Compaction contract (reference discipline: re-encoding decoded content must
round-trip identically, MvtBuildTest.java:141-308): the compacted table's
decoded rows equal the union of the source segments' decoded rows, and the
compacted table is ONE segment with one plan.
"""
import os

import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_java_spark.operators.decode import (
    decode_table, meta_column_stats, read_manifest)
from mapbox_vector_tile_java_spark.operators.encode import encode_webtext
from mapbox_vector_tile_java_spark.sources.webtext import webtext_df
from mapbox_vector_tile_java_spark.streaming.incremental import (
    compact_segments, decode_segments, list_segments, promote_compacted)


def _rows(df):
    return sorted(
        (r["url"], r["ts"], r["hl"], r["text"], r["lang"])
        for r in df.select(
            "url", F.unix_micros("warc_ts").alias("ts"),
            F.length("html").alias("hl"), "text", "lang").collect())


@pytest.fixture(scope="module")
def segmented(spark, tmp_path_factory):
    """Three segments holding disjoint thirds of a 1200-row webtext table."""
    root = str(tmp_path_factory.mktemp("segtbl"))
    src = webtext_df(spark, 1200, seed=42, partitions=4)
    for k in range(3):
        part = src.where(F.pmod(F.xxhash64("url"), F.lit(3)) == k)
        encode_webtext(part, os.path.join(root, f"segment={k}"), n_parts=2)
    return root, src


def test_compact_preserves_content(spark, segmented, tmp_path):
    root, src = segmented
    dst = str(tmp_path / "compacted")
    man = compact_segments(spark, root, dst, n_parts=4)
    assert man.count() > 0  # lazy manifest DataFrame, never driver-side bytes
    assert _rows(decode_table(spark, dst)) == _rows(src)


def test_compact_merges_plans(spark, segmented, tmp_path):
    """The compacted table has ONE plan/manifest (segments each had their
    own) and its per-column block count shrinks to n_parts."""
    root, _ = segmented
    dst = str(tmp_path / "compacted2")
    compact_segments(spark, root, dst, n_parts=4)
    m = read_manifest(spark, dst)
    per_col = m.groupBy("name").count().collect()
    assert all(r["count"] <= 4 for r in per_col)  # one block per partition
    # every segment had its own meta.json; the compacted table has exactly one
    assert os.path.exists(os.path.join(dst, "meta.json"))


def test_multi_segment_decode_flat_plan_and_pruning(spark, segmented):
    """decode_segments is ONE scan + ONE mapInArrow regardless of segment
    count (no per-segment union in the plan), and column pruning reaches
    that scan (unrequested blob columns never leave parquet)."""
    import contextlib
    import io

    root, src = segmented
    dec = decode_segments(spark, root, columns=["url", "lang"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dec.explain("formatted")
    txt = buf.getvalue()
    # formatted explain names each node twice (tree line + details header):
    # ONE scan node == 2 mentions; a per-segment union would show 6
    assert txt.count("Scan parquet") == 2, txt
    assert "Union" not in txt, txt
    assert "c_url" in txt and "c_lang" in txt
    assert "c_html" not in txt and "c_text" not in txt, txt
    got = {(r["url"], r["lang"]) for r in dec.collect()}
    want = {(r["url"], r["lang"]) for r in src.select("url", "lang").collect()}
    assert got == want


def test_multi_segment_zone_filter_prunes_and_preserves(spark, tmp_path):
    """Zone-map block pruning works across the flat multi-segment scan:
    time-split segments give disjoint per-segment zone maps, so a narrow
    ts range decodes only the matching segment's blocks (and a disjoint
    range decodes nothing), while the exact predicate result matches the
    source. The zone predicate reaches the parquet scan itself, so row
    groups are skipped before any block bytes are read."""
    import re

    from mapbox_vector_tile_java_spark.streaming.incremental import (
        list_segments)

    root = str(tmp_path / "zoned_segs")
    src = webtext_df(spark, 3_000, seed=11, partitions=4)
    us = F.unix_micros("warc_ts")
    bounds = src.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).first()
    cut = bounds["lo"] + (bounds["hi"] - bounds["lo"]) // 3
    # segment 0 = early rows, segment 1 = the rest -> disjoint zone maps
    encode_webtext(src.where(us <= cut), os.path.join(root, "segment=0"),
                   n_parts=2)
    encode_webtext(src.where(us > cut), os.path.join(root, "segment=1"),
                   n_parts=2)
    segs = list_segments(root)
    pruned = decode_table(
        spark, segs, zone_filters=[("warc_ts", bounds["lo"], cut)])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.split("\n") if "FileScan" in ln]
    assert len(scans) == 1, plan
    assert re.search(r"PushedFilters: \[[^\]]*mn_warc_ts", scans[0]), plan
    got = sorted(r["url"] for r in pruned.where(us <= cut).collect())
    want = sorted(r["url"] for r in src.where(us <= cut).collect())
    assert got == want and len(got) > 0
    # pruning is real: segment 1's blocks never decode
    full_rows = decode_table(spark, segs).count()
    assert pruned.count() < full_rows
    # disjoint range prunes everything
    assert decode_table(
        spark, segs, zone_filters=[("warc_ts", 0, 10)]).count() == 0


@pytest.mark.parametrize("tamper", ["off_by_one", "null"])
def test_multi_segment_crc_mismatch_fails_decode(spark, tmp_path, tamper):
    """A block whose stored content crc disagrees with its decoded column,
    or is NULL, fails the segment decode instead of returning rows it did
    not check."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapbox_vector_tile_java_spark.streaming.incremental import (
        list_segments)

    root = str(tmp_path / "crc_segs")
    src = webtext_df(spark, 200, seed=5, partitions=2)
    for k in range(2):
        part = src.where(F.pmod(F.xxhash64("url"), F.lit(2)) == k)
        encode_webtext(part, os.path.join(root, f"segment={k}"), n_parts=1)
    segs = list_segments(root)
    assert decode_table(spark, segs).count() == 200
    path = sorted(glob.glob(os.path.join(segs[1], "blocks", "*.parquet")))[0]
    t = pq.read_table(path)
    crcs = t.column("crc_url").to_pylist()
    crcs[0] = None if tamper == "null" else crcs[0] - 1
    t = t.set_column(t.schema.get_field_index("crc_url"), "crc_url",
                     pa.array(crcs, pa.int64()))
    pq.write_table(t, path, compression="none", row_group_size=64)
    with pytest.raises(Exception, match="checksum mismatch"):
        decode_table(spark, segs).collect()


def test_fifty_segments_one_scan_and_compaction(spark, tmp_path):
    """A year of micro-batches must stay analyzable: 50 segments decode
    through ONE parquet scan (plan depth does not grow with segment count),
    and compacting all 50 yields exactly the union of their contents with
    one full-size plan. Segments are directory copies of one encoded
    micro-batch — the decoder must namespace symbol tables per segment, so
    50 segments with identical symtab ids but distinct paths is also the
    collision-hardest layout for the path-based resolution."""
    import contextlib
    import io
    import shutil

    root = str(tmp_path / "many")
    src = webtext_df(spark, 300, seed=13, partitions=2)
    seg0 = os.path.join(root, "segment=0")
    encode_webtext(src, seg0, n_parts=1)
    for k in range(1, 50):
        shutil.copytree(seg0, os.path.join(root, f"segment={k}"))
    assert len(list_segments(root)) == 50

    dec = decode_segments(spark, root)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dec.explain("formatted")
    txt = buf.getvalue()
    # formatted explain names each node twice (tree + details): ONE scan
    # node == 2 mentions; a plan-level union chain would show ~100
    assert txt.count("Scan parquet") == 2, txt
    assert "Union" not in txt, txt
    per_url = dec.groupBy("url").count().collect()
    assert len(per_url) == 300 and all(r["count"] == 50 for r in per_url)

    dst = str(tmp_path / "compacted50")
    compact_segments(spark, root, dst, n_parts=2)
    out = decode_table(spark, dst)
    per_url2 = out.groupBy("url").count().collect()
    assert len(per_url2) == 300 and all(r["count"] == 50 for r in per_url2)
    # content byte-identical to the 50-segment union (full row compare)
    assert _rows(out) == _rows(decode_segments(spark, root))
    # ONE global plan over n_parts partitions, not 50 micro-plans (blocks
    # per partition additionally split per Arrow batch, which is sizing,
    # not plan structure)
    m = read_manifest(spark, dst)
    assert m.select("part_id").distinct().count() <= 2
    assert os.path.exists(os.path.join(dst, "meta.json"))


def test_promote_swaps_segments(spark, segmented, tmp_path):
    root, src = segmented
    dst = str(tmp_path / "compacted3")
    compact_segments(spark, root, dst, n_parts=4)
    before = _rows(decode_segments(spark, root))
    promoted = promote_compacted(root, dst)
    segs = list_segments(root)
    assert segs == [promoted]
    # compacted segments live outside the numeric batch-id namespace: a
    # stream restarted with a fresh checkpoint replays batch 0 into
    # segment=0, which must never be the compacted table (resume markers
    # there would silently skip the replayed rows)
    assert os.path.basename(promoted).startswith("segment=compacted-")
    assert _rows(decode_segments(spark, root)) == before == _rows(src)
    # old segments moved aside, not deleted (verify-then-delete discipline)
    aside = os.path.join(root, ".pre_compact")
    assert os.path.isdir(aside) and len(os.listdir(aside)) == 1


def test_promote_requires_committed_manifest(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        promote_compacted(str(tmp_path), str(tmp_path / "nope"))


def test_promote_leaves_segments_committed_after_snapshot(spark, tmp_path):
    """A segment the stream commits BETWEEN compact and promote is not in
    the snapshot, survives the promote in place, and stays readable — the
    live-stream safety contract."""
    root = str(tmp_path / "tbl")
    src = webtext_df(spark, 900, seed=3, partitions=2)
    old = src.where(F.pmod(F.xxhash64("url"), F.lit(3)) < 2)
    late = src.where(F.pmod(F.xxhash64("url"), F.lit(3)) == 2)
    for k in range(2):
        encode_webtext(old.where(F.pmod(F.xxhash64("url"), F.lit(2)) == k),
                       os.path.join(root, f"segment={k}"), n_parts=2)
    dst = str(tmp_path / "compacted")
    compact_segments(spark, root, dst, n_parts=2)
    # stream commits segment=2 after the compaction snapshot
    encode_webtext(late, os.path.join(root, "segment=2"), n_parts=2)
    promoted = promote_compacted(root, dst)
    segs = {os.path.basename(s) for s in list_segments(root)}
    assert segs == {os.path.basename(promoted), "segment=2"}
    assert _rows(decode_segments(spark, root)) == _rows(src)


def test_tiered_compaction_max_segments(spark, tmp_path):
    """max_segments=K compacts only the K OLDEST segments; the rest stay,
    and repeated rounds converge the table (compacted segments sort
    oldest)."""
    root = str(tmp_path / "tbl")
    src = webtext_df(spark, 900, seed=5, partitions=2)
    for k in range(3):
        encode_webtext(src.where(F.pmod(F.xxhash64("url"), F.lit(3)) == k),
                       os.path.join(root, f"segment={k}"), n_parts=2)
    dst1 = str(tmp_path / "c1")
    compact_segments(spark, root, dst1, n_parts=2, max_segments=2)
    promote_compacted(root, dst1)
    names = sorted(os.path.basename(s) for s in list_segments(root))
    assert "segment=2" in names and len(names) == 2
    assert _rows(decode_segments(spark, root)) == _rows(src)
    # second round folds the remainder into one segment
    dst2 = str(tmp_path / "c2")
    compact_segments(spark, root, dst2, n_parts=2)
    promoted = promote_compacted(root, dst2)
    assert list_segments(root) == [promoted]
    assert _rows(decode_segments(spark, root)) == _rows(src)


def test_size_tiered_compaction_policy(spark, tmp_path):
    """compaction_due proposes the most-populated power-of-two size tier
    (oldest first) once it reaches min_segments, and the proposed subset
    round-trips through compact -> promote -> verify_and_reap."""
    from mapbox_vector_tile_java_spark.streaming.incremental import (
        compaction_due, verify_and_reap)

    root = str(tmp_path / "tbl")
    src = webtext_df(spark, 2200, seed=31, partitions=4)
    big = src.where(F.pmod(F.xxhash64("url"), F.lit(11)) < 7)    # ~1400 rows
    rest = src.where(F.pmod(F.xxhash64("url"), F.lit(11)) >= 7)  # ~800 rows
    encode_webtext(big, os.path.join(root, "segment=0"), n_parts=2)
    for k in range(4):  # four similar small segments: the due tier
        encode_webtext(rest.where(F.pmod(F.xxhash64("url"), F.lit(4)) == k),
                       os.path.join(root, f"segment={k + 1}"), n_parts=1)
    due = compaction_due(spark, root, min_segments=4)
    assert sorted(due) == [f"segment={k + 1}" for k in range(4)], due
    # below the member threshold: not warranted
    assert compaction_due(spark, root, min_segments=5) == []

    dst = str(tmp_path / "ctier")
    compact_segments(spark, root, dst, n_parts=2, segments=due)
    promote_compacted(root, dst)
    assert len(verify_and_reap(spark, root)) == 1
    assert _rows(decode_segments(spark, root)) == _rows(src)
    # the big segment was untouched
    assert any(os.path.basename(s) == "segment=0"
               for s in list_segments(root))


def test_maintain_table_full_round(spark, tmp_path):
    """maintain_table: no-op below the tier threshold; above it, one call
    compacts the due tier, promotes, verifies and reaps — with a segment
    committed mid-round surviving untouched (live-stream safety)."""
    from mapbox_vector_tile_java_spark.streaming.incremental import (
        maintain_table)

    root = str(tmp_path / "tbl")
    src = webtext_df(spark, 1600, seed=17, partitions=4)
    for k in range(3):
        encode_webtext(src.where(F.pmod(F.xxhash64("url"), F.lit(4)) == k),
                       os.path.join(root, f"segment={k}"), n_parts=1)
    assert maintain_table(spark, root, n_parts=2, min_segments=4) is None
    encode_webtext(src.where(F.pmod(F.xxhash64("url"), F.lit(4)) == 3),
                   os.path.join(root, "segment=3"), n_parts=1)
    promoted = maintain_table(spark, root, n_parts=2, min_segments=4)
    assert promoted is not None
    names = [os.path.basename(s) for s in list_segments(root)]
    assert names == [os.path.basename(promoted)]
    assert _rows(decode_segments(spark, root)) == _rows(src)
    # aside dir reaped after the fingerprint match
    aside_root = os.path.join(root, ".pre_compact")
    assert not os.path.isdir(aside_root) or not os.listdir(aside_root)
    # next round: single compacted segment, nothing due
    assert maintain_table(spark, root, n_parts=2, min_segments=4) is None


def test_verify_and_reap_deletes_only_on_match(spark, tmp_path):
    """verify_and_reap fingerprint-compares the compacted segment against
    its retired sources and deletes the aside dir only on an exact match;
    a mismatch raises and keeps the sources as the recovery path."""
    import json

    from mapbox_vector_tile_java_spark.streaming.incremental import (
        content_fingerprint, verify_and_reap)

    root = str(tmp_path / "tbl")
    src = webtext_df(spark, 900, seed=21, partitions=2)
    for k in range(3):
        encode_webtext(src.where(F.pmod(F.xxhash64("url"), F.lit(3)) == k),
                       os.path.join(root, f"segment={k}"), n_parts=2)
    dst = str(tmp_path / "compacted")
    compact_segments(spark, root, dst, n_parts=2)
    promoted = promote_compacted(root, dst)
    aside_root = os.path.join(root, ".pre_compact")
    assert len(os.listdir(aside_root)) == 1
    reaped = verify_and_reap(spark, root)
    assert len(reaped) == 1 and not os.listdir(aside_root)
    assert _rows(decode_segments(spark, root)) == _rows(src)

    # second compaction: tamper the pairing so the claimed source set no
    # longer matches the compacted content -> must raise and keep the dir
    dst2 = str(tmp_path / "compacted2")
    encode_webtext(webtext_df(spark, 90, seed=5, partitions=1),
                   os.path.join(root, "segment=9"), n_parts=1)
    compact_segments(spark, root, dst2, n_parts=2,
                     max_segments=1)  # compacts only the oldest segment
    promote_compacted(root, dst2)
    aside = os.path.join(aside_root, os.listdir(aside_root)[0])
    meta = os.path.join(aside, "promoted.json")
    with open(meta) as f:
        info = json.load(f)
    # claim segment=9 was also retired: fingerprints can no longer match
    import shutil
    shutil.move(os.path.join(root, "segment=9"),
                os.path.join(aside, "segment=9"))
    info["segments"].append("segment=9")
    with open(meta, "w") as f:
        json.dump(info, f)
    with pytest.raises(ValueError, match="does not match"):
        verify_and_reap(spark, root)
    assert os.path.isdir(aside)  # kept for recovery

    # fingerprint function itself: order-independence + multiset sensitivity
    a = webtext_df(spark, 200, seed=8, partitions=2)
    assert content_fingerprint(a) == content_fingerprint(
        a.repartition(7))
    assert content_fingerprint(a) != content_fingerprint(a.limit(199))
    # a NULL shifted across columns must be observable (Spark's hash
    # functions skip NULL args; the position-bound form does not)
    na = spark.createDataFrame([(None, "a")], "x string, y string")
    nb = spark.createDataFrame([("a", None)], "x string, y string")
    assert content_fingerprint(na) != content_fingerprint(nb)


def test_verify_and_reap_reaps_past_a_mismatch(spark, tmp_path):
    """A tampered aside dir that sorts first does not keep a later,
    verifiable one from being reaped: every match is reaped, then one
    ValueError names the mismatch, whose aside dir is kept."""
    import json
    import shutil

    from mapbox_vector_tile_java_spark.streaming.incremental import (
        verify_and_reap)

    root = str(tmp_path / "tbl")
    src = webtext_df(spark, 300, seed=19, partitions=2)
    for k in range(3):
        encode_webtext(src.where(F.pmod(F.xxhash64("url"), F.lit(3)) == k),
                       os.path.join(root, f"segment={k}"), n_parts=1)
    for k in range(2):
        dst = str(tmp_path / f"compacted{k}")
        compact_segments(spark, root, dst, n_parts=1,
                         segments=[f"segment={k}"])
        promote_compacted(root, dst)
    aside_root = os.path.join(root, ".pre_compact")
    first, _ = sorted(os.listdir(aside_root))
    # the first claims segment=2 was retired too: it can no longer match
    aside = os.path.join(aside_root, first)
    shutil.move(os.path.join(root, "segment=2"),
                os.path.join(aside, "segment=2"))
    meta = os.path.join(aside, "promoted.json")
    with open(meta) as f:
        info = json.load(f)
    info["segments"].append("segment=2")
    with open(meta, "w") as f:
        json.dump(info, f)
    with pytest.raises(ValueError, match="does not match") as err:
        verify_and_reap(spark, root)
    assert aside in str(err.value)
    assert os.listdir(aside_root) == [first]


def test_promote_torn_pairing_keeps_aside(spark, tmp_path, monkeypatch):
    """A promote killed inside its promoted.json write leaves no pairing
    file (write_marker commits by rename): the next verify_and_reap does
    not fail to parse a partial file, and keeps the unpaired aside dir."""
    from helpers import tear_json_dump

    from mapbox_vector_tile_java_spark.streaming.incremental import (
        verify_and_reap)

    root = str(tmp_path / "tbl")
    src = webtext_df(spark, 300, seed=4, partitions=2)
    for k in range(2):
        encode_webtext(src.where(F.pmod(F.xxhash64("url"), F.lit(2)) == k),
                       os.path.join(root, f"segment={k}"), n_parts=1)
    dst = str(tmp_path / "compacted")
    compact_segments(spark, root, dst, n_parts=1)
    with monkeypatch.context() as m:
        tear_json_dump(m, "compacted")
        with pytest.raises(OSError, match="mid-write"):
            promote_compacted(root, dst)
    aside_root = os.path.join(root, ".pre_compact")
    (aside,) = os.listdir(aside_root)
    assert not os.path.exists(os.path.join(aside_root, aside, "promoted.json"))
    assert verify_and_reap(spark, root) == []
    assert {"segment=0", "segment=1"} <= set(
        os.listdir(os.path.join(aside_root, aside)))
    assert _rows(decode_segments(spark, root)) == _rows(src)


def test_content_fingerprint_binds_values_to_rows(spark):
    """Two values swapped between rows of one column change the
    fingerprint: a sum of per-column hashes would factorize per column and
    miss the swap."""
    from mapbox_vector_tile_java_spark.streaming.incremental import (
        content_fingerprint)

    a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b = spark.createDataFrame([(1, "b"), (2, "a")], "k long, v string")
    assert content_fingerprint(a)[0] == content_fingerprint(b)[0] == 2
    assert content_fingerprint(a) != content_fingerprint(b)


def test_verify_and_reap_catches_swapped_values(spark, tmp_path):
    """A compacted segment re-encoded from its own rows with two text values
    swapped between rows keeps every column's multiset of values;
    verify_and_reap must still refuse to reap its sources."""
    import shutil

    from mapbox_vector_tile_java_spark.streaming.incremental import (
        verify_and_reap)

    root = str(tmp_path / "tbl")
    src = webtext_df(spark, 300, seed=13, partitions=2)
    for k in range(2):
        encode_webtext(src.where(F.pmod(F.xxhash64("url"), F.lit(2)) == k),
                       os.path.join(root, f"segment={k}"), n_parts=2)
    dst = str(tmp_path / "compacted")
    compact_segments(spark, root, dst, n_parts=2)
    comp = promote_compacted(root, dst)
    rows = decode_table(spark, comp)
    (u1, t1), (u2, t2) = [
        (r["url"], r["text"]) for r in rows.where(F.length("text") > 0)
        .orderBy("url").limit(2).collect()]
    assert t1 != t2
    swapped = rows.withColumn(
        "text", F.when(F.col("url") == u1, F.lit(t2))
        .when(F.col("url") == u2, F.lit(t1)).otherwise(F.col("text")))
    redo = str(tmp_path / "swapped")
    encode_webtext(swapped, redo, n_parts=2)
    shutil.rmtree(comp)
    shutil.move(redo, comp)
    aside_root = os.path.join(root, ".pre_compact")
    (aside,) = os.listdir(aside_root)
    with pytest.raises(ValueError, match="does not match"):
        verify_and_reap(spark, root)
    assert os.path.isdir(os.path.join(aside_root, aside))  # kept for recovery


def test_promote_refuses_missing_snapshot_segment(spark, segmented, tmp_path):
    """Promote raises (rather than silently dropping data) when a snapshot
    segment vanished between compact and promote."""
    import shutil

    root, _ = segmented
    dst = str(tmp_path / "compacted4")
    compact_segments(spark, root, dst, n_parts=4)
    victim = list_segments(root)[0]
    moved = str(tmp_path / "stash")
    shutil.move(victim, moved)
    try:
        with pytest.raises(FileNotFoundError):
            promote_compacted(root, dst)
    finally:
        shutil.move(moved, victim)


def test_meta_column_stats_exact(spark, tmp_path):
    """Metadata-only aggregates equal the same aggregates computed on the
    decoded data — and on the source."""
    src = webtext_df(spark, 800, seed=7, partitions=4)
    enc = str(tmp_path / "enc")
    encode_webtext(src, enc, n_parts=4)
    got = {r["name"]: r for r in meta_column_stats(spark, enc).collect()}
    exp = src.agg(
        F.count("*").alias("n"),
        F.sum(F.col("html").isNull().cast("long")).alias("html_nulls"),
        F.sum(F.col("text").isNull().cast("long")).alias("text_nulls"),
        F.sum(F.col("lang").isNull().cast("long")).alias("lang_nulls"),
        F.min(F.unix_micros("warc_ts")).alias("ts_min"),
        F.max(F.unix_micros("warc_ts")).alias("ts_max")).first()
    assert set(got) == {"url", "warc_ts", "html", "text", "lang"}
    for name in got:
        assert got[name]["n_rows"] == exp["n"]
    assert got["html"]["null_count"] == exp["html_nulls"]
    assert got["text"]["null_count"] == exp["text_nulls"]
    assert got["lang"]["null_count"] == exp["lang_nulls"]
    assert got["url"]["null_count"] == 0
    assert got["warc_ts"]["min_i64"] == exp["ts_min"]
    assert got["warc_ts"]["max_i64"] == exp["ts_max"]
    # bytes-like columns carry no zone map
    assert got["url"]["min_i64"] is None and got["text"]["max_i64"] is None


def test_meta_column_stats_sorts_without_range_jobs(spark, tmp_path):
    """The one-row-per-column stats are sorted in one partition: no
    range-partitioning jobs, at most 3 jobs for the whole collect."""
    enc = str(tmp_path / "enc")
    encode_webtext(webtext_df(spark, 400, seed=3, partitions=2), enc,
                   n_parts=2)
    sc = spark.sparkContext
    sc.setJobGroup("meta_stats_jobs", "meta_stats_jobs")
    try:
        names = [r["name"] for r in meta_column_stats(spark, enc).collect()]
    finally:
        sc._jsc.clearJobGroup()
    assert names == sorted(["url", "warc_ts", "html", "text", "lang"])
    assert len(sc.statusTracker().getJobIdsForGroup("meta_stats_jobs")) <= 3
