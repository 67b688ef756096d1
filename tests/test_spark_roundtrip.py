"""End-to-end Spark round-trip tests: encode -> decode -> bit-identity.

The engine-level mirror of the reference's build->encode->load->assertEquals
round trips (MvtBuildTest.java:141-308, MvtEncoderTest.java:33-53).
"""

from __future__ import annotations

import glob
import os

import pytest

from mapbox_vector_tile_java_spark.operators.decode import (
    compression_report,
    decode_table,
    read_manifest,
)
from mapbox_vector_tile_java_spark.operators.encode import (
    encode_batch,
    encode_table,
    encode_webtext,
)
from mapbox_vector_tile_java_spark.operators.verify import verify_roundtrip
from mapbox_vector_tile_java_spark.plans import codec_plan
from mapbox_vector_tile_java_spark.plans.partitioning import plan_generic, plan_webtext
from mapbox_vector_tile_java_spark.sources.webtext import webtext_df

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def webtext_encoded(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "webtext")
    encode_webtext(webtext_df(spark, 20_000, seed=42, partitions=4), out,
                   n_parts=8)
    return out


def test_webtext_roundtrip_bit_identical(spark, webtext_encoded):
    src = webtext_df(spark, 20_000, seed=42, partitions=4)
    dec = decode_table(spark, webtext_encoded)
    report = verify_roundtrip(src, dec)
    assert report["n_source"] == 20_000


def test_webtext_codec_choices(spark, webtext_encoded):
    m = read_manifest(spark, webtext_encoded).toPandas()
    by_col = {n: set(g["codec"]) for n, g in m.groupby("name")}
    assert by_col["lang"] == {"dict_global"}
    assert by_col["warc_ts"] <= {"for_delta", "for_bitpack", "rle_int"}
    # text is wordy: the planner should pick a string codec, not raw
    assert by_col["text"] <= {"tok_dict", "fsst", "fsst_global"}, by_col["text"]


def test_webtext_compression_beats_raw(spark, webtext_encoded):
    rep = {r["name"]: r for r in compression_report(spark, webtext_encoded).collect()}
    assert rep["text"]["ratio"] > 2.0, rep["text"]
    assert rep["lang"]["ratio"] > 5.0, rep["lang"]
    assert rep["warc_ts"]["ratio"] > 1.5, rep["warc_ts"]
    assert rep["url"]["ratio"] > 1.5, rep["url"]


def test_column_pruned_decode(spark, webtext_encoded):
    dec = decode_table(spark, webtext_encoded, columns=["url", "lang"])
    assert dec.columns == ["url", "lang"]
    assert dec.count() == 20_000


def test_engine_reads_pass_known_schemas(spark, webtext_encoded):
    """read_manifest and decode_table hand parquet the schema the engine
    wrote: building them runs no footer-inference job, and the schemas
    equal the ones inference finds."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from mapbox_vector_tile_java_spark.plans import manifest as M

    sc = spark.sparkContext
    sc.setJobGroup("known_schemas", "known_schemas")
    try:
        m = read_manifest(spark, webtext_encoded)
        dec = decode_table(spark, webtext_encoded)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("known_schemas")) == 0
    path = os.path.join(webtext_encoded, "manifest.parquet")
    assert m.schema == spark.read.parquet(path).schema
    blocks = sorted(glob.glob(os.path.join(M.blocks_dir(webtext_encoded),
                                           "*.parquet")))
    schema, _, _ = M.read_meta(webtext_encoded)
    assert (from_arrow_schema(M.block_schema(schema))
            == spark.read.parquet(*blocks).schema)
    assert dec.schema.names == schema.names


def test_zone_map_pruning(spark, tmp_path):
    # encode with time-bucketed partitions so block zone maps are disjoint
    from pyspark.sql import functions as F

    df = webtext_df(spark, 10_000, seed=42, partitions=4)
    out = str(tmp_path / "zoned")
    pdf = (df.repartition(4, F.floor(F.unix_micros("warc_ts") / (737 * 2600)))
             .sortWithinPartitions("warc_ts"))
    encode_table(pdf, out)
    lo = 1_600_000_000_000_000
    hi = lo + 737 * 2000  # first ~2000 rows by construction
    pruned = decode_table(spark, out, zone_filters=[("warc_ts", lo, hi)])
    n = pruned.count()
    assert 0 < n < 10_000, n
    # disjoint range prunes everything
    assert decode_table(spark, out, zone_filters=[("warc_ts", 0, 10)]).count() == 0


def test_zone_maps_only_for_order_preserving_ints(spark, tmp_path):
    """Zone-map min/max are exact for int64 and NULL for uint64 and
    floats, whose int64 views do not preserve order."""
    import pyarrow as pa
    from pyspark.sql import Row

    from mapbox_vector_tile_java_spark.operators.decode import meta_column_stats

    batch = pa.RecordBatch.from_pydict({
        "i": pa.array([3, -7, None, 12], pa.int64()),
        "u": pa.array([1, 2**63 + 5, 2, None], pa.uint64()),
        "f": pa.array([-1.0, -2.0, 3.5, None], pa.float64()),
    })
    block, rows = encode_batch(batch, 0, 0, {})
    got = {r["name"]: (r["min_i64"], r["max_i64"]) for r in rows}
    assert got == {"i": (-7, 12), "u": (None, None), "f": (None, None)}
    assert (block["mn_i"], block["mx_i"]) == (-7, 12)
    assert block["mn_u"] is block["mx_u"] is block["mn_f"] is block["mx_f"] is None

    # the same values through Spark and the metadata-only aggregate
    src = spark.createDataFrame([Row(k=k, f=f) for k, f in
                                 [(3, -1.0), (-7, -2.0), (12, 3.5)]])
    out = str(tmp_path / "zm")
    encode_table(plan_generic(src, 2, "k"), out)
    stats = {r["name"]: (r["min_i64"], r["max_i64"])
             for r in meta_column_stats(spark, out).collect()}
    assert stats == {"k": (-7, 12), "f": (None, None)}


@pytest.mark.parametrize("table,key", [
    ("documents", "doc_id"),
    ("events", "event_id"),
    ("lineitem", "l_orderkey"),
    ("embeddings", "vec_id"),
    ("orders", "o_orderkey"),
])
def test_testdata_roundtrip(spark, tmp_path, table, key):
    src = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
    out = str(tmp_path / table)
    encode_table(plan_generic(src, 4, key), out)
    dec = decode_table(spark, out)
    verify_roundtrip(src, dec)


def test_resume_skips_committed_partitions(spark, tmp_path):
    out = str(tmp_path / "resume")
    df = webtext_df(spark, 5_000, seed=7, partitions=2)
    encode_webtext(df, out, n_parts=4)
    files = sorted(glob.glob(os.path.join(out, "blocks", "*.parquet")))
    mtimes = {f: os.path.getmtime(f) for f in files}
    # simulate a torn partition: remove one data file (its marker goes stale)
    os.remove(files[0])
    encode_webtext(df, out, n_parts=4)  # resume run
    files2 = sorted(glob.glob(os.path.join(out, "blocks", "*.parquet")))
    assert files2 == files
    for f in files[1:]:
        assert os.path.getmtime(f) == mtimes[f], "committed partition was rewritten"
    # and output still decodes bit-identically
    verify_roundtrip(webtext_df(spark, 5_000, seed=7, partitions=2),
                     decode_table(spark, out))


def test_nulls_and_empties_survive(spark, tmp_path):
    """FIXTURES.md rt_nulls / rt_duplicates: null vs empty distinct; adjacent
    duplicates preserved (reference drops them, JtsAdapter.java:405,488 —
    we must not)."""
    from pyspark.sql import Row

    rows = [
        Row(k=1, s="", b=b"", note="empty"),
        Row(k=2, s=None, b=None, note="null"),
        Row(k=3, s="dup", b=b"x", note="dup"),
        Row(k=4, s="dup", b=b"x", note="dup"),
        Row(k=5, s="dup", b=b"x", note="dup"),
    ]
    src = spark.createDataFrame(rows)
    out = str(tmp_path / "nulls")
    encode_table(plan_generic(src, 2, "k"), out)
    verify_roundtrip(src, decode_table(spark, out))


def test_encode_reproducible_across_runs(spark, tmp_path):
    """Two independent fresh encodes of the same input produce identical
    manifests (codecs, byte counts, checksums) — the determinism rule that
    makes checksums and resume meaningful (SURVEY §4)."""
    df = webtext_df(spark, 4_000, seed=42, partitions=4)
    outs = []
    for run in ("a", "b"):
        out = str(tmp_path / f"rep_{run}")
        encode_webtext(df, out, n_parts=4)
        m = (read_manifest(spark, out)
             .select("part_id", "block_id", "name", "codec", "n_rows",
                     "raw_bytes", "enc_bytes", "content_crc", "symtab_id")
             .orderBy("part_id", "block_id", "name").collect())
        outs.append([tuple(r) for r in m])
    assert outs[0] == outs[1]


def test_empty_and_single_row_tables(spark, tmp_path):
    """Zero-row input produces a decodable empty table (the encode job has
    no tasks, so no block files exist); one row round-trips."""
    empty = webtext_df(spark, 0, seed=1, partitions=2)
    out_e = str(tmp_path / "empty")
    encode_webtext(empty, out_e, n_parts=2)
    dec = decode_table(spark, out_e)
    assert dec.count() == 0
    assert dec.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert decode_table(spark, out_e, columns=["lang"]).count() == 0

    one = webtext_df(spark, 1, seed=1, partitions=2)
    out_1 = str(tmp_path / "one")
    encode_webtext(one, out_1, n_parts=2)
    verify_roundtrip(one, decode_table(spark, out_1))


def test_all_bytes_overridden_runs_no_sampling_job(spark, tmp_path, monkeypatch):
    """Planning samples only for bytes columns without an override: with
    every one overridden, encode_table starts no sampling job."""
    def no_sample(df):
        raise AssertionError("collect_sample ran")

    monkeypatch.setattr(codec_plan, "collect_sample", no_sample)
    bytes_cols = ("url", "html", "text", "lang")
    src = webtext_df(spark, 2_000, seed=3, partitions=2)
    out = str(tmp_path / "overridden")
    encode_table(plan_webtext(src, 4, hot_hosts={}), out,
                 codec_overrides={c: ("dict_bytes", None) for c in bytes_cols})
    verify_roundtrip(src, decode_table(spark, out))
    pairs = read_manifest(spark, out).select("name", "codec").distinct().collect()
    assert {r["codec"] for r in pairs if r["name"] in bytes_cols} == {"dict_bytes"}


def test_salted_layout_emits_no_future_warning(spark):
    """plan_webtext indexes its hot-host salt map with ``map[host]``;
    ``getItem`` with a Column key is deprecated and warned on every salted
    encode."""
    import warnings

    src = webtext_df(spark, 100, seed=3, partitions=1)
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        plan_webtext(src, 2, hot_hosts={"example.com": 4})


def test_global_codec_override_rejected(spark, tmp_path):
    """Global codecs need planner-persisted symbol tables; a caller
    override naming one is refused before anything is written."""
    src = webtext_df(spark, 100, seed=3, partitions=1)
    out = str(tmp_path / "global_override")
    with pytest.raises(ValueError, match="dict_global"):
        encode_table(plan_webtext(src, 2, hot_hosts={}), out,
                     codec_overrides={"lang": ("dict_global", {
                         "symbols": [b"en"], "symtab_id": 0})})
    assert not os.path.exists(out)
