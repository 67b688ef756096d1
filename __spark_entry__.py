"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes every implemented operator (SURVEY.md §2 + the
training-data pipeline ops); oracle_sql() gives the exact DuckDB equivalent
where ANSI-SQL can express it. Column names and rounding are aligned on both
sides so the driver's order-insensitive value-hash comparison is exact.

Float policy: all floating aggregates/similarities are computed in double
with left-to-right folds and rounded to 6 (or 2/4 for large sums) decimals
on BOTH sides. Timestamps cross the oracle boundary as epoch micros.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mapbox_vector_tile_java_spark.operators import dedup as D
from mapbox_vector_tile_java_spark.operators import similarity as S
from mapbox_vector_tile_java_spark.operators import textstats as T
from mapbox_vector_tile_java_spark.operators.decode import decode_table, read_manifest
from mapbox_vector_tile_java_spark.operators.encode import encode_table, encode_webtext
from mapbox_vector_tile_java_spark.operators.multimodal import (
    decode_media_meta,
    synth_media_df,
)
from mapbox_vector_tile_java_spark.plans.partitioning import plan_generic
from mapbox_vector_tile_java_spark.sources.webtext import webtext_df

_T = lambda sf_dir, name: f"{sf_dir}/{name}.parquet"

# Oracle fixtures: parquet tables written by oracle_sql() (the driver calls
# it before executing any oracle SQL) that let DuckDB check queries whose
# inputs are synthesized at runtime (webtext/streaming/media) or whose
# intermediate representation (fingerprints/signatures) has no ANSI-SQL
# construction. The kernel-derived fixtures are computed at the driver's
# correctness-gate scale (sf0.01).
FIXTURE_DIR = "/tmp/mvt_oracle_fixtures"
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def _read(spark, sf_dir, name):
    return spark.read.parquet(_T(sf_dir, name))


_IVF_CACHE: dict[str, str] = {}


def _ivf_dir(sf_dir: str) -> str:
    """Write-once IVF index dir per sf_dir, shared by the ANN queries. A
    dedup ``temp_dir``, so ``cleanup_temp_dirs`` reclaims it; ``ivf_topk``
    rebuilds on a missing marker, so an early cleanup self-heals."""
    if sf_dir not in _IVF_CACHE:
        _IVF_CACHE[sf_dir] = D.temp_dir("mvt_ivf_idx_")
    return _IVF_CACHE[sf_dir]


_GRAM_CACHE: dict[str, str] = {}
_MINHASH_IDX_CACHE: dict[str, str] = {}


def _minhash_idx_dir(sf_dir: str) -> str:
    """Write-once minhash signature index dir for the incremental-dedup
    query (same per-sf_dir cache discipline as the IVF index). A dedup
    ``temp_dir``; the query rebuilds on a missing marker, so an early
    cleanup self-heals."""
    if sf_dir not in _MINHASH_IDX_CACHE:
        _MINHASH_IDX_CACHE[sf_dir] = D.temp_dir("mvt_mh_idx_")
    return _MINHASH_IDX_CACHE[sf_dir]


def _gram_dir(sf_dir: str) -> str:
    """Shared gram-block dir for the verified dedup routes: both
    ngram_jaccard_lsh and ngram_jaccard_winnow verify against the SAME
    packed gram blocks over documents.text (k=3), so whichever runs
    first materializes the stage and the other reuses it (the
    ``build_gram_records`` marker protocol). Same write-once/read-many
    discipline as the IVF index dir above; a dedup ``temp_dir``."""
    if sf_dir not in _GRAM_CACHE:
        _GRAM_CACHE[sf_dir] = D.temp_dir("mvt_gramshare_")
    return _GRAM_CACHE[sf_dir]


def _write_oracle_fixtures() -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapbox_vector_tile_java_spark.operators.dedup import (
        signature_batch, simhash_batch, text_batches)
    from mapbox_vector_tile_java_spark.operators.multimodal import (
        KINDS, synth_media_batch)
    from mapbox_vector_tile_java_spark.sources.webtext import SCHEMA, gen_batch

    os.makedirs(FIXTURE_DIR, exist_ok=True)

    # 1/2: the synthetic webtext tables the roundtrip queries rebuild — an
    # independent pure-pyarrow materialization of the same deterministic
    # generator, so encode->decode must reproduce it bit-for-bit
    for name, n in [("webtext5000", 5000), ("stream2000", 2000)]:
        t = pa.Table.from_batches(
            [gen_batch(np.arange(n, dtype=np.int64), seed=42)], schema=SCHEMA)
        pq.write_table(t, f"{FIXTURE_DIR}/{name}.parquet")
    # spread-id stream (ids * 4887 -> ~2h event-time span) for the
    # windowed/stateful streaming oracles
    t = pa.Table.from_batches(
        [gen_batch(np.arange(2000, dtype=np.int64) * 4887, seed=42)],
        schema=SCHEMA)
    pq.write_table(t, f"{FIXTURE_DIR}/stream_spread2000.parquet")

    # 3/4: simhash fingerprints + minhash signatures of the sf0.01 documents
    # (the Spark stages' own batch reader and builders — the *join/banding
    # logic* is what DuckDB independently verifies; the kernels themselves
    # are checked against plain-python references by pytest unit tests)
    docs = list(text_batches(pq.read_table(
        f"{ORACLE_SF_DIR}/documents.parquet",
        columns=["doc_id", "text"]).to_batches()))
    pq.write_table(pa.Table.from_batches(
        [simhash_batch(*d, shingle_k=4) for d in docs]),
        f"{FIXTURE_DIR}/simhash_fp.parquet")
    pq.write_table(pa.Table.from_batches(
        [signature_batch(*d, num_perm=64, shingle_k=5, seed=42) for d in docs]),
        f"{FIXTURE_DIR}/minhash_sig.parquet")

    # 5: expected media metadata via an INDEPENDENT plain-python header
    # parser (row loop + struct.unpack) — the reference implementation the
    # vectorized kernel must agree with, golden-file style
    import struct

    media = synth_media_batch(np.arange(2000, dtype=np.int64), seed=42)
    rows = []
    for mid, blob in zip(media.column(0).to_pylist(), media.column(1).to_pylist()):
        if blob is not None and len(blob) >= 11:
            kind_b = blob[4]
            w, h, fr = struct.unpack("<HHH", blob[5:11])
            payload = blob[11:]
            mean = sum(payload) // len(payload) if payload else 0
            rows.append((mid, KINDS[kind_b] if kind_b < 3 else None,
                         w, h, fr, len(payload), mean))
        else:
            rows.append((mid, None, 0, 0, 0, 0, 0))
    # 5b: SRP fingerprints of the sf0.01 embeddings (same numpy kernel as
    # the Spark stage; DuckDB independently recomputes banding, candidate
    # generation and the exact-cosine verify)
    from mapbox_vector_tile_java_spark.operators.dedup import srp_kernel

    emb0 = pq.read_table(f"{ORACLE_SF_DIR}/embeddings.parquet",
                         columns=["vec_id", "embedding"]).drop_null()
    V0 = np.array(emb0.column("embedding").to_pylist(), dtype=np.float64)
    srp = srp_kernel(V0, seed=42).view(np.int64)
    pq.write_table(
        pa.table({"id": pa.array(
                      emb0.column("vec_id").to_numpy(zero_copy_only=False),
                      type=pa.int64()),
                  "simhash": pa.array(srp, type=pa.int64())}),
        f"{FIXTURE_DIR}/srp_fp.parquet")

    # 6: IVF centroids + bucket assignments over the sf0.01 embeddings via
    # the same deterministic numpy core as the Spark index build (stride=1
    # at gate scale, so the Spark sample == all rows sorted by id); DuckDB
    # independently reproduces probe selection, candidate pruning, scoring
    # and ranking from these tables
    from mapbox_vector_tile_java_spark.operators import similarity as SIM

    emb = pq.read_table(f"{ORACLE_SF_DIR}/embeddings.parquet",
                        columns=["vec_id", "embedding"])
    emb = emb.sort_by("vec_id").drop_null()
    vids = emb.column("vec_id").to_numpy(zero_copy_only=False)
    V = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    assert len(V) <= 16384, "gate-scale assumption (sample stride == 1) broken"
    C = SIM.train_centroids(V, n_centroids=256, n_iters=12, seed=42)
    buckets = SIM.assign_buckets(V, C)
    pq.write_table(
        pa.table({"cid": pa.array(np.arange(len(C), dtype=np.int32)),
                  "cv": pa.array([list(map(float, c)) for c in C],
                                 type=pa.list_(pa.float64()))}),
        f"{FIXTURE_DIR}/ivf_centroids.parquet")
    pq.write_table(
        pa.table({"nid": pa.array(vids, type=pa.int64()),
                  "bucket": pa.array(buckets, type=pa.int32())}),
        f"{FIXTURE_DIR}/ivf_assign.parquet")

    exp = pa.table({
        "media_id": pa.array([r[0] for r in rows], type=pa.int64()),
        "kind": pa.array([r[1] for r in rows], type=pa.string()),
        "width": pa.array([r[2] for r in rows], type=pa.int32()),
        "height": pa.array([r[3] for r in rows], type=pa.int32()),
        "frames": pa.array([r[4] for r in rows], type=pa.int32()),
        "payload_bytes": pa.array([r[5] for r in rows], type=pa.int64()),
        "mean_byte": pa.array([r[6] for r in rows], type=pa.int32()),
    })
    pq.write_table(exp, f"{FIXTURE_DIR}/media_expected.parquet")

    # 5c: expected media features via an independent per-row histogram loop
    # (same dtype discipline as the batched kernel: int64 counts divided by
    # a float32 denominator, stored float32; rounding mirrors Spark's
    # BigDecimal HALF_UP exactly via the decimal module)
    from decimal import ROUND_HALF_UP, Decimal

    dim = 16
    q6 = Decimal("0.000001")
    frows = []
    for mid, blob in zip(media.column(0).to_pylist(), media.column(1).to_pylist()):
        hist = np.zeros(dim, dtype=np.int64)
        for byte in (blob or b""):
            hist[byte % dim] += 1
        denom = np.float32(max(len(blob or b""), 1))
        feat = (hist / denom).astype(np.float32)
        for pos in range(dim):
            r6 = float(Decimal(float(feat[pos])).quantize(q6, ROUND_HALF_UP))
            frows.append((mid, pos, r6))
    fexp = pa.table({
        "media_id": pa.array([r[0] for r in frows], type=pa.int64()),
        "pos": pa.array([r[1] for r in frows], type=pa.int32()),
        "fv_r": pa.array([r[2] for r in frows], type=pa.float64()),
    })
    pq.write_table(fexp, f"{FIXTURE_DIR}/media_features_expected.parquet")


def _roundtrip(spark, sf_dir, table, key, cast_ts: list[str] = ()):
    """Encode a testdata table with the codec engine, decode it back, and
    return the decoded rows — the oracle is a plain SELECT of the source, so
    the driver's value-hash compare IS the bit-identity gate."""
    src = _read(spark, sf_dir, table)
    out = tempfile.mkdtemp(prefix=f"mvt_rt_{table}_")
    encode_table(plan_generic(src, 4, key), os.path.join(out, table), n_parts=4)
    dec = decode_table(spark, os.path.join(out, table))
    cols = [F.unix_micros(F.col(c).cast("timestamp")).alias(f"{c}_us")
            if c in cast_ts else F.col(c) for c in src.columns]
    return dec.select(*cols)


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize the Common-Crawl-style webtext table, run the
    full codec pipeline (partition plan -> encode -> decode), return the
    decoded DataFrame (driver checks rows>0 + stable schema)."""
    df = webtext_df(spark, 2_000, seed=42, partitions=4)
    out = tempfile.mkdtemp(prefix="mvt_entry_")
    encode_webtext(df, os.path.join(out, "webtext"), n_parts=4)
    return decode_table(spark, os.path.join(out, "webtext"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # -- codec engine round-trips (oracle = SELECT source -> bit-identity gate)
    q["roundtrip_documents"] = lambda s, d: _roundtrip(s, d, "documents", "doc_id")
    q["roundtrip_events"] = lambda s, d: _roundtrip(s, d, "events", "event_id", ["ts"])
    q["roundtrip_lineitem"] = lambda s, d: _roundtrip(s, d, "lineitem", "l_orderkey", ["l_shipdate"])
    def _rt_embeddings(s, d):
        # decode runs the full list<float> codec path; the bare array<float>
        # column is not hashable by the driver's canonicalizer, so both sides
        # posexplode to scalar rows — every component still crosses the
        # encode/decode boundary, keeping this the flagship list round-trip
        dec = _roundtrip(s, d, "embeddings", "vec_id")
        return (dec.select("vec_id", "label",
                           F.posexplode("embedding").alias("pos", "component"))
                   .select("vec_id", "label", "pos",
                           F.col("component").cast("double").alias("comp_d")))
    q["roundtrip_embeddings"] = _rt_embeddings
    q["roundtrip_orders"] = lambda s, d: _roundtrip(s, d, "orders", "o_orderkey", ["o_orderdate"])

    def _rt_struct(s, d):
        # nested struct + map columns through the full codec path (SURVEY
        # §2 A11/A12 generalization: the reference's Value oneof as
        # arbitrary nesting); decoded fields are projected back to scalars
        # so the oracle is a plain SELECT of the source columns
        src = (_read(s, d, "documents")
               .select("doc_id",
                       F.struct(F.col("lang"), F.col("source"),
                                F.col("n_chars")).alias("meta"),
                       F.create_map(F.lit("lang"), F.col("lang"),
                                    F.lit("src"), F.col("source")).alias("tags")))
        out = tempfile.mkdtemp(prefix="mvt_rt_struct_")
        encode_table(plan_generic(src, 4, "doc_id"), os.path.join(out, "t"), n_parts=4)
        dec = decode_table(s, os.path.join(out, "t"))
        return dec.select(
            "doc_id",
            F.col("meta.lang").alias("meta_lang"),
            F.col("meta.source").alias("meta_source"),
            F.col("meta.n_chars").alias("meta_chars"),
            F.col("tags").getItem("lang").alias("tag_lang"),
            F.col("tags").getItem("src").alias("tag_src"))
    q["roundtrip_struct_props"] = _rt_struct

    def _rt_decimal(s, d):
        # decimal128 columns through the codec path (lo/hi int64 planes —
        # the hi plane is sign extension and compresses to ~nothing);
        # output as integer cents so the compare is integer-exact
        src = (_read(s, d, "lineitem")
               .select("l_orderkey", "l_linenumber",
                       F.col("l_extendedprice").cast("decimal(12,2)").alias("price_d"),
                       F.col("l_discount").cast("decimal(4,2)").alias("disc_d")))
        out = tempfile.mkdtemp(prefix="mvt_rt_dec_")
        encode_table(plan_generic(src, 4, "l_orderkey"), os.path.join(out, "t"), n_parts=4)
        dec = decode_table(s, os.path.join(out, "t"))
        return dec.select(
            "l_orderkey", "l_linenumber",
            (F.col("price_d") * 100).cast("long").alias("price_cents"),
            (F.col("disc_d") * 100).cast("long").alias("disc_cents"))
    q["roundtrip_decimal"] = _rt_decimal

    # -- codec engine introspection. Self-consistency oracle: the encode
    # lands at a FIXED path under FIXTURE_DIR, and DuckDB recomputes the
    # per-column aggregation from the very manifest.parquet the engine
    # aggregated — the engine's distributed groupBy is what's checked
    # (a wrong manifest write, a dropped block, or a bad agg all diverge).
    def _compression_stats(s, d):
        import shutil

        src = _read(s, d, "documents")
        out = os.path.join(FIXTURE_DIR, "cmpstats")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        encode_table(plan_generic(src, 4, "doc_id"), os.path.join(out, "t"),
                     n_parts=4, resume=False)
        m = read_manifest(s, os.path.join(out, "t"))
        return (m.groupBy("name").agg(
                    F.sum("raw_bytes").alias("raw_bytes"),
                    F.sum("enc_bytes").alias("enc_bytes"),
                    F.count("*").alias("n_blocks"))
                 .orderBy("name"))
    q["compression_stats_documents"] = _compression_stats

    def _webtext_roundtrip(s, d):
        df = webtext_df(s, 5_000, seed=42, partitions=4)
        out = tempfile.mkdtemp(prefix="mvt_wt_")
        encode_webtext(df, os.path.join(out, "w"), n_parts=4)
        dec = decode_table(s, os.path.join(out, "w"))
        return dec.select("url", F.unix_micros("warc_ts").alias("warc_ts_us"),
                          F.length("html").alias("html_len"), "text", "lang")
    q["webtext_roundtrip"] = _webtext_roundtrip

    # -- relational plane (SURVEY §2.B/C analogs)
    q["q1_pricing_summary"] = lambda s, d: (
        _read(s, d, "lineitem")
        .where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
             F.count("*").alias("count_order"))
        .orderBy("l_returnflag", "l_linestatus"))

    q["stats_lang_hist"] = lambda s, d: (
        _read(s, d, "documents").groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"))
        .orderBy("lang"))

    q["filter_project_events"] = lambda s, d: (
        _read(s, d, "events")
        .where((F.col("event_type") == "click") & (F.col("value") > 50.0))
        .select("event_id", "user_id", F.round("value", 6).alias("value_r")))

    def _window_user_deltas(s, d):
        from pyspark.sql.window import Window

        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
        w = Window.partitionBy("user_id").orderBy(ts_us, "event_id")
        return (_read(s, d, "events")
                .withColumn("prev_ts", F.lag(ts_us).over(w))
                .where(F.col("prev_ts").isNotNull())
                .groupBy("user_id")
                .agg(F.count("*").alias("n_deltas"),
                     F.round(F.avg(ts_us - F.col("prev_ts")), 2).alias("avg_delta_us")))
    q["window_user_deltas"] = _window_user_deltas

    q["join_orders_customers"] = lambda s, d: (
        _read(s, d, "orders").join(
            F.broadcast(_read(s, d, "customer")),
            F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy("c_mktsegment"))

    q["topk_longest_docs"] = lambda s, d: (
        _read(s, d, "documents")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .select("doc_id", "n_chars").limit(10))

    q["setop_except_ranges"] = lambda s, d: (
        _read(s, d, "documents").where(F.col("n_chars") > 100).select("doc_id")
        .exceptAll(_read(s, d, "documents").where(F.col("n_chars") > 200).select("doc_id")))

    q["agg_source_stats"] = lambda s, d: (
        _read(s, d, "documents").groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"))
        .orderBy("source"))

    def _zonemap_pruned_scan(s, d):
        # encode events partitioned by time bucket -> disjoint zone maps ->
        # decode with a zone filter + exact row predicate; oracle is the
        # plain SQL filter on the source, so the value-hash compare proves
        # pruning dropped no rows (SURVEY B4: AABB pre-filter descendant)
        src = _read(s, d, "events")
        out = tempfile.mkdtemp(prefix="mvt_zone_")
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
        pdf = (src.repartition(8, F.floor(ts_us / F.lit(86_400_000_000 * 30)))
                  .sortWithinPartitions("ts"))
        encode_table(pdf, os.path.join(out, "t"), n_parts=8)
        lo, hi = src.agg(F.min(ts_us), F.max(ts_us)).first()
        cut = lo + (hi - lo) // 3
        dec = decode_table(s, os.path.join(out, "t"),
                           zone_filters=[("ts", int(lo), int(cut))])
        dts = F.unix_micros(F.col("ts").cast("timestamp"))
        return (dec.where(dts <= F.lit(int(cut)))
                   .select("event_id", dts.alias("ts_us"), "user_id",
                           "event_type", "value", "props"))
    q["zonemap_pruned_scan"] = _zonemap_pruned_scan

    q["explode_embeddings"] = lambda s, d: (
        _read(s, d, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("pos", "component"))
        .where(F.col("pos") < 4)
        .select("vec_id", "pos", F.round(F.col("component").cast("double"), 6)
                .alias("component_r")))

    def _simplify(s, d):
        # B8 analog: explicit lossy quantize (round + time-trunc) BEFORE the
        # lossless codec path — the size-for-fidelity trade lives in the
        # plan, never inside a codec; the encode/decode round-trip then
        # proves the quantized table itself is preserved bit-identically
        from mapbox_vector_tile_java_spark.operators import transforms as TR

        src = _read(s, d, "events").select("event_id", "ts", "value")
        qt = TR.truncate_timestamps(
            TR.quantize_round(src, {"value": 2}), {"ts": "hour"})
        out = tempfile.mkdtemp(prefix="mvt_simplify_")
        encode_table(plan_generic(qt, 4, "event_id"), os.path.join(out, "t"), n_parts=4)
        dec = decode_table(s, os.path.join(out, "t"))
        return dec.select(
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.col("value").alias("value_q"))
    q["transform_simplify_quantize"] = _simplify

    # -- text analysis
    q["text_token_stats"] = lambda s, d: T.text_stats(
        _read(s, d, "documents"), "text", "doc_id")
    q["text_quality"] = lambda s, d: T.quality_score(
        _read(s, d, "documents"), "text", "doc_id")
    q["text_bpe_tokens"] = lambda s, d: T.bpe_token_stats(
        _read(s, d, "documents"), "text", "doc_id")
    q["lang_id_stopwords"] = lambda s, d: T.lang_id(
        _read(s, d, "documents"), "text", "doc_id")
    q["doc_fingerprints"] = lambda s, d: T.fingerprint(
        _read(s, d, "documents"), "text", "doc_id")
    q["doc_fingerprints_rolling"] = lambda s, d: T.fingerprint_rolling(
        _read(s, d, "documents"), "text", "doc_id")
    q["doc_fingerprints_winnow"] = lambda s, d: T.fingerprint_winnow(
        _read(s, d, "documents"), "text", "doc_id")

    # -- dedup family
    q["dedup_exact"] = lambda s, d: D.exact_dedup(
        _read(s, d, "documents"), "text", "doc_id")
    q["dedup_ngram_jaccard"] = lambda s, d: D.ngram_jaccard_pairs(
        _read(s, d, "documents"), "text", "doc_id", k=3, threshold=0.5)
    q["dedup_minhash_lsh"] = lambda s, d: D.minhash_lsh_pairs(
        _read(s, d, "documents"), "text", "doc_id")
    q["dedup_ngram_lsh_verified"] = lambda s, d: D.ngram_jaccard_lsh(
        _read(s, d, "documents"), "text", "doc_id", k=3, threshold=0.5,
        gram_dir=_gram_dir(d))
    q["dedup_simhash"] = lambda s, d: D.simhash_pairs(
        _read(s, d, "documents"), "text", "doc_id")
    # winnowing-based candidates: the third near-dup route (substring
    # guarantee) and its exact-verified composition
    q["dedup_winnow_candidates"] = lambda s, d: D.winnow_candidate_pairs(
        _read(s, d, "documents"), "text", "doc_id")
    q["dedup_ngram_winnow_verified"] = lambda s, d: D.ngram_jaccard_winnow(
        _read(s, d, "documents"), "text", "doc_id", k=3, threshold=0.5,
        gram_dir=_gram_dir(d))
    # incremental dedup: docs 0..399 play the indexed corpus (persisted
    # signature index, built once per sf_dir), 400+ the new crawl batch;
    # returns verified pairs with >=1 new endpoint
    def _dedup_incremental(s, d):
        corpus = _read(s, d, "documents").where(F.col("doc_id") < 400)
        new = _read(s, d, "documents").where(F.col("doc_id") >= 400)
        idx = _minhash_idx_dir(d)
        if not os.path.exists(os.path.join(idx, D._MINHASH_IDX_MARKER)):
            D.build_minhash_index(corpus, "text", "doc_id", idx)
        return D.dedup_incremental(corpus, new, "text", "doc_id", idx,
                                   gram_dir=_gram_dir(d))
    q["dedup_incremental"] = _dedup_incremental

    # cluster collapse: components of the minhash-LSH pair graph, canonical
    # member = min doc id (the doc a dedup pipeline keeps per cluster)
    q["dedup_components"] = lambda s, d: D.dedup_components(
        D.minhash_lsh_pairs(_read(s, d, "documents"), "text", "doc_id"))

    # the composed cleaning chain: quality gate -> exact dedup -> near-dup
    # collapse; the oracle re-runs the WHOLE chain in SQL
    def _corpus_clean(s, d):
        from mapbox_vector_tile_java_spark.operators.pipeline import (
            corpus_clean)

        return corpus_clean(_read(s, d, "documents"), "text", "doc_id",
                            gram_dir=_gram_dir(d))
    q["pipeline_corpus_clean"] = _corpus_clean

    # same chain on the winnow candidate route (substring-guaranteed
    # recall envelope, docs/RECALL.md) — whole chain recomposed in SQL
    def _corpus_clean_winnow(s, d):
        from mapbox_vector_tile_java_spark.operators.pipeline import (
            corpus_clean)

        return corpus_clean(_read(s, d, "documents"), "text", "doc_id",
                            candidate_route="winnow",
                            gram_dir=_gram_dir(d))
    q["pipeline_corpus_clean_winnow"] = _corpus_clean_winnow
    q["dedup_embedding_cosine"] = lambda s, d: D.embedding_neardup_pairs(
        _read(s, d, "embeddings"), "embedding", "vec_id", threshold=0.35)
    q["dedup_embedding_srp"] = lambda s, d: D.embedding_srp_pairs(
        _read(s, d, "embeddings"), "embedding", "vec_id", threshold=0.35)

    # -- similarity search (ivf: the index is built once per sf_dir and
    # reused across queries — write-once/read-many, never retrained per call)
    q["ann_bruteforce_topk"] = lambda s, d: S.brute_force_topk(
        _read(s, d, "embeddings"), "embedding", "vec_id",
        query_ids=[0, 1, 2, 3, 4], k=10)
    q["ann_ivf_topk"] = lambda s, d: S.ivf_topk(
        _read(s, d, "embeddings"), "embedding", "vec_id",
        query_ids=[0, 1, 2, 3, 4], k=10, n_centroids=256, n_probe=64,
        index_dir=_ivf_dir(d))
    q["ann_ivf_recall"] = lambda s, d: S.ivf_recall(
        _read(s, d, "embeddings"), "embedding", "vec_id",
        query_ids=[0, 1, 2, 3, 4], k=10, n_centroids=256, n_probe=64,
        index_dir=_ivf_dir(d))

    # -- multimodal plumbing (synthetic media, stubbed decode)
    q["media_meta"] = lambda s, d: decode_media_meta(synth_media_df(s, 2_000, seed=42, partitions=4))

    def _media_features(s, d):
        from mapbox_vector_tile_java_spark.operators.multimodal import (
            extract_features)

        feats = extract_features(synth_media_df(s, 2_000, seed=42, partitions=4),
                                 dim=16)
        return (feats.select("media_id",
                             F.posexplode("feature").alias("pos", "fv"))
                     .select("media_id", "pos",
                             F.round(F.col("fv").cast("double"), 6).alias("fv_r")))
    q["media_features"] = _media_features

    def _media_resize(s, d):
        from mapbox_vector_tile_java_spark.operators.multimodal import (
            resize_images)

        return decode_media_meta(resize_images(
            synth_media_df(s, 2_000, seed=42, partitions=4), 128, 96))
    q["media_resize_meta"] = _media_resize

    def _media_frames(s, d):
        from mapbox_vector_tile_java_spark.operators.multimodal import (
            sample_frames)

        return sample_frames(synth_media_df(s, 2_000, seed=42, partitions=4),
                             every_n=4)
    q["media_frame_sample"] = _media_frames

    # -- streaming ingestion (engine-specific -> rows-only check): two
    # micro-batches encode as segments, union-decoded back bit-identically
    def _streaming_ingest(s, d):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        from mapbox_vector_tile_java_spark.sources.webtext import SCHEMA, gen_batch
        from mapbox_vector_tile_java_spark.streaming.incremental import (
            decode_segments, encode_stream)

        root = tempfile.mkdtemp(prefix="mvt_stream_")
        src = os.path.join(root, "in")
        os.makedirs(src)
        for i, (lo, hi) in enumerate([(0, 1000), (1000, 2000)]):
            t = pa.Table.from_batches(
                [gen_batch(np.arange(lo, hi, dtype=np.int64), seed=42)],
                schema=SCHEMA)
            pq.write_table(t, os.path.join(src, f"chunk-{i}.parquet"))
        stream = (s.readStream.schema(from_arrow_schema(SCHEMA))
                  .option("maxFilesPerTrigger", 1).parquet(src))
        qy = encode_stream(stream, os.path.join(root, "out"), n_parts=2,
                           checkpoint_dir=os.path.join(root, "ckpt"))
        try:
            qy.processAllAvailable()
        finally:
            qy.stop()
        dec = decode_segments(s, os.path.join(root, "out"))
        return dec.select("url", F.unix_micros("warc_ts").alias("warc_ts_us"),
                          F.length("html").alias("html_len"), "text", "lang")
    q["streaming_ingest_roundtrip"] = _streaming_ingest

    # -- segment compaction: many small segments -> one re-planned table;
    # the oracle checks CONTENT round-trips through the compaction (the
    # segment structure is an implementation detail, the rows are the
    # contract — MvtBuildTest.java:141-308 discipline)
    def _compaction(s, d):
        from mapbox_vector_tile_java_spark.streaming.incremental import (
            compact_segments)

        root = tempfile.mkdtemp(prefix="mvt_compact_")
        src = webtext_df(s, 2_000, seed=42, partitions=4)
        for k in range(3):
            encode_webtext(
                src.where(F.pmod(F.xxhash64("url"), F.lit(3)) == k),
                os.path.join(root, f"segment={k}"), n_parts=2)
        compact_segments(s, root, os.path.join(root, "c"), n_parts=4)
        dec = decode_table(s, os.path.join(root, "c"))
        return dec.select("url", F.unix_micros("warc_ts").alias("warc_ts_us"),
                          F.length("html").alias("html_len"), "text", "lang")
    q["compaction_roundtrip"] = _compaction

    # -- multi-segment zone-pruned decode: two time-split segments, ONE
    # flat scan (plan depth O(1) in segment count), zone maps prune the
    # late segment's blocks before any decode work; the exact row predicate
    # then makes the result oracle-comparable (pruning is block-level)
    def _segments_pruned(s, d):
        from mapbox_vector_tile_java_spark.streaming.incremental import (
            list_segments)

        root = tempfile.mkdtemp(prefix="mvt_segzone_")
        src = webtext_df(s, 2_000, seed=42, partitions=4)
        us = F.unix_micros("warc_ts")
        # generator ts = 1.6e15 + id*737 + jitter(<500): cut at id ~1000
        cut = 1_600_000_000_000_000 + 737 * 1000
        encode_webtext(src.where(us <= cut),
                       os.path.join(root, "segment=0"), n_parts=2)
        encode_webtext(src.where(us > cut),
                       os.path.join(root, "segment=1"), n_parts=2)
        dec = decode_table(s, list_segments(root),
                           zone_filters=[("warc_ts", 0, cut)])
        return (dec.where(F.unix_micros("warc_ts") <= cut)
                .select("url", F.unix_micros("warc_ts").alias("warc_ts_us"),
                        F.length("html").alias("html_len"), "text", "lang"))
    q["segments_pruned_decode"] = _segments_pruned

    # -- metadata-only aggregates: count/nulls/min/max per column answered
    # from the manifest alone (aggregate pushdown — zero data blocks read)
    def _meta_stats(s, d):
        from mapbox_vector_tile_java_spark.operators.decode import (
            meta_column_stats)

        out = tempfile.mkdtemp(prefix="mvt_meta_")
        encode_webtext(webtext_df(s, 2_000, seed=42, partitions=4),
                       os.path.join(out, "w"), n_parts=4)
        return meta_column_stats(s, os.path.join(out, "w"))
    q["meta_only_stats"] = _meta_stats

    # -- streaming analytics: event-time windowed agg + custom stateful op,
    # both over a deterministic 2-micro-batch file stream with SPREAD row
    # ids (ids * 4887 -> ~2h of event time, so the window agg produces many
    # windows). DuckDB recomputes both from the same generator fixture.
    def _stream_src(s, root):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        from mapbox_vector_tile_java_spark.sources.webtext import SCHEMA, gen_batch

        src = os.path.join(root, "in")
        os.makedirs(src)
        for i, (lo, hi) in enumerate([(0, 1000), (1000, 2000)]):
            ids = np.arange(lo, hi, dtype=np.int64) * 4887
            t = pa.Table.from_batches([gen_batch(ids, seed=42)], schema=SCHEMA)
            p = os.path.join(src, f"chunk-{i}.parquet")
            pq.write_table(t, p)
            # distinct mtimes pin the batch order (the file source orders
            # by modification time; same-second writes would tie)
            os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        return (s.readStream.schema(from_arrow_schema(SCHEMA))
                .option("maxFilesPerTrigger", 1).parquet(src))

    def _streaming_windowed(s, d):
        from mapbox_vector_tile_java_spark.streaming.windowed import (
            windowed_ingest_stats)

        root = tempfile.mkdtemp(prefix="mvt_swin_")
        agg = windowed_ingest_stats(_stream_src(s, root),
                                    window="10 minutes", watermark="30 minutes")
        name = "mvt_win_" + os.path.basename(root).split("_")[-1]
        # complete mode -> every window's final value lands in the sink
        # (append mode would hold back windows the watermark hasn't closed)
        qy = (agg.writeStream.outputMode("complete")
                 .format("memory").queryName(name).start())
        try:
            qy.processAllAvailable()
        finally:
            qy.stop()
        return (s.table(name)
                 .select(F.unix_micros(F.col("window.start")).alias("win_start_us"),
                         "n_docs", "total_bytes", "n_langs"))
    q["streaming_windowed_stats"] = _streaming_windowed

    def _streaming_host_profile(s, d):
        from mapbox_vector_tile_java_spark.streaming.windowed import (
            host_profile_stream)

        root = tempfile.mkdtemp(prefix="mvt_shost_")
        prof = host_profile_stream(_stream_src(s, root))
        out = os.path.join(root, "out")

        def sink(bdf, bid):  # land update-mode emissions per micro-batch
            bdf.write.mode("append").parquet(out)

        qy = (prof.writeStream.outputMode("update").foreachBatch(sink)
                  .option("checkpointLocation", os.path.join(root, "ckpt"))
                  .start())
        try:
            qy.processAllAvailable()
        finally:
            qy.stop()
        # every emission is a row: hosts seen in both batches appear twice,
        # with cumulative (running) totals — exactly what the SQL oracle
        # reconstructs per (host, batch) from the generator fixture
        return s.read.parquet(out)
    q["streaming_host_profile"] = _streaming_host_profile

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    _write_oracle_fixtures()

    wt_cols = ("url, epoch_us(warc_ts) AS warc_ts_us, "
               "octet_length(html) AS html_len, text, lang")
    o["webtext_roundtrip"] = (
        f"SELECT {wt_cols} FROM read_parquet('{FIXTURE_DIR}/webtext5000.parquet')")
    o["streaming_ingest_roundtrip"] = (
        f"SELECT {wt_cols} FROM read_parquet('{FIXTURE_DIR}/stream2000.parquet')")
    # compaction: content in == content out, segment structure is free
    o["compaction_roundtrip"] = (
        f"SELECT {wt_cols} FROM read_parquet('{FIXTURE_DIR}/stream2000.parquet')")
    # zone-pruned multi-segment decode: block pruning must never change the
    # answer, so the oracle is the plain predicate over the same fixture
    o["segments_pruned_decode"] = (
        f"SELECT {wt_cols} FROM read_parquet('{FIXTURE_DIR}/stream2000.parquet') "
        f"WHERE epoch_us(warc_ts) <= {1_600_000_000_000_000 + 737 * 1000}")
    # metadata-only aggregates: DuckDB recomputes the same per-column stats
    # from the raw fixture (timestamps in microsecond ticks, bytes-like
    # columns have no zone map)
    o["meta_only_stats"] = f"""
        WITH f AS (SELECT * FROM read_parquet('{FIXTURE_DIR}/stream2000.parquet'))
        SELECT name, n_rows, null_count, min_i64, max_i64 FROM (
          SELECT 'url' AS name, count(*) AS n_rows,
                 count(*) - count(url) AS null_count,
                 CAST(NULL AS BIGINT) AS min_i64,
                 CAST(NULL AS BIGINT) AS max_i64 FROM f
          UNION ALL
          SELECT 'warc_ts', count(*), count(*) - count(warc_ts),
                 min(epoch_us(warc_ts)), max(epoch_us(warc_ts)) FROM f
          UNION ALL
          SELECT 'html', count(*), count(*) - count(html), NULL, NULL FROM f
          UNION ALL
          SELECT 'text', count(*), count(*) - count(text), NULL, NULL FROM f
          UNION ALL
          SELECT 'lang', count(*), count(*) - count(lang), NULL, NULL FROM f
        ) ORDER BY name
    """

    o["compression_stats_documents"] = f"""
        SELECT name, CAST(sum(raw_bytes) AS BIGINT) AS raw_bytes,
               CAST(sum(enc_bytes) AS BIGINT) AS enc_bytes,
               count(*) AS n_blocks
        FROM read_parquet('{FIXTURE_DIR}/cmpstats/t/manifest.parquet/*.parquet')
        GROUP BY name ORDER BY name"""

    o["streaming_windowed_stats"] = f"""
        SELECT (epoch_us(warc_ts) // 600000000) * 600000000 AS win_start_us,
               count(*) AS n_docs,
               CAST(sum(coalesce(length(text), 0)
                        + coalesce(octet_length(html), 0)) AS BIGINT)
                 AS total_bytes,
               CAST(count(DISTINCT lang) AS INT) AS n_langs
        FROM read_parquet('{FIXTURE_DIR}/stream_spread2000.parquet')
        GROUP BY 1"""

    # reconstruct the update-mode emission stream: one row per (host, batch
    # the host appears in) carrying RUNNING totals over batches <= b —
    # exactly what applyInPandasWithState emits across the two micro-batches
    o["streaming_host_profile"] = f"""
        WITH r AS (
          SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
                 coalesce(length(text), 0) + coalesce(octet_length(html), 0)
                   AS nbytes,
                 epoch_us(warc_ts) AS ts_us,
                 CAST(regexp_extract(url, '-([0-9]+)$', 1) AS BIGINT) AS rid
          FROM read_parquet('{FIXTURE_DIR}/stream_spread2000.parquet')),
        b AS (SELECT host, nbytes, ts_us,
                     CASE WHEN rid < 4887000 THEN 0 ELSE 1 END AS batch
              FROM r),
        a AS (SELECT host, batch, count(*) AS n, sum(nbytes) AS bts,
                     min(ts_us) AS f, max(ts_us) AS l
              FROM b GROUP BY host, batch),
        c AS (SELECT host, batch,
                     CAST(sum(n) OVER w AS BIGINT) AS n_docs,
                     CAST(sum(bts) OVER w AS BIGINT) AS total_bytes,
                     min(f) OVER w AS first_seen_us,
                     max(l) OVER w AS last_seen_us
              FROM a WINDOW w AS (PARTITION BY host ORDER BY batch
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW))
        SELECT host, n_docs, total_bytes, first_seen_us, last_seen_us
        FROM c"""

    # exact all-pairs hamming join over the fingerprint table — the banding
    # join's recall guarantee (simhash_band_exprs pigeonhole) makes the
    # engine's bucketed result provably equal to this quadratic reference
    o["dedup_simhash"] = f"""
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM read_parquet('{FIXTURE_DIR}/simhash_fp.parquet') a,
             read_parquet('{FIXTURE_DIR}/simhash_fp.parquet') b
        WHERE a.id < b.id AND bit_count(xor(a.simhash, b.simhash)) <= 6"""

    o["dedup_minhash_lsh"] = f"""
        WITH banded AS (
          SELECT id, b AS band, list_slice(sig, b * 4 + 1, b * 4 + 4) AS bh
          FROM read_parquet('{FIXTURE_DIR}/minhash_sig.parquet'),
               generate_series(0, 15) AS g(b))
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_bands
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
        GROUP BY a.id, b.id"""

    o["media_meta"] = (
        f"SELECT * FROM read_parquet('{FIXTURE_DIR}/media_expected.parquet')")
    o["media_features"] = (
        f"SELECT media_id, pos, fv_r "
        f"FROM read_parquet('{FIXTURE_DIR}/media_features_expected.parquet')")
    o["media_resize_meta"] = f"""
        SELECT media_id, kind,
               CASE WHEN kind = 'image' THEN 128 ELSE width END AS width,
               CASE WHEN kind = 'image' THEN 96 ELSE height END AS height,
               frames, payload_bytes, mean_byte
        FROM read_parquet('{FIXTURE_DIR}/media_expected.parquet')"""
    o["media_frame_sample"] = f"""
        SELECT media_id, i AS frame_idx
        FROM read_parquet('{FIXTURE_DIR}/media_expected.parquet'),
             generate_series(0, 31, 4) AS g(i)
        WHERE kind = 'video' AND i <= frames - 1"""

    # cluster collapse oracle: DuckDB reconstructs the SAME minhash-LSH
    # pair graph from the signature fixture, then computes connected
    # components with a recursive CTE (min label reachable over the
    # symmetric edge set == smallest id in the component)
    o["dedup_components"] = f"""
        WITH RECURSIVE
        banded AS (
          SELECT id, b AS band, list_slice(sig, b * 4 + 1, b * 4 + 4) AS bh
          FROM read_parquet('{FIXTURE_DIR}/minhash_sig.parquet'),
               generate_series(0, 15) AS g(b)),
        prs AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
          GROUP BY a.id, b.id),
        edges AS (SELECT id_a AS a, id_b AS b FROM prs
                  UNION SELECT id_b, id_a FROM prs),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        cc AS (
          SELECT id, id AS comp FROM nodes
          UNION
          SELECT e.b AS id, c.comp FROM cc c JOIN edges e ON e.a = c.id)
        SELECT id, CAST(min(comp) AS BIGINT) AS comp FROM cc GROUP BY id"""

    # the full scale composition: LSH band candidates (from the signature
    # fixture) -> exact jaccard verify -> threshold, all recomputed in SQL
    grams3o = ("list_sort(list_distinct(list_transform("
               "range(1, greatest(length(text) - 2, 0) + 1), "
               "i -> substring(text, i, 3))))")
    o["dedup_ngram_lsh_verified"] = f"""
        WITH banded AS (
          SELECT id, b AS band, list_slice(sig, b * 4 + 1, b * 4 + 4) AS bh
          FROM read_parquet('{FIXTURE_DIR}/minhash_sig.parquet'),
               generate_series(0, 15) AS g(b)),
        cand AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
          GROUP BY a.id, b.id),
        gr AS (SELECT doc_id AS id, {grams3o} AS g FROM documents
               WHERE len({grams3o}) > 0)
        SELECT c.id_a, c.id_b,
               round(len(list_intersect(a.g, b.g)) * 1.0 /
                     (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
                 AS jaccard
        FROM cand c JOIN gr a ON a.id = c.id_a JOIN gr b ON b.id = c.id_b
        WHERE round(len(list_intersect(a.g, b.g)) * 1.0 /
                    (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
              >= 0.5"""

    # incremental dedup: same banded-candidates + exact-verify shape,
    # restricted to pairs with a NEW endpoint (doc_id >= 400 plays the new
    # crawl batch; 0..399 the indexed corpus). Signatures are per-doc, so
    # the fixture table covers both sides identically.
    o["dedup_incremental"] = f"""
        WITH banded AS (
          SELECT id, b AS band, list_slice(sig, b * 4 + 1, b * 4 + 4) AS bh
          FROM read_parquet('{FIXTURE_DIR}/minhash_sig.parquet'),
               generate_series(0, 15) AS g(b)),
        cand AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
          WHERE a.id >= 400 OR b.id >= 400
          GROUP BY a.id, b.id),
        gr AS (SELECT doc_id AS id, {grams3o} AS g FROM documents
               WHERE len({grams3o}) > 0)
        SELECT c.id_a, c.id_b,
               round(len(list_intersect(a.g, b.g)) * 1.0 /
                     (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
                 AS jaccard
        FROM cand c JOIN gr a ON a.id = c.id_a JOIN gr b ON b.id = c.id_b
        WHERE round(len(list_intersect(a.g, b.g)) * 1.0 /
                    (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
              >= 0.5"""

    o["roundtrip_documents"] = "SELECT doc_id, text, lang, source, n_chars FROM documents"
    o["roundtrip_events"] = ("SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, "
                             "value, props FROM events")
    o["roundtrip_lineitem"] = (
        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
        "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
        "epoch_us(l_shipdate) AS l_shipdate_us FROM lineitem")
    o["roundtrip_embeddings"] = """
        SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS comp_d
        FROM embeddings, generate_series(1, 4096) AS g(i)
        WHERE i <= len(embedding)"""
    o["roundtrip_orders"] = _orders_oracle()
    o["roundtrip_decimal"] = """
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                 AS price_cents,
               CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)
                 AS disc_cents
        FROM lineitem"""

    o["roundtrip_struct_props"] = """
        SELECT doc_id, lang AS meta_lang, source AS meta_source,
               n_chars AS meta_chars, lang AS tag_lang, source AS tag_src
        FROM documents"""

    o["zonemap_pruned_scan"] = """
        WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
                   FROM events)
        SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        FROM events, b WHERE epoch_us(ts) <= b.lo + (b.hi - b.lo) // 3"""

    o["explode_embeddings"] = """
        SELECT vec_id, i - 1 AS pos,
               round(CAST(embedding[i] AS DOUBLE), 6) AS component_r
        FROM embeddings, generate_series(1, 4) AS g(i)
        WHERE i <= len(embedding)"""

    o["transform_simplify_quantize"] = """
        SELECT event_id, epoch_us(date_trunc('hour', ts)) AS ts_us,
               round(value, 2) AS value_q
        FROM events"""

    o["q1_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""

    o["stats_lang_hist"] = """
        SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
        FROM documents GROUP BY lang ORDER BY lang"""

    o["filter_project_events"] = """
        SELECT event_id, user_id, round(value, 6) AS value_r
        FROM events WHERE event_type = 'click' AND value > 50.0"""

    o["window_user_deltas"] = """
        WITH w AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                         ORDER BY epoch_us(ts), event_id) AS prev_ts
          FROM events)
        SELECT user_id, count(*) AS n_deltas,
               round(avg(ts_us - prev_ts), 2) AS avg_delta_us
        FROM w WHERE prev_ts IS NOT NULL GROUP BY user_id"""

    o["join_orders_customers"] = """
        SELECT c_mktsegment, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""

    o["topk_longest_docs"] = """
        SELECT doc_id, n_chars FROM documents
        ORDER BY n_chars DESC, doc_id ASC LIMIT 10"""

    o["setop_except_ranges"] = """
        SELECT doc_id FROM documents WHERE n_chars > 100
        EXCEPT ALL
        SELECT doc_id FROM documents WHERE n_chars > 200"""

    o["agg_source_stats"] = """
        SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars
        FROM documents GROUP BY source ORDER BY source"""

    o["text_token_stats"] = """
        SELECT doc_id, length(text) AS n_chars,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
               round(CASE WHEN length(trim(text)) = 0 THEN NULL
                     ELSE length(trim(text)) * 1.0 /
                          len(regexp_split_to_array(trim(text), '\\s+')) END, 6)
                 AS avg_token_len
        FROM documents"""

    o["text_bpe_tokens"] = r"""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws,
                 len(regexp_extract_all(text,
                     '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\t\n\x0b\f\r ]')) AS bpe
          FROM documents)
        SELECT doc_id, ws AS n_ws_tokens, bpe AS n_bpe_tokens,
               round(CASE WHEN ws > 0 THEN bpe * 1.0 / ws END, 6) AS bpe_per_ws
        FROM t"""

    stop_en = "['the','of','and','to','in','is','that','for','it','with']"
    stop_de = "['der','die','das','und','ist','nicht','mit','ein','zu','den']"
    stop_fr = "['le','la','les','de','et','est','pas','pour','une','dans']"
    toks = ("CASE WHEN length(trim(text)) = 0 THEN [] "
            "ELSE list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) END")
    o["text_quality"] = f"""
        SELECT doc_id, length(text) AS n_chars,
               round(CASE WHEN length(text) > 0 THEN
                 (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                 / length(text) ELSE 0.0 END, 6) AS digit_ratio,
               round(CASE WHEN length(text) > 0 THEN
                 (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                 / length(text) ELSE 0.0 END, 6) AS punct_ratio,
               len(list_intersect({toks}, {stop_en})) AS stopword_hits,
               round(CASE WHEN length(text) > 0 THEN
                 1.0
                 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text)
                 - (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
                 + least(len(list_intersect({toks}, {stop_en})), 5) * 0.02
                 ELSE 0.0 END, 6) AS quality_score
        FROM documents"""

    o["lang_id_stopwords"] = f"""
        WITH h AS (
          SELECT doc_id,
                 len(list_intersect({toks}, {stop_de})) AS hits_de,
                 len(list_intersect({toks}, {stop_en})) AS hits_en,
                 len(list_intersect({toks}, {stop_fr})) AS hits_fr
          FROM documents)
        SELECT doc_id, hits_de, hits_en, hits_fr,
               CASE WHEN greatest(hits_de, hits_en, hits_fr) <= 0 THEN 'und'
                    WHEN hits_de = greatest(hits_de, hits_en, hits_fr) THEN 'de'
                    WHEN hits_en = greatest(hits_de, hits_en, hits_fr) THEN 'en'
                    ELSE 'fr' END AS lang_pred
        FROM h"""

    # the composed cleaning chain, re-run entirely in SQL: quality gate
    # (same rounded score), exact dedup (min id per text among survivors),
    # minhash-LSH CANDIDATES induced on the survivors (per-doc signatures
    # are content-only, so the fixture restricted to surviving ids IS the
    # subset's banding), exact char-3-gram jaccard verify of every
    # candidate (only true-jaccard >= 0.5 pairs become edges — raw band
    # collisions include false positives that transitive collapse would
    # chain into wrongful drops), recursive-CTE component collapse, kept set
    o["pipeline_corpus_clean"] = f"""
        WITH RECURSIVE
        qual AS (
          SELECT doc_id FROM documents
          WHERE round(CASE WHEN length(text) > 0 THEN
                  1.0
                  - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text)
                  - (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
                  + least(len(list_intersect({toks}, {stop_en})), 5) * 0.02
                ELSE 0.0 END, 6) >= 1.01),
        ex AS (SELECT min(d.doc_id) AS id
               FROM documents d JOIN qual USING (doc_id)
               GROUP BY d.text),
        banded AS (
          SELECT id, b AS band, list_slice(sig, b * 4 + 1, b * 4 + 4) AS bh
          FROM read_parquet('{FIXTURE_DIR}/minhash_sig.parquet'),
               generate_series(0, 15) AS g(b)
          WHERE id IN (SELECT id FROM ex)),
        cand AS (SELECT a.id AS id_a, b.id AS id_b
                 FROM banded a JOIN banded b
                   ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
                 GROUP BY 1, 2),
        gr AS (SELECT d.doc_id AS id, {grams3o} AS g
               FROM documents d JOIN ex ON ex.id = d.doc_id
               WHERE len({grams3o}) > 0),
        prs AS (SELECT c.id_a, c.id_b
                FROM cand c JOIN gr a ON a.id = c.id_a
                            JOIN gr b ON b.id = c.id_b
                WHERE round(len(list_intersect(a.g, b.g)) * 1.0 /
                            (len(a.g) + len(b.g)
                             - len(list_intersect(a.g, b.g))), 6) >= 0.5),
        edges AS (SELECT id_a AS a, id_b AS b FROM prs
                  UNION SELECT id_b, id_a FROM prs),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        cc AS (SELECT id, id AS comp FROM nodes
               UNION SELECT e.b AS id, c.comp
                     FROM cc c JOIN edges e ON e.a = c.id),
        drops AS (SELECT id FROM (SELECT id, min(comp) AS comp
                                  FROM cc GROUP BY id) WHERE id != comp)
        SELECT id AS doc_id FROM ex
        WHERE id NOT IN (SELECT id FROM drops)"""

    grams8 = ("list_transform(range(1, greatest(length(text) - 7, 0) + 1), "
              "i -> md5(substring(text, i, 8)))")
    o["doc_fingerprints"] = f"""
        SELECT doc_id, md5(text) AS md5_full,
               CASE WHEN length(text) >= 8 THEN list_min({grams8}) ELSE NULL END
                 AS min_gram_md5
        FROM documents"""

    # the rolling/winnow kernels hash UTF-8 BYTES; these oracles hash
    # per-character code points — identical only on ascii text. The guard
    # makes any future non-ascii gate corpus fail LOUDLY instead of
    # silently diverging.
    ascii_guard = ("CASE WHEN regexp_matches(text, '[^\\x00-\\x7F]') THEN "
                   "error('non-ascii text: char-based rolling-hash oracle "
                   "diverges from the byte-based kernel') ELSE TRUE END")
    roll_hash = ("list_transform(range(1, length(text) - 8 + 2), "
                 "i -> list_reduce("
                 "list_transform(range(0, 8), "
                 "j -> unicode(substring(text, i + j, 1))), "
                 "(acc, c) -> (CAST(acc AS BIGINT) * 1000003 + c) "
                 "% 2147483647))")
    o["doc_fingerprints_rolling"] = f"""
        SELECT doc_id AS id,
               CASE WHEN length(text) >= 8 THEN list_min({roll_hash})
               ELSE NULL END AS min_gram_hash,
               greatest(length(text) - 7, 0) AS n_grams
        FROM documents WHERE text IS NOT NULL AND {ascii_guard}"""

    o["doc_fingerprints_winnow"] = f"""
        WITH h AS (
          SELECT doc_id, {roll_hash} AS hs
          FROM documents
          WHERE text IS NOT NULL AND length(text) >= 8 AND {ascii_guard}),
        w AS (
          SELECT doc_id,
                 CASE WHEN len(hs) >= 4 THEN
                   list_transform(range(1, len(hs) - 4 + 2),
                                  i -> list_min(list_slice(hs, i, i + 3)))
                 ELSE [list_min(hs)] END AS wins
          FROM h)
        SELECT DISTINCT id, fp FROM (
          SELECT doc_id AS id, unnest(wins) AS fp FROM w)"""

    # winnow candidate pairs: the SAME pure-SQL winnow index (no fixture),
    # stop-fingerprint cap at max_df=64, pairs sharing >= 2 fingerprints
    winnow_fp_ctes = f"""
        h AS (
          SELECT doc_id, {roll_hash} AS hs
          FROM documents
          WHERE text IS NOT NULL AND length(text) >= 8 AND {ascii_guard}),
        w AS (
          SELECT doc_id,
                 CASE WHEN len(hs) >= 4 THEN
                   list_transform(range(1, len(hs) - 4 + 2),
                                  i -> list_min(list_slice(hs, i, i + 3)))
                 ELSE [list_min(hs)] END AS wins
          FROM h),
        fp AS (SELECT DISTINCT id, fp FROM
               (SELECT doc_id AS id, unnest(wins) AS fp FROM w)),
        stop AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 64),
        fpf AS (SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM stop)),
        wcand AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
          FROM fpf a JOIN fpf b ON a.fp = b.fp AND a.id < b.id
          GROUP BY a.id, b.id
          HAVING count(*) >= 2)"""
    o["dedup_winnow_candidates"] = f"""
        WITH {winnow_fp_ctes}
        SELECT id_a, id_b, n_shared FROM wcand"""
    o["dedup_ngram_winnow_verified"] = f"""
        WITH {winnow_fp_ctes},
        gr AS (SELECT doc_id AS id, {grams3o} AS g FROM documents
               WHERE len({grams3o}) > 0)
        SELECT c.id_a, c.id_b,
               round(len(list_intersect(a.g, b.g)) * 1.0 /
                     (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
                 AS jaccard
        FROM wcand c JOIN gr a ON a.id = c.id_a JOIN gr b ON b.id = c.id_b
        WHERE round(len(list_intersect(a.g, b.g)) * 1.0 /
                    (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
              >= 0.5"""

        # winnow-route cleaning chain: identical skeleton, candidates from the
    # survivor-restricted winnow index (fingerprints, stop cap at
    # max_df=64 and the >=2-shared filter are all computed over SURVIVORS,
    # exactly as winnow_candidate_pairs(survivors) does)
    o["pipeline_corpus_clean_winnow"] = f"""
        WITH RECURSIVE
        qual AS (
          SELECT doc_id FROM documents
          WHERE round(CASE WHEN length(text) > 0 THEN
                  1.0
                  - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text)
                  - (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
                  + least(len(list_intersect({toks}, {stop_en})), 5) * 0.02
                ELSE 0.0 END, 6) >= 1.01),
        ex AS (SELECT min(d.doc_id) AS id
               FROM documents d JOIN qual USING (doc_id)
               GROUP BY d.text),
        h AS (
          SELECT d.doc_id, {roll_hash} AS hs
          FROM documents d JOIN ex ON ex.id = d.doc_id
          WHERE text IS NOT NULL AND length(text) >= 8 AND {ascii_guard}),
        w AS (
          SELECT doc_id,
                 CASE WHEN len(hs) >= 4 THEN
                   list_transform(range(1, len(hs) - 4 + 2),
                                  i -> list_min(list_slice(hs, i, i + 3)))
                 ELSE [list_min(hs)] END AS wins
          FROM h),
        fp AS (SELECT DISTINCT id, fp FROM
               (SELECT doc_id AS id, unnest(wins) AS fp FROM w)),
        stop AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 64),
        fpf AS (SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM stop)),
        cand AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM fpf a JOIN fpf b ON a.fp = b.fp AND a.id < b.id
          GROUP BY a.id, b.id
          HAVING count(*) >= 2),
        gr AS (SELECT d.doc_id AS id, {grams3o} AS g
               FROM documents d JOIN ex ON ex.id = d.doc_id
               WHERE len({grams3o}) > 0),
        prs AS (SELECT c.id_a, c.id_b
                FROM cand c JOIN gr a ON a.id = c.id_a
                            JOIN gr b ON b.id = c.id_b
                WHERE round(len(list_intersect(a.g, b.g)) * 1.0 /
                            (len(a.g) + len(b.g)
                             - len(list_intersect(a.g, b.g))), 6) >= 0.5),
        edges AS (SELECT id_a AS a, id_b AS b FROM prs
                  UNION SELECT id_b, id_a FROM prs),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        cc AS (SELECT id, id AS comp FROM nodes
               UNION SELECT e.b AS id, c.comp
                     FROM cc c JOIN edges e ON e.a = c.id),
        drops AS (SELECT id FROM (SELECT id, min(comp) AS comp
                                  FROM cc GROUP BY id) WHERE id != comp)
        SELECT id AS doc_id FROM ex
        WHERE id NOT IN (SELECT id FROM drops)"""

    o["dedup_exact"] = "SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text"

    grams3 = ("list_sort(list_distinct(list_transform("
              "range(1, greatest(length(text) - 2, 0) + 1), "
              "i -> substring(text, i, 3))))")
    o["dedup_ngram_jaccard"] = f"""
        WITH g AS (SELECT doc_id AS id, {grams3} AS g FROM documents
                   WHERE len({grams3}) > 0)
        SELECT a.id AS id_a, b.id AS id_b,
               round(len(list_intersect(a.g, b.g)) * 1.0 /
                     (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
                 AS jaccard
        FROM g a, g b
        WHERE a.id < b.id
          AND len(list_intersect(a.g, b.g)) * 1.0 /
              (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.5"""

    vd = "list_transform({c}, x -> CAST(x AS DOUBLE))"
    dot = ("list_sum(list_transform(list_zip({a}, {b}), "
           "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))")
    nrm = "sqrt(list_sum(list_transform({c}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    o["dedup_embedding_cosine"] = f"""
        WITH e AS (SELECT vec_id AS id, embedding AS v,
                          {nrm.format(c='embedding')} AS nrm
                   FROM embeddings
                   WHERE {nrm.format(c='embedding')} > 0)
        SELECT a.id AS id_a, b.id AS id_b,
               round({dot.format(a='a.v', b='b.v')} / (a.nrm * b.nrm), 6) AS cosine
        FROM e a, e b
        WHERE a.id < b.id
          AND round({dot.format(a='a.v', b='b.v')} / (a.nrm * b.nrm), 6) >= 0.35"""

    o["dedup_embedding_srp"] = f"""
        WITH fp AS (SELECT id, simhash
                    FROM read_parquet('{FIXTURE_DIR}/srp_fp.parquet')),
        bp AS (SELECT g1.i, g2.j FROM generate_series(0, 7) g1(i),
                                      generate_series(0, 7) g2(j)
               WHERE g1.i < g2.j),
        banded AS (
          SELECT id, bp.i * 8 + bp.j AS band,
                 ((simhash >> (bp.i * 8)) & 255) * 256
                   + ((simhash >> (bp.j * 8)) & 255) AS bh
          FROM fp, bp),
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                 FROM banded a JOIN banded b
                   ON a.band = b.band AND a.bh = b.bh AND a.id < b.id),
        e AS (SELECT vec_id AS id, embedding AS v,
                     {nrm.format(c='embedding')} AS nrm
              FROM embeddings WHERE {nrm.format(c='embedding')} > 0)
        SELECT c.id_a, c.id_b,
               round({dot.format(a='a.v', b='b.v')} / (a.nrm * b.nrm), 6) AS cosine
        FROM cand c JOIN e a ON a.id = c.id_a JOIN e b ON b.id = c.id_b
        WHERE round({dot.format(a='a.v', b='b.v')} / (a.nrm * b.nrm), 6) >= 0.35"""

    o["ann_bruteforce_topk"] = f"""
        WITH e AS (SELECT vec_id AS nid, embedding AS v,
                          {nrm.format(c='embedding')} AS nrm
                   FROM embeddings WHERE {nrm.format(c='embedding')} > 0),
        q AS (SELECT nid AS query_id, v AS qv, nrm AS qnrm FROM e
              WHERE nid IN (0, 1, 2, 3, 4)),
        scored AS (
          SELECT q.query_id, e.nid AS neighbor_id,
                 round({dot.format(a='q.qv', b='e.v')} / (q.qnrm * e.nrm), 6) AS cosine
          FROM e, q WHERE e.nid != q.query_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 10"""

    # IVF oracle: probe selection, candidate pruning, scoring and ranking
    # all recomputed by DuckDB from the centroid/assignment fixture tables
    ivf_core = f"""
        WITH e AS (SELECT vec_id AS nid, embedding AS v,
                          {nrm.format(c='embedding')} AS nrm
                   FROM embeddings WHERE {nrm.format(c='embedding')} > 0),
        q AS (SELECT nid AS query_id, v AS qv, nrm AS qnrm FROM e
              WHERE nid IN (0, 1, 2, 3, 4)),
        c AS (SELECT cid, cv FROM read_parquet('{FIXTURE_DIR}/ivf_centroids.parquet')),
        asg AS (SELECT nid, bucket FROM read_parquet('{FIXTURE_DIR}/ivf_assign.parquet')),
        cs AS (SELECT q.query_id, c.cid, {dot.format(a='q.qv', b='c.cv')} AS s
               FROM q, c),
        probes AS (SELECT query_id, cid FROM (
            SELECT query_id, cid,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, cid ASC) AS rn
            FROM cs) WHERE rn <= 64),
        cand AS (SELECT p.query_id, a.nid FROM probes p
                 JOIN asg a ON a.bucket = p.cid),
        scored AS (
          SELECT q.query_id, e.nid AS neighbor_id,
                 round({dot.format(a='q.qv', b='e.v')} / (q.qnrm * e.nrm), 6) AS cosine
          FROM cand JOIN e ON e.nid = cand.nid
                    JOIN q ON q.query_id = cand.query_id
          WHERE e.nid != q.query_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored)"""
    o["ann_ivf_topk"] = ivf_core + """
        SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 10"""
    o["ann_ivf_recall"] = ivf_core + f""",
        exact_scored AS (
          SELECT q.query_id, e.nid AS neighbor_id,
                 round({dot.format(a='q.qv', b='e.v')} / (q.qnrm * e.nrm), 6) AS cosine
          FROM e, q WHERE e.nid != q.query_id),
        exact_ranked AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM exact_scored),
        ex_n AS (SELECT query_id, count(*) AS n_exact FROM exact_ranked
                 WHERE rank <= 10 GROUP BY query_id),
        hits AS (SELECT er.query_id, count(*) AS n_hits
                 FROM exact_ranked er JOIN ranked r
                   ON r.query_id = er.query_id
                  AND r.neighbor_id = er.neighbor_id AND r.rank <= 10
                 WHERE er.rank <= 10 GROUP BY er.query_id)
        SELECT x.query_id,
               round(coalesce(h.n_hits, 0) * 1.0 / x.n_exact, 4) AS recall_at_k
        FROM ex_n x LEFT JOIN hits h USING (query_id) ORDER BY x.query_id"""

    return o


def _orders_oracle() -> str:
    import duckdb  # discover orders columns once, robustly

    cols = [r[0] for r in duckdb.sql(
        "DESCRIBE SELECT * FROM '/root/testdata/sf0.001/orders.parquet'").fetchall()]
    sel = ", ".join(f"epoch_us({c}) AS {c}_us" if c == "o_orderdate" else c
                    for c in cols)
    return f"SELECT {sel} FROM orders"
