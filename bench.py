"""Benchmark harness. Prints ONE compact JSON line (under 2,000 chars):

  {"metric":"headline_suite_wall","value":<sec>,"unit":"sec",
   "queries":{<name>:<min sec>,...},"sf":<float>,...extras}

Headline = the codec engine on the synthetic Common-Crawl-style webtext
table at a size proportional to SF (sf * 1M rows), plus the operator suite
on the driver-provided parquet tables at $SPARK_GRAFT_SF_DIR.

Extras recorded for BASELINE.md: encode/decode GB/s, compression ratio, and
the parquet+zstd baseline size of the identical table (the
"reference-discipline generic codec" bound from BASELINE.md). Every draw
behind each min (the ``*_runs`` arrays) and the re-drawn query lists go to
``bench_runs.json`` next to this file.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

from mapbox_vector_tile_java_spark.session import apply_malloc_env

apply_malloc_env()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_runs.json")

SUITE = [
    "q1_pricing_summary", "stats_lang_hist", "window_user_deltas",
    "join_orders_customers", "agg_source_stats", "text_token_stats",
    "text_quality", "lang_id_stopwords", "doc_fingerprints",
    "doc_fingerprints_rolling", "doc_fingerprints_winnow",
    "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_embedding_cosine", "dedup_embedding_srp",
    "dedup_ngram_lsh_verified", "dedup_winnow_candidates",
    "dedup_ngram_winnow_verified", "dedup_incremental",
    "ann_bruteforce_topk",
    "ann_ivf_topk", "ann_ivf_recall", "roundtrip_lineitem",
    "roundtrip_events", "roundtrip_struct_props", "roundtrip_decimal",
    "text_bpe_tokens", "media_features", "transform_simplify_quantize",
    "compaction_roundtrip", "meta_only_stats",
]


def main():
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else 0.1
    n_webtext = max(20_000, int(sf * 1_000_000))

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from mapbox_vector_tile_java_spark.operators.decode import (
        decode_table, read_manifest)
    from mapbox_vector_tile_java_spark.operators.encode import encode_webtext
    from mapbox_vector_tile_java_spark.session import (
        get_spark, pick_task_cpus, probe_effective_parallelism)
    from mapbox_vector_tile_java_spark.sources.webtext import webtext_df

    # bandwidth-aware task sizing (untimed): some sandbox hosts deliver far
    # fewer effective cores than advertised for memory-heavy kernels; there
    # spark.task.cpus=2 halves concurrent workers and measurably speeds up
    # every kernel-bound stage (the cluster analog is executor task sizing).
    eff = probe_effective_parallelism()
    task_cpus = pick_task_cpus(CPUS, eff)
    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS,
                      task_cpus=task_cpus)
    timings: dict[str, float] = {}
    extras: dict = {"bw_probe_eff": round(eff, 3), "task_cpus": task_cpus}
    work = tempfile.mkdtemp(prefix="mvt_bench_")

    def timed(name, fn, repeats=1):
        """Record min-of-N wall time: this sandbox shares a noisy host
        (identical runs vary 4-7x), so the minimum is the steady-state
        measurement; all runs are recorded in extras for honesty."""
        runs, out = [], None
        for _ in range(repeats):
            t0 = time.time()
            out = fn()
            runs.append(round(time.time() - t0, 3))
        timings[name] = min(runs)
        if repeats > 1:
            extras[f"{name}_runs"] = runs
        return out

    # spin up python workers + warm codec pools before the timed region
    # (steady-state measurement; cold-start is a per-executor one-time cost
    # at scale — in production an executor encodes thousands of partitions)
    webtext_df(spark, CPUS * 64, seed=1, partitions=CPUS).count()
    encode_webtext(webtext_df(spark, CPUS * 96, seed=1, partitions=CPUS),
                   f"{work}/warm", n_parts=CPUS)

    # --- headline: webtext codec engine ------------------------------------
    src = webtext_df(spark, n_webtext, seed=42, partitions=CPUS)
    src.write.mode("overwrite").parquet(f"{work}/src_plain")  # materialize once
    base = spark.read.parquet(f"{work}/src_plain")

    enc_dir = f"{work}/encoded"

    _enc_n = [0]

    def _encode():
        # fresh dir each repeat so resume never short-circuits the work
        _enc_n[0] += 1
        d = f"{enc_dir}_{_enc_n[0]}"
        encode_webtext(base, d, n_parts=CPUS)
        return d

    # interleave encode/decode rounds: ambient noise on this shared host
    # arrives in bursts that would inflate ALL back-to-back repeats of one
    # query; alternating spreads each query's draws across time so the
    # min-of-N sees at least one quiet window
    enc_runs, dec_runs = [], []
    for _ in range(4):
        t0 = time.time()
        enc_dir = _encode()
        enc_runs.append(round(time.time() - t0, 3))
        t0 = time.time()
        decode_table(spark, enc_dir).agg(
            F.count("*"), F.sum(F.length("text"))).collect()
        dec_runs.append(round(time.time() - t0, 3))
    timings["webtext_encode"] = min(enc_runs)
    timings["webtext_decode"] = min(dec_runs)
    extras["webtext_encode_runs"] = enc_runs
    extras["webtext_decode_runs"] = dec_runs
    timed("webtext_decode_pruned", lambda: decode_table(
        spark, enc_dir, columns=["url", "lang"]).groupBy("lang").count().collect(),
        repeats=2)

    man = read_manifest(spark, enc_dir).groupBy().agg(
        F.sum("raw_bytes").alias("raw"), F.sum("enc_bytes").alias("enc")).first()
    extras["raw_bytes"] = int(man["raw"])
    extras["enc_bytes"] = int(man["enc"])
    extras["compression_ratio"] = round(man["raw"] / man["enc"], 4)
    extras["encode_gbps_raw_in"] = round(
        man["raw"] / 1e9 / timings["webtext_encode"], 4)
    extras["decode_gbps_raw_out"] = round(
        man["raw"] / 1e9 / timings["webtext_decode"], 4)

    # parquet+zstd baseline of the identical table (generic-codec reference)
    def _zstd_baseline():
        base.write.mode("overwrite").option("compression", "zstd") \
            .parquet(f"{work}/zstd_baseline")
    timed("parquet_zstd_baseline_write", _zstd_baseline, repeats=2)
    extras["parquet_zstd_bytes"] = _dir_bytes(f"{work}/zstd_baseline")
    extras["engine_blocks_bytes"] = _dir_bytes(f"{enc_dir}/blocks")

    # reference-discipline naive baseline: whole-value dictionaries for
    # strings (MvtLayerProps.java:33-60) + varint/zigzag family for ints —
    # the BASELINE.md "(b)" codec the compressed-size bound is measured
    # against. No FSST/tok_dict.
    from mapbox_vector_tile_java_spark.operators.encode import encode_table
    from mapbox_vector_tile_java_spark.plans.partitioning import plan_webtext

    _naive_n = [0]

    def _naive():
        # fresh dir each repeat — resume markers would short-circuit a rerun;
        # every bytes column is overridden, so no sampling job runs
        _naive_n[0] += 1
        encode_table(
            plan_webtext(base, n_parts=CPUS, hot_hosts={}),
            f"{work}/naive_{_naive_n[0]}",
            codec_overrides={c: ("dict_bytes", None)
                             for c in ("url", "html", "text", "lang")})
    timed("naive_reference_encode", _naive, repeats=2)
    nm = read_manifest(spark, f"{work}/naive_{_naive_n[0]}").groupBy().agg(
        F.sum("enc_bytes").alias("e")).first()
    extras["naive_reference_bytes"] = int(nm["e"])

    # --- operator suite on the driver tables -------------------------------
    qs = E.queries()

    # IVF index build timed SEPARATELY from the queries (write-once/
    # read-many: production builds the index once and serves many queries,
    # so folding an index build into a query timing measures the wrong
    # thing — VERDICT r03 #9). ann_ivf_topk/recall below then measure pure
    # query cost against this pre-built index.
    from mapbox_vector_tile_java_spark.operators.similarity import (
        build_ivf_index)

    ivf_dir = E._ivf_dir(SF_DIR)
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    # min-of-2 builds (fresh dir each; the last one is what queries use)
    _ivf_n = [0]

    def _ivf_build():
        _ivf_n[0] += 1
        d = ivf_dir if _ivf_n[0] == 2 else ivf_dir + "_cold"
        build_ivf_index(emb, "embedding", "vec_id", d, n_centroids=256)
    timed("ann_ivf_build", _ivf_build, repeats=2)

    # gram-record stage shared by BOTH verified dedup routes (lsh- and
    # winnow-verified ship the same per-doc records through
    # exact_jaccard_verify) — built once here and timed on its own, so the
    # two route timings measure candidates + verify, not a repeated
    # build of the identical write-once artifact (same discipline as the
    # IVF index above). The queries pick it up via __spark_entry__'s
    # _gram_dir cache.
    from mapbox_vector_tile_java_spark.operators.dedup import (
        build_gram_records)

    docs_df = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    _gram_n = [0]

    def _gram_build():
        _gram_n[0] += 1
        d = E._gram_dir(SF_DIR) if _gram_n[0] == 2 \
            else E._gram_dir(SF_DIR) + "_cold"
        build_gram_records(docs_df, "text", "doc_id", 3, d)
    timed("dedup_gram_stage_build", _gram_build, repeats=2)
    shutil.rmtree(E._gram_dir(SF_DIR) + "_cold", ignore_errors=True)
    # pre-built inputs for the compaction / metadata-aggregate timings: the
    # named operation is the compaction (decode segments -> re-encode) or
    # the manifest aggregation — NOT the setup encode that creates the
    # segments, so that setup runs once here, outside any timed region
    # (same discipline as the pre-built IVF index above).
    from mapbox_vector_tile_java_spark.operators.decode import meta_column_stats
    from mapbox_vector_tile_java_spark.streaming.incremental import (
        compact_segments)

    comp_root = f"{work}/comp_segs"
    src2k = webtext_df(spark, 2_000, seed=42, partitions=4)
    for k in range(3):
        encode_webtext(src2k.where(F.pmod(F.xxhash64("url"), F.lit(3)) == k),
                       f"{comp_root}/segment={k}", n_parts=2)
    meta_enc = f"{work}/meta_enc"
    encode_webtext(src2k, meta_enc, n_parts=4)
    _comp_n = [0]

    def _bench_compaction():
        # fresh dst each draw — resume markers would short-circuit a rerun
        _comp_n[0] += 1
        d = f"{work}/comp_out_{_comp_n[0]}"
        compact_segments(spark, comp_root, d, n_parts=4)
        return decode_table(spark, d)

    def _bench_meta_stats():
        return meta_column_stats(spark, meta_enc)

    overrides = {"compaction_roundtrip": _bench_compaction,
                 "meta_only_stats": _bench_meta_stats}

    # two INTERLEAVED full passes (not back-to-back repeats): a noise burst
    # then inflates single runs scattered across queries instead of both
    # runs of whichever query it lands on — min-of-2 per query stays clean.
    # ann_ivf_* runs reuse the index built (and timed) above as
    # ann_ivf_build, so they measure pure query cost.
    suite_runs: dict[str, list[float]] = {n: [] for n in SUITE}
    pass_eff: list[float] = []

    def _draw(name):
        fn = overrides.get(name) or (lambda: qs[name](spark, SF_DIR))
        t0 = time.time()
        fn().write.format("noop").mode("overwrite").save()
        suite_runs[name].append(round(time.time() - t0, 3))

    for _pass in range(2):
        # per-pass ambient-load signal alongside the walls it contextualizes
        pass_eff.append(round(probe_effective_parallelism(), 3))
        for name in SUITE:
            _draw(name)
    # re-draw queries with no two consistent quiet samples yet: when the two
    # BEST draws disagree >2x, at least one pass was load-polluted for this
    # query (VERDICT r04: minhash drew 6.7/9.8 while a quiet window gives
    # 1.8) — extra interleaved draws give min-of-N a later, quieter window
    for _extra in range(2):
        noisy = [n for n in SUITE
                 if sorted(suite_runs[n])[1] > 2.0 * min(suite_runs[n])]
        if not noisy:
            break
        pass_eff.append(round(probe_effective_parallelism(), 3))
        extras.setdefault("redrawn", []).append(noisy)
        for name in noisy:
            _draw(name)
    extras["bw_probe_pass_eff"] = pass_eff
    for name in SUITE:
        timings[name] = min(suite_runs[name])
        extras[f"{name}_runs"] = suite_runs[name]

    line, runs = split_record(timings, extras, sf, n_webtext)
    with open(RUNS_PATH, "w") as f:
        json.dump(runs, f)
    print(line)
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


def split_record(timings: dict, extras: dict, sf: float,
                 n_webtext: int) -> tuple[str, dict]:
    """(line, runs): the compact JSON line to print (headline, per-query
    min, ratio, bytes and probe) and the per-draw arrays for the side file,
    which would push the line past what a log tail keeps."""
    runs = {k: v for k, v in extras.items()
            if k.endswith("_runs") or k == "redrawn"}
    out = {"metric": "headline_suite_wall",
           "value": round(sum(timings.values()), 3), "unit": "sec",
           "queries": timings, "sf": sf, "webtext_rows": n_webtext,
           **{k: v for k, v in extras.items() if k not in runs}}
    return json.dumps(out, separators=(",", ":")), runs


def _dir_bytes(d: str) -> int:
    total = 0
    for root, _, files in os.walk(d):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


if __name__ == "__main__":
    main()
