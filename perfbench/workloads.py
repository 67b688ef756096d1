"""The workloads: inputs, set-up artifacts, one op, and its checks.

Each workload has ``build`` (inputs and set-up artifacts, timed as set-up),
``op`` (one closed-loop op made of timed sections, checked after each
section) and the byte counts the end-to-end metrics need. Checks never run
inside a timed section, and a failed check marks the section failed without
stopping the run.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

ENGINE = "mapbox_vector_tile_java_spark"
# (doc_id, text) of the 5,000-document corpus of the sf0.1 test data
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "documents.parquet")


def du(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def read_manifest(out_dir: str):
    return pq.read_table(os.path.join(out_dir, "manifest.parquet"))


class Op:
    """One measured op: named timed sections plus the check failures of
    each. ``wall`` is the sum of the section walls."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.walls: dict[str, float] = {}
        self.failures: dict[str, list[str]] = {}
        self.info: dict = {}

    @contextlib.contextmanager
    def section(self, name: str):
        self.failures.setdefault(name, [])
        span = (self.tracer.span(f"op.{name}", section=True) if self.tracer
                else contextlib.nullcontext())
        t0 = time.perf_counter()
        try:
            with span:
                yield
        finally:
            self.walls[name] = time.perf_counter() - t0

    def check(self, name: str, ok: bool, msg: str) -> None:
        if not ok:
            self.failures.setdefault(name, []).append(msg)

    @property
    def wall(self) -> float:
        return sum(self.walls.values())


class Workload:
    name = ""
    n_parts = 8

    def __init__(self, spark, seed: int, rows: int):
        self.spark = spark
        self.seed = seed
        self.rows = rows
        self.rng = np.random.default_rng([seed, 3])
        self.raw_bytes = 0      # raw bytes one op reads or writes
        self.stored_bytes = 0   # bytes the workload keeps on disk for them
        self.gen_s = 0.0        # input generation part of the last build

    def build(self, d: str) -> None:
        raise NotImplementedError

    def op(self, i: int, op: Op, work: str) -> None:
        raise NotImplementedError

    def finish(self, op: Op) -> None:
        """Drop what one op left on disk, after its checks and trace."""
        out = op.info.pop("out_dir", None)
        if out:
            shutil.rmtree(out, ignore_errors=True)

    # shared pieces -------------------------------------------------------
    def _webtext_base(self, d: str):
        from mapbox_vector_tile_java_spark.sources.webtext import webtext_df

        base = os.path.join(d, "base")
        t0 = time.perf_counter()
        webtext_df(self.spark, self.rows, self.seed,
                   partitions=self.n_parts).write.parquet(base)
        self.gen_s = time.perf_counter() - t0
        return self.spark.read.parquet(base)

    def _check_manifest(self, op: Op, name: str, out_dir: str) -> None:
        """Row count equals the source; enc_bytes repeat across ops."""
        m = read_manifest(out_dir)
        first_col = m.column("name")[0].as_py()
        rows = sum(r for r, n in zip(m.column("n_rows").to_pylist(),
                                     m.column("name").to_pylist())
                   if n == first_col)
        op.check(name, rows == self.rows,
                 f"manifest rows {rows} != source rows {self.rows}")
        enc = sum(m.column("enc_bytes").to_pylist())
        raw = sum(m.column("raw_bytes").to_pylist())
        ref = getattr(self, "_enc_ref", None)
        if ref is None:
            self._enc_ref = enc
        else:
            op.check(name, enc == ref, f"enc_bytes {enc} != first op's {ref}")
        self.raw_bytes = raw
        self.stored_bytes = du(out_dir)
        op.info.update(raw_bytes=raw, enc_bytes=enc,
                       compression_ratio=raw / enc,
                       skew=_skew(m))


def _skew(m) -> float:
    """max / median rows per part_id, from the manifest."""
    first_col = m.column("name")[0].as_py()
    per: dict[int, int] = {}
    for pid, n, name in zip(m.column("part_id").to_pylist(),
                            m.column("n_rows").to_pylist(),
                            m.column("name").to_pylist()):
        if name == first_col:
            per[pid] = per.get(pid, 0) + n
    rows = sorted(per.values())
    return rows[-1] / float(np.median(rows))


class WebtextRoundtrip(Workload):
    """Write then read one webtext table: sampling, planning, the salted
    shuffle, the bytes codecs and block writes, then the decode kernels,
    CRC checks and the manifest."""

    name = "webtext_roundtrip"
    # called with the encoded table's directory between encode and decode;
    # the self-test sets it to damage a stored block
    after_encode = None

    def build(self, d: str) -> None:
        from mapbox_vector_tile_java_spark.streaming.incremental import content_fingerprint

        self.src = self._webtext_base(d)
        self.truth_fp = content_fingerprint(self.src)

    def op(self, i: int, op: Op, work: str) -> None:
        from mapbox_vector_tile_java_spark.operators.decode import (
            decode_table, meta_column_stats)
        from mapbox_vector_tile_java_spark.operators.encode import encode_webtext
        from mapbox_vector_tile_java_spark.streaming.incremental import content_fingerprint

        out = os.path.join(work, f"enc-{i}")
        op.info["out_dir"] = out
        with op.section("encode"):
            encode_webtext(self.src, out, n_parts=self.n_parts)
        self._check_manifest(op, "encode", out)
        if self.after_encode is not None:
            self.after_encode(out)
        with op.section("decode"):
            fp = content_fingerprint(decode_table(self.spark, out))
        op.check("decode", fp == self.truth_fp,
                 f"decoded (rows, fingerprint) {fp} != source {self.truth_fp}")
        with op.section("meta"):
            stats = meta_column_stats(self.spark, out).collect()
        _check_stats(op, "meta", stats, self.rows)


def _check_stats(op: Op, name: str, stats, rows: int) -> None:
    bad = [r["name"] for r in stats if r["n_rows"] != rows]
    op.check(name, len(stats) == 5 and not bad,
             f"meta_column_stats n_rows wrong for {bad or 'missing columns'}")


class DedupIncremental(Workload):
    """operators.dedup: new batch vs persisted minhash index, exact verify.

    The input is the committed 5,000-document corpus (``DOCUMENTS``), split
    at random by the seed into ~80 % corpus and ~20 % new batch."""

    name = "dedup_incremental"
    threshold = 0.5
    k = 3
    sample_pairs = 200

    def build(self, d: str) -> None:
        from pyspark.sql import functions as F

        from mapbox_vector_tile_java_spark.operators.dedup import (
            build_gram_records, build_minhash_index)

        os.makedirs(d, exist_ok=True)
        t0 = time.perf_counter()
        docs = pq.read_table(DOCUMENTS).slice(0, self.rows)
        ids = docs.column("doc_id").to_numpy()
        is_new = self.rng.random(len(ids)) < 0.2
        self.texts = dict(zip(ids.tolist(), docs.column("text").to_pylist()))
        self.new_ids = set(ids[is_new].tolist())
        paths = {}
        for part, mask in (("corpus", ~is_new), ("new", is_new)):
            paths[part] = os.path.join(d, f"{part}.parquet")
            pq.write_table(docs.filter(mask), paths[part])
        self.gen_s = time.perf_counter() - t0
        self.corpus = self.spark.read.parquet(paths["corpus"])
        self.new = self.spark.read.parquet(paths["new"])
        self.index = os.path.join(d, "index")
        self.grams = os.path.join(d, "grams")
        build_minhash_index(self.corpus, "text", "doc_id", self.index)
        both = (self.corpus.unionByName(self.new)
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        build_gram_records(both, "text", "doc_id", self.k, self.grams)
        self.raw_bytes = sum(len(t.encode()) for t in self.texts.values())
        self.stored_bytes = du(self.index) + du(self.grams)

    def op(self, i: int, op: Op, work: str) -> None:
        from mapbox_vector_tile_java_spark.operators.dedup import dedup_incremental

        with op.section("dedup"):
            rows = dedup_incremental(self.corpus, self.new, "text", "doc_id",
                                     self.index, threshold=self.threshold,
                                     k=self.k, gram_dir=self.grams).collect()
        pairs = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in rows)
        op.info["verified_pairs"] = len(pairs)
        for msg in self.check_pairs(pairs):
            op.check("dedup", False, msg)

    def finish(self, op: Op) -> None:
        from mapbox_vector_tile_java_spark.operators.dedup import cleanup_temp_dirs

        cleanup_temp_dirs()

    def check_pairs(self, pairs: list[tuple]) -> list[str]:
        """Non-empty, identical across ops, a new endpoint in every pair,
        and a seeded sample's exact jaccard recomputed here >= threshold."""
        out = []
        if not pairs:
            out.append("no near-duplicate pairs found")
        ref = getattr(self, "_pairs_ref", None)
        if ref is None:
            self._pairs_ref = pairs
        elif pairs != ref:
            out.append(f"pair set differs from the first op's ({len(pairs)} vs {len(ref)})")
        old = [p for p in pairs if p[0] not in self.new_ids and p[1] not in self.new_ids]
        if old:
            out.append(f"{len(old)} pairs have no endpoint in the new batch")
        rng = np.random.default_rng([self.seed, 4])
        pick = rng.permutation(len(pairs))[: self.sample_pairs]
        for j in pick:
            a, b, reported = pairs[int(j)]
            exact = jaccard(self.texts[a], self.texts[b], self.k)
            if exact < self.threshold or abs(exact - reported) > 1e-6:
                out.append(f"pair ({a}, {b}) reports jaccard {reported}, "
                           f"exact {exact:.6f} (threshold {self.threshold})")
        return out


def char_grams(text: str, k: int) -> set[str]:
    return {text[i:i + k] for i in range(len(text) - k + 1)}


def jaccard(a: str, b: str, k: int) -> float:
    ga, gb = char_grams(a, k), char_grams(b, k)
    return len(ga & gb) / len(ga | gb) if ga or gb else 0.0


WORKLOADS = {w.name: w for w in (WebtextRoundtrip, DedupIncremental)}
