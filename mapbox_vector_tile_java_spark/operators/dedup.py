"""Deduplication operators for training-data pipelines.

Five tiers, all DataFrame-first:

- exact:        hash-groupBy on content (shuffle on content hash)
- ngram-jaccard: exact set similarity over character n-grams (Catalyst
                 higher-order functions; O(n^2) verify — the *oracle-exact*
                 baseline; at 10^12 docs you run it only on LSH candidates)
- minhash+LSH:  vectorized signature kernel (mapInArrow) -> band buckets ->
                 shuffle only within buckets -> candidate pairs
- simhash:      64-bit fingerprints + band join for hamming<=k candidates
- embedding:    cosine near-dup over embedding vectors (brute pairs at small
                 scale; IVF buckets in similarity.py for the scale path)

Every banded route (minhash, incremental, winnowing, simhash, SRP) joins
through ONE primitive, ``band_pairs``; its probe mode pairs a small batch
with a large index through the batch's broadcast keys, never index×index.

Every text fingerprint stage (minhash and simhash signatures, the rolling
and winnowing fingerprints in textstats.py, the gram records) reads its
Arrow batches through ONE reader, ``text_batches``, and every hashed route
folds its k-byte windows through ONE window hash, ``_window_hashes``.

Every exact verify reads ONE persisted gram artifact: the ranked hash
blocks (b, ids, cnts, vocab, codes) that ``build_gram_records`` packs once
per corpus, straight from the (id, text) rows; a verify joins candidate
block pairs against their scan and never re-shuffles or re-ranks the
corpus grams.

Both exact block-pair kernels (gram verify and embedding cosine) pack
their hash blocks through ONE helper, ``_pack_blocks``: one count, one
block function (``_hash_block``) and one grouped Arrow pass that turns
each block's rows into one row of raw-bytes cells.

Reference lineage: consecutive-duplicate detection is the reference's
repeated-point stats (JtsGeomStats.java:105-153) and dedup-on-encode
(JtsAdapter.java:405,488) — lossy there, analysis-only here (we never drop
rows during encode; dedup is an explicit operator).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..codecs.bytescodecs import _bytes_parts
from ..plans.manifest import read_marker, write_marker
from .similarity import _norms_seq, _vector_matrix, seq_dots

MERSENNE = (1 << 61) - 1
SHINGLE_BASE = 0x9E3779B97F4A7C15  # minhash/simhash shingle fold, mod 2^64


def round_half_away(x: np.ndarray, digits: int = 6) -> np.ndarray:
    """Round half-away-from-zero — the SQL ROUND mode (DuckDB, Spark
    F.round), unlike numpy's half-to-even. Keeps kernel outputs bit-aligned
    with ANSI-SQL oracles on exact decimal ties."""
    p = 10.0 ** digits
    y = x * p
    return np.trunc(y + np.copysign(0.5, y)) / p


def _bytes_view(txt: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Arrow string/binary column -> (valid mask, per-row byte lens of
    non-null rows, concatenated data bytes). Zero-copy views."""
    valid = (txt.is_valid().to_numpy(zero_copy_only=False)
             if txt.null_count else np.ones(len(txt), dtype=bool))
    return (valid, *_bytes_parts(txt.drop_null()))


def text_batches(batches):
    """The one per-batch read of every text fingerprint stage: each
    non-empty Arrow batch of (id, text) columns -> (ids, lens, data) over
    its non-null text rows (lens/data as ``_bytes_view``)."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        valid, lens, data = _bytes_view(batch.column(1))
        yield batch.column(0).to_numpy(zero_copy_only=False)[valid], lens, data


def _window_hashes(lens: np.ndarray, data: np.ndarray, k: int, base: int,
                   mod: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """The one k-byte window hash of every text fingerprint route:
    ``h = fold(h * base + byte)``, reduced mod ``mod`` after each step, or
    wrapping at 2^64 when ``mod`` is None. Returns (per-doc window counts,
    uint64 hashes of each doc's in-doc windows, doc-concatenated)."""
    n_win = np.maximum(lens - (k - 1), 0)
    if not n_win.any():
        return n_win, np.empty(0, dtype=np.uint64)
    # hash all length-k windows of the concatenated buffer, then select the
    # in-bounds windows per doc via multi_range over doc-local offsets
    from ..codecs.gather import multi_range

    h = np.zeros(len(data) - (k - 1), dtype=np.uint64)
    b = np.uint64(base)
    for j in range(k):
        h *= b
        h += data[j : len(data) - (k - 1) + j]
        if mod is not None:
            h %= np.uint64(mod)
    return n_win, h[multi_range(np.cumsum(lens) - lens, n_win)]


# ---------------------------------------------------------------------------
# exact dedup

def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the smallest id per distinct content value (deterministic).
    Shuffle: one hash-partition on content value; map-side partial min."""
    return (df.groupBy(content_col)
              .agg(F.min(id_col).alias(id_col))
              .select(id_col, content_col))


# ---------------------------------------------------------------------------
# character n-gram jaccard (exact)

def gram_set_expr(text_col: str, k: int):
    """Sorted distinct char-k-gram set of a text column.

    The length guard matters: Spark's ``sequence(1, 0)`` yields a
    DESCENDING [1, 0] (not an empty array), which would fabricate phantom
    grams for texts shorter than k — texts with no k-grams must map to an
    empty set, matching the end-exclusive ``range`` the SQL oracles use.
    """
    return F.expr(
        f"CASE WHEN length({text_col}) >= {k} THEN "
        f"array_sort(array_distinct(transform("
        f"sequence(1, length({text_col}) - {k - 1}),"
        f" i -> substring({text_col}, i, {k})))) "
        f"ELSE array() END")


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        k: int = 3, threshold: float = 0.6) -> DataFrame:
    """Exact jaccard over char k-gram sets for all pairs above threshold.

    O(n^2) — correct-by-construction baseline used as the verify stage on
    LSH candidates at scale; run standalone only at small n.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded.
    """
    g = (df.select(F.col(id_col).alias("id"),
                   gram_set_expr(text_col, k).alias("g"))
           .where(F.size("g") > 0))
    a, b = g.alias("a"), g.alias("b")
    inter = F.size(F.array_intersect(F.col("a.g"), F.col("b.g")))
    union = F.size(F.col("a.g")) + F.size(F.col("b.g")) - inter
    jac = inter / union
    return (a.join(b, F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     F.round(jac, 6).alias("jaccard"))
             .where(F.col("jaccard") >= threshold))


# ---------------------------------------------------------------------------
# minhash + LSH

def _minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE, num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, MERSENNE, num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def minhash_kernel(lens: np.ndarray, data: np.ndarray, num_perm: int,
                   shingle_k: int, seed: int) -> np.ndarray:
    """(n, num_perm) uint64 minhash signature matrix — pure numpy, shared by
    the Spark mapInArrow stage and the oracle fixture writer."""
    a_par, b_par = _minhash_params(num_perm, seed)
    n_sh, sh = _window_hashes(lens, data, shingle_k, SHINGLE_BASE)
    sigs = np.full((len(lens), num_perm), MERSENNE, dtype=np.uint64)
    if len(sh):
        bounds = np.concatenate(([0], np.cumsum(n_sh)))
        nz = n_sh > 0
        starts = bounds[:-1][nz]
        for j in range(num_perm):
            pj = (a_par[j] * sh + b_par[j]) % np.uint64(MERSENNE)
            sigs[nz, j] = np.minimum.reduceat(pj, starts)
    return sigs


def signature_batch(ids: np.ndarray, lens: np.ndarray, data: np.ndarray,
                    num_perm: int, shingle_k: int, seed: int) -> pa.RecordBatch:
    """(id, sig) record batch of one ``text_batches`` item — the rows the
    signature stage emits and the oracle fixture writer persists."""
    sigs = minhash_kernel(lens, data, num_perm, shingle_k, seed)
    offsets = pa.array(np.arange(len(lens) + 1, dtype=np.int32) * num_perm)
    values = pa.array(sigs.view(np.int64).ravel(), type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, type=pa.int64()),
         pa.ListArray.from_arrays(offsets, values)], names=["id", "sig"])


def _signature_schema():
    """(id long, sig array<long>): the signature stage's rows, and the
    known schema of every read of a persisted signature table."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    return StructType([
        StructField("id", LongType(), False),
        StructField("sig", ArrayType(LongType(), False), False),
    ])


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_perm: int = 64, shingle_k: int = 5,
                       seed: int = 42) -> DataFrame:
    """(id, sig: array<long>) — vectorized minhash over char shingles."""
    def fn(batches):
        for ids, lens, data in text_batches(batches):
            yield signature_batch(ids, lens, data, num_perm, shingle_k, seed)

    src = _spread(df.select(F.col(id_col).cast("long").alias("id"),
                            F.col(text_col)))
    return src.mapInArrow(fn, _signature_schema())


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      num_perm: int = 64, bands: int = 16,
                      shingle_k: int = 5, seed: int = 42,
                      hash_bands: bool = False) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing >=1 LSH band bucket.

    Scale path: the only shuffle is the band-bucket join key of
    ``band_pairs``; bucket sizes are bounded by near-duplicate cluster
    sizes, not corpus size. Returns (id_a, id_b, n_bands) distinct pairs.
    ``bands`` must divide ``num_perm`` (ValueError otherwise).

    Band keys default to the raw signature slice (array<long> equality —
    exact, and what the DuckDB oracle reproduces from the signature table);
    hash_bands=True joins on xxhash64(slice) instead, cutting the shuffle key
    from 8*rows_per_band to 8 bytes at a vanishing (2^-64 per bucket)
    collision risk — the right trade at 10^12 docs.

    The signature stage is materialized to a ``temp_dir`` parquet table
    (``_materialize_fp``), so the self-join reads it twice from storage
    instead of recomputing the python kernel per side or pinning an
    executor cache.
    """
    keys = _minhash_band_keys(num_perm, bands, hash_bands)
    sigs = _materialize_fp(
        minhash_signatures(df, text_col, id_col, num_perm, shingle_k, seed),
        "mvt_minhash_")
    return band_pairs(sigs, keys)


def _minhash_band_keys(num_perm: int, bands: int, hashed: bool) -> list:
    """Per-band key expressions over ``sig``: the raw signature slice, or
    its xxhash64 when ``hashed``. A remainder would leave signature rows out
    of every band, so ``bands`` must divide ``num_perm``."""
    if num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    r = num_perm // bands
    keys = [F.slice("sig", b * r + 1, r) for b in range(bands)]
    return [F.xxhash64(k) for k in keys] if hashed else keys


def band_pairs(df: DataFrame, keys: list, probe: DataFrame | None = None
               ) -> DataFrame:
    """(id_a, id_b, n_bands): each id_a < id_b pair of ``df(id, ...)`` rows
    sharing >=1 of the band-key expressions ``keys``, once, with n_bands =
    the number of keys shared. Rows explode to (band, bh) and pair up in an
    equi-join on (band, bh) — the one banded join of every route here.

    With ``probe`` (same shape, ids disjoint from ``df``) only pairs with a
    probe endpoint are returned, with the rows and n_bands the self-join
    over ``df`` ∪ ``probe`` gives. The probe's exploded keys are broadcast
    and joined with themselves and with the streamed ``df`` keys: no join
    takes ``df`` on both sides, so no df×df pair is ever formed.
    """
    def explode(d: DataFrame) -> DataFrame:
        return d.select("id", F.posexplode(F.array(*keys)).alias("band", "bh"))

    def bucket_join(a: DataFrame, b: DataFrame, ordered: bool) -> DataFrame:
        a, b = a.alias("a"), b.alias("b")
        ia, ib = F.col("a.id"), F.col("b.id")
        return (a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.bh") == F.col("b.bh"))
                       & ((ia < ib) if ordered else (ia != ib)))
                .select(F.least(ia, ib).alias("id_a"),
                        F.greatest(ia, ib).alias("id_b")))

    if probe is None:
        banded = explode(df)
        rows = bucket_join(banded, banded, ordered=True)
    else:
        p = F.broadcast(explode(probe))
        rows = bucket_join(p, p, ordered=True).unionByName(
            bucket_join(explode(df), p, ordered=False))
    return rows.groupBy("id_a", "id_b").agg(F.count("*").alias("n_bands"))


_MINHASH_IDX_MARKER = "_MINHASH_OK"


def _index_params(index_dir: str) -> dict:
    p = read_marker(os.path.join(index_dir, _MINHASH_IDX_MARKER))
    if p is None:
        raise FileNotFoundError(f"no committed minhash index at {index_dir}")
    return p


def build_minhash_index(df: DataFrame, text_col: str, id_col: str,
                        index_dir: str, num_perm: int = 64,
                        shingle_k: int = 5, seed: int = 42) -> DataFrame:
    """Persist the corpus minhash signature table (id, sig) as a write-once
    index — the artifact that makes dedup INCREMENTAL: a new crawl batch is
    deduplicated against 10^12 existing documents by reading their
    signatures (8*num_perm bytes/doc), never by re-running the minhash
    kernel over the corpus text. A ``_MINHASH_OK`` marker pins the
    parameters; ``dedup_incremental``/``minhash_index_append`` refuse an
    index whose parameters do not match theirs (mixed-parameter signatures
    are incomparable garbage, so this fails loudly).

    Same discipline as the IVF index (similarity.py) and the gram-record
    stage: build once, query many, caller owns the directory.
    """
    spark = df.sparkSession
    minhash_signatures(df, text_col, id_col, num_perm, shingle_k,
                       seed).write.mode("overwrite").parquet(index_dir)
    write_marker(os.path.join(index_dir, _MINHASH_IDX_MARKER),
                 {"num_perm": num_perm, "shingle_k": shingle_k, "seed": seed})
    return spark.read.schema(_signature_schema()).parquet(index_dir)


def minhash_index_append(new_df: DataFrame, text_col: str, id_col: str,
                         index_dir: str) -> None:
    """Append a new batch's signatures to an existing index (call AFTER the
    batch passed ``dedup_incremental`` and was admitted to the corpus).
    Parameters come from the index marker, so appended signatures are
    always comparable with the existing ones."""
    p = _index_params(index_dir)
    minhash_signatures(new_df, text_col, id_col, p["num_perm"],
                       p["shingle_k"], p["seed"]).write.mode(
                           "append").parquet(index_dir)


def dedup_incremental(corpus_df: DataFrame, new_df: DataFrame,
                      text_col: str, id_col: str, index_dir: str,
                      bands: int = 16, threshold: float = 0.5, k: int = 3,
                      block_rows: int = 512,
                      gram_dir: str | None = None) -> DataFrame:
    """True near-dup pairs (id_a, id_b, jaccard) with at least one NEW
    endpoint: new-vs-corpus and new-vs-new, exactly verified.

    The incremental shape a streaming corpus needs: the corpus side costs
    one scan of its persisted signature index (``build_minhash_index``) —
    no text moves, no kernel runs over old documents. Only the new batch
    is minhashed. Candidates come from ``band_pairs`` in probe mode
    (8-byte xxhash64 band keys, the 10^12-doc shuffle key): the batch's
    band keys are broadcast and joined with themselves and with the
    streamed index keys, so the index is never joined with itself and no
    old×old pair is formed only to be thrown away. Every candidate then
    passes the shared ``exact_jaccard_verify`` over corpus ∪ new text, so
    precision is exact — identical contract to ``ngram_jaccard_lsh``,
    restricted to pairs the new batch introduces. With a ``gram_dir``
    whose blocks were packed over corpus ∪ new (``build_gram_records``,
    same ``k`` and ``block_rows``), the verify side is a scan of those
    packed blocks too: no gram record is re-read, re-shuffled or
    re-ranked per op.

    Ids must be unique across corpus and batch (the table's primary key).
    Accepted workflow: drop/keep decisions from the returned pairs, then
    ``minhash_index_append`` the admitted rows.
    """
    p = _index_params(index_dir)
    keys = _minhash_band_keys(p["num_perm"], bands, hashed=True)
    spark = corpus_df.sparkSession
    new_sig = _materialize_fp(
        minhash_signatures(new_df, text_col, id_col, p["num_perm"],
                           p["shingle_k"], p["seed"]),
        "mvt_minhash_inc_")
    cands = band_pairs(spark.read.schema(_signature_schema()).parquet(
        index_dir), keys, probe=new_sig).select("id_a", "id_b")
    both = (corpus_df.select(F.col(id_col).cast("long").alias(id_col),
                             text_col)
            .unionByName(new_df.select(
                F.col(id_col).cast("long").alias(id_col), text_col)))
    return exact_jaccard_verify(both, cands, text_col, id_col, k=k,
                                threshold=threshold, block_rows=block_rows,
                                gram_dir=gram_dir)


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's parallelism when the input scan is
    too narrow (e.g. one parquet file) — otherwise the vectorized
    fingerprint kernels run on a single core. The width probe is the
    planner's metadata-only ``estimate_width`` (file count — parquet is
    splittable, so it under-counts, never over-counts, width — or the
    session parallelism for an input Spark lists no files for)."""
    from ..plans.codec_plan import estimate_width

    target = df.sparkSession.sparkContext.defaultParallelism
    return df if estimate_width(df) >= target else df.repartition(target)


_FP_TMP_DIRS: list[str] = []


def temp_dir(prefix: str) -> str:
    """A fresh temp dir that ``cleanup_temp_dirs`` removes — explicitly, or
    at interpreter exit as the backstop. It must outlive every DataFrame
    that lazily re-reads its files, so nothing deletes it any earlier."""
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    if not _FP_TMP_DIRS:
        import atexit

        atexit.register(cleanup_temp_dirs)
    _FP_TMP_DIRS.append(d)
    return d


def _materialize_fp(df: DataFrame, prefix: str) -> DataFrame:
    """Land a fingerprint/signature stage as a parquet table in a fresh
    ``temp_dir`` so the self-join reads it twice from storage instead of
    recomputing the python kernel per side or pinning an executor cache
    for the session."""
    work_dir = temp_dir(prefix)
    df.write.mode("overwrite").parquet(work_dir)
    return df.sparkSession.read.schema(df.schema).parquet(work_dir)


def cleanup_temp_dirs() -> int:
    """Remove every ``temp_dir`` (signature/gram stages, cached index dirs)
    NOW and return how many were deleted. Long-lived driver sessions call
    this between dedup batches so disk does not accumulate one dir per
    operator call; it also runs once at interpreter exit as the backstop.

    Only call after fully consuming (or persisting) the DataFrames the
    dedup operators returned — they lazily re-read these files."""
    import shutil

    n = len(_FP_TMP_DIRS)
    for d in _FP_TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _FP_TMP_DIRS.clear()
    return n


def _gram_source(df: DataFrame, text_col: str, id_col: str,
                 k: int) -> DataFrame:
    """(id, text) rows with at least one char-k-gram: exactly the docs
    ``gram_records`` emits a record run for, so its count is theirs and
    every packed block holds at least one doc."""
    return (df.where(F.col(text_col).isNotNull()
                     & (F.length(text_col) >= k))
              .select(F.col(id_col).cast("long").alias("id"),
                      F.col(text_col)))


def gram_records(ids: np.ndarray, lens: np.ndarray, data: np.ndarray,
                 k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One ``text_batches`` item -> (ids, cnts, recs): each doc with at
    least one char-k-gram, its number of distinct grams, and its distinct
    grams as bytewise-sorted fixed-width records (``S{4k+1}``: a length
    byte, then the gram's utf-8 bytes, zero-padded), doc runs
    concatenated. Pure numpy; ``build_gram_records``' pack calls it.

    Grams come straight from the raw text bytes. Rows that are pure ASCII
    (the overwhelming case) take the vectorized byte-window path (char
    grams == byte grams) and come out first; rows with multi-byte
    characters follow from a per-row python set over decoded characters
    — identical char-gram semantics to substring(text, i, k), so the SQL
    oracle is unchanged.
    """
    from ..codecs.gather import multi_range

    rw = 4 * k + 1  # utf-8 worst case: 4 bytes per char, plus the length
    ofs = np.concatenate(([0], np.cumsum(lens)))
    # per-row ascii flag: any byte >= 0x80 forces the char fallback
    non_ascii = (np.add.reduceat(data >= 0x80, ofs[:-1]) > 0 if len(data)
                 else np.zeros(len(ids), dtype=bool))
    non_ascii &= lens > 0
    out_ids, runs = [], []
    # vectorized path: k-byte windows over the flat buffer, one record
    # matrix build, per-row unique (sorts + dedups)
    asc = np.flatnonzero(~non_ascii & (lens >= k))
    if len(asc):
        n_gr = lens[asc] - (k - 1)
        win_idx = multi_range(ofs[:-1][asc], n_gr)
        rec = np.zeros((len(win_idx), rw), dtype=np.uint8)
        rec[:, 0] = k
        for j in range(k):
            rec[:, 1 + j] = data[win_idx + j]
        rv = rec.view(f"S{rw}").ravel()
        starts = np.concatenate(([0], np.cumsum(n_gr)))
        out_ids.append(ids[asc])
        runs += [np.unique(rv[starts[p] : starts[p + 1]])
                 for p in range(len(asc))]
    for i in np.flatnonzero(non_ascii):
        s = bytes(data[ofs[i] : ofs[i + 1]]).decode("utf-8")
        if len(s) < k:
            continue
        gset = {s[p : p + k].encode() for p in range(len(s) - k + 1)}
        recs = np.zeros((len(gset), rw), dtype=np.uint8)
        for row, gb in enumerate(gset):
            recs[row, 0] = len(gb)
            recs[row, 1 : 1 + len(gb)] = np.frombuffer(gb, np.uint8)
        out_ids.append(ids[i : i + 1])
        runs.append(np.unique(recs.view(f"S{rw}").ravel()))
    return (np.concatenate(out_ids or [ids[:0]]),
            np.array([len(r) for r in runs], dtype=np.int64),
            np.concatenate(runs or [np.empty(0, f"S{rw}")]))


def ngram_jaccard_lsh(df: DataFrame, text_col: str, id_col: str,
                      k: int = 3, threshold: float = 0.5,
                      num_perm: int = 64, bands: int = 16,
                      shingle_k: int = 5, seed: int = 42,
                      block_rows: int = 512,
                      hash_bands: bool = True,
                      gram_dir: str | None = None) -> DataFrame:
    """Scale-path near-dup detection: minhash-LSH candidate pairs, then
    EXACT char-k-gram jaccard computed only on the candidates.

    Replaces ngram_jaccard_pairs' O(n^2) self-join with
    O(candidates) exact work — candidates are bounded by near-duplicate
    cluster sizes, not corpus size. Recall is the LSH recall (1-(1-j^r)^b;
    >=0.99 for j>=0.8 at 64/16); precision is exact (every reported pair
    carries its true jaccard). Returns (id_a, id_b, jaccard).

    Candidate generation is minhash-LSH; the exact verify stage is the
    shared ``exact_jaccard_verify`` (see its docstring for the block-pair
    plan). ``ngram_jaccard_winnow`` is the same composition with winnowing
    fingerprints as the candidate generator.

    ``hash_bands`` defaults to True here (unlike ``minhash_lsh_pairs``,
    whose raw array<long> band key is what the DuckDB oracle reproduces
    directly): this IS the scale entry point, and the 8-byte xxhash64 band
    key is the right shuffle-key size at 10^12 docs. The candidate set is
    identical to the raw-key set modulo a 2^-64-per-bucket hash collision,
    and the exact-verify stage makes even that harmless for precision —
    a colliding non-duplicate pair is measured and dropped.
    """
    cands = minhash_lsh_pairs(df, text_col, id_col, num_perm, bands,
                              shingle_k, seed, hash_bands=hash_bands)
    return exact_jaccard_verify(df, cands, text_col, id_col, k=k,
                                threshold=threshold, block_rows=block_rows,
                                gram_dir=gram_dir)


_GRAMS_MARKER = "_GRAMS_OK"


def _block_schema(*cells: str):
    """One row per hash block ``b``: the block's packed cells, each as raw
    bytes — the row shape of both block-pair kernels' packs."""
    from pyspark.sql.types import (BinaryType, IntegerType, StructField,
                                   StructType)

    return StructType([StructField("b", IntegerType(), False),
                       *[StructField(c, BinaryType(), False) for c in cells]])


def _gram_blocks_schema():
    """The persisted gram artifact: one row per hash block ``b``, holding
    its docs' ids (sorted int64) and per-doc record counts (int64), the
    block's sorted distinct records (``vocab``, ``S{4k+1}``) and one int32
    rank in ``vocab`` per record (``codes``), all as raw bytes."""
    return _block_schema("ids", "cnts", "vocab", "codes")


def _hash_block(c: str, n_blocks: int):
    """The hash block of an id column: the one block function of both
    block-pair kernels' packs and of the verify's candidate grouping."""
    return F.pmod(F.xxhash64(c), F.lit(n_blocks)).cast("int")


def _pack_blocks(src: DataFrame, block_rows: int, pack,
                 schema) -> tuple[DataFrame, int, int]:
    """The one hash-block pack of both block-pair kernels: count ``src``'s
    (id, ...) rows, hash them into ``n_blocks = ceil(n / block_rows)``
    blocks (``_hash_block``), and turn each block's rows into ONE row of
    ``schema`` in a single grouped Arrow pass; ``pack(table)`` returns the
    block's cells as numpy arrays, in ``schema`` order after ``b``.
    Returns (packed, n, n_blocks)."""
    n = src.count()
    n_blocks = max(1, -(-n // block_rows))

    def one_row(key, table):
        return pa.table([pa.array([key[0].as_py()], pa.int32()),
                         *[pa.array([c.tobytes()], pa.binary())
                           for c in pack(table)]], names=schema.names)

    packed = (src.groupBy(_hash_block("id", n_blocks))
                 .applyInArrow(one_row, schema))
    return packed, n, n_blocks


def build_gram_records(df: DataFrame, text_col: str, id_col: str, k: int,
                       gram_dir: str, block_rows: int = 512) -> DataFrame:
    """Materialize (or reuse) the packed gram blocks at ``gram_dir``.

    Docs with at least one char-k-gram (``_gram_source``) are hashed into
    ``n_blocks = ceil(n_rows / block_rows)`` blocks, and each block is
    packed and ranked ONCE, here, in one grouped Arrow pass
    (``_pack_blocks``) straight from its (id, text) rows: ``gram_records``
    turns the text into each doc's sorted distinct records, the docs are
    re-sorted by id, and ``rank_gram_block`` ranks the block's records:
    (b, ids, cnts, vocab, codes), see ``_gram_blocks_schema``. Those
    packed blocks are the artifact, so verify reads them as they lie: no
    per-op shuffle and no re-rank of the corpus.

    The blocks are a deterministic function of (corpus, text_col, k,
    block_rows), and every verified dedup route reads the SAME blocks
    through ``exact_jaccard_verify`` — so when several routes run over one
    corpus (minhash-verified, winnow-verified, a cleaning pipeline), the
    stage is built ONCE and reused, exactly like the write-once IVF index.
    A ``_GRAMS_OK`` marker (``write_marker``; ignored by the parquet
    reader: leading underscore) records the parameters, ``n_rows`` (the
    docs with at least one k-gram, counted on the source before the pack)
    and ``n_blocks``, so a reuse needs no job at all. A parameter mismatch,
    or a marker that is missing, unreadable or lacks a count (the older
    per-doc record format), rebuilds and overwrites. Callers own
    ``gram_dir``'s lifecycle; reuse across process restarts is safe as
    long as the source table is unchanged (the same contract as the IVF
    index dir and the encode resume markers)."""
    spark = df.sparkSession
    schema = _gram_blocks_schema()
    marker = os.path.join(gram_dir, _GRAMS_MARKER)
    want = {"k": int(k), "text_col": text_col, "id_col": id_col,
            "block_rows": int(block_rows)}
    got = read_marker(marker) or {}
    counts = [got.pop(c, None) for c in ("n_rows", "n_blocks")]
    if None not in counts and got == want:
        return spark.read.schema(schema).parquet(gram_dir)

    def pack(table):
        from ..codecs.gather import multi_range

        ids, cnts, recs = (np.concatenate(c) for c in zip(*(
            gram_records(*item, k) for item in text_batches(
                table.to_batches()))))
        # ASCII and non-ASCII docs come out of separate passes: re-sort
        # the block's docs (and their record runs) by id
        o = np.argsort(ids, kind="stable")
        recs = recs[multi_range((np.cumsum(cnts) - cnts)[o], cnts[o])]
        return ids[o], cnts[o], *rank_gram_block(recs)

    packed, n, n_blocks = _pack_blocks(
        _gram_source(df, text_col, id_col, k), block_rows, pack, schema)
    packed.write.mode("overwrite").parquet(gram_dir)
    write_marker(marker, {**want, "n_rows": n, "n_blocks": n_blocks})
    return spark.read.schema(schema).parquet(gram_dir)


def rank_gram_block(recs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One hash block's gram records (``S{4k+1}``, each doc's run sorted
    bytewise) -> (vocab, codes): the block's sorted distinct records and
    each record's int32 rank in ``vocab``. Ranks follow byte order, so
    every doc's code run stays sorted. Pure numpy, shared by
    ``build_gram_records``' per-block pack and the kernel tests."""
    vocab, codes = np.unique(recs, return_inverse=True)
    return vocab, codes.astype(np.int32)


def block_pair_jaccard(x: tuple, y: tuple, ida: np.ndarray,
                       idb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact gram jaccard of candidate pairs (ida[i] in block x, idb[i] in
    block y). Each block is (ids, cnts, vocab, codes): ids sorted, cnts >= 1
    per doc, and (vocab, codes) from ``rank_gram_block``.

    Returns (sel, jaccard): the indices of the candidates whose docs both
    have a gram row (a doc with text shorter than k has none and drops
    out), and their jaccard rounded half-away to 6 digits. Nothing is
    sorted: x's vocabulary maps into y's code space with one searchsorted,
    and one more searchsorted intersects every pair's code runs at once.
    """
    from ..codecs.gather import multi_range

    xi, xc, xv, cx = x
    yi, yc, yv, cy = y
    # ids sorted -> binary-search doc lookup
    pa_ = np.searchsorted(xi, ida).clip(max=max(len(xi) - 1, 0))
    pb_ = np.searchsorted(yi, idb).clip(max=max(len(yi) - 1, 0))
    ok = np.zeros(len(ida), dtype=bool)
    if len(xi) and len(yi):
        ok = (xi[pa_] == ida) & (yi[pb_] == idb)
    sel = np.flatnonzero(ok)
    # x's vocabulary in y's code space; grams y lacks map to -1, which
    # (with stride = len(yv) + 1 below) can never equal a code of y
    xmap = np.full(len(xv), -1, dtype=np.int64)
    if len(yv):
        at = np.searchsorted(yv, xv).clip(max=len(yv) - 1)
        found = yv[at] == xv
        xmap[found] = at[found]
    # each pair p's code runs are shifted by p * stride, so the
    # concatenated target array stays globally sorted and one binary-search
    # pass answers all pairs; per-pair hit counts fall out of a reduceat
    # over the needle boundaries
    ai, bi = pa_[sel], pb_[sel]
    la, lb = xc[ai], yc[bi]
    stride = np.int64(len(yv) + 1)
    pair_no = np.arange(len(sel), dtype=np.int64)
    A = (xmap[cx[multi_range((np.cumsum(xc) - xc)[ai], la)]]
         + stride * np.repeat(pair_no, la))
    B = (cy[multi_range((np.cumsum(yc) - yc)[bi], lb)].astype(np.int64)
         + stride * np.repeat(pair_no, lb))
    pos = np.searchsorted(B, A)
    hit = np.zeros(len(A), dtype=bool)
    inb = pos < len(B)
    hit[inb] = B[pos[inb]] == A[inb]
    # bool reduceat would saturate (logical or) - count in int64
    inter = (np.add.reduceat(hit.astype(np.int64), np.cumsum(la) - la)
             if len(A) else np.zeros(len(sel), dtype=np.int64))
    return sel, round_half_away(inter / (la + lb - inter), 6)


def exact_jaccard_verify(df: DataFrame, cands: DataFrame, text_col: str,
                         id_col: str, k: int = 3, threshold: float = 0.5,
                         block_rows: int = 512,
                         gram_dir: str | None = None) -> DataFrame:
    """Exact char-k-gram jaccard over a candidate-pair DataFrame
    (id_a, id_b) — the verify stage every sub-quadratic dedup route
    composes with (minhash-LSH: ngram_jaccard_lsh; winnowing:
    ngram_jaccard_winnow). Returns (id_a, id_b, jaccard >= threshold).

    Verify plan: the packed gram blocks come from ONE path,
    ``build_gram_records``: into ``gram_dir`` when given (reused as they
    lie when its marker matches ``k``, ``block_rows`` and the columns),
    else into a fresh ``temp_dir``. Each block ships its sorted distinct
    records (``vocab``) and one int32 code per record (``codes``), ranked
    once when the blocks were built. Candidate pairs are grouped by their
    (block_a, block_b) key under the block function and ``n_blocks`` the
    marker records, each group joins its two blocks straight from the
    block scan, and ONE Arrow kernel per block pair remaps x's vocabulary
    into y's code space and intersects integer codes with numpy
    searchsorted (``block_pair_jaccard``). Each doc's codes cross the wire
    once per partner BLOCK — not once per candidate pair, which is what
    made both the Catalyst array_intersect plan and the naive
    per-pair-kernel plan transfer-bound on candidate-dense corpora.
    Exactness: vocabularies carry full gram bytes (length-prefixed, no
    hashing), and double division + half-away rounding match the ANSI
    oracle bit-for-bit. Verify itself runs no count job, no shuffle of the
    blocks and no grouped pack.
    """
    from pyspark.sql.pandas.types import from_arrow_schema

    rw = 4 * k + 1
    gram_dir = gram_dir or temp_dir("mvt_gramrec_")
    packed = build_gram_records(df, text_col, id_col, k, gram_dir,
                                block_rows)
    n_blocks = read_marker(os.path.join(gram_dir, _GRAMS_MARKER))["n_blocks"]

    grouped = (cands
               .groupBy(_hash_block("id_a", n_blocks).alias("ba"),
                        _hash_block("id_b", n_blocks).alias("bb"))
               .agg(F.collect_list(F.struct("id_a", "id_b")).alias("prs")))
    x, y = packed.alias("x"), packed.alias("y")
    sides = ("ids", "cnts", "vocab", "codes")
    joined = (grouped
              .join(x, F.col("ba") == F.col("x.b"))
              .join(y, F.col("bb") == F.col("y.b"))
              .select("prs", *[F.col(f"{s}.{c}").alias(f"{c}_{s}")
                               for s in ("x", "y") for c in sides]))

    out_schema = pa.schema([pa.field("id_a", pa.int64()),
                            pa.field("id_b", pa.int64()),
                            pa.field("jaccard", pa.float64())])
    dtypes = (np.int64, np.int64, f"S{rw}", np.int32)

    def verify(batches):
        for batch in batches:
            prs_col = batch.column("prs")
            p_off = np.concatenate(
                ([0], np.cumsum(prs_col.value_lengths().fill_null(0)
                                .to_numpy(zero_copy_only=False))))
            st = prs_col.flatten()
            all_a = st.field("id_a").to_numpy(zero_copy_only=False)
            all_b = st.field("id_b").to_numpy(zero_copy_only=False)
            cols = {s: [batch.column(f"{c}_{s}") for c in sides]
                    for s in ("x", "y")}

            def block(s, i):
                # zero-copy views of one shipped block's cells
                return tuple(np.frombuffer(col[i].as_buffer(), dtype=dt)
                             for col, dt in zip(cols[s], dtypes))

            for i in range(batch.num_rows):
                ida = all_a[p_off[i] : p_off[i + 1]]
                idb = all_b[p_off[i] : p_off[i + 1]]
                sel, jac = block_pair_jaccard(block("x", i), block("y", i),
                                              ida, idb)
                keep = jac >= threshold
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ida[sel][keep], type=pa.int64()),
                     pa.array(idb[sel][keep], type=pa.int64()),
                     pa.array(jac[keep], type=pa.float64())],
                    schema=out_schema)

    return joined.mapInArrow(verify, from_arrow_schema(out_schema))


def winnow_candidate_pairs(df: DataFrame, text_col: str, id_col: str,
                           k: int = 8, window: int = 4,
                           min_shared: int = 2,
                           max_df: int = 64) -> DataFrame:
    """Near-dup candidate pairs from winnowing fingerprints — the third
    candidate route next to minhash (set similarity) and simhash (hamming),
    with the SIGMOD'03 guarantee the other two lack: any two documents
    sharing a substring of length >= window + k - 1 share at least one
    fingerprint, so long verbatim overlaps are NEVER missed, independent of
    how dissimilar the rest of the documents is.

    Plan: fingerprint_winnow builds the distinct (id, fp) index (one
    vectorized kernel pass + one distinct shuffle); fingerprints appearing
    in more than ``max_df`` documents are dropped as stop-fingerprints
    (boilerplate — every pair they'd generate is also covered by the doc
    pair's rarer shared fingerprints, and without the cap one viral navbar
    string would emit a |docs|^2 blowup); the self-join on fp is then a
    bucketed shuffle with per-bucket fan-out <= max_df^2. ``min_shared``
    filters coincidental single-fp collisions. Returns
    (id_a, id_b, n_shared).
    """
    from .textstats import fingerprint_winnow

    fp = fingerprint_winnow(df, text_col, id_col, k, window)
    stop = (fp.groupBy("fp").agg(F.count("*").alias("n"))
              .where(F.col("n") > max_df).select("fp"))
    # left_anti on fp shares the self-join's hash key; the stop set is
    # tiny (<= |fp rows| / max_df) so AQE broadcasts it in practice
    fpf = fp.join(stop, "fp", "left_anti")
    return (band_pairs(fpf, [F.col("fp")])
            .withColumnRenamed("n_bands", "n_shared")
            .where(F.col("n_shared") >= min_shared))


def ngram_jaccard_winnow(df: DataFrame, text_col: str, id_col: str,
                         k: int = 3, threshold: float = 0.5,
                         fp_k: int = 8, window: int = 4,
                         min_shared: int = 2, max_df: int = 64,
                         block_rows: int = 512,
                         gram_dir: str | None = None) -> DataFrame:
    """Winnowing-candidate near-dup route: winnow_candidate_pairs ->
    exact_jaccard_verify. Same output contract as ngram_jaccard_lsh
    (id_a, id_b, true jaccard >= threshold), different recall envelope:
    winnowing guarantees recall on shared-substring duplicates (mirror
    pages, boilerplate wraps around identical bodies) where minhash
    recall degrades smoothly with overall set similarity."""
    cands = winnow_candidate_pairs(df, text_col, id_col, fp_k, window,
                                   min_shared, max_df).select("id_a", "id_b")
    return exact_jaccard_verify(df, cands, text_col, id_col, k=k,
                                threshold=threshold, block_rows=block_rows,
                                gram_dir=gram_dir)


# ---------------------------------------------------------------------------
# near-dup cluster collapse: connected components + canonical pick

def dedup_components(pairs: DataFrame, id_a: str = "id_a",
                     id_b: str = "id_b", max_iters: int = 200,
                     algorithm: str = "labelprop") -> DataFrame:
    """Connected components of the near-duplicate pair graph:
    (id, comp) where comp = the smallest doc id in the component — the
    canonical representative a dedup pipeline keeps (every other member
    is the drop set). Only ids that appear in at least one pair are
    returned; unpaired docs are trivially their own canonical.

    algorithm="labelprop" (default): alternating min-label propagation
    (each round every node takes the min label over itself and its
    neighbors) — deterministic, one shuffle per round, terminates in
    O(component diameter) rounds. Near-dup clusters are dense, so the
    diameter is small in practice. The convergence check is folded into
    the round's own materialization: the update carries a ``chg`` flag
    column and localCheckpoint (eager) runs the job, so the probe is a
    take(1) scan over the already-materialized blocks — no second
    join+count job per round.

    algorithm="star": the large-star/small-star alternation (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    O(log^2 n) rounds on adversarial long-chain graphs where labelprop
    needs O(diameter). Use it when components may be deep (transitive
    near-dup chains over crawl snapshots); for shallow dense clusters
    labelprop does fewer shuffles per round.

    localCheckpoint trades fault-tolerance for speed (lost executors
    cannot recompute truncated lineage); on a real cluster set a reliable
    ``spark.sparkContext.setCheckpointDir`` and swap to ``.checkpoint()``
    for runs long enough to see executor churn.
    """
    if algorithm == "star":
        return _components_star(pairs, id_a, id_b, max_iters)
    if algorithm != "labelprop":
        raise ValueError(f"unknown algorithm {algorithm!r} "
                         "(expected 'labelprop' or 'star')")
    edges = pairs.select(F.col(id_a).cast("long").alias("a"),
                         F.col(id_b).cast("long").alias("b"))
    # localCheckpoint (eager) truncates lineage each round — without it the
    # logical plan doubles per iteration and analysis time explodes (the
    # standard iterative-DataFrame pitfall)
    edges = (edges.union(edges.select(F.col("b").alias("a"),
                                      F.col("a").alias("b"))).distinct()
                  .localCheckpoint())
    labels = (edges.select(F.col("a").alias("id")).distinct()
                   .withColumn("comp", F.col("id")).localCheckpoint())
    for it in range(max_iters):
        nbr = (edges.join(labels.withColumnRenamed("id", "a"), "a")
                    .groupBy(F.col("b").alias("id"))
                    .agg(F.min("comp").alias("nc")))
        # ONE job per round: the eager localCheckpoint materializes the
        # update with its chg flag; the convergence probe below is a
        # take(1) over those materialized blocks, not a recompute
        new_labels = (labels.join(nbr, "id", "left")
                      .select("id",
                              F.least(F.col("comp"),
                                      F.coalesce("nc", "comp")).alias("comp"),
                              (F.coalesce("nc", F.col("comp"))
                               < F.col("comp")).alias("chg"))
                      .localCheckpoint())
        converged = new_labels.where(F.col("chg")).isEmpty()
        labels = new_labels.select("id", "comp")
        if converged:
            break
    else:
        raise RuntimeError(
            f"components did not converge in {max_iters} min-label rounds "
            f"(component diameter exceeds max_iters) — rerun with "
            f"algorithm='star' (O(log^2 n) rounds on long chains) or a "
            f"higher max_iters")
    return labels


def _components_star(pairs: DataFrame, id_a: str, id_b: str,
                     max_iters: int) -> DataFrame:
    """Large-star/small-star connected components (SoCC'14). Maintains a
    shrinking edge set; converges when the edge set is a fixed point of the
    small-star round, at which point every edge is (node, component-min).

    Fixed-point detection: count + sum of per-edge 64-bit hashes (exact
    arithmetic via decimal(38,0)) compared across rounds. Two DISTINCT
    consecutive edge sets colliding on both count and 64-bit hash-sum is a
    ~2^-64 event — and a false "converged" here could only ever happen on a
    not-yet-star graph that the deterministic operators map to a same-count
    same-hashsum graph, which self-checks below (the final edge set must be
    self-loop-free and star-shaped is implied by the fixed point).
    """
    edges = (pairs.select(F.col(id_a).cast("long").alias("u"),
                          F.col(id_b).cast("long").alias("v"))
                  .where(F.col("u") != F.col("v"))
                  .distinct().localCheckpoint())
    nodes = (edges.select(F.col("u").alias("id"))
                  .union(edges.select(F.col("v").alias("id")))
                  .distinct().localCheckpoint())

    def _fingerprint(e: DataFrame) -> tuple[int, int]:
        r = e.agg(F.count("*").alias("n"),
                  F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h")
                  ).first()
        return int(r["n"]), int(r["h"] or 0)

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (sym.groupBy("u")
                .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        return (sym.join(m, "u")
                   .where(F.col("v") > F.col("u"))
                   .select(F.col("v").alias("u"), F.col("m").alias("v"))
                   .distinct())

    def _small_star(e: DataFrame) -> DataFrame:
        # orient hi -> lo, then point every lo-neighbor (and hi) at the min
        o = e.select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v"))
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        om = o.join(m, "u")
        out = (om.select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .union(om.select(F.col("u"), F.col("m").alias("v"))))
        return out.where(F.col("u") != F.col("v")).distinct()

    fp = _fingerprint(edges)
    for _ in range(max_iters):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        nfp = _fingerprint(edges)
        if nfp == fp:
            break
        fp = nfp
    else:
        raise RuntimeError(
            f"star components did not converge in {max_iters} rounds")
    # fixed point: edges = (member, component-min) stars; centers label
    # themselves
    return (nodes.join(edges.select(F.col("u").alias("id"),
                                    F.col("v").alias("c")), "id", "left")
                 .groupBy("id").agg(F.min("c").alias("c"))
                 .select("id", F.coalesce("c", "id").alias("comp")))


def dedup_drop_set(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b") -> DataFrame:
    """(id, keep_id): every non-canonical member of each near-dup cluster
    with the canonical doc that replaces it — the rows a training-data
    pipeline deletes after near-dup detection."""
    comp = dedup_components(pairs, id_a, id_b)
    return (comp.where(F.col("id") != F.col("comp"))
                .select("id", F.col("comp").alias("keep_id")))


# ---------------------------------------------------------------------------
# simhash

def simhash_kernel(lens: np.ndarray, data: np.ndarray,
                   shingle_k: int) -> np.ndarray:
    """uint64 simhash per row (per-bit majority vote over shingle hashes) —
    pure numpy, shared by the Spark stage and the oracle fixture writer."""
    n_sh, sh = _window_hashes(lens, data, shingle_k, SHINGLE_BASE)
    fps = np.zeros(len(lens), dtype=np.uint64)
    if len(sh):
        bits = np.unpackbits(sh.view(np.uint8).reshape(-1, 8), axis=1,
                             bitorder="little").astype(np.int32) * 2 - 1
        bounds = np.concatenate(([0], np.cumsum(n_sh)))
        nz = n_sh > 0
        votes = np.add.reduceat(bits, bounds[:-1][nz], axis=0)
        packed = np.packbits((votes > 0).astype(np.uint8), axis=1,
                             bitorder="little")
        fps[nz] = packed.view(np.uint64).ravel()
    return fps


def simhash_batch(ids: np.ndarray, lens: np.ndarray, data: np.ndarray,
                  shingle_k: int) -> pa.RecordBatch:
    """(id, simhash) record batch of one ``text_batches`` item — the rows
    the simhash stage emits and the oracle fixture writer persists."""
    fps = simhash_kernel(lens, data, shingle_k)
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, type=pa.int64()),
         pa.array(fps.view(np.int64), type=pa.int64())],
        names=["id", "simhash"])


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str,
                         shingle_k: int = 4) -> DataFrame:
    """(id, simhash long): per-bit majority vote over shingle hashes."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([
        StructField("id", LongType(), False),
        StructField("simhash", LongType(), False),
    ])

    def fn(batches):
        for ids, lens, data in text_batches(batches):
            yield simhash_batch(ids, lens, data, shingle_k)

    src = _spread(df.select(F.col(id_col).cast("long").alias("id"),
                            F.col(text_col)))
    return src.mapInArrow(fn, out_schema)


def simhash_band_exprs():
    """Composite band keys: the 64-bit fingerprint split into 8 blocks of
    8 bits, one key per unordered block *pair* (28 keys).

    Pigeonhole recall guarantee: hamming <= 6 flips bits in at most 6
    blocks, leaving >= 2 blocks identical — so some block pair matches
    exactly and every hamming<=6 pair is a candidate.
    """
    blocks = [F.shiftright("simhash", 8 * i).bitwiseAND(F.lit(0xFF))
              for i in range(8)]
    return [F.shiftleft(blocks[i], 8) + blocks[j]
            for i in range(8) for j in range(i + 1, 8)]


def simhash_pairs(df: DataFrame, text_col: str, id_col: str,
                  max_hamming: int = 6, shingle_k: int = 4) -> DataFrame:
    """ALL pairs with fingerprint hamming distance <= max_hamming (exact for
    max_hamming <= 6 by the block-pair pigeonhole — see simhash_band_exprs),
    verified against a DuckDB all-pairs hamming join in the oracle gate.

    Scale shape: the only shuffle is the band-bucket join; expected random
    collisions per key are n^2/2^16 per band over uniform fingerprints.
    Degenerate corpora (a huge exact-duplicate class sharing one
    fingerprint) make the *output itself* quadratic — run exact_dedup first
    at scale so identical texts collapse before near-dup detection.

    The fingerprint stage is materialized to a ``temp_dir`` parquet table
    (``_materialize_fp``) so the self-join reads it from storage twice
    instead of recomputing the python kernel per side or pinning an
    executor cache for the session.
    """
    if max_hamming > 6:
        raise ValueError("recall guarantee covers max_hamming <= 6 "
                         "(8 blocks, pairs of blocks); got "
                         f"{max_hamming}")
    fp = _materialize_fp(simhash_fingerprints(df, text_col, id_col, shingle_k),
                         "mvt_simhash_")
    return simhash_pairs_from_fps(fp, max_hamming)


def simhash_pairs_from_fps(fp: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Band join over an (id, simhash) DataFrame — see simhash_pairs. The
    distinct band pairs join back to ``fp`` for both fingerprints and are
    kept when their hamming distance is <= max_hamming."""
    fa = fp.select(F.col("id").alias("id_a"), F.col("simhash").alias("sa"))
    fb = fp.select(F.col("id").alias("id_b"), F.col("simhash").alias("sb"))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    return (band_pairs(fp, simhash_band_exprs()).join(fa, "id_a").join(fb, "id_b")
            .select("id_a", "id_b", ham.alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


# ---------------------------------------------------------------------------
# sign-random-projection LSH for embeddings (sub-quadratic cosine dedup)

def srp_kernel(V: np.ndarray, seed: int = 42) -> np.ndarray:
    """uint64 sign-random-projection fingerprints: bit j (of 64) =
    sign(V @ R[:, j]) with a seeded gaussian projection matrix. Pure numpy
    — shared by the Spark stage and the oracle fixture writer. P(bit
    differs) = angle/pi, so hamming distance estimates the angle between
    vectors."""
    rng = np.random.default_rng(seed)
    R = rng.standard_normal((V.shape[1], 64))
    bits = (V @ R) > 0
    return np.packbits(bits.astype(np.uint8), axis=1,
                       bitorder="little").view(np.uint64).ravel()


def srp_fingerprints(df: DataFrame, vec_col: str, id_col: str,
                     seed: int = 42) -> DataFrame:
    """(id, simhash long): SRP fingerprints of an embedding column — named
    ``simhash`` so the block-pair banding machinery is shared verbatim."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([
        StructField("id", LongType(), False),
        StructField("simhash", LongType(), False),
    ])

    def fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False)
            fps = srp_kernel(_vector_matrix(b.column(1)), seed=seed)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()),
                 pa.array(fps.view(np.int64), type=pa.int64())],
                names=["id", "simhash"])

    src = _spread(df.where(F.col(vec_col).isNotNull())
                    .select(F.col(id_col).cast("long").alias("id"),
                            F.transform(F.col(vec_col),
                                        lambda x: x.cast("double")).alias("v")))
    return src.mapInArrow(fn, out_schema)


def embedding_srp_pairs(df: DataFrame, vec_col: str, id_col: str,
                        threshold: float = 0.95, seed: int = 42) -> DataFrame:
    """Sub-quadratic cosine near-dup pairs: SRP band candidates -> EXACT
    cosine verify on candidates only. Returns (id_a, id_b, cosine).

    Scale shape: fingerprints are one map pass; the only quadratic-ish
    step is the band-bucket join, whose buckets hold vectors agreeing on
    16 projection signs. Precision is exact (every reported pair carries
    its true cosine, same fold/rounding as the SQL oracle). Recall: a pair
    surfaces iff some block pair of its fingerprints matches — guaranteed
    when SRP hamming <= 6, i.e. designed for true near-duplicates
    (E[hamming] = 64*angle/pi ~ 6 at cosine 0.96); at looser thresholds
    recall decays and the exact block-pair plan
    (embedding_neardup_pairs) or IVF bucketing is the right tool.
    """
    from .similarity import _as_double, _dot, _norm

    fp = _materialize_fp(srp_fingerprints(df, vec_col, id_col, seed),
                         "mvt_srp_")
    cands = band_pairs(fp, simhash_band_exprs())
    v = (df.where(F.col(vec_col).isNotNull())
           .select(F.col(id_col).cast("long").alias("id"),
                   _as_double(F.col(vec_col)).alias("v")))
    v = (v.select("id", "v", _norm(F.col("v")).alias("nrm"))
          .where(F.col("nrm") > 0))
    va = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                  F.col("nrm").alias("na"))
    vb = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                  F.col("nrm").alias("nb"))
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (cands.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b", cos.alias("cosine"))
            .where(F.col("cosine") >= threshold))


# ---------------------------------------------------------------------------
# embedding cosine near-dup

def embedding_neardup_pairs(df: DataFrame, vec_col: str, id_col: str,
                            threshold: float = 0.95,
                            block_rows: int = 4096) -> DataFrame:
    """Exact cosine pairs >= threshold — fully distributed block-matrix plan.

    Physical plan: vectors are grouped into B = ceil(n/block_rows) blocks by
    id hash (``_pack_blocks``, the same grouped Arrow pack as the gram
    artifact's); each block is packed into ONE row holding (ids, row-major
    f64 matrix bytes). The B(B+1)/2 unordered block pairs are enumerated by a
    self-join on block id, and an Arrow kernel computes each pair's dense
    cosine sub-matrix. Nothing is ever collected to the driver, and peak
    task memory is two blocks plus a sub-chunked score matrix. Exact
    all-pairs is inherently O(n^2) work — this shape distributes it evenly
    across B^2/2 tasks; the sub-quadratic scale paths are minhash_lsh_pairs
    and similarity.ivf_topk.

    Fold-order/rounding discipline: norms and dots accumulate
    dimension-sequentially (the SQL left-to-right fold) and rounding is
    half-away-from-zero (SQL ROUND), so rounded cosines match the ANSI
    oracle bit-for-bit. Null vectors are dropped (the oracle's nrm > 0
    predicate is NULL-false there); ragged dimensions raise.
    """
    from pyspark.sql.pandas.types import from_arrow_schema

    d = (df.where(F.col(vec_col).isNotNull())
           .select(F.col(id_col).cast("long").alias("id"),
                   F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")))

    def pack(table):
        return (table.column("id").to_numpy(),
                _vector_matrix(table.column("v").combine_chunks()))

    blocks = _pack_blocks(d, block_rows, pack, _block_schema("ids", "mat"))[0]

    x, y = blocks.alias("x"), blocks.alias("y")
    joined = x.join(y, F.col("x.b") <= F.col("y.b")).select(
        F.col("x.b").alias("bx"), F.col("x.ids").alias("ids_x"),
        F.col("x.mat").alias("mat_x"),
        F.col("y.b").alias("by"), F.col("y.ids").alias("ids_y"),
        F.col("y.mat").alias("mat_y"))

    out_schema = pa.schema([pa.field("id_a", pa.int64()),
                            pa.field("id_b", pa.int64()),
                            pa.field("cosine", pa.float64())])

    def pairs(batches):
        for b in batches:
            for i in range(b.num_rows):
                ids_x = np.frombuffer(b.column("ids_x")[i].as_buffer(), dtype=np.int64)
                ids_y = np.frombuffer(b.column("ids_y")[i].as_buffer(), dtype=np.int64)
                if not (len(ids_x) and len(ids_y)):
                    continue
                Mx = np.frombuffer(b.column("mat_x")[i].as_buffer(),
                                   dtype=np.float64).reshape(len(ids_x), -1)
                My = np.frombuffer(b.column("mat_y")[i].as_buffer(),
                                   dtype=np.float64).reshape(len(ids_y), -1)
                nx, ny = _norms_seq(Mx), _norms_seq(My)
                kx, ky = nx > 0, ny > 0
                ids_x2, Mx2, nx2 = ids_x[kx], Mx[kx], nx[kx]
                ids_y2, My2, ny2 = ids_y[ky], My[ky], ny[ky]
                diag = int(b.column("bx")[i].as_py()) == int(b.column("by")[i].as_py())
                # sub-chunk the x side so the score matrix stays ~16MB
                step = max(1, (1 << 21) // max(len(ids_y2), 1))
                for s in range(0, len(ids_x2), step):
                    ci, cm, cn = (ids_x2[s:s+step], Mx2[s:s+step], nx2[s:s+step])
                    cos = round_half_away(
                        seq_dots(cm, My2) / (cn[:, None] * ny2[None, :]), 6)
                    hit = cos >= threshold
                    if diag:
                        hit &= ci[:, None] < ids_y2[None, :]
                    else:
                        hit &= ci[:, None] != ids_y2[None, :]
                    ai, bi = np.nonzero(hit)
                    id_a = np.minimum(ci[ai], ids_y2[bi])
                    id_b = np.maximum(ci[ai], ids_y2[bi])
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(id_a, type=pa.int64()),
                         pa.array(id_b, type=pa.int64()),
                         pa.array(cos[ai, bi], type=pa.float64())],
                        schema=out_schema)

    return joined.mapInArrow(pairs, from_arrow_schema(out_schema))
