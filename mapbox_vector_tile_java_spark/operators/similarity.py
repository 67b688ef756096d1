"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k — the oracle baseline. All arithmetic
  in double with left-to-right folds so an ANSI-SQL oracle reproduces values
  exactly. The query side is broadcast (m query vectors), so the plan is a
  broadcast-nested-loop + per-query top-k: one shuffle of size O(m*k), never
  O(n^2).
- build_ivf_index / ivf_topk: the scale path. The index is built ONCE
  (write-once/read-many): deterministic hash-strided sample -> seeded
  maximin-init spherical k-means -> centroids parquet + a bucket-partitioned
  assignments table. Queries read the index, probe the n_probe best buckets
  (partition-pruned scan), and never rescan or retrain. Recall < 1 by
  design; ivf_recall measures it against brute force.

Determinism discipline: sampling is a hash filter on the id column (never
``limit()``, whose surviving rows depend on task completion order), k-means
init is greedy maximin from a seeded start, assignment ties break to the
lowest centroid id, and probe selection folds dimension-sequentially — so
the index and every query result are pure functions of (data, params) and
the DuckDB oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F

from ..plans.manifest import read_marker, write_marker


def _as_double(vec_col):
    return F.transform(vec_col, lambda x: x.cast("double"))


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def brute_force_topk(df: DataFrame, vec_col: str, id_col: str,
                     query_ids: list[int], k: int = 10) -> DataFrame:
    """Exact cosine top-k neighbors for each query id.

    Returns (query_id, neighbor_id, rank, cosine) — ties broken by
    neighbor_id so results are fully deterministic.
    """
    base = df.select(F.col(id_col).cast("long").alias("nid"),
                     _as_double(F.col(vec_col)).alias("v"))
    base = base.select("nid", "v", _norm(F.col("v")).alias("nrm")).where(F.col("nrm") > 0)
    q = (base.where(F.col("nid").isin([int(x) for x in query_ids]))
             .select(F.col("nid").alias("query_id"), F.col("v").alias("qv"),
                     F.col("nrm").alias("qnrm")))
    j = base.join(F.broadcast(q), F.col("nid") != F.col("query_id"))
    cos = F.round(_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6)
    scored = j.select("query_id", F.col("nid").alias("neighbor_id"),
                      cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "rank", "cosine"))


# ---------------------------------------------------------------------------
# IVF index: numpy core (shared by the Spark build job and oracle fixtures)

def _norms_seq(M: np.ndarray) -> np.ndarray:
    """Dimension-sequential L2 norms — the same left-to-right fold as the
    ANSI-SQL oracle's sqrt(list_sum(x*x)), so values match bit-for-bit."""
    acc = np.zeros(len(M))
    for kdim in range(M.shape[1]):
        acc += M[:, kdim] * M[:, kdim]
    return np.sqrt(acc)


def _vector_matrix(vecs) -> np.ndarray:
    """(n, dim) float64 matrix of an Arrow list column of n vectors: the
    one flatten -> reshape of every vector kernel. Ragged dimensions raise
    ``ValueError`` — a bare reshape of the flattened values would silently
    re-cut them into other vectors."""
    dims = np.unique(vecs.value_lengths().to_numpy(zero_copy_only=False))
    if len(dims) > 1:
        raise ValueError(f"ragged embedding dimensions: {dims.tolist()}")
    return np.asarray(vecs.flatten().to_numpy(zero_copy_only=False),
                      dtype=np.float64).reshape(len(vecs), -1)


def seq_dots(M: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, c) dot products accumulated dimension-sequentially — the SQL
    left-to-right fold, so scores match list_sum/F.aggregate bit-for-bit."""
    out = np.zeros((len(M), len(C)))
    for kdim in range(M.shape[1]):
        out += M[:, kdim : kdim + 1] * C[:, kdim][None, :]
    return out


def train_centroids(sample: np.ndarray, n_centroids: int, n_iters: int = 12,
                    seed: int = 42) -> np.ndarray:
    """Spherical k-means on an L2-normalized sample matrix (deterministic):
    seeded first pick, greedy maximin init (no RNG draws after the first),
    Lloyd rounds with re-normalized means; empty clusters keep their
    centroid. Returns row-normalized centroids."""
    nrm = np.sqrt((sample * sample).sum(axis=1))
    S = sample[nrm > 0] / nrm[nrm > 0, None]
    if len(S) == 0:
        raise ValueError("cannot train centroids on an empty/zero sample")
    n_centroids = min(n_centroids, len(S))
    rng = np.random.default_rng(seed)
    picks = [int(rng.integers(len(S)))]
    best_sim = S @ S[picks[0]]
    for _ in range(n_centroids - 1):
        cand = int(np.argmin(best_sim))  # farthest point (maximin, greedy)
        picks.append(cand)
        best_sim = np.maximum(best_sim, S @ S[cand])
    C = S[picks].copy()
    for _ in range(n_iters):
        assign = np.argmax(S @ C.T, axis=1)
        for c in range(len(C)):
            members = S[assign == c]
            if len(members):
                m = members.mean(axis=0)
                d = np.sqrt((m * m).sum())
                if d > 0:
                    C[c] = m / d
    return C


def assign_buckets(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Bucket per (unnormalized) vector: argmax cosine vs normalized
    centroids, ties to the lowest centroid id (np.argmax takes the first)."""
    nrm = np.sqrt((V * V).sum(axis=1))
    safe = np.where(nrm > 0, nrm, 1.0)
    return np.argmax((V / safe[:, None]) @ C.T, axis=1).astype(np.int32)


def probe_lists(Q: np.ndarray, C: np.ndarray, n_probe: int) -> np.ndarray:
    """(m, n_probe) probe bucket ids per query: best centroids by
    dimension-sequential dot with the raw query vector, ties by centroid id
    ascending — reproducible as SQL row_number() OVER (ORDER BY s DESC, cid).
    """
    s = seq_dots(Q, C)
    order = np.lexsort((np.arange(C.shape[0])[None, :].repeat(len(Q), 0), -s),
                       axis=1)
    return order[:, :n_probe]


# ---------------------------------------------------------------------------
# IVF index: build / query

def build_ivf_index(df: DataFrame, vec_col: str, id_col: str, index_dir: str,
                    n_centroids: int = 64, n_iters: int = 12,
                    sample_rows: int = 16384, seed: int = 42) -> dict:
    """Build a persisted IVF index (write-once/read-many).

    Layout: ``centroids.parquet`` (cid, cv array<double>),
    ``assignments/`` parquet partitioned by bucket (nid, v, nrm, bucket),
    ``ivf_meta.json``. At 10^12 rows the sample is still O(sample_rows),
    training is driver-side on that sample, and the assignment pass is one
    map-only job writing bucket-partitioned files — queries then touch only
    probed buckets (partition pruning), never the full corpus.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import from_arrow_schema

    os.makedirs(index_dir, exist_ok=True)
    d = (df.where(F.col(vec_col).isNotNull())
           .select(F.col(id_col).cast("long").alias("nid"),
                   _as_double(F.col(vec_col)).alias("v")))
    n = d.count()
    stride = max(1, n // sample_rows)
    samp = d.where(F.pmod(F.xxhash64("nid"), F.lit(stride)) == 0) if stride > 1 else d
    sp = samp.orderBy("nid").toPandas()
    S = np.array(sp["v"].tolist(), dtype=np.float64)
    C = train_centroids(S, n_centroids, n_iters, seed)
    pq.write_table(
        pa.table({"cid": pa.array(np.arange(len(C), dtype=np.int32)),
                  "cv": pa.array([list(map(float, c)) for c in C],
                                 type=pa.list_(pa.float64()))}),
        os.path.join(index_dir, "centroids.parquet"))

    out_schema = pa.schema([
        pa.field("nid", pa.int64()), pa.field("v", pa.list_(pa.float64())),
        pa.field("nrm", pa.float64()), pa.field("bucket", pa.int32())])

    def assign_fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            V = _vector_matrix(b.column("v"))
            # dimension-sequential norms == the SQL fold used at query time
            yield pa.RecordBatch.from_arrays(
                [b.column("nid"), b.column("v"),
                 pa.array(_norms_seq(V), type=pa.float64()),
                 pa.array(assign_buckets(V, C), type=pa.int32())],
                schema=out_schema)

    asg = d.mapInArrow(assign_fn, from_arrow_schema(out_schema))
    # co-locate each bucket before the partitioned write: one file per
    # bucket instead of (tasks x buckets) fragments — at scale this is the
    # difference between n_centroids files and millions
    (asg.repartition(F.col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(os.path.join(index_dir, "assignments")))
    meta = {"n_centroids": len(C), "requested_n_centroids": int(n_centroids),
            "n_iters": n_iters, "seed": seed,
            "sample_rows": sample_rows, "stride": stride, "n_rows": int(n),
            "dim": int(C.shape[1])}
    write_marker(os.path.join(index_dir, "ivf_meta.json"), meta)
    return meta


def load_centroids(index_dir: str) -> np.ndarray:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_dir, "centroids.parquet"))
    return np.array(t.column("cv").to_pylist(), dtype=np.float64)


def ivf_topk(df: DataFrame, vec_col: str, id_col: str, query_ids: list[int],
             k: int = 10, n_centroids: int = 64, n_probe: int = 16,
             seed: int = 42, index_dir: str | None = None) -> DataFrame:
    """Approximate cosine top-k via the persisted IVF index.

    If ``index_dir`` has no index yet, one is built (once); repeated calls
    reuse it and scan only the probed buckets. Scan fraction ~= the probed
    buckets' share of rows (~n_probe/n_centroids on balanced buckets).
    With no ``index_dir`` the index goes to a fresh dedup ``temp_dir``,
    which ``cleanup_temp_dirs`` removes.

    Measured on the unclustered synthetic embeddings via ivf_recall
    (sf0.1, 2000 vecs, 20 queries, all at 25% scan fraction): 64/16 ->
    recall@10 = 0.735, 128/32 -> 0.755, 256/64 -> 0.855 (vs 0.62 for
    round 1's 32/8 with per-call retraining). Finer buckets win at equal
    scan on this worst-case (uniform random) data; clustered real-world
    embeddings recall higher still. The driver-contract queries use
    256/64.
    """
    from .dedup import temp_dir

    spark = df.sparkSession
    if index_dir is None:
        index_dir = temp_dir("mvt_ivf_")
    meta = read_marker(os.path.join(index_dir, "ivf_meta.json"))
    if meta is None:
        meta = build_ivf_index(df, vec_col, id_col, index_dir,
                               n_centroids=n_centroids, seed=seed)
    # a reused index must match the caller's build parameters — silently
    # answering from a differently-shaped or differently-seeded index would
    # return stale results with no warning. Compare against the REQUESTED
    # centroid count, not the realized one: train_centroids clamps to the
    # sample size on tiny corpora, and an index this call just built must
    # never fail its own check.
    req = meta.get("requested_n_centroids")
    if req != n_centroids or meta.get("seed") != seed:
        raise ValueError(
            f"index at {index_dir} was built with n_centroids={req}, "
            f"seed={meta.get('seed')} but caller requested "
            f"n_centroids={n_centroids}, seed={seed}; pass a fresh "
            f"index_dir (or delete the stale index) to rebuild")
    C = load_centroids(index_dir)
    base = spark.read.parquet(os.path.join(index_dir, "assignments"))

    qids = [int(x) for x in query_ids]
    # ONE pruned lookup collects the m query rows (vectors + precomputed
    # norms); the broadcast side is then built driver-side from those rows —
    # no second scan of the assignments table
    qrows = (base.where(F.col("nid").isin(qids))
                 .select("nid", "v", "nrm").orderBy("nid").collect())
    if not qrows:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cosine double")
    Q = np.array([r["v"] for r in qrows], dtype=np.float64)
    probes = probe_lists(Q, C, n_probe)
    q_rows = [(int(r["nid"]), [float(x) for x in r["v"]], float(r["nrm"]),
               [int(b) for b in pr])
              for r, pr in zip(qrows, probes)]
    q = spark.createDataFrame(
        q_rows,
        "query_id long, qv array<double>, qnrm double, probes array<int>")
    all_buckets = sorted({b for _, _, _, pr in q_rows for b in pr})
    # partition-pruned scan: only probed bucket directories are read
    cand = base.where(F.col("bucket").isin(all_buckets))
    j = cand.join(F.broadcast(q),
                  F.array_contains(F.col("probes"), F.col("bucket"))
                  & (F.col("nid") != F.col("query_id")))
    j = j.where(F.col("nrm") > 0)
    cos = F.round(_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (j.select("query_id", F.col("nid").alias("neighbor_id"), cos.alias("cosine"))
             .withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= k)
             .select("query_id", "neighbor_id", "rank", "cosine"))


def ivf_recall(df: DataFrame, vec_col: str, id_col: str, query_ids: list[int],
               k: int = 10, n_centroids: int = 64, n_probe: int = 16,
               seed: int = 42, index_dir: str | None = None) -> DataFrame:
    """Recall@k of the IVF index vs exact brute force, per query.

    The approximate path's quality gate: the engine reports its own recall
    the way it reports compression ratios — measured, not assumed.
    """
    exact = (brute_force_topk(df, vec_col, id_col, query_ids, k)
             .select("query_id", F.col("neighbor_id").alias("nid_exact")))
    approx = (ivf_topk(df, vec_col, id_col, query_ids, k, n_centroids,
                       n_probe, seed, index_dir=index_dir)
              .select("query_id", F.col("neighbor_id").alias("nid_approx")))
    hits = (exact.join(approx,
                       (exact.query_id == approx.query_id)
                       & (exact.nid_exact == approx.nid_approx), "left_semi")
            .groupBy("query_id").agg(F.count("*").alias("n_hits")))
    return (exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
            .join(hits, "query_id", "left")
            .select("query_id",
                    F.round(F.coalesce(F.col("n_hits"), F.lit(0))
                            / F.col("n_exact"), 4).alias("recall_at_k"))
            .orderBy("query_id"))
