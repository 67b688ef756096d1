"""Training-data pipeline operator tests: dedup family recall/precision on
planted duplicates, similarity search sanity, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import Row, functions as F

from mapbox_vector_tile_java_spark.operators import dedup as D
from mapbox_vector_tile_java_spark.operators import similarity as S
from mapbox_vector_tile_java_spark.operators.multimodal import (
    decode_media_meta,
    synth_media_df,
)

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest where tall trees grow ") * 4


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(40):
        rows.append(Row(doc_id=i, text=f"unique document {i} " + BASE[i : 200 + 3 * i]))
    # planted near-duplicate pairs
    rows.append(Row(doc_id=100, text=BASE))
    rows.append(Row(doc_id=101, text=BASE + "tiny suffix"))
    rows.append(Row(doc_id=102, text=BASE.replace("quick", "quik", 1)))
    # exact duplicates
    rows.append(Row(doc_id=200, text="identical content"))
    rows.append(Row(doc_id=201, text="identical content"))
    return spark.createDataFrame(rows)


def test_exact_dedup(spark, docs):
    out = D.exact_dedup(docs, "text", "doc_id").collect()
    kept = {r["doc_id"] for r in out}
    assert 200 in kept and 201 not in kept
    assert len(out) == docs.count() - 1


def test_minhash_lsh_finds_planted_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in D.minhash_lsh_pairs(docs, "text", "doc_id").collect()}
    assert (100, 101) in pairs
    assert (100, 102) in pairs
    assert (200, 201) in pairs


def test_winnow_candidates_substring_guarantee(spark):
    """SIGMOD'03 guarantee: docs sharing ANY substring of length
    >= window + k - 1 (= 11 at defaults) share a fingerprint — even when
    everything else about them is disjoint (where minhash recall ~ overall
    set similarity would miss the pair)."""
    shared = "zqxjkvbnmwpfghrluy" * 4  # 72 chars, disjoint from the filler
    rows = [
        Row(doc_id=0, text="aaaa bbbb cccc dddd " * 10 + shared),
        Row(doc_id=1, text=shared + " eeee ffff gggg hhhh " * 10),
        Row(doc_id=2, text="iiii jjjj kkkk llll " * 12),
    ]
    df = spark.createDataFrame(rows)
    pairs = {(r["id_a"], r["id_b"])
             for r in D.winnow_candidate_pairs(df, "text", "doc_id",
                                               min_shared=1).collect()}
    assert (0, 1) in pairs


def test_winnow_stop_fingerprint_cap(spark):
    """max_df drops boilerplate fingerprints: with max_df=1 every shared
    fingerprint is a stop-fingerprint, so no pairs survive."""
    shared = "zqxjkvbnmwpfghrluy" * 4
    rows = [Row(doc_id=0, text="aaaa bbbb cccc dddd " * 10 + shared),
            Row(doc_id=1, text=shared + " eeee ffff gggg hhhh " * 10)]
    df = spark.createDataFrame(rows)
    out = D.winnow_candidate_pairs(df, "text", "doc_id",
                                   min_shared=1, max_df=1).collect()
    assert out == []


def test_ngram_winnow_verified_exact_precision(spark, docs):
    """The winnow-candidate route's verified output is a SUBSET of the
    exact quadratic baseline with identical jaccard values (precision is
    exact), and the planted shared-substring dups are recalled."""
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.ngram_jaccard_winnow(docs, "text", "doc_id",
                                           min_shared=1).collect()}
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, "text", "doc_id",
                                            k=3, threshold=0.5).collect()}
    assert (100, 101) in got and (200, 201) in got
    for p, j in got.items():
        assert exact[p] == j


def test_simhash_finds_planted_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in D.simhash_pairs(docs, "text", "doc_id", max_hamming=6).collect()}
    assert (100, 101) in pairs or (100, 102) in pairs
    assert (200, 201) in pairs


def test_simhash_rejects_unguaranteed_radius(spark, docs):
    with pytest.raises(ValueError):
        D.simhash_pairs(docs, "text", "doc_id", max_hamming=8)


def test_simhash_banding_guarantees_hamming_6(spark):
    """Pigeonhole recall: every planted pair at hamming 4/5/6 (the distances
    the old 4x16 banding could miss) MUST surface, and nothing above 6 may."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.integers(0, 1 << 63, 30, dtype=np.int64)
    rows = [Row(id=int(i), simhash=int(v)) for i, v in enumerate(base)]
    expected = set()
    for j, flips in enumerate([4, 5, 6, 4, 5, 6, 7, 9]):
        v = int(base[j])
        for bit in rng.choice(64, size=flips, replace=False):
            v ^= 1 << int(bit)
        rows.append(Row(id=1000 + j, simhash=v))
        if flips <= 6:
            expected.add((j, 1000 + j))
    fp = spark.createDataFrame(rows)
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in D.simhash_pairs_from_fps(fp, max_hamming=6).collect()}
    for pair in expected:
        assert pair in out, f"missed guaranteed pair {pair}"
    assert all(h <= 6 for h in out.values())
    # exactness the other way: brute-force reference agrees completely
    all_fp = {r["id"]: r["simhash"] for r in rows}
    brute = {(a, b): bin((all_fp[a] ^ all_fp[b]) & (2**64 - 1)).count("1")
             for a in all_fp for b in all_fp if a < b
             if bin((all_fp[a] ^ all_fp[b]) & (2**64 - 1)).count("1") <= 6}
    assert out == brute


def test_ngram_jaccard_exact(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, "text", "doc_id",
                                            threshold=0.8).collect()}
    assert pairs[(100, 101)] > 0.9
    assert pairs[(200, 201)] == 1.0


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(50):
        v = rng.normal(size=16)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    # planted near neighbor of vec 0
    v0 = rows[0].embedding
    rows.append(Row(vec_id=99, embedding=[x + 0.01 for x in v0]))
    return spark.createDataFrame(rows)


def test_embedding_neardup_matches_bruteforce(spark, vectors):
    """Block-pair distributed plan == local numpy brute force (same fold
    order + SQL rounding), across several blocks so diagonal and cross
    block-pair paths both run. Also: nulls dropped, no driver collect."""
    import numpy as np

    rows = vectors.collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    nrm = D._norms_seq(M)
    exp = {}
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j]:
                dot = 0.0
                for k in range(M.shape[1]):
                    dot += M[i, k] * M[j, k]
                cos = float(D.round_half_away(np.array([dot / (nrm[i] * nrm[j])]))[0])
                if cos >= 0.2:
                    exp[(int(ids[i]), int(ids[j]))] = cos
    with_null = vectors.union(spark.createDataFrame(
        [Row(vec_id=500, embedding=None)], schema=vectors.schema))
    out = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in D.embedding_neardup_pairs(with_null, "embedding", "vec_id",
                                              threshold=0.2, block_rows=8).collect()}
    assert out == exp


def test_embedding_neardup_ragged_raises(spark):
    df = spark.createDataFrame([Row(vec_id=0, embedding=[1.0, 2.0]),
                                Row(vec_id=1, embedding=[1.0, 2.0, 3.0])])
    with pytest.raises(Exception, match="ragged"):
        D.embedding_neardup_pairs(df, "embedding", "vec_id",
                                  threshold=0.0, block_rows=100).collect()


def test_srp_fingerprints_ragged_raises(spark):
    """Rows of dims 2, 4, 3, 3 hold 12 values, which reshape into four
    3-vectors without error; in one batch they must raise instead."""
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i + j) for j in range(d)])
         for i, d in enumerate((2, 4, 3, 3))],
        "vec_id long, embedding array<double>").coalesce(1)
    with pytest.raises(Exception, match="ragged"):
        D.srp_fingerprints(df, "embedding", "vec_id").collect()


def test_minhash_hash_bands_equivalent(spark, docs):
    exact = {(r["id_a"], r["id_b"], r["n_bands"])
             for r in D.minhash_lsh_pairs(docs, "text", "doc_id").collect()}
    hashed = {(r["id_a"], r["id_b"], r["n_bands"])
              for r in D.minhash_lsh_pairs(docs, "text", "doc_id",
                                           hash_bands=True).collect()}
    assert exact == hashed


def test_brute_force_topk(spark, vectors):
    out = S.brute_force_topk(vectors, "embedding", "vec_id", [0], k=3).collect()
    assert out[0]["neighbor_id"] == 99 and out[0]["rank"] == 1
    assert out[0]["cosine"] > 0.99


def test_ivf_recall_vs_brute(spark, vectors):
    brute = {(r["query_id"], r["neighbor_id"])
             for r in S.brute_force_topk(vectors, "embedding", "vec_id", [0, 1], k=5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in S.ivf_topk(vectors, "embedding", "vec_id", [0, 1], k=5,
                               n_centroids=4, n_probe=3).collect()}
    # probing 3/4 buckets must recover most exact neighbors
    assert len(brute & ivf) >= len(brute) * 0.5


def test_ivf_index_persisted_and_reused(spark, vectors, tmp_path):
    """build once -> ivf_topk twice reuses the on-disk index (no retrain:
    centroids file mtime unchanged), and results are deterministic."""
    import os

    idx = str(tmp_path / "ivf")
    S.build_ivf_index(vectors, "embedding", "vec_id", idx, n_centroids=4)
    cpath = os.path.join(idx, "centroids.parquet")
    mtime = os.path.getmtime(cpath)
    r1 = S.ivf_topk(vectors, "embedding", "vec_id", [0, 1], k=5,
                    n_centroids=4, n_probe=3, index_dir=idx).collect()
    r2 = S.ivf_topk(vectors, "embedding", "vec_id", [0, 1], k=5,
                    n_centroids=4, n_probe=3, index_dir=idx).collect()
    assert os.path.getmtime(cpath) == mtime  # never rebuilt
    assert sorted(map(str, r1)) == sorted(map(str, r2))
    assert len(r1) == 10


def test_ivf_deterministic_across_partitionings(spark, vectors, tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    S.build_ivf_index(vectors.repartition(7), "embedding", "vec_id", a, n_centroids=4)
    S.build_ivf_index(vectors.repartition(2), "embedding", "vec_id", b, n_centroids=4)
    ra = sorted(map(str, spark.read.parquet(a + "/assignments")
                    .select("nid", "bucket").collect()))
    rb = sorted(map(str, spark.read.parquet(b + "/assignments")
                    .select("nid", "bucket").collect()))
    assert ra == rb


def test_ivf_index_ragged_vectors_raise(spark, tmp_path):
    """A ragged vector in the assignment pass raises instead of being
    re-cut from its neighbours' values. Ids 5 (dim 2) and 6 (dim 4) are
    not sampled at stride 4, so only the assign kernel sees them; before,
    the index stored nrm sqrt(6) for id 5 and sqrt(29) for id 6."""
    dims = {5: 2, 6: 4}
    df = spark.createDataFrame(
        [(i, [float(i + j) for j in range(dims.get(i, 3))])
         for i in range(12)], "vec_id long, embedding array<double>"
    ).coalesce(1)
    with pytest.raises(Exception, match="ragged embedding dimensions"):
        S.build_ivf_index(df, "embedding", "vec_id", str(tmp_path / "ivf"),
                          n_centroids=2, sample_rows=3)


def test_ivf_topk_temp_index_reclaimed(spark, vectors):
    """ivf_topk without an index_dir builds its index in a dedup
    temp_dir, so cleanup_temp_dirs removes it; the driver contract's
    cached IVF dir is one too."""
    import glob
    import os
    import tempfile

    import __spark_entry__ as E

    pattern = os.path.join(tempfile.gettempdir(), "mvt_ivf_*")
    before = set(glob.glob(pattern))
    assert S.ivf_topk(vectors, "embedding", "vec_id", [0], k=3,
                      n_centroids=4, n_probe=2).collect()
    built = set(glob.glob(pattern)) - before
    assert len(built) == 1
    assert E._ivf_dir("ivf_topk_temp_index_reclaimed") in D._FP_TMP_DIRS
    D.cleanup_temp_dirs()
    assert not [d for d in built if os.path.exists(d)]


def test_media_meta_plumbing(spark):
    df = synth_media_df(spark, 500, seed=1, partitions=2)
    meta = decode_media_meta(df)
    rows = meta.collect()
    assert len(rows) == 500
    kinds = {r["kind"] for r in rows}
    assert kinds == {"image", "audio", "video"}
    assert all(64 <= r["width"] < 576 for r in rows)
    assert all(r["payload_bytes"] >= 64 for r in rows)
    assert all(0 <= r["mean_byte"] <= 255 for r in rows)
    # deterministic
    again = decode_media_meta(synth_media_df(spark, 500, seed=1, partitions=4)).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_short_and_empty_texts_dont_break_gram_ops(spark):
    """Texts shorter than the gram size must contribute NO grams (Spark's
    sequence(1, 0) yields a descending [1, 0] — the guard in gram_set_expr
    prevents phantom grams) and must get a NULL min gram from the md5
    fingerprint, whose guard stops the same descending sequence."""
    from mapbox_vector_tile_java_spark.operators import textstats as T

    rows = [Row(doc_id=0, text=""), Row(doc_id=1, text="ab"),
            Row(doc_id=2, text="x"), Row(doc_id=3, text="a proper document"),
            Row(doc_id=4, text="a proper document")]
    df = spark.createDataFrame(rows)
    # exact jaccard: the two real duplicates pair; NO pair involves the
    # short texts (they have empty gram sets, like the SQL oracle's range)
    pairs = {(r["id_a"], r["id_b"])
             for r in D.ngram_jaccard_pairs(df, "text", "doc_id", k=3,
                                            threshold=0.5).collect()}
    assert pairs == {(3, 4)}
    lsh = {(r["id_a"], r["id_b"])
           for r in D.ngram_jaccard_lsh(df, "text", "doc_id", k=3,
                                        threshold=0.5).collect()}
    assert lsh == {(3, 4)}
    # md5 fingerprint: short texts -> NULL min-gram
    fps = {r["doc_id"]: r["min_gram_md5"]
           for r in T.fingerprint(df, "text", "doc_id").collect()}
    assert fps[0] is None and fps[1] is None and fps[2] is None
    assert fps[3] is not None
    # rolling fingerprint agrees on the same rows
    roll = {r["id"]: r["min_gram_hash"]
            for r in T.fingerprint_rolling(df, "text", "doc_id").collect()}
    assert roll[0] is None and roll[3] is not None


def test_embedding_srp_finds_planted_neardups(spark):
    """True near-duplicate vectors (cosine ~1 -> SRP hamming ~0) MUST
    surface through the band join, with their exact cosines."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=32)])
            for i in range(60)]
    base = np.array(rows[0].embedding)
    rows.append(Row(vec_id=500, embedding=[float(x) for x in base * 1.01]))
    rows.append(Row(vec_id=501, embedding=[float(x) for x in base + 0.001]))
    df = spark.createDataFrame(rows)
    out = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in D.embedding_srp_pairs(df, "embedding", "vec_id",
                                          threshold=0.98).collect()}
    assert (0, 500) in out and out[(0, 500)] > 0.999
    assert (0, 501) in out
    assert (500, 501) in out
    # precision is exact: nothing below threshold is reported
    assert all(c >= 0.98 for c in out.values())


def test_multimodal_feature_resize_frames(spark):
    from mapbox_vector_tile_java_spark.operators.multimodal import (
        decode_media_meta, extract_features, resize_images, sample_frames,
        synth_media_df)

    df = synth_media_df(spark, 300, seed=9, partitions=2)
    feats = extract_features(df, dim=16).collect()
    assert len(feats) == 300
    assert all(len(r["feature"]) == 16 for r in feats)
    assert all(abs(sum(r["feature"]) - 1.0) < 1e-3 for r in feats)  # histogram

    resized = resize_images(df, 128, 96)
    meta = {r["media_id"]: r for r in decode_media_meta(resized).collect()}
    orig = {r["media_id"]: r for r in decode_media_meta(df).collect()}
    for mid, r in meta.items():
        if r["kind"] == "image":
            assert (r["width"], r["height"]) == (128, 96)
        else:  # non-image rows pass through untouched
            assert (r["width"], r["height"]) == (orig[mid]["width"], orig[mid]["height"])
        assert r["payload_bytes"] == orig[mid]["payload_bytes"]

    frames = sample_frames(df, every_n=4).collect()
    n_videos = sum(1 for r in orig.values() if r["kind"] == "video")
    assert len(frames) >= n_videos  # >=1 sampled frame per video
    assert all(r["frame_idx"] % 4 == 0 for r in frames)


def test_bpe_token_stats(spark):
    from mapbox_vector_tile_java_spark.operators import textstats as T

    df = spark.createDataFrame([Row(doc_id=0, text="Hello, world 42!"),
                                Row(doc_id=1, text=""),
                                Row(doc_id=2, text="   ")])
    out = {r["doc_id"]: r for r in T.bpe_token_stats(df, "text", "doc_id").collect()}
    # Hello , world 42 !  -> 5 bpe units; 3 whitespace tokens
    assert out[0]["n_bpe_tokens"] == 5 and out[0]["n_ws_tokens"] == 3
    assert out[1]["n_ws_tokens"] == 0 and out[1]["bpe_per_ws"] is None
    assert out[2]["n_bpe_tokens"] == 0


def test_lossy_transforms_explicit(spark):
    """B8-analog transforms: loss is explicit and deterministic; the
    quantized column must round half-up and the truncated timestamp must
    floor to the unit."""
    import datetime

    from mapbox_vector_tile_java_spark.operators import transforms as TR

    df = spark.createDataFrame(
        [Row(i=0, v=1.005, ts=datetime.datetime(2024, 5, 1, 13, 47, 9)),
         Row(i=1, v=-2.675, ts=datetime.datetime(2024, 5, 1, 0, 0, 0)),
         Row(i=2, v=None, ts=None)])
    out = {r["i"]: r for r in
           TR.truncate_timestamps(TR.quantize_round(df, {"v": 2}),
                                  {"ts": "hour"}).collect()}
    assert out[0]["v"] == 1.0 or abs(out[0]["v"] - 1.01) < 1e-9  # repr of 1.005
    assert out[0]["ts"] == datetime.datetime(2024, 5, 1, 13, 0, 0)
    assert out[1]["ts"] == datetime.datetime(2024, 5, 1, 0, 0, 0)
    assert out[2]["v"] is None and out[2]["ts"] is None


def test_fingerprint_winnow_guarantee(spark):
    """True winnowing: documents sharing a substring of length
    >= window + k - 1 MUST share at least one fingerprint — including
    under reordering; positional sampling cannot give this."""
    from mapbox_vector_tile_java_spark.operators import textstats as T

    shared = "a very distinctive shared passage"  # len 33 >= 4 + 8 - 1
    rows = [Row(doc_id=0, text="prefix one " + shared + " tail alpha"),
            Row(doc_id=1, text="x" + shared + " completely different end"),
            Row(doc_id=2, text="unrelated content with nothing in common?"),
            Row(doc_id=3, text="short"),   # < k grams -> no rows
            Row(doc_id=4, text=None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = T.fingerprint_winnow(df, "text", "doc_id", k=8, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "shared substring must share a fingerprint"
    assert not (by_doc[0] & by_doc[2] & by_doc[1])
    assert 3 not in by_doc and 4 not in by_doc
    # distinct: no duplicate (id, fp) rows
    assert len(fps) == sum(len(v) for v in by_doc.values())
    # fewer-grams-than-window doc -> exactly one fingerprint (min of grams)
    one = spark.createDataFrame([Row(doc_id=9, text="abcdefghi")],
                                "doc_id long, text string")  # 2 grams < 4
    got = T.fingerprint_winnow(one, "text", "doc_id", k=8, window=4).collect()
    assert len(got) == 1


def test_fingerprint_stride_default_exact(spark):
    """Default fingerprint is the exact global min over ALL grams: stable
    under document reordering (the property the strided sample loses)."""
    from mapbox_vector_tile_java_spark.operators import textstats as T

    blk1, blk2 = "A" * 40 + " unique block one ", "distinct second block " + "B" * 40
    df = spark.createDataFrame(
        [Row(doc_id=0, text=blk1 + blk2), Row(doc_id=1, text=blk2 + blk1)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["min_gram_md5"]
           for r in T.fingerprint(df, "text", "doc_id").collect()}
    # global min over the union of (almost identical) gram sets: the min
    # gram of doc 0 exists in doc 1 too unless it straddles the block seam;
    # with 40-char runs the min gram is inside a block -> equal mins
    assert out[0] == out[1]


def test_ivf_index_param_mismatch_raises(spark, vectors, tmp_path):
    idx = str(tmp_path / "ivf")
    S.build_ivf_index(vectors, "embedding", "vec_id", idx, n_centroids=4)
    with pytest.raises(ValueError, match="n_centroids"):
        S.ivf_topk(vectors, "embedding", "vec_id", [0], k=3,
                   n_centroids=8, n_probe=3, index_dir=idx)
    with pytest.raises(ValueError, match="seed"):
        S.ivf_topk(vectors, "embedding", "vec_id", [0], k=3,
                   n_centroids=4, n_probe=3, seed=7, index_dir=idx)


def test_ivf_meta_torn_write_rebuilds(spark, vectors, tmp_path, monkeypatch):
    """A build killed inside its ivf_meta.json write leaves no meta file
    (write_marker commits by rename), so the next ivf_topk rebuilds the
    index and answers instead of failing to parse a partial file."""
    import os

    from helpers import tear_json_dump

    idx = str(tmp_path / "ivf")
    with monkeypatch.context() as m:
        tear_json_dump(m, "requested_n_centroids")
        with pytest.raises(OSError, match="mid-write"):
            S.build_ivf_index(vectors, "embedding", "vec_id", idx,
                              n_centroids=4)
    assert not os.path.exists(os.path.join(idx, "ivf_meta.json"))
    out = S.ivf_topk(vectors, "embedding", "vec_id", [0], k=3,
                     n_centroids=4, n_probe=3, index_dir=idx).collect()
    assert len(out) == 3
    assert {r["rank"]: r["neighbor_id"] for r in out}[1] == 99
    assert os.path.exists(os.path.join(idx, "ivf_meta.json"))


def test_extract_features_drops_null_media(spark):
    """A null media blob must NOT become an all-zero embedding row."""
    from mapbox_vector_tile_java_spark.operators.multimodal import (
        extract_features)

    df = spark.createDataFrame(
        [Row(media_id=0, media=bytearray(b"FMV1" + b"\x00" * 7 + b"abc")),
         Row(media_id=1, media=None),
         Row(media_id=2, media=bytearray(b""))],
        "media_id long, media binary")
    rows = extract_features(df, dim=4).collect()
    got = {r["media_id"] for r in rows}
    assert got == {0, 2}  # null dropped; empty (valid) blob stays


def test_fingerprint_winnow_matches_reference_impl(spark):
    """The vectorized sliding-window-min kernel must agree with a plain
    per-doc python winnowing over UTF-8 bytes — including non-ascii text
    (the kernel is byte-based; only the SQL oracle is ascii-gated). The
    rolling fingerprint's min gram hash and gram count over the same
    hashes are checked too."""
    import random

    from mapbox_vector_tile_java_spark.operators import textstats as T

    def ref_hashes(bts, k=8):
        hs = []
        for i in range(len(bts) - k + 1):
            h = 0
            for c in bts[i : i + k]:
                h = (h * 1000003 + c) % 2147483647
            hs.append(h)
        return hs

    def ref_winnow(bts, w=4):
        hs = ref_hashes(bts)
        if not hs:
            return set()
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}

    rng = random.Random(7)
    alphabet = "abcde fghij _-.!?ü日本🎉"
    rows = [Row(doc_id=i,
                text="".join(rng.choice(alphabet)
                             for _ in range(rng.randrange(0, 60))))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in T.fingerprint_winnow(df, "text", "doc_id").collect():
        got.setdefault(r["id"], set()).add(r["fp"])
    for row in rows:
        exp = ref_winnow(row.text.encode())
        assert got.get(row.doc_id, set()) == exp, row.doc_id
    roll = {r["id"]: (r["min_gram_hash"], r["n_grams"])
            for r in T.fingerprint_rolling(df, "text", "doc_id").collect()}
    for row in rows:
        hs = ref_hashes(row.text.encode())
        assert roll[row.doc_id] == (min(hs, default=None), len(hs)), row.doc_id


def test_ivf_topk_small_corpus_self_built_index_ok(spark):
    """train_centroids clamps n_centroids to the sample size on tiny
    corpora; an index a call just built must pass its own param check
    (the check compares the REQUESTED count, not the clamped one)."""
    import numpy as np

    rng = np.random.default_rng(1)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=8)])
         for i in range(20)])
    out = S.ivf_topk(df, "embedding", "vec_id", [0], k=3)  # default 64 > 20
    assert out.count() == 3


MULTIBYTE = "übergrößenträger straße naïve café résumé 日本語のテキスト " * 6
CYRILLIC = "мир труд май совершенно другой текст " * 6


def test_ngram_lsh_char_semantics_non_ascii(spark):
    """The kernel-side gram extractor must use CHARACTER grams (like
    substring(text, i, k)), not byte grams — multi-byte texts exercise the
    per-row fallback and must agree exactly with the Catalyst exact
    baseline (same pairs, same jaccard)."""
    rows = [Row(doc_id=0, text=MULTIBYTE),
            Row(doc_id=1, text=MULTIBYTE + " kleiner zusatz"),
            Row(doc_id=2, text=CYRILLIC),
            Row(doc_id=3, text="plain ascii filler document " * 8),
            Row(doc_id=4, text="plain ascii filler document " * 8 + "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(df, "text", "doc_id", k=3,
                                            threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.ngram_jaccard_lsh(df, "text", "doc_id", k=3,
                                        threshold=0.5).collect()}
    # LSH recall on these near-identical pairs is ~1; every surfaced pair
    # must carry the exact char-gram jaccard
    assert (0, 1) in lsh and (3, 4) in lsh
    for pair, j in lsh.items():
        assert exact[pair] == j, (pair, j, exact.get(pair))


def _all_pairs(df):
    ids = sorted(r["doc_id"] for r in df.select("doc_id").collect())
    return df.sparkSession.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long")


def test_exact_verify_cross_block_matches_catalyst(spark, tmp_path):
    """Exact verify across many hash blocks (block_rows=2), so each block
    pair remaps one block's gram vocabulary into another's code space:
    every candidate pair must carry the Catalyst baseline's jaccard, with
    ascii, multi-byte, shorter-than-k and near-duplicate texts."""
    texts = ["plain ascii filler document " * 4,
             "plain ascii filler document " * 4 + "x",
             "the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumped over the lazy dog",
             MULTIBYTE, MULTIBYTE + " kleiner zusatz", CYRILLIC,
             CYRILLIC.replace("труд", "трут", 1), "ab", "", "abc", "abcd"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(df, "text", "doc_id", k=3,
                                            threshold=0.0).collect()}
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.exact_jaccard_verify(df, _all_pairs(df), "text",
                                           "doc_id", k=3, threshold=0.0,
                                           block_rows=2).collect()}
    assert len(exact) == 45  # the ten texts with at least one 3-gram
    assert got == exact
    # the same pairs from records built into (then reused from) a gram_dir
    for _ in range(2):
        reused = {(r["id_a"], r["id_b"]): r["jaccard"]
                  for r in D.exact_jaccard_verify(
                      df, _all_pairs(df), "text", "doc_id", k=3,
                      threshold=0.0, block_rows=2,
                      gram_dir=str(tmp_path / "grams")).collect()}
        assert reused == exact


def _job_count(spark, tag, fn):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(tag)), out


def test_gram_records_reused_without_rewrite_or_count(spark, tmp_path):
    """Matching params reuse gram_dir as is (part files untouched), the
    marker records the row and block counts, and verify over the reused
    blocks runs no job at all: no count job, no footer-inference job."""
    import glob
    import os

    from mapbox_vector_tile_java_spark.plans.manifest import read_marker

    df = spark.createDataFrame(
        [(0, "plain ascii filler document " * 4),
         (1, "plain ascii filler document " * 4 + "x"),
         (2, "the quick brown fox"), (3, "the quick brown fix"), (4, "ab")],
        "doc_id long, text string")
    g = str(tmp_path / "grams")
    D.build_gram_records(df, "text", "doc_id", 3, g)
    marker = read_marker(os.path.join(g, "_GRAMS_OK"))
    assert marker == {"k": 3, "text_col": "text", "id_col": "doc_id",
                      "block_rows": 512, "n_rows": 4,
                      "n_blocks": 1}  # "ab" has no 3-gram, so no record
    parts = {p: os.path.getmtime(p)
             for p in glob.glob(os.path.join(g, "part-*"))}
    assert parts
    D.build_gram_records(df, "text", "doc_id", 3, g)
    assert {p: os.path.getmtime(p)
            for p in glob.glob(os.path.join(g, "part-*"))} == parts

    cands = _all_pairs(df)
    n_verify, v = _job_count(spark, "verify_plan", lambda: (
        D.exact_jaccard_verify(df, cands, "text", "doc_id", k=3,
                               gram_dir=g)))
    assert n_verify == 0
    assert {(r["id_a"], r["id_b"]) for r in v.collect()} == {(0, 1), (2, 3)}


def test_dedup_reads_pass_known_schemas(spark, tmp_path, monkeypatch):
    """The signature index (build_minhash_index's return, dedup_incremental's
    index scan) and ``_materialize_fp``'s re-read hand parquet the schema
    the engine wrote: no job runs after each function's last parquet write
    (a schema-less read runs one footer-inference job there), and the
    schemas equal the inferred ones."""
    from pyspark.sql import DataFrameWriter

    sc = spark.sparkContext
    write = DataFrameWriter.parquet

    def jobs_after_writes(tag, fn):
        def write_then_tag(self, *a, **kw):
            sc._jsc.clearJobGroup()
            out = write(self, *a, **kw)
            sc.setJobGroup(tag, tag)
            return out

        monkeypatch.setattr(DataFrameWriter, "parquet", write_then_tag)
        try:
            out = fn()
        finally:
            monkeypatch.setattr(DataFrameWriter, "parquet", write)
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(tag)), out

    docs = spark.createDataFrame(
        [(i, f"document {i} " + "shared filler text " * (1 + i % 3))
         for i in range(12)], "doc_id long, text string")
    corpus, new = docs.where("doc_id < 8"), docs.where("doc_id >= 8")
    idx, g = str(tmp_path / "idx"), str(tmp_path / "grams")
    D.build_gram_records(docs, "text", "doc_id", 3, g)
    n, index = jobs_after_writes("known_schema_index", lambda: (
        D.build_minhash_index(corpus, "text", "doc_id", idx)))
    assert n == 0
    assert index.schema == spark.read.parquet(idx).schema
    n, fp = jobs_after_writes("known_schema_fp", lambda: D._materialize_fp(
        D.minhash_signatures(new, "text", "doc_id"), "mvt_test_fp_"))
    assert n == 0
    assert fp.schema == spark.read.parquet(D._FP_TMP_DIRS[-1]).schema
    n, pairs = jobs_after_writes("known_schema_inc", lambda: (
        D.dedup_incremental(corpus, new, "text", "doc_id", idx, gram_dir=g)))
    assert n == 0
    assert pairs.collect()


def _plan_parents(plan: str) -> dict[int, int]:
    """Line index -> its parent's line index in a physical-plan tree
    string (the nearest earlier line whose node starts further left)."""
    import re

    lines = plan.split("\n")
    depth = [re.match(r"[\s:+|-]*", l).end() for l in lines]
    parents, stack = {}, []
    for i, d in enumerate(depth):
        if d == len(lines[i]):
            continue
        while stack and depth[stack[-1]] >= d:
            stack.pop()
        if stack:
            parents[i] = stack[-1]
        stack.append(i)
    return parents


def test_verify_reads_packed_blocks_without_shuffle_or_pack(spark,
                                                            tmp_path):
    """Verify over a reused gram_dir joins the packed blocks straight from
    their parquet scan: the executed plan runs no grouped pack
    (FlatMapGroupsInPandas or FlatMapGroupsInArrow) and no shuffle between
    the block scan and its join, and the part files are not rewritten."""
    import glob
    import os

    df = spark.createDataFrame(
        [(i, f"document {i} " + "shared filler text " * (1 + i % 3))
         for i in range(12)], "doc_id long, text string")
    g = str(tmp_path / "grams")
    D.build_gram_records(df, "text", "doc_id", 3, g, 4)
    parts = {p: os.path.getmtime(p)
             for p in glob.glob(os.path.join(g, "part-*"))}
    v = D.exact_jaccard_verify(df, _all_pairs(df), "text", "doc_id", k=3,
                               block_rows=4, gram_dir=g)
    assert v.collect()
    assert {p: os.path.getmtime(p)
            for p in glob.glob(os.path.join(g, "part-*"))} == parts
    # AQE's final plan and the initial one: the final plan may reuse one
    # side's broadcast for the other, so it holds one block scan or two
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsIn" not in plan
    lines = plan.split("\n")
    parents = _plan_parents(plan)
    scans = [i for i, l in enumerate(lines)
             if "FileScan parquet" in l and os.path.basename(g) in l]
    assert len(scans) >= 3
    for i in scans:
        above = []
        while i in parents and "Join" not in lines[parents[i]]:
            i = parents[i]
            above.append(lines[i])
        assert i in parents, "block scan reaches no join"
        assert not [l for l in above if "Shuffle" in l
                    or ("Exchange" in l and "BroadcastExchange" not in l)]


def test_gram_blocks_rebuilt_on_block_rows_or_old_marker(spark, tmp_path):
    """A gram_dir packed for another block_rows is rebuilt, and so is one
    holding per-doc records under the older marker, which lacks
    block_rows and n_blocks."""
    import os

    from mapbox_vector_tile_java_spark.plans.manifest import (read_marker,
                                                              write_marker)

    df = spark.createDataFrame(
        [(i, f"text number {i} with some words") for i in range(9)],
        "doc_id long, text string")
    g = str(tmp_path / "grams")
    marker = os.path.join(g, "_GRAMS_OK")
    D.build_gram_records(df, "text", "doc_id", 3, g)
    assert read_marker(marker)["n_blocks"] == 1
    blocks = D.build_gram_records(df, "text", "doc_id", 3, g, 2).collect()
    assert read_marker(marker) == {
        "k": 3, "text_col": "text", "id_col": "doc_id", "block_rows": 2,
        "n_rows": 9, "n_blocks": 5}
    assert {r["b"] for r in blocks} <= set(range(5))
    assert sum(len(r["ids"]) for r in blocks) == 9 * 8

    # the older artifact: one (id, cnt, rec) row per doc, rec the doc's
    # sorted distinct records as one blob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [r["text"] for r in df.orderBy("doc_id").collect()]
    ids, cnts, recs = D.gram_records(*next(D.text_batches([pa.record_batch(
        [pa.array(range(9), pa.int64()), pa.array(texts)],
        names=["id", "text"])])), 3)
    ends = np.cumsum(cnts)
    shutil.rmtree(g)
    os.makedirs(g)
    pq.write_table(pa.table({"id": ids, "cnt": cnts, "rec": [
        recs[e - c : e].tobytes() for c, e in zip(cnts, ends)]}),
        os.path.join(g, "part-00000.parquet"))
    write_marker(marker, {"k": 3, "text_col": "text", "id_col": "doc_id",
                          "n_rows": 9})
    blocks = D.build_gram_records(df, "text", "doc_id", 3, g).collect()
    assert read_marker(marker)["n_blocks"] == 1
    assert [r["b"] for r in blocks] == [0]
    assert (sorted(np.frombuffer(blocks[0]["ids"], dtype=np.int64))
            == list(range(9)))


def _blocks_sha(rows) -> str:
    """sha256 of packed gram blocks, rows sorted by ``b``: each block's id,
    then each cell's length and bytes."""
    import hashlib
    import struct

    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["b"]):
        h.update(struct.pack("<i", r["b"]))
        for c in ("ids", "cnts", "vocab", "codes"):
            v = bytes(r[c])
            h.update(struct.pack("<q", len(v)))
            h.update(v)
    return h.hexdigest()


def test_gram_blocks_pinned_bytes(spark, tmp_path):
    """The packed gram artifact of 300 benchmark docs plus non-ASCII,
    shorter-than-k, empty and NULL rows (block_rows=64) is pinned byte for
    byte. The non-ASCII docs come out of the record kernel after the ASCII
    ones, and their ids (negative, and 150) interleave with the ASCII ids,
    so a block whose docs are not re-sorted by id changes the digest."""
    import os

    path = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench",
                        "data", "documents.parquet")
    extra = [(-1, "café crème brûlée à la carte"),
             (-2, "日本語のテキストです"), (-3, "日本"), (-4, "日本語"),
             (-5, "ab"), (-6, ""), (-7, None), (150, "naïve naïve naïve"),
             (10009, "abc"), (-8, "naïve naïve naïve")]
    docs = (spark.read.parquet(path)
            .where((F.col("doc_id") < 300) & (F.col("doc_id") != 150))
            .unionByName(spark.createDataFrame(
                extra, "doc_id long, text string")))
    rows = D.build_gram_records(docs, "text", "doc_id", 3,
                                str(tmp_path / "grams"), 64).collect()
    assert len(rows) == 5
    assert _blocks_sha(rows) == (
        "381b1c3e0a91511cb903fcd40487c51902b84e9e730fdcb2476a768f13249e7c")


def test_exact_verify_multi_block_matches_catalyst_on_documents(spark,
                                                                tmp_path):
    """On a 300-doc slice of the benchmark corpus packed into 5 blocks,
    exact verify over the packed artifact returns exactly the Catalyst
    jaccard pairs among the minhash-LSH candidates."""
    import os

    path = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench",
                        "data", "documents.parquet")
    docs = spark.read.parquet(path).where(F.col("doc_id") < 300)
    g = str(tmp_path / "grams")
    cands = D.minhash_lsh_pairs(docs, "text", "doc_id",
                                hash_bands=True).select("id_a", "id_b")
    got = {tuple(r) for r in D.exact_jaccard_verify(
        docs, cands, "text", "doc_id", k=3, threshold=0.5, block_rows=64,
        gram_dir=g).collect()}
    assert len(spark.read.parquet(g).collect()) == 5
    exact = {tuple(r) for r in D.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.5)
        .join(cands, ["id_a", "id_b"])
        .select("id_a", "id_b", "jaccard").collect()}
    assert len(exact) > 100
    assert got == exact


def test_gram_records_rebuilt_on_k_mismatch(spark, tmp_path):
    """A gram_dir built with another k is rebuilt, not reused: the marker
    and the packed blocks follow the caller's k."""
    import os

    from mapbox_vector_tile_java_spark.plans.manifest import read_marker

    df = spark.createDataFrame([(0, "abcd"), (1, "abcde"), (2, "abc")],
                               "doc_id long, text string")
    g = str(tmp_path / "grams")
    D.build_gram_records(df, "text", "doc_id", 3, g)
    assert read_marker(os.path.join(g, "_GRAMS_OK"))["n_rows"] == 3
    (blk,) = D.build_gram_records(df, "text", "doc_id", 4, g).collect()
    assert read_marker(os.path.join(g, "_GRAMS_OK")) == {
        "k": 4, "text_col": "text", "id_col": "doc_id", "block_rows": 512,
        "n_rows": 2, "n_blocks": 1}
    ids = np.frombuffer(blk["ids"], dtype=np.int64)
    cnts = np.frombuffer(blk["cnts"], dtype=np.int64)
    assert dict(zip(ids.tolist(), cnts.tolist())) == {0: 1, 1: 2}
    # one vocabulary entry of 4k+1 bytes per distinct 4-gram, one code per
    # per-doc record
    vocab = np.frombuffer(blk["vocab"], dtype="S17")
    assert len(blk["vocab"]) == 2 * 17
    assert list(vocab) == [b"\x04abcd", b"\x04bcde"]
    assert np.frombuffer(blk["codes"], dtype=np.int32).tolist() == [0, 0, 1]
    assert {(r["id_a"], r["id_b"], r["jaccard"])
            for r in D.exact_jaccard_verify(
                df, _all_pairs(df), "text", "doc_id", k=4, threshold=0.0,
                gram_dir=g).collect()} == {(0, 1, 0.5)}


def test_exact_verify_size_prefilter_keeps_rounded_ties(spark):
    """Verify compares the jaccard rounded like the SQL oracle's:
    {abc, bcd} vs {abc, bcd, cde} has jaccard 2/3 = 0.666667 after
    rounding, which reaches 0.6666669 although the unrounded 2/3 does not."""
    df = spark.createDataFrame([(0, "abcd"), (1, "abcde")],
                               "doc_id long, text string")
    t = 0.6666669
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(df, "text", "doc_id", k=3,
                                            threshold=t).collect()}
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.exact_jaccard_verify(df, _all_pairs(df), "text",
                                           "doc_id", k=3,
                                           threshold=t).collect()}
    assert exact == {(0, 1): 0.666667}
    assert got == exact


@pytest.mark.parametrize("algorithm", ["labelprop", "star"])
def test_dedup_components_and_drop_set(spark, algorithm):
    """Both component algorithms must produce exact connected components
    (chains, stars, singleton-free) and the drop set must exclude each
    cluster's canonical (smallest) id."""
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=3, id_b=4),
         Row(id_a=10, id_b=11), Row(id_a=10, id_b=12), Row(id_a=10, id_b=13),
         Row(id_a=20, id_b=21)])
    comp = {r["id"]: r["comp"]
            for r in D.dedup_components(pairs, algorithm=algorithm).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1,
                    10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}
    drop = {r["id"]: r["keep_id"] for r in D.dedup_drop_set(pairs).collect()}
    assert drop == {2: 1, 3: 1, 4: 1, 11: 10, 12: 10, 13: 10, 21: 20}
    # long chain exercises multi-round convergence (diameter 7)
    chain = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(100, 108)])
    cc = {r["id"]: r["comp"]
          for r in D.dedup_components(chain, algorithm=algorithm).collect()}
    assert set(cc.values()) == {100} and len(cc) == 9


def test_components_star_long_chain_few_rounds(spark):
    """large-star/small-star must collapse a diameter-40 chain well inside
    the O(log^2 n) round budget where naive labelprop needs ~diameter
    rounds — the reason the variant exists (SoCC'14)."""
    chain = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(200, 240)])
    cc = {r["id"]: r["comp"]
          for r in D.dedup_components(chain, algorithm="star",
                                      max_iters=12).collect()}
    assert set(cc.values()) == {200} and len(cc) == 41
    # labelprop genuinely needs ~diameter rounds on the same input
    with pytest.raises(RuntimeError, match="did not converge"):
        D.dedup_components(chain, algorithm="labelprop", max_iters=12)


def test_cleanup_temp_dirs(spark, docs):
    """The explicit cleanup hook must reap every auto-created
    signature/gram staging dir and reset the registry."""
    import os

    from mapbox_vector_tile_java_spark.operators import dedup as dd

    dd.cleanup_temp_dirs()
    D.ngram_jaccard_lsh(docs, "text", "doc_id", threshold=0.5).count()
    created = list(dd._FP_TMP_DIRS)
    assert created and all(os.path.isdir(d) for d in created)
    assert dd.cleanup_temp_dirs() == len(created)
    assert not dd._FP_TMP_DIRS
    assert all(not os.path.isdir(d) for d in created)


def test_corpus_clean_composition(spark):
    """End-to-end cleaning chain: the quality gate drops low-signal docs,
    exact dup collapses to the smallest id, near-dup clusters keep only
    their canonical member."""
    from mapbox_vector_tile_java_spark.operators.pipeline import corpus_clean

    base = ("the quick brown fox jumps over the lazy dog and it is "
            "with that for of in to ") * 8
    rows = [Row(doc_id=1, text=base),                      # canonical
            Row(doc_id=2, text=base),                      # exact dup -> drop
            Row(doc_id=3, text=base + "tiny tail"),        # near dup -> drop
            Row(doc_id=4, text="voll anderes dokument ohne englische "
                               "woerter hier " * 10),      # fails en gate
            Row(doc_id=5, text="a completely different but still english "
                               "text with the usual words of it " * 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in corpus_clean(df, "text", "doc_id").collect()}
    assert kept == {1, 5}


def test_dedup_incremental_matches_batch_recompute(spark, tmp_path):
    """Incremental dedup against the persisted signature index returns
    exactly the batch route's verified pairs restricted to a new endpoint
    (same signatures, same banding, same exact verify) — plus the index
    protocol: append extends the corpus side; a bands mismatch raises."""
    import pytest as _pytest

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    corpus = docs.where("doc_id < 300")
    new = docs.where("doc_id >= 300 and doc_id < 400")
    idx = str(tmp_path / "mhidx")
    D.build_minhash_index(corpus, "text", "doc_id", idx)
    got = {(r.id_a, r.id_b, r.jaccard) for r in
           D.dedup_incremental(corpus, new, "text", "doc_id", idx).collect()}
    full = docs.where("doc_id < 400")
    want = {(r.id_a, r.id_b, r.jaccard) for r in
            D.ngram_jaccard_lsh(full, "text", "doc_id", k=3,
                                threshold=0.5).collect()
            if r.id_a >= 300 or r.id_b >= 300}
    assert got == want and got  # nonempty on this dense corpus

    # append the admitted batch; a second batch now pairs against it too
    D.minhash_index_append(new, "text", "doc_id", idx)
    new2 = docs.where("doc_id >= 400")
    corpus2 = docs.where("doc_id < 400")
    got2 = {(r.id_a, r.id_b, r.jaccard) for r in
            D.dedup_incremental(corpus2, new2, "text", "doc_id",
                                idx).collect()}
    want2 = {(r.id_a, r.id_b, r.jaccard) for r in
             D.ngram_jaccard_lsh(docs, "text", "doc_id", k=3,
                                 threshold=0.5).collect()
             if r.id_a >= 400 or r.id_b >= 400}
    assert got2 == want2
    with _pytest.raises(ValueError, match="must divide"):
        D.dedup_incremental(corpus, new, "text", "doc_id", idx, bands=13)
    # the batch route bands the same way, so it refuses the same remainder
    with _pytest.raises(ValueError, match="bands=13 must divide num_perm=64"):
        D.minhash_lsh_pairs(corpus, "text", "doc_id", bands=13)


@pytest.mark.parametrize("hashed", [False, True])
def test_band_pairs_probe_matches_self_join(spark, hashed):
    """Probe mode returns exactly the self-join over index ∪ probe
    restricted to pairs with a probe endpoint, n_bands included, for raw
    and hashed minhash band keys; an empty probe yields no pairs."""
    import os

    from __spark_entry__ import ORACLE_SF_DIR

    sf0001 = os.path.join(os.path.dirname(ORACLE_SF_DIR), "sf0.001")
    docs = (spark.read.parquet(f"{sf0001}/documents.parquet")
            .select("doc_id", "text"))
    sigs = D.minhash_signatures(docs, "text", "doc_id").localCheckpoint()
    keys = D._minhash_band_keys(64, 16, hashed)
    # interleaved ids: probe endpoints fall on both sides of id_a < id_b
    in_probe = lambda i: i % 4 == 1
    index, probe = sigs.where("id % 4 != 1"), sigs.where("id % 4 = 1")
    rows = lambda df: {tuple(r) for r in df.collect()}
    got = rows(D.band_pairs(index, keys, probe=probe))
    want = {r for r in rows(D.band_pairs(sigs, keys))
            if in_probe(r[0]) or in_probe(r[1])}
    assert got == want and got
    assert not rows(D.band_pairs(index, keys, probe=probe.limit(0)))


def test_corpus_clean_candidate_routes(spark):
    """candidate_route picks the recall envelope (docs/RECALL.md): on the
    synthetic corpus the winnow route verifies true near-dup pairs the
    minhash route misses, so it drops strictly more documents; 'both'
    keeps at most what either single route keeps (edge sets are unions
    and drop sets are monotone in edges); a bad route raises."""
    import pytest as _pytest

    from mapbox_vector_tile_java_spark.operators.pipeline import corpus_clean

    # the driver documents table: dense template near-dups (docs/RECALL.md
    # measures 38% of all pairs at true j>=0.5 on this family)
    df = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .select("doc_id", "text"))
    kept = {route: {r["doc_id"] for r in
                    corpus_clean(df, "text", "doc_id", min_quality=0.0,
                                 candidate_route=route).collect()}
            for route in ("minhash", "winnow", "both")}
    # the recall difference is at the EDGE level (docs/RECALL.md): winnow
    # verifies true pairs minhash misses on this corpus...
    n_min = D.ngram_jaccard_lsh(df, "text", "doc_id", k=3,
                                threshold=0.5).count()
    n_win = D.ngram_jaccard_winnow(df, "text", "doc_id", k=3,
                                   threshold=0.5).count()
    assert n_win > n_min
    # ...while kept sets are monotone in edges (extra edges can only merge
    # components, never split them): 'both' keeps at most either route
    assert kept["both"] <= kept["minhash"] and kept["both"] <= kept["winnow"]
    assert kept["both"]  # and it does keep the canonical members
    with _pytest.raises(ValueError, match="candidate_route"):
        corpus_clean(df, "text", "doc_id", candidate_route="nope").collect()


def _lsh_false_positive_text(base: str) -> str:
    """Deterministic text that band-collides with ``base`` under the
    default minhash params (64 perm / 16 bands, seed 42) yet has true
    char-3-gram jaccard 0.378788 < 0.5 — found by sweep, pinned here."""
    import random

    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
             "november", "oscar", "papa", "quebec", "romeo", "sierra",
             "tango", "uniform", "victor", "whiskey", "xray", "yankee",
             "zulu"]
    rng = random.Random(7)
    text = None
    for i in range(49):
        n = 20 + (i % 6) * 15
        filler = " ".join(f"{rng.choice(words)}{rng.randint(100, 999)}"
                          for _ in range(n))
        text = base[:260] + " " + filler
    return text


def test_corpus_clean_survives_lsh_false_positive(spark):
    """A moderately-similar NON-duplicate that happens to collide in an
    LSH band must survive corpus_clean: the exact-jaccard verify stage
    rejects the candidate before the component collapse, so the document
    is never chained into a drop set on band-collision evidence alone."""
    from mapbox_vector_tile_java_spark.operators.pipeline import corpus_clean

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest where tall trees grow ") * 3
    fp_text = _lsh_false_positive_text(base)
    rows = [Row(doc_id=0, text=base),
            Row(doc_id=1, text=base),                 # exact dup -> drop
            Row(doc_id=2, text=base + "tiny tail"),   # true near dup -> drop
            Row(doc_id=3, text=fp_text)]              # LSH FP -> must KEEP
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # precondition: the pair really is an unverified LSH candidate...
    cand = {(r.id_a, r.id_b)
            for r in D.minhash_lsh_pairs(df, "text", "doc_id").collect()}
    assert (0, 3) in cand
    # ...whose true jaccard is below the dedup threshold
    j = {(r.id_a, r.id_b): r.jaccard
         for r in D.ngram_jaccard_pairs(df, "text", "doc_id", k=3,
                                        threshold=0.0).collect()}
    assert j[(0, 3)] < 0.5
    kept = {r["doc_id"]
            for r in corpus_clean(df, "text", "doc_id",
                                  min_quality=0.0).collect()}
    assert kept == {0, 3}
