"""Deterministic synthetic Common-Crawl-style webtext table.

The engine's primary input shape (BASELINE.json input_hint):

    url: string NOT NULL, warc_ts: timestamp NOT NULL,
    html: binary, text: string, lang: string

Generation is a pure function of (row id, seed) via a counter-based
splitmix64 hash — fully vectorized, order- and partitioning-independent, so
the same (n_rows, seed) always yields the identical table whether generated
locally or distributed (mirrors the reference's fixed-seed random fixtures,
MvtBuildTest.java:60).

Skew: host 0 ("the hot host") takes ~20% of rows (FIXTURES.md F4), the rest
are log-uniform over n_hosts — exercises salting in the partition planner.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..codecs.gather import gather_runs

U64 = np.uint64
_P1 = U64(0x9E3779B97F4A7C15)
_P2 = U64(0xBF58476D1CE4E5B9)
_P3 = U64(0x94D049BB133111EB)

SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us"), nullable=False),
    pa.field("html", pa.binary(), nullable=True),
    pa.field("text", pa.string(), nullable=True),
    pa.field("lang", pa.string(), nullable=True),
])

LANGS = [
    "en", "de", "fr", "es", "it", "pt", "nl", "pl", "ru", "ja", "zh", "ko",
    "ar", "tr", "sv", "da", "no", "fi", "cs", "el", "he", "hi", "th", "vi",
    "id", "ms", "uk", "ro", "hu", "bg", "hr", "sk", "sl", "et", "lv", "lt",
    "sr", "ca", "eu", "gl", "fa", "ur", "bn", "ta", "te", "ml", "mr", "sw",
    "af", "is",
]

_BASE_WORDS = (
    "the of and to in a is that for it with as on be at by this from or an "
    "are was but not you all they we her she will one their there been has "
    "more when who him its page web site content data crawl internet html "
    "link image search news article comment user post time year day home "
    "about contact privacy terms service copyright information world people "
    "können über straße日本語 العربية русский 中文内容 ελληνικά हिन्दी "
    "naïve café résumé 🎉emoji"
).split()


def _splitmix(x: np.ndarray) -> np.ndarray:
    z = x + _P1
    z = (z ^ (z >> U64(30))) * _P2
    z = (z ^ (z >> U64(27))) * _P3
    return z ^ (z >> U64(31))


def _hash(ids: np.ndarray, stream: int, seed: int) -> np.ndarray:
    return _splitmix(ids.astype(U64) * U64(0x100000001B3)
                     + U64((stream * 0x9E3779B1 + seed * 0x85EBCA77) & (2**64 - 1)))


def _uniform(ids: np.ndarray, stream: int, seed: int) -> np.ndarray:
    return _hash(ids, stream, seed).astype(np.float64) / 2.0**64


def _vocab() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lens, offsets, data) of the word vocabulary, each word + ' '."""
    words = [(w + " ").encode() for w in _BASE_WORDS]
    # extend deterministically to ~2000 entries with derived slugs
    for i in range(2000 - len(words)):
        base = _BASE_WORDS[i % len(_BASE_WORDS)]
        words.append(f"{base}{i % 97} ".encode())
    lens = np.fromiter((len(w) for w in words), dtype=np.int64, count=len(words))
    ofs = np.concatenate(([0], np.cumsum(lens)))[:-1]
    data = np.frombuffer(b"".join(words), dtype=np.uint8)
    return lens, ofs, data


_VLENS, _VOFS, _VDATA = _vocab()


def _gather_words(doc_ids: np.ndarray, word_counts: np.ndarray, stream: int,
                  seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Build concatenated word streams per doc. Returns (byte_lens, data)."""
    total_words = int(word_counts.sum())
    if total_words == 0:
        return np.zeros(len(doc_ids), dtype=np.int64), np.empty(0, dtype=np.uint8)
    w_ofs = np.concatenate(([0], np.cumsum(word_counts)))[:-1]
    flat_doc = np.repeat(doc_ids, word_counts)
    pos = np.arange(total_words) - np.repeat(w_ofs, word_counts)
    u = _uniform(flat_doc * U64(131071) + pos.astype(U64), stream, seed)
    wid = (u * u * len(_VLENS)).astype(np.int64)  # squared -> Zipf-ish head
    wl = _VLENS[wid]
    data = gather_runs(_VDATA, _VOFS[wid], wl)
    byte_lens = np.zeros(len(doc_ids), dtype=np.int64)
    np.add.at(byte_lens, np.repeat(np.arange(len(doc_ids)), word_counts), wl)
    return byte_lens, data


def _varbin(lens: np.ndarray, data: np.ndarray, valid: np.ndarray | None,
            t: pa.DataType) -> pa.Array:
    n = len(lens)
    if valid is not None:
        lens = np.where(valid, lens, 0)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    bufs = [None, pa.py_buffer(offsets.astype(np.int32).tobytes()),
            pa.py_buffer(data.tobytes())]
    if valid is not None and not valid.all():
        bufs[0] = pa.py_buffer(np.packbits(valid.astype(np.uint8), bitorder="little").tobytes())
        return pa.Array.from_buffers(t, n, bufs, null_count=int(n - valid.sum()))
    return pa.Array.from_buffers(t, n, bufs, null_count=0)


def gen_batch(ids: np.ndarray, seed: int = 42, n_hosts: int = 10_000,
              hot_frac: float = 0.2) -> pa.RecordBatch:
    """Generate one record batch for the given row ids (pure function)."""
    ids = np.ascontiguousarray(ids, dtype=np.int64).view(U64)
    n = len(ids)

    # hosts: hot host 0 with prob hot_frac, else log-uniform rank
    u_host = _uniform(ids, 1, seed)
    rank = np.exp(_uniform(ids, 2, seed) * np.log(n_hosts - 1)).astype(np.int64)
    host = np.where(u_host < hot_frac, 0, np.clip(rank, 1, n_hosts - 1))

    # url = https://h{host}.example.com/p/{slug}-{id}  (globally unique)
    slug = _hash(ids, 3, seed) % U64(1 << 24)
    urls = None  # built vectorized below
    host_s = np.char.add(np.char.add("https://h", host.astype("U8")), ".example.com/p/")
    tail = np.char.add(np.char.add(slug.astype("U8"), "-"), ids.astype(np.int64).astype("U20"))
    urls = np.char.add(host_s, tail)

    # warc_ts: base + id*gap + jitter (monotone-ish; sorted runs after sort)
    base = 1_600_000_000_000_000
    ts = base + ids.view(np.int64) * 737 + (_hash(ids, 4, seed) % U64(500)).view(np.int64)

    # lang: skewed over 50 codes, ~1% null
    lu = _uniform(ids, 5, seed)
    lang_idx = (lu * lu * len(LANGS)).astype(np.int64)
    lang_valid = _uniform(ids, 6, seed) >= 0.01
    lang_arr_np = np.array(LANGS)[lang_idx]

    # text: 0..220 words, 0.5% empty, 1% null
    tw = (np.abs(_uniform(ids, 7, seed)) * 220).astype(np.int64) + 5
    tw = np.where(_uniform(ids, 8, seed) < 0.005, 0, tw)
    text_valid = _uniform(ids, 9, seed) >= 0.01
    tw = np.where(text_valid, tw, 0)
    t_lens, t_data = _gather_words(ids, tw, 10, seed)

    # html: tag soup + the text vocabulary + 32 incompressible bytes, 2% null
    hw = (tw * 1.5).astype(np.int64) + 8
    html_valid = _uniform(ids, 11, seed) >= 0.02
    hw = np.where(html_valid, hw, 0)
    h_lens, h_data = _gather_words(ids, hw, 12, seed)
    noise = _hash(np.repeat(ids, 4) + np.tile(np.arange(4, dtype=U64), n), 13, seed)
    noise_b = noise.view(np.uint8).reshape(n, 32)
    pre = b"<html><body><div class=\"content\">"
    pre_a = np.frombuffer(pre * n, dtype=np.uint8).reshape(n, len(pre))
    # stitch: pre + words + noise per row
    out_lens = np.where(html_valid, len(pre) + h_lens + 32, 0)
    total = int(out_lens.sum())
    h_out = np.empty(total, dtype=np.uint8)
    ofs = np.concatenate(([0], np.cumsum(out_lens)))[:-1]
    vmask = html_valid
    # write pre
    pre_idx = (ofs[vmask][:, None] + np.arange(len(pre))[None, :]).ravel()
    h_out[pre_idx] = pre_a[vmask].ravel()
    # write words (h_lens is already 0 for invalid rows, covering h_data exactly)
    w_ofs_in = np.concatenate(([0], np.cumsum(h_lens)))[:-1]
    w_dst = np.repeat(ofs + len(pre) - w_ofs_in, h_lens) + np.arange(len(h_data))
    h_out[w_dst] = h_data
    # write noise
    noise_idx = ((ofs + len(pre) + h_lens)[vmask][:, None] + np.arange(32)[None, :]).ravel()
    h_out[noise_idx] = noise_b[vmask].ravel()

    arr_url = pa.array(urls, type=pa.string())
    arr_ts = pa.Array.from_buffers(pa.timestamp("us"), n,
                                   [None, pa.py_buffer(ts.tobytes())], null_count=0)
    arr_html = _varbin(out_lens, h_out, html_valid, pa.binary())
    arr_text = _varbin(t_lens, t_data, text_valid, pa.string())
    lang_data = np.frombuffer(lang_arr_np[lang_valid].astype("S2").tobytes(),
                              dtype=np.uint8)
    arr_lang = _varbin(np.full(n, 2, dtype=np.int64), lang_data, lang_valid,
                       pa.string())
    return pa.RecordBatch.from_arrays(
        [arr_url, arr_ts, arr_html, arr_text, arr_lang],
        schema=SCHEMA,
    )


def webtext_table(n_rows: int, seed: int = 42) -> pa.Table:
    """Local (driver-side) generation — for tests and small fixtures."""
    return pa.Table.from_batches(
        [gen_batch(np.arange(n_rows, dtype=np.int64), seed)], schema=SCHEMA)


def webtext_df(spark, n_rows: int, seed: int = 42, partitions: int | None = None):
    """Distributed generation: spark.range -> mapInArrow(gen_batch).

    Deterministic regardless of partitioning (row-id keyed), so a 100 TB
    version is just a bigger range — no driver bottleneck, no shuffle.
    """
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType, TimestampType)

    out_schema = StructType([
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ])

    def gen(batches):
        for b in batches:
            ids = b.column(0).to_numpy(zero_copy_only=False)
            yield gen_batch(ids, seed)

    rng = spark.range(0, n_rows, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInArrow(gen, out_schema)
