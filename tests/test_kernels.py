"""Kernel-level round-trip tests (no Spark).

Mirrors the reference's bit-math unit tests: zig-zag involution
(ZigZagTest.java:13-18) and command-header pack/unpack
(encoding/MvtUtilTest.java:16-29), extended to every codec with the boundary
fixtures from FIXTURES.md ("Kernel-level test inputs").
"""

from __future__ import annotations

import numpy as np
import pytest

from mapbox_vector_tile_java_spark.codecs import base, by_name, fsst
from mapbox_vector_tile_java_spark.codecs.bytescodecs import (
    decode_int_sub,
    encode_int_sub,
)
from mapbox_vector_tile_java_spark.codecs.primitives import (
    bitpack,
    bitunpack,
    pack_validity,
    unpack_validity,
    varint_decode,
    varint_encode,
    zigzag_decode,
    zigzag_encode,
)

I64 = np.iinfo(np.int64)
BOUNDARY_INTS = np.array(
    [0, 1, -1, 2, -2, 63, 64, 127, 128, -127, -128, 16383, 16384,
     I64.max, I64.min, I64.max - 1, I64.min + 1, 42, 42, 42],
    dtype=np.int64,
)

rng = np.random.default_rng(487125064)  # reference test seed, MvtBuildTest.java:60


def test_zigzag_involution():
    a = np.concatenate([BOUNDARY_INTS, rng.integers(I64.min, I64.max, 10_000, dtype=np.int64)])
    z = zigzag_encode(a)
    assert z.dtype == np.uint64
    np.testing.assert_array_equal(zigzag_decode(z), a)
    # small magnitudes -> small codes (the point of zig-zag)
    assert zigzag_encode(np.array([0, -1, 1, -2, 2], dtype=np.int64)).tolist() == [0, 1, 2, 3, 4]


def test_varint_boundaries():
    u = np.array([0, 1, 127, 128, 16383, 16384, (1 << 32) - 1, 1 << 32,
                  (1 << 63) - 1, (1 << 63), (1 << 64) - 1], dtype=np.uint64)
    buf = varint_encode(u)
    out, consumed = varint_decode(buf, len(u))
    assert consumed == len(buf)
    np.testing.assert_array_equal(out, u)


def test_varint_random():
    u = rng.integers(0, 1 << 63, 50_000, dtype=np.uint64)
    out, consumed = varint_decode(varint_encode(u), len(u))
    np.testing.assert_array_equal(out, u)


def test_varint_truncation_raises():
    with pytest.raises(ValueError):
        varint_decode(b"\x80\x80", 1)


@pytest.mark.parametrize("width", [0, 1, 2, 3, 7, 8, 9, 13, 31, 32, 33, 63, 64])
def test_bitpack_roundtrip(width):
    n = 1000
    u = rng.integers(0, 1 << min(width, 63), n, dtype=np.uint64) if width else np.zeros(n, np.uint64)
    if width == 64:
        u = rng.integers(0, I64.max, n, dtype=np.int64).view(np.uint64) * np.uint64(2) + np.uint64(1)
    np.testing.assert_array_equal(bitunpack(bitpack(u, width), n, width), u)


def test_validity_bitmap():
    v = rng.random(1003) < 0.3
    np.testing.assert_array_equal(unpack_validity(pack_validity(v), len(v)), v)


INT_FIXTURES = {
    "boundary": BOUNDARY_INTS,
    "empty": np.empty(0, dtype=np.int64),
    "single": np.array([-7], dtype=np.int64),
    "all_same": np.full(10_000, 123456789, dtype=np.int64),
    "sorted_runs": np.repeat(np.arange(100, dtype=np.int64) * 1000, 100),
    "monotone": np.cumsum(rng.integers(0, 50, 10_000)).astype(np.int64),
    "random": rng.integers(I64.min, I64.max, 10_000, dtype=np.int64),
    "alternating": np.tile(np.array([5, -5], dtype=np.int64), 5000),
    "extreme_deltas": np.array([I64.min, I64.max, 0, I64.max, I64.min], dtype=np.int64),
}


@pytest.mark.parametrize("codec", ["raw_int", "rle_int", "for_bitpack", "for_delta", "dict_int", "varint_int", "huff_int", "byteplane"])
@pytest.mark.parametrize("name", list(INT_FIXTURES))
def test_int_codec_roundtrip(codec, name):
    a = INT_FIXTURES[name]
    spec = by_name(codec)
    if codec == "for_delta" and len(a) == 0:
        return  # delta needs >=1 value; selector never picks it for empty
    blob = spec.encode(a, {})
    r = base.ByteReader(blob)
    out = spec.decode(r, len(a))
    r.expect_end()
    np.testing.assert_array_equal(out, a)


def test_const_int():
    spec = by_name("const_int")
    a = np.full(777, -42, dtype=np.int64)
    r = base.ByteReader(spec.encode(a, {}))
    np.testing.assert_array_equal(spec.decode(r, 777), a)
    r.expect_end()


def test_rle_run_cap_chunking():
    """Runs longer than the cap are chunked (reference cap 2^29-1, MvtUtil.java:29)."""
    spec = by_name("rle_int")
    a = np.repeat(np.array([7, 8], dtype=np.int64), [10_000, 3])
    blob = spec.encode(a, {"run_cap": 100})
    r = base.ByteReader(blob)
    np.testing.assert_array_equal(spec.decode(r, len(a)), a)
    r.expect_end()


@pytest.mark.parametrize("name", list(INT_FIXTURES))
def test_int_sub_auto(name):
    a = INT_FIXTURES[name]
    blob = encode_int_sub(a)
    r = base.ByteReader(blob)
    out = decode_int_sub(r, len(a))
    r.expect_end()
    np.testing.assert_array_equal(out, a)
    # auto choice is never larger than raw (+1 id byte + small headers)
    assert len(blob) <= 8 * len(a) + 24


def _bytes_fixture(strings: list[bytes]):
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=len(strings))
    data = np.frombuffer(b"".join(strings), dtype=np.uint8)
    return lens, data


BYTES_FIXTURES = {
    "basic": [b"hello", b"world", b"hello", b"", b"x"],
    "empty_col": [],
    "all_empty": [b"", b"", b""],
    "unicode": ["héllo wörld".encode(), "日本語テキスト".encode(), "🎉🎊".encode(), b"ascii"],
    "repetitive": [b"the quick brown fox " * 20] * 50 + [b"jumps over the lazy dog " * 10] * 50,
    "binary": [bytes(range(256)), b"\x00\xff\x00\xff" * 100, b"\xff" * 33],
    "high_card": [f"unique-string-{i:08d}".encode() for i in range(2000)],
    "low_card": [b"en", b"de", b"fr", b"en", b"en", b"zh"] * 500,
}


@pytest.mark.parametrize("codec", ["raw_bytes", "dict_bytes", "fsst", "tok_dict"])
@pytest.mark.parametrize("name", list(BYTES_FIXTURES))
def test_bytes_codec_roundtrip(codec, name):
    lens, data = _bytes_fixture(BYTES_FIXTURES[name])
    spec = by_name(codec)
    blob = spec.encode((lens, data), {})
    r = base.ByteReader(blob)
    out_lens, out_data = spec.decode(r, len(lens), {})
    r.expect_end()
    np.testing.assert_array_equal(out_lens, lens)
    np.testing.assert_array_equal(np.asarray(out_data), data)


def test_dict_global_roundtrip():
    values = [b"en", b"de", b"fr", b"en", b"zh", b"en"]
    symbols = sorted(set(values))
    lens, data = _bytes_fixture(values)
    spec = by_name("dict_global")
    blob = spec.encode((lens, data), {"symbols": symbols, "symtab_id": 3})
    r = base.ByteReader(blob)
    out_lens, out_data = spec.decode(r, len(values), {"symtabs": {3: symbols}})
    r.expect_end()
    np.testing.assert_array_equal(out_lens, lens)
    np.testing.assert_array_equal(np.asarray(out_data), data)


def test_fsst_global_roundtrip_with_mismatched_table():
    # a globally-trained table must round-trip data it never saw (escapes)
    train_rows = [b"the quick brown fox " * 30] * 20
    _, train_data = _bytes_fixture(train_rows)
    table = fsst.train(train_data)
    rows = [b"completely different \xff\x00 bytes", b"", b"the quick", bytes(range(256))]
    lens, data = _bytes_fixture(rows)
    spec = by_name("fsst_global")
    blob = spec.encode((lens, data), {"fsst_table": table, "symtab_id": 7})
    r = base.ByteReader(blob)
    ctx = {"symtabs": {7: list(table.symbols)}}
    l2, d2 = spec.decode(r, len(rows), ctx)
    r.expect_end()
    np.testing.assert_array_equal(np.asarray(l2), lens)
    assert np.asarray(d2).tobytes() == data.tobytes()
    # decoder cache: second blob reuses the cached SymbolTable
    blob2 = spec.encode((lens, data), {"fsst_table": table, "symtab_id": 7})
    r2 = base.ByteReader(blob2)
    l3, d3 = spec.decode(r2, len(rows), ctx)
    assert np.asarray(d3).tobytes() == data.tobytes()


def test_tok_dict_space_structure_roundtrip():
    rows = [b"hello world", b" lead", b"trail ", b"", b"  ", b"a  b",
            b"\x20\x20\x20", b"\x00\x01 binary\x20stuff\xff", b"no-spaces-here"]
    lens, data = _bytes_fixture(rows)
    spec = by_name("tok_dict")
    blob = spec.encode((lens, data), {})
    r = base.ByteReader(blob)
    l2, d2 = spec.decode(r, len(rows), {})
    r.expect_end()
    np.testing.assert_array_equal(np.asarray(l2), lens)
    assert np.asarray(d2).tobytes() == data.tobytes()


def test_huffman_int32_and_int64_paths_byte_identical(monkeypatch):
    # the emit stage picks int32 bit-offset arithmetic when offsets fit;
    # both paths must produce the SAME wire bytes (the int64 path is the
    # >2^31-bit fallback, unreachable at Arrow batch sizes, so force it)
    from mapbox_vector_tile_java_spark.codecs import huffman

    rng = np.random.default_rng(7)
    v = rng.zipf(1.3, size=50_000).astype(np.int64)
    fast = huffman.encode(v)
    monkeypatch.setattr(huffman, "_INT32_BIT_LIMIT", 0)
    slow = huffman.encode(v)
    assert fast == slow
    r = base.ByteReader(slow)
    np.testing.assert_array_equal(huffman.decode(r, len(v)), v)


def test_rle_size_gate_never_changes_the_choice():
    # encode_int_sub gates the expensive exact RLE probe behind its lower
    # bound; the CHOSEN codec (first blob byte) must match a gate-free
    # reference selection on streams across the run-length spectrum
    from mapbox_vector_tile_java_spark.codecs.bytescodecs import encode_int_sub
    from mapbox_vector_tile_java_spark.codecs.intcodecs import rle_size

    rng = np.random.default_rng(11)
    streams = [
        np.repeat(rng.integers(0, 50, 30), rng.integers(1, 2000, 30)),  # runs
        rng.integers(0, 100_000, 5000),                                  # none
        rng.zipf(1.2, 5000),                                             # skewed
        np.sort(rng.integers(0, 10, 5000)),                              # few runs
        np.arange(5000) // 7,                                            # short runs
    ]
    for a in streams:
        a = a.astype(np.int64)
        blob = encode_int_sub(a)
        # reference: recompute all exact sizes without the gate
        from mapbox_vector_tile_java_spark.codecs.intcodecs import (
            delta_size, for_size, raw_int_size, varint_int_size)
        from mapbox_vector_tile_java_spark.codecs import huffman
        from mapbox_vector_tile_java_spark.codecs.bytescodecs import (
            FOR_BITPACK, FOR_DELTA, HUFF_INT, RAW_INT, RLE_INT, VARINT_INT)

        cands = [(rle_size(a), RLE_INT), (for_size(a), FOR_BITPACK),
                 (delta_size(a), FOR_DELTA), (varint_int_size(a), VARINT_INT),
                 (raw_int_size(len(a)), RAW_INT)]
        if len(a) >= 1024:
            cands.append((huffman.encoded_size(a), HUFF_INT))
        cands.sort(key=lambda c: (c[0], c[1].codec_id))
        assert blob[0] == cands[0][1].codec_id, a[:8]


def test_tok_dict_zero_tokens_per_row_raises():
    # every row encodes >=1 token (its appended separator); a corrupt blob
    # claiming 0 tokens for a row used to wrap the row-end index to -1 and
    # garble rows silently instead of raising like other malformed fields
    from mapbox_vector_tile_java_spark.codecs.base import put_uvarint
    from mapbox_vector_tile_java_spark.codecs.bytescodecs import encode_int_sub

    parts = [b"\x01"]
    put_uvarint(parts, 3)  # n_tokens
    parts.append(encode_int_sub(np.array([0, 3], dtype=np.int64)))  # corrupt
    put_uvarint(parts, 3)  # nuniq
    parts.append(encode_int_sub(np.array([2, 2, 2], dtype=np.int64)))
    parts.append(b"\x00")
    parts.append(b"abcdef")
    parts.append(encode_int_sub(np.array([0, 1, 2], dtype=np.int64)))
    with pytest.raises(ValueError, match="tokens_per_row"):
        by_name("tok_dict").decode(base.ByteReader(b"".join(parts)), 2, {})


def test_dict_global_out_of_dict_values_escape():
    # values absent from the (sampled) global dictionary round-trip via the
    # inline escape path instead of failing — at cluster scale the dict
    # comes from a sample, so the tail MUST be escapable
    rows = [b"en", b"xx", b"de", b"", b"xx", b"zz-long-value", b"en"]
    lens, data = _bytes_fixture(rows)
    params = {"symbols": [b"de", b"en"], "symtab_id": 0}
    blob = by_name("dict_global").encode((lens, data), params)
    r = base.ByteReader(blob)
    l2, d2 = by_name("dict_global").decode(r, len(rows), {"symtabs": {0: [b"de", b"en"]}})
    r.expect_end()
    np.testing.assert_array_equal(np.asarray(l2), lens)
    assert np.asarray(d2).tobytes() == data.tobytes()


class TestFsst:
    def test_roundtrip_text(self):
        corpus = ("the quick brown fox jumps over the lazy dog. " * 200).encode()
        data = np.frombuffer(corpus, dtype=np.uint8)
        t = fsst.train(data)
        comp = t.compress(data)
        assert len(comp) < len(data) * 0.5  # repetitive text must compress well
        np.testing.assert_array_equal(t.decompress(comp), data)

    def test_roundtrip_adversarial(self):
        for payload in [b"", b"\xff", b"\xff" * 100, bytes(range(256)) * 4,
                        b"a", b"ab" * 3000, "日本語".encode() * 100]:
            data = np.frombuffer(payload, dtype=np.uint8)
            t = fsst.train(data)
            np.testing.assert_array_equal(t.decompress(t.compress(data)), data)

    def test_cross_data_table(self):
        """Table trained on one corpus must still be lossless on another."""
        train_data = np.frombuffer(b"common crawl web page text " * 100, dtype=np.uint8)
        t = fsst.train(train_data)
        other = np.frombuffer(b"\x00\xff completely different \xfe bytes \xff\xff", dtype=np.uint8)
        np.testing.assert_array_equal(t.decompress(t.compress(other)), other)

    def test_table_serialization(self):
        data = np.frombuffer(b"hello world, hello moon, hello sun! " * 50, dtype=np.uint8)
        t = fsst.train(data)
        comp = t.compress(data)
        dec = fsst.decoder_from_table_bytes(np.frombuffer(t.table_bytes(), dtype=np.uint8))
        np.testing.assert_array_equal(dec.decompress(comp), data)

    def test_full_serialization_encoder_state(self):
        """The table a persisted plan rebuilds from its symbols alone
        (``overrides_from_plan``) compresses exactly like the trained one."""
        data = np.frombuffer(b"abcabcabc abc abc the abc " * 99, dtype=np.uint8)
        t = fsst.train(data)
        t2 = fsst.SymbolTable(symbols=list(t.symbols))
        np.testing.assert_array_equal(t2.compress(data), t.compress(data))
        assert t2.symbols == t.symbols

    def test_determinism(self):
        data = np.frombuffer(b"deterministic training input " * 123, dtype=np.uint8)
        assert fsst.train(data).symbols == fsst.train(data).symbols


def test_strict_trailing_bytes():
    """Our decoder is strict — the reference silently truncates trailing
    garbage (MvtReader.java:343-347); we refuse (SURVEY A15)."""
    spec = by_name("for_bitpack")
    blob = spec.encode(np.arange(10, dtype=np.int64), {}) + b"\x00garbage"
    r = base.ByteReader(blob)
    spec.decode(r, 10)
    with pytest.raises(ValueError):
        r.expect_end()


def _gram_block(doc_sets: dict, k: int = 3) -> tuple:
    """(ids, cnts, vocab, codes) of one verify hash block, built the way the
    gram-record stage and the verify pack build it: each doc's grams as
    length-prefixed ``S{4k+1}`` records, sorted bytewise per doc."""
    from mapbox_vector_tile_java_spark.operators.dedup import rank_gram_block

    rw = 4 * k + 1
    ids = np.array(sorted(doc_sets), dtype=np.int64)
    recs = [r for i in ids
            for r in sorted(bytes([len(g)]) + g + bytes(rw - 1 - len(g))
                            for g in doc_sets[i])]
    cnts = np.array([len(doc_sets[i]) for i in ids], dtype=np.int64)
    return (ids, cnts, *rank_gram_block(np.array(recs, dtype=f"S{rw}")))


def test_block_pair_jaccard_matches_set_jaccard():
    """The verify kernel's block-pair intersection against python set
    jaccard: random blocks with shared, disjoint and empty-intersection
    vocabularies, one-doc blocks, and candidates naming docs the block has
    no gram row for (those drop out)."""
    from mapbox_vector_tile_java_spark.operators.dedup import (
        block_pair_jaccard,
        round_half_away,
    )

    gen = np.random.default_rng(7)
    alpha = [bytes([c]) for c in b"abcdefgh"]
    universe = [a + b + c for a in alpha for b in alpha for c in alpha[:3]]
    other = [g.upper() for g in universe]  # disjoint from ``universe``
    # multi-byte grams: length prefixes differ from the ascii records
    wide = ["ü".encode() + g[:2] for g in universe[:40]]

    def rand_block(first_id, n_docs, pool):
        return {first_id + 2 * j: set(gen.choice(pool, gen.integers(1, 30),
                                                 replace=False).tolist())
                for j in range(n_docs)}

    cases = []
    for _ in range(25):
        nx, ny = gen.integers(1, 8, size=2)
        cases.append((rand_block(0, nx, universe + wide),
                      rand_block(1, ny, universe + wide)))
    cases.append((rand_block(0, 5, universe), rand_block(1, 4, other)))
    cases.append((rand_block(0, 1, universe), rand_block(1, 1, universe)))
    cases.append(({0: {b"abc"}}, {1: {b"abd"}}))
    cases.append(({0: {b"abc", b"bcd"}}, {1: {b"abc", b"bcd", b"cde"}}))
    for xs, ys in cases:
        x, y = _gram_block(xs), _gram_block(ys)
        # every cross pair, plus candidates whose doc has no gram row
        ida = np.array([a for a in list(xs) + [999] for _ in list(ys) + [998]],
                       dtype=np.int64)
        idb = np.array([b for _ in list(xs) + [999] for b in list(ys) + [998]],
                       dtype=np.int64)
        sel, jac = block_pair_jaccard(x, y, ida, idb)
        got = dict(zip(zip(ida[sel].tolist(), idb[sel].tolist()),
                       jac.tolist()))
        want = {(a, b): round_half_away(
                    np.float64(len(xs[a] & ys[b]) / len(xs[a] | ys[b])), 6)
                for a in xs for b in ys}
        assert got == want


_M64 = (1 << 64) - 1


def _utf8_batch():
    """(ids, lens, data) of random ascii and multi-byte texts, read through
    the fingerprint stages' own batch reader (the null row drops out)."""
    import random

    import pyarrow as pa

    from mapbox_vector_tile_java_spark.operators.dedup import text_batches

    rng = random.Random(11)
    alphabet = "abcde fghij _-.!?ü日本🎉"
    texts = ["", "abcd", "abcde", "日本", None] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60)))
        for _ in range(40)]
    batch = pa.record_batch([pa.array(range(len(texts)), type=pa.int64()),
                             pa.array(texts, type=pa.string())],
                            names=["id", "text"])
    (ids, lens, data), = text_batches([batch])
    docs = [t.encode() for t in texts if t is not None]
    assert ids.tolist() == [i for i, t in enumerate(texts) if t is not None]
    assert lens.tolist() == [len(d) for d in docs]
    return lens, data, docs


def _ref_shingles(bts: bytes, k: int) -> list[int]:
    """Plain-python shingle fold over UTF-8 bytes, wrapping at 2^64."""
    out = []
    for i in range(len(bts) - k + 1):
        h = 0
        for c in bts[i : i + k]:
            h = (h * 0x9E3779B97F4A7C15 + c) & _M64
        out.append(h)
    return out


def test_minhash_kernel_matches_reference_impl():
    """Signatures against a per-doc python minhash over UTF-8 bytes: the
    (a * h + b) step wraps at 2^64 before the Mersenne mod, as in numpy;
    a doc with no shingle keeps MERSENNE in every slot."""
    from mapbox_vector_tile_java_spark.operators.dedup import (
        MERSENNE, _minhash_params, minhash_kernel)

    lens, data, docs = _utf8_batch()
    a, b = (p.tolist() for p in _minhash_params(16, 42))
    got = minhash_kernel(lens, data, num_perm=16, shingle_k=5, seed=42)
    for row, bts in zip(got.tolist(), docs):
        sh = _ref_shingles(bts, 5)
        exp = [min(((aj * s & _M64) + bj & _M64) % MERSENNE for s in sh)
               if sh else MERSENNE for aj, bj in zip(a, b)]
        assert row == exp, bts


def test_simhash_kernel_matches_reference_impl():
    """Fingerprints against a per-doc python simhash over UTF-8 bytes: bit
    i is set when more shingle hashes have bit i set than clear; a doc
    with no shingle (or a tied vote) leaves the bit clear."""
    from mapbox_vector_tile_java_spark.operators.dedup import simhash_kernel

    lens, data, docs = _utf8_batch()
    got = simhash_kernel(lens, data, shingle_k=4)
    for fp, bts in zip(got.tolist(), docs):
        sh = _ref_shingles(bts, 4)
        votes = [sum(1 if s >> i & 1 else -1 for s in sh) for i in range(64)]
        assert fp == sum(1 << i for i in range(64) if votes[i] > 0), bts
