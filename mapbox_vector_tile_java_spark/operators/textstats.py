"""Text analysis operators: token counting, quality scoring, language id,
document fingerprinting.

All pure Catalyst expressions (whole-stage codegen, no python in the hot
path) and all reproducible in ANSI SQL — every operator here has an exact
DuckDB oracle. Reference lineage: per-feature stats driving encode decisions
(JtsGeomStats.java:48-153) generalize to per-document quality stats driving
corpus filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# tiny fixed stopword lists for the language-id heuristic (deterministic,
# oracle-expressible)
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "for", "it", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "de", "et", "est", "pas", "pour", "une", "dans"],
}


def token_count(col):
    """Whitespace tokens; empty/blank string counts 0."""
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)) \
            .otherwise(F.size(F.split(F.trim(col), r"\s+")))


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, n_chars, n_tokens, avg_token_len) per document."""
    c = F.col(text_col)
    toks = token_count(c)
    return df.select(
        F.col(id_col),
        F.length(c).alias("n_chars"),
        toks.alias("n_tokens"),
        F.round(F.when(toks > 0, F.length(F.trim(c)) / toks).otherwise(F.lit(None)), 6)
         .alias("avg_token_len"),
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality features + a composite score.

    - digit_ratio / punct_ratio via regexp-strip length deltas
    - stopword_hits: membership count against a tiny english list
    - score: length-normalized combination, rounded for oracle stability
    """
    c = F.col(text_col)
    n = F.length(c)
    digits = n - F.length(F.regexp_replace(c, r"[0-9]", ""))
    punct = n - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    toks = F.when(F.length(F.trim(c)) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(F.lower(F.trim(c)), r"\s+"))
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks),
                                         F.array(*[F.lit(w) for w in STOPWORDS["en"]])))
    score = (F.when(n > 0,
                    1.0 - digits / n - punct / n
                    + F.least(stop_hits, F.lit(5)) * 0.02)
             .otherwise(F.lit(0.0)))
    return df.select(
        F.col(id_col), n.alias("n_chars"),
        F.round(F.when(n > 0, digits / n).otherwise(0.0), 6).alias("digit_ratio"),
        F.round(F.when(n > 0, punct / n).otherwise(0.0), 6).alias("punct_ratio"),
        stop_hits.alias("stopword_hits"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-vote language id over {en,de,fr}, 'und' (undetermined) when
    no list scores >0. Deterministic tie-break by language code order."""
    c = F.col(text_col)
    toks = F.when(F.length(F.trim(c)) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(F.lower(F.trim(c)), r"\s+"))
    toks_d = F.array_distinct(toks)
    hits = {lang: F.size(F.array_intersect(
                toks_d, F.array(*[F.lit(w) for w in ws])))
            for lang, ws in STOPWORDS.items()}
    best = F.greatest(*hits.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in sorted(STOPWORDS):  # deterministic order
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return df.select(F.col(id_col), *[hits[l].alias(f"hits_{l}") for l in sorted(STOPWORDS)],
                     pred.alias("lang_pred"))


def fingerprint(df: DataFrame, text_col: str, id_col: str,
                k: int = 8) -> DataFrame:
    """Document fingerprints:
    - md5_full: content hash of the exact text bytes
    - min_gram_md5: min md5 over ALL char k-grams. The global min over the
      full gram set is stable under document reordering: two documents
      with the same content in a different order share min_gram_md5
      exactly. Both columns are reproducible in SQL.

    Every gram is hashed in the JVM. For cheap fingerprints use
    fingerprint_rolling (exact global min, one vectorized pass, no per-gram
    JVM hashing) or fingerprint_winnow (true winnowing: shared substrings
    of length >= window + k - 1 are GUARANTEED to share a fingerprint).
    """
    c = F.col(text_col)
    # the length guard is load-bearing: sequence(1, 0) yields a DESCENDING
    # [1, 0] in Spark, so texts shorter than k must short-circuit to an
    # empty gram list (min over empty -> NULL, which is also what the SQL
    # oracle's CASE produces)
    grams = F.expr(
        f"CASE WHEN length({text_col}) >= {k} THEN "
        f"transform(sequence(1, length({text_col}) - {k - 1}),"
        f" i -> substring({text_col}, i, {k})) "
        f"ELSE array() END")
    return df.select(
        F.col(id_col),
        F.md5(c.cast("binary")).alias("md5_full"),
        F.array_min(F.transform(grams, lambda g: F.md5(g.cast("binary"))))
         .alias("min_gram_md5"),
    )


# BPE-style pre-tokenization pattern: letter runs, digit runs, single
# punctuation marks — the class structure GPT-2-style tokenizers split on
# first. Whitespace is an EXPLICIT class (\t \n \x0B \f \r space) because
# the engines' \s differ at the margin (Java's includes \x0B, RE2's does
# not) — with the explicit class the Spark query and DuckDB oracle agree
# on every input byte, not just the bytes the gate corpus happens to have.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\t\n\x0B\f\r ]"


def bpe_token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Token counts under two tokenization models per document:
    whitespace tokens and BPE-ish pre-tokens (letter/digit/punct units —
    the upper bound a subword tokenizer refines). The ratio estimates
    tokens-per-word for data budgeting."""
    c = F.col(text_col)
    ws = token_count(c)
    bpe = F.size(F.regexp_extract_all(text_col, F.lit(BPE_PATTERN), F.lit(0)))
    return df.select(
        F.col(id_col),
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.round(F.when(ws > 0, bpe.cast("double") / ws), 6)
         .alias("bpe_per_ws"))


# rolling-hash parameters: products stay under 2^52 so the kernel runs in
# plain uint64 and the SQL oracle in BIGINT — both exact
FP_MOD = 2_147_483_647        # 2^31 - 1 (Mersenne)
FP_BASE = 1_000_003


def fingerprint_rolling(df: DataFrame, text_col: str, id_col: str,
                        k: int = 8) -> DataFrame:
    """Scale-path fingerprint: min over k-gram polynomial hashes
    ``h = fold(h * B + byte) mod M`` — one vectorized numpy kernel (k passes
    over the batch, no per-gram JVM hash calls), reproducible in ANSI SQL
    via list_reduce over character codes (exact on ascii/1-byte corpora;
    the kernel hashes utf-8 bytes).

    Returns (id, min_gram_hash nullable, n_grams); docs shorter than k
    have no grams -> NULL hash.
    """
    import numpy as np
    import pyarrow as pa

    from .dedup import _window_hashes, text_batches

    out_schema = pa.schema([pa.field("id", pa.int64()),
                            pa.field("min_gram_hash", pa.int64()),
                            pa.field("n_grams", pa.int64())])

    def fn(batches):
        for ids, lens, data in text_batches(batches):
            n_gr, h = _window_hashes(lens, data, k, FP_BASE, FP_MOD)
            mins = np.full(len(lens), -1, dtype=np.int64)
            nz = n_gr > 0
            if len(h):
                starts = (np.cumsum(n_gr) - n_gr)[nz]
                mins[nz] = np.minimum.reduceat(h, starts).view(np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()),
                 pa.array(mins, type=pa.int64(), mask=(mins < 0)),
                 pa.array(n_gr, type=pa.int64())],
                schema=out_schema)

    from pyspark.sql.pandas.types import from_arrow_schema

    src = df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col))
    return src.mapInArrow(fn, from_arrow_schema(out_schema))


def fingerprint_winnow(df: DataFrame, text_col: str, id_col: str,
                       k: int = 8, window: int = 4) -> DataFrame:
    """TRUE winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    the distinct minima of every sliding ``window`` of consecutive k-gram
    rolling hashes. Guarantee: two documents sharing any substring of
    length >= window + k - 1 share at least one fingerprint — the property
    a positional gram sample cannot give.

    Returns exploded (id, fp) rows, one per distinct fingerprint — the
    shape a dedup index joins on. Documents with fewer than ``window``
    grams contribute min-of-all-grams (one fingerprint); documents shorter
    than k contribute no rows.

    Cost: one vectorized numpy pass (rolling hashes + sliding-window min);
    no per-gram JVM hashing, so it IS the scale path. The .distinct() is
    the only shuffle, and it is the dedup-index build itself.
    """
    import numpy as np
    import pyarrow as pa

    from ..codecs.gather import multi_range
    from .dedup import _window_hashes, text_batches

    out_schema = pa.schema([pa.field("id", pa.int64()),
                            pa.field("fp", pa.int64())])

    def fn(batches):
        w = window
        for ids, lens, data in text_batches(batches):
            n_gr, g = _window_hashes(lens, data, k, FP_BASE, FP_MOD)
            if not len(g):
                continue
            nz = n_gr > 0
            cnt = n_gr[nz]
            starts = np.concatenate(([0], np.cumsum(cnt)))[:-1]
            # sliding min over the flat gram-hash array, then per-doc select
            # only the windows fully inside the doc; short docs (0 < grams
            # < window) fall back to min-of-all-grams
            n_win = np.maximum(cnt - w + 1, 1)
            out_id = np.repeat(ids[nz], n_win)
            if len(g) >= w:
                sw = np.lib.stride_tricks.sliding_window_view(g, w).min(axis=1)
            else:
                sw = np.empty(0, dtype=np.uint64)
            full = cnt >= w
            fps = np.empty(int(n_win.sum()), dtype=np.uint64)
            dst = np.concatenate(([0], np.cumsum(n_win)))[:-1]
            if full.any():
                fps[multi_range(dst[full], n_win[full])] = \
                    sw[multi_range(starts[full], n_win[full])]
            if (~full).any():
                mins = np.minimum.reduceat(g, starts)
                fps[dst[~full]] = mins[~full]
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_id, type=pa.int64()),
                 pa.array(fps.view(np.int64), type=pa.int64())],
                schema=out_schema)

    from pyspark.sql.pandas.types import from_arrow_schema

    src = df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col))
    return src.mapInArrow(fn, from_arrow_schema(out_schema)).distinct()
