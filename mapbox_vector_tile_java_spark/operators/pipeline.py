"""Composed training-data cleaning pipeline: the end-to-end shape a
corpus-preparation job runs, built entirely from this repo's operators —
quality gate -> exact dedup -> near-dup cluster collapse -> kept set.

Each stage is individually oracle-checked elsewhere; this module checks the
COMPOSITION (the driver's DuckDB oracle re-runs the whole chain in SQL,
including the exact-jaccard verify and the recursive-CTE component
collapse). Reference lineage: the reference validates whole-pipeline
behavior, not just units (MvtBuildTest.java:141-308 builds tile -> encodes
-> decodes -> asserts).

Scale shape: quality gate and exact dedup are one scan + one content-hash
shuffle; the near-dup stage inherits minhash-LSH's bounded-bucket shuffle
plus the block-pair exact-verify kernel (bytes shipped per block pair, not
per candidate); the collapse is O(component diameter) label-propagation
rounds. Nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def corpus_clean(df: DataFrame, text_col: str, id_col: str,
                 min_quality: float = 1.01,
                 jaccard_threshold: float = 0.5, k: int = 3,
                 gram_dir: str | None = None,
                 candidate_route: str = "minhash") -> DataFrame:
    """Kept document ids after the full cleaning chain:

    1. quality gate: heuristic quality_score >= min_quality (drops
       low-signal documents — on the synthetic corpus this is an
       English-stopword-evidence gate);
    2. exact dedup: one survivor (smallest id) per distinct text;
    3. near-dup collapse: minhash-LSH *candidates* over the survivors,
       exact char-``k``-gram jaccard verification of every candidate
       (only pairs with true jaccard >= ``jaccard_threshold`` become
       edges), connected components over the VERIFIED pair graph, keep
       only each cluster's canonical (smallest-id) member.

    The verify stage is what makes the drop set trustworthy: raw LSH
    band collisions include false positives (a pair at true jaccard ~0.3
    still collides in >=1 of 16 bands with probability ~12% at the
    64-perm default), and component collapse chains such errors
    transitively — one collision can delete a non-duplicate document.
    Verification bounds precision exactly: every dropped document is
    connected to its cluster by edges of true jaccard >= the threshold.

    ``gram_dir``: optional shared gram-record dir (``build_gram_records``
    protocol). Records built over the FULL corpus are reusable here even
    though verification runs over the post-dedup survivors: a doc's gram
    record depends only on its own text, the verify kernel probes blocks by
    candidate id (absent ids are never touched), and every survivor id
    carries the same text it had in the full corpus — so the computed
    jaccards, and therefore the kept set, are identical.

    ``candidate_route`` picks the recall envelope (measured head-to-head
    in docs/RECALL.md; precision is exact for all of them because every
    candidate is jaccard-verified before becoming an edge):

    - ``"minhash"`` (default): the conventional corpus-dedup operating
      point — near-total recall for near-identical pages (j ≳ 0.8),
      smooth decay below; cheapest shuffle.
    - ``"winnow"``: substring-guaranteed recall (0.97 measured at
      threshold 0.5) — catches template pages with body edits that
      minhash lets through; more verify work.
    - ``"both"``: union of both candidate sets, deduplicated before the
      single shared verify pass — the highest-recall configuration.

    Returns a single-column (id) DataFrame of kept documents.
    """
    from .dedup import (dedup_drop_set, exact_dedup, exact_jaccard_verify,
                        minhash_lsh_pairs, winnow_candidate_pairs)
    from .textstats import quality_score

    good_ids = (quality_score(df, text_col, id_col)
                .where(F.col("quality_score") >= min_quality)
                .select(id_col))
    good = df.select(id_col, text_col).join(good_ids, id_col)
    survivors = exact_dedup(good, text_col, id_col)
    if candidate_route == "minhash":
        cands = minhash_lsh_pairs(survivors, text_col, id_col, hash_bands=True)
    elif candidate_route == "winnow":
        cands = winnow_candidate_pairs(survivors, text_col, id_col)
    elif candidate_route == "both":
        cands = (minhash_lsh_pairs(survivors, text_col, id_col,
                                   hash_bands=True)
                 .select("id_a", "id_b")
                 .unionByName(winnow_candidate_pairs(
                     survivors, text_col, id_col).select("id_a", "id_b"))
                 .distinct())
    else:
        raise ValueError(f"unknown candidate_route: {candidate_route!r} "
                         f"(expected 'minhash', 'winnow' or 'both')")
    verified = exact_jaccard_verify(survivors, cands.select("id_a", "id_b"),
                                    text_col, id_col, k=k,
                                    threshold=jaccard_threshold,
                                    gram_dir=gram_dir)
    drop = dedup_drop_set(verified).withColumnRenamed("id", id_col)
    return (survivors.join(drop.select(id_col), id_col, "left_anti")
                     .select(id_col))
