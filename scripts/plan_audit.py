"""Regenerate docs/PLANS.md: `.explain` evidence that the driver-contract
queries compile to scale-appropriate physical plans (broadcasts, pushdown,
partial aggregation, no accidental shuffles).

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITS = [
    ("join_orders_customers",
     "small dim side is broadcast: BroadcastHashJoin, no shuffle of the "
     "fact side on the join key",
     ["BroadcastHashJoin", "Exchange", "FileScan"]),
    ("filter_project_events",
     "predicate + projection pushed to the parquet scan (PushedFilters, "
     "pruned ReadSchema)",
     ["PushedFilters", "ReadSchema", "Filter"]),
    ("q1_pricing_summary",
     "partial aggregation before the exchange (map-side combine): "
     "HashAggregate -> Exchange -> HashAggregate",
     ["HashAggregate", "Exchange"]),
    ("topk_longest_docs",
     "top-k via TakeOrderedAndProject: no global sort shuffle",
     ["TakeOrdered"]),
    ("dedup_exact",
     "single hash exchange on the content column with partial min on the "
     "map side",
     ["HashAggregate", "Exchange"]),
    ("ann_bruteforce_topk",
     "query side broadcast (BroadcastNestedLoopJoin), window top-k per "
     "query id",
     ["Broadcast", "Window", "Exchange"]),
    ("dedup_ngram_lsh_verified",
     "block-pair exact verify: candidate pairs aggregate per (block_a, "
     "block_b) key; the gram blocks were packed and ranked once into a "
     "sorted vocabulary plus int32 codes (vocab/codes) by "
     "build_gram_records, and verify joins them straight from their "
     "parquet scan (mvt_gramshare: no grouped pack, no exchange between the "
     "scan and its join); one MapInArrow kernel per block pair remaps one "
     "vocabulary into the other's code space and intersects codes — gram "
     "bytes never shuffle per candidate pair",
     ["MapInArrow", "Exchange", "HashAggregate", "FileScan parquet [b#"]),
    ("meta_only_stats",
     "aggregate pushdown to metadata: the ONLY scan is manifest.parquet "
     "(no c_* blob columns in any ReadSchema), partial agg before the "
     "exchange",
     ["FileScan", "ReadSchema", "HashAggregate", "Exchange"]),
    ("segments_pruned_decode",
     "segment decode: ONE parquet scan over both segments' block files "
     "carries the zone-map predicate as a pushed filter "
     "(PushedFilters: Or(IsNull(mn_warc_ts), ...)), so row groups outside "
     "the range are skipped at the scan; one MapInArrow decodes every "
     "segment",
     ["MapInArrow", "FileScan"]),
    ("dedup_incremental",
     "incremental dedup: the corpus side is a parquet scan of the "
     "persisted signature index (mvt_mh_idx: id+sig only, no text column, "
     "no kernel); the new batch's signatures were minhashed once into "
     "mvt_minhash_inc. The batch's band keys reach both band joins "
     "through a BroadcastExchange: batch×batch, and index×batch with the "
     "index streamed. No join takes the index on both sides, so the index "
     "keys are never shuffled and no old×old pair is formed; the only "
     "exchange before verify aggregates the candidate pairs. Verify reads "
     "the persisted packed gram blocks (mvt_gramshare) as a parquet scan: "
     "no grouped pack and no shuffle of the corpus grams per op",
     ["BroadcastHashJoin [band", "HashedRelationBroadcastMode(List(input[1",
      ",sig#", "Exchange hashpartitioning(id_a", "FileScan parquet [b#"]),
]

HEADER = """# Physical-plan audit (sf0.01, local[8])

`.explain` evidence that the operators compile to the plans a 100 TB
deployment needs: broadcasts where a side is small, pushdown reaching the
scans, partial aggregation before every exchange, no accidental shuffles.
Regenerate with `python scripts/plan_audit.py` (this file's generator).

"""


def _clip(line: str) -> str:
    """A plan line cut to 150 chars; scans keep their directory's name and
    any filters pushed into them."""
    loc = re.search(r"Location: \w+\(\d+ paths\)\[([^\],]+)", line)
    pushed = re.search(r"PushedFilters: (\[[^\]].*?), ReadSchema", line)
    out = line.strip()[:150]
    if loc:
        out += f" [{os.path.basename(loc.group(1))}]"
    if pushed:
        out += f" PushedFilters: {pushed.group(1)}"
    return out


def main():
    import __spark_entry__ as E
    from mapbox_vector_tile_java_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plans", cores=8)
    qs = E.queries()
    sections = []
    for name, note, grep in AUDITS:
        p = qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        lines = [l for l in p.split("\n") if any(g in l for g in grep)]
        body = "\n".join(_clip(l) for l in lines[:12])
        sections.append(f"## {name}\n\n{note}\n\n```\n{body}\n```\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "docs", "PLANS.md"), "w") as f:
        f.write(HEADER + "\n".join(sections))
    print(f"wrote docs/PLANS.md ({len(sections)} sections)")
    spark.stop()


if __name__ == "__main__":
    main()
