"""Partition planning: url-hash partitioning, host grouping, skew salting.

Reference analog: features are grouped into named layers before encoding
(MvtEncoder.java:87-97) — the layer is the unit that owns dictionaries. Our
partition is that unit: rows are co-located by host (so FSST tables and
dictionaries see homogeneous data), hot hosts are split by a salt derived
from xxhash64(url), and rows are sorted within partitions to create the
sorted warc_ts runs the RLE/delta codecs exploit.

Everything here is deterministic across reruns (hash partitioning; the
salt map comes from ``codec_plan.collect_sample``'s strided head sample,
which needs no seed) — required for checksum-stable resume (SURVEY §4
"determinism rule"; the reference leans on LinkedHashMap insertion order,
MvtLayerProps.java:17-18, which Spark does not give us for free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def host_expr(url_col: str = "url"):
    return F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/]+)", 1)


def plan_webtext(df: DataFrame, n_parts: int,
                 hot_hosts: dict[str, int]) -> DataFrame:
    """Host-grouped, salt-split, sorted-within-partition layout for the
    webtext table. ``hot_hosts`` ({host: n_buckets}) comes from
    ``codec_plan.hot_keys_from_sample`` on the same sample that drives the
    codec plan; ``{}`` salts nothing."""
    host = host_expr()
    salt = F.lit(0)
    if hot_hosts:
        buckets = F.create_map(*[x for h, n in sorted(hot_hosts.items())
                                 for x in (F.lit(h), F.lit(n))])
        nb = F.coalesce(buckets[host], F.lit(1))
        salt = F.pmod(F.xxhash64(F.col("url")), nb)
    out = (df.withColumn("__pkey", F.xxhash64(host, salt))
             .repartition(n_parts, F.col("__pkey"))
             .sortWithinPartitions("__pkey", "warc_ts")
             .drop("__pkey"))
    return out


def plan_generic(df: DataFrame, n_parts: int, key_col: str) -> DataFrame:
    """Hash-partition on xxhash64(key), sort within partitions by the key —
    stable across reruns (unlike repartitionByRange, whose sampled
    boundaries depend on the RDD id)."""
    return (df.repartition(n_parts, F.xxhash64(F.col(key_col)))
              .sortWithinPartitions(key_col))
