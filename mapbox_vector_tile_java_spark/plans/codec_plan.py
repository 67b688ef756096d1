"""Global codec planning: one sampling job -> per-column codec plan.

At 10^12-document scale, per-partition codec training is the wrong shape
twice over: it repeats identical work on every partition (FSST training
dominates encode wall-clock), and an exact global `distinct()` for the
dictionary is a full table scan. This planner mirrors the reference's
build-once-per-layer dictionaries (MvtEncoder.java:91, MvtLayerProps.java:
33-60) at cluster scope: collect ONE head-sample of the table, train every
shared artifact driver-side (FSST symbol tables, global dictionaries, skew
salt map), broadcast them via task closures, and persist the plan + symbol
tables in the encoded table's meta so resume and decode are exact.

Losslessness never depends on the sample being representative: dict_global
escapes out-of-sample values inline, FSST escapes unmatched bytes
(fsst.py), tok_dict is self-contained per block. A bad sample costs bytes,
never correctness.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..codecs import fsst as fsstmod
from ..codecs.bytescodecs import _bytes_parts
from ..codecs.selector import DICT_MAX_RATIO, FSST_MIN_DATA, row_sample
from ..columns import _is_byteslike

SAMPLE_ROWS_PER_PART = 512      # a few hundred KB per partition suffices:
SAMPLE_PARTITIONS = 16          # per-column trials cap at TRIAL_BYTES anyway
TRIAL_BYTES = 256 * 1024        # per-column trial-encode budget
GLOBAL_DICT_MAX = 4096          # max symbols for a broadcast dictionary
FSST_TRAIN_BYTES = 1 << 19      # global tables train on a bigger sample


def estimate_width(df) -> int:
    """Metadata-only partition-count estimate: ``df.inputFiles()`` (parquet
    splits at least one partition per file) or the session default
    parallelism. Never ``df.rdd.getNumPartitions()``, which forces a
    DataFrame->RDD plan conversion — an avoidable analysis pass on a
    100 TB plan. Callers that know the real count pass it explicitly."""
    try:
        n = len(df.inputFiles())
    except Exception:
        n = 0
    return n if n > 0 else df.sparkSession.sparkContext.defaultParallelism


def collect_sample(df) -> pa.Table:
    """One Spark job: the first ``SAMPLE_ROWS_PER_PART`` rows of
    ``SAMPLE_PARTITIONS`` evenly-strided partitions.

    Fully deterministic for a given input+partitioning (unlike a global
    ``limit``, whose surviving rows depend on task completion order) — so
    the codec plan, and therefore every encoded byte and checksum,
    reproduces across independent runs. Non-selected partitions' tasks
    return immediately; selected tasks read only their first Arrow batch.

    The stride comes from ``estimate_width``, a metadata-only partition
    count (input file count or the session default parallelism), never
    ``df.rdd.getNumPartitions()``, which forces a DataFrame->RDD plan
    conversion. The estimate only spaces the sampled partitions;
    under-estimating samples earlier partitions, and losslessness never
    depends on the sample (module docstring), so an off estimate costs
    sample spread, not correctness or determinism.
    """
    stride = max(1, estimate_width(df) // SAMPLE_PARTITIONS)

    def head(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if pid % stride != 0 or pid // stride >= SAMPLE_PARTITIONS:
            return
        took = 0
        for b in batches:
            if took >= SAMPLE_ROWS_PER_PART:
                break
            s = b.slice(0, min(b.num_rows, SAMPLE_ROWS_PER_PART - took))
            took += s.num_rows
            yield s

    return df.mapInArrow(head, df.schema).toArrow()


def plan_from_sample(sample: pa.Table, skip: set[str] = frozenset()):
    """Plan per-column codecs from a sample table.

    Returns (overrides, symtabs, plan_note):
      overrides: {col: (codec_name, params)} for bytes-like columns with a
                 confident global choice, built by ``overrides_from_plan``
                 from the two values below — exactly what a resumed encode
                 rebuilds from meta.json; int-like columns stay per-block
                 'auto' (their selection is exact-size and cheap).
      symtabs:   {sid: [symbol bytes, ...]} to persist in table meta.
      plan_note: json-able description for meta.json / lineage audit.
    """
    from ..codecs.bytescodecs import _tokd_encode

    symtabs: dict[int, list[bytes]] = {}
    note: dict = {}
    sid = 0

    cols = [f.name for f in sample.schema
            if f.name not in skip and _is_byteslike(f.type)]

    def plan_col(col):
        nn = sample.column(col).combine_chunks().drop_null()
        lens, data = _bytes_parts(nn)
        n = len(lens)
        if n == 0 or len(data) < FSST_MIN_DATA:
            return None
        raw_size = int(len(data)) + n
        best = ("raw_bytes", raw_size, None)  # name, est, symbols

        # global dictionary candidate (sampled; escapes cover the tail)
        uniq = nn.unique()
        if len(uniq) <= GLOBAL_DICT_MAX and len(uniq) / n <= DICT_MAX_RATIO:
            symbols = sorted(
                v.as_py() if isinstance(v.as_py(), bytes) else v.as_py().encode()
                for v in uniq)
            w = max(1, len(symbols).bit_length())
            est = (n * w + 7) // 8 + 16
            if est < best[1]:
                best = ("dict_global", est, symbols)

        # FSST's estimate is at least n, so when the dictionary already fits
        # in n bytes and no tok_dict trial is due, training cannot change the
        # choice: skip it
        trial = (data if len(data) <= TRIAL_BYTES
                 else fsstmod.spread_sample(data, TRIAL_BYTES))
        n_sep = int((np.asarray(trial) == 0x20).sum())
        tok_trial = n_sep >= 0.02 * len(trial)
        if best[1] <= n and not tok_trial:
            return (*best, n)

        # FSST candidate: train once on a spread sample
        train_data = (data if len(data) <= FSST_TRAIN_BYTES
                      else fsstmod.spread_sample(data, FSST_TRAIN_BYTES))
        table = fsstmod.train(train_data)
        comp = table.compress(trial)
        # all candidate estimates below are at sample scale (len(data) is the
        # sample's bytes), so they compare like-for-like with raw_size
        fsst_est = int(len(comp) * (len(data) / max(len(trial), 1))) + n
        if fsst_est < best[1]:
            best = ("fsst_global", fsst_est, list(table.symbols))

        # tok_dict candidate (self-contained blocks; shared table for its
        # inline token-table compression)
        if tok_trial:
            s_lens, s_data = row_sample(lens, data, TRIAL_BYTES)
            blob = _tokd_encode((s_lens, s_data), {"fsst_table": table})
            tok_est = int(len(blob) * (len(data) / max(len(s_data), 1)))
            if tok_est < best[1]:
                best = ("tok_dict", tok_est, list(table.symbols))
        return (*best, n)

    # one column at a time, in schema order (deterministic sids): FSST
    # training holds the GIL, so planning columns on threads only adds CPU
    for col in cols:
        r = plan_col(col)
        if r is None:
            continue
        name, est, symbols, n = r
        if name == "raw_bytes":
            note[col] = {"codec": name, "symtab_id": -1}
            continue
        symtabs[sid] = symbols
        note[col] = {"codec": name, "symtab_id": sid,
                     "est_bytes": int(est), "sample_rows": n}
        sid += 1

    return overrides_from_plan(note, symtabs), symtabs, note


def overrides_from_plan(plan_note: dict, symtabs: dict[int, list[bytes]]):
    """Reconstruct encode overrides from a persisted plan (exact resume:
    partitions encoded by a later run use the same tables/choices as the
    committed ones)."""
    overrides: dict = {}
    for col, info in plan_note.items():
        name = info["codec"]
        sid = info.get("symtab_id", -1)
        if name == "dict_global":
            overrides[col] = (name, {"symbols": symtabs[sid], "symtab_id": sid})
        elif name in ("fsst_global", "tok_dict"):
            overrides[col] = (name, {
                "fsst_table": fsstmod.SymbolTable(symbols=list(symtabs[sid])),
                "symtab_id": sid})
        else:
            overrides[col] = (name, None)
    return overrides


def hot_keys_from_sample(sample: pa.Table, n_parts: int) -> dict[str, int]:
    """Skew salt map from the sample's url hosts — no extra Spark job.

    Returns {host: n_buckets} for each host whose share of the sampled rows
    exceeds the fair share ``1 / n_parts``: such a host would overload one
    partition, so ``plan_webtext`` splits it over
    ``max(2, floor(share / fair) + 1)`` salt buckets.
    """
    import pyarrow.compute as pc

    fair = 1.0 / max(n_parts, 2)
    urls = sample.column("url").combine_chunks()
    hosts = pc.extract_regex(urls.cast(pa.string()), r"^[a-z]+://(?P<host>[^/]+)")
    hosts = pc.struct_field(hosts, "host")
    vc = hosts.value_counts()
    total = max(len(urls), 1)
    out: dict[str, int] = {}
    for item in vc.to_pylist():
        host, cnt = item["values"], item["counts"]
        frac = cnt / total
        if host is not None and frac > fair:
            out[host] = max(2, int(frac / fair) + 1)
    return out
