"""Distributed encode: DataFrame -> per-partition block files + manifest.

Lifecycle (SURVEY §3.1 "engine equivalent"): stats/global-dict pass ->
partition plan -> mapInArrow(encode blocks) writing per-partition parquet
with atomic commit markers -> manifest + meta committed by the driver.

Scale notes:
- the only shuffle is the explicit partition plan (hash on url-host+salt);
  encode itself is map-only and writes from executors — no driver data path.
- global dictionaries and FSST tables are trained once, driver-side, from
  the planner's one sample and shipped via closure broadcast, the
  cluster-scale analog of the reference's layer-global key/value dicts
  (MvtLayerProps.java:33-60, vector_tile.proto:69-72).
- resume: a partition whose .done marker validates is not re-encoded or
  re-written (its manifest rows are replayed from the marker), so a killed
  job re-run skips committed partitions (FIXTURES.md F5).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from ..columns import _is_byteslike, encode_column
from ..plans import manifest as M

def _minmax_i64(arr: pa.Array):
    """Zone-map min/max for int-like columns (decode-side pruning, the
    manifest analog of the reference's AABB pre-filter, JtsAdapter.java:232).

    NULL for floats and uint64: their int64 views (``_to_int64``) do not
    preserve order, so a recorded min/max would be wrong."""
    from ..columns import _is_intlike, _to_int64

    t = arr.type
    if (not _is_intlike(t) or pa.types.is_floating(t) or pa.types.is_uint64(t)
            or arr.null_count == len(arr)):
        return None, None
    v = _to_int64(arr.drop_null())
    return int(v.min()), int(v.max())


def encode_batch(batch: pa.RecordBatch, pid: int, block_id: int,
                 overrides: dict) -> tuple[dict, list[dict]]:
    """Encode one Arrow batch into a block row + flat manifest rows.

    ``overrides`` is the table's persisted plan, fresh or resumed
    (``overrides_from_plan``): its trained tables are built once on the
    driver, the way the reference builds one dict per layer, not per
    feature (MvtEncoder.java:91). A column without a plan picks its codec
    per block.
    """
    mrows = []
    block = {"part_id": pid, "block_id": block_id, "n_rows": batch.num_rows}
    for name in batch.schema.names:
        arr = batch.column(name)
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        blob, meta = encode_column(arr, *overrides.get(name, ("auto", None)))
        mn, mx = _minmax_i64(arr)
        crc = meta["content_crc"]
        block[f"c_{name}"] = blob
        block[f"crc_{name}"] = crc
        block[f"mn_{name}"] = mn
        block[f"mx_{name}"] = mx
        mrows.append({"part_id": pid, "block_id": block_id,
                      "n_rows": batch.num_rows, "name": name,
                      "dtype": str(arr.type), "codec": meta["codec"],
                      "null_count": meta["null_count"],
                      "raw_bytes": meta["raw_bytes"],
                      "enc_bytes": meta["enc_bytes"], "content_crc": crc,
                      "min_i64": mn, "max_i64": mx,
                      "symtab_id": meta.get("symtab_id", -1)})
    return block, mrows


def _manifest_batch(rows: list[dict]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pylist(rows, schema=M.MANIFEST_ARROW)


def make_encode_fn(out_dir: str, overrides: dict, resume: bool,
                   schema: pa.Schema):
    """Build the mapInArrow function (runs on executors)."""

    def fn(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if resume:
            committed = M.read_done(out_dir, pid)
            if committed is not None:
                # skip encode + write; replay manifest from the marker
                for b in batches:
                    pass  # drain iterator (input scan already paid)
                yield _manifest_batch(committed)
                return
        blocks, mrows = [], []
        for block_id, batch in enumerate(batches):
            if batch.num_rows == 0:
                continue
            if batch.schema != schema:
                batch = pa.Table.from_batches([batch]).cast(schema).combine_chunks().to_batches()[0]
            block, rows = encode_batch(batch, pid, block_id, overrides)
            blocks.append(block)
            mrows.extend(rows)
        os.makedirs(M.blocks_dir(out_dir), exist_ok=True)
        table = pa.Table.from_pylist(blocks, schema=M.block_schema(schema))
        tmp = M.part_file(out_dir, pid) + ".tmp"
        # small row groups -> zone-map predicates prune at row-group grain;
        # no parquet-level recompression (blobs are already compressed)
        pq.write_table(table, tmp, compression="none", row_group_size=64)
        os.replace(tmp, M.part_file(out_dir, pid))
        M.write_done(out_dir, pid, mrows)
        yield _manifest_batch(mrows)

    return fn


def encode_table(df, out_dir: str, *, sample: "pa.Table | None" = None,
                 codec_overrides: dict | None = None, resume: bool = True,
                 config_note: dict | None = None, n_parts: int | None = None):
    """Encode a (pre-partitioned) DataFrame. Returns the manifest as a
    lazy DataFrame over the landed manifest parquet.

    Callers should partition first (plans.partitioning.plan_webtext /
    plan_generic); this function does no shuffle of its own.

    Codec planning: every bytes-like column that has neither a
    ``codec_overrides`` entry nor a persisted plan (a resumed table's
    meta.json) is planned from ONE sample — ``sample`` when given, else one
    ``collect_sample`` job. ``plan_from_sample`` trains every shared
    artifact driver-side (FSST tables, global dictionaries) and fixes
    per-column codecs up front — executors only compress (SURVEY §3.1: the
    cluster analog of build-once-per-layer dictionaries, MvtEncoder.java:91).
    The plan + symbol tables are persisted to meta.json BEFORE the encode
    job. Executors get the persisted plan, fresh or resumed: both paths
    build their overrides with ``overrides_from_plan``, so a resumed run
    ships exactly what the first run shipped and mixed-run partitions stay
    mutually decodable. A column without a plan picks its codec per block.
    When every bytes-like column is overridden, no sampling job runs;
    int-like columns always pick their codec per block (exact-size
    selection, cheap).

    ``sample``: pre-collected pa.Table to plan from (lets a pipeline share
    one sample between codec planning and skew detection, and lets callers
    sample the UNSHUFFLED input — sampling `df` itself would pay its
    shuffle twice, since recompiled DataFrame actions do not reuse
    exchanges across jobs).

    ``codec_overrides``: {column: (codec_name, params)} forced per block.
    Global codecs (``dict_global``, ``fsst_global``, ``tok_dict``) are
    refused with ``ValueError``: their symbol tables come from the planner,
    which persists them for decode.

    ``n_parts``: the planned partition count, recorded in meta.json. Pass
    it when known (the partition planners know it) — the fallback is the
    metadata-only ``estimate_width`` (input file count / default
    parallelism); the recorded value is audit metadata, so an estimate is
    acceptable where a plan->RDD conversion probe is not.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..plans.codec_plan import (collect_sample, estimate_width,
                                    overrides_from_plan, plan_from_sample)

    overrides = dict(codec_overrides or {})
    for col, (cname, _) in overrides.items():
        if cname in ("dict_global", "fsst_global", "tok_dict"):
            raise ValueError(
                f"codec override {cname!r} for column {col!r}: global codecs "
                f"are planned from a sample, not overridden")
    os.makedirs(out_dir, exist_ok=True)
    symtabs: dict[int, list[bytes]] = {}
    plan_note: dict = {}
    schema = to_arrow_schema(df.schema)

    prior = None
    if resume:
        try:
            prior = M.read_meta(out_dir)
        except (FileNotFoundError, ValueError, KeyError):
            prior = None
    planned: dict = {}
    if prior is not None and prior[2].get("plan"):
        _, symtabs, cfg = prior
        plan_note = cfg["plan"]
        planned = overrides_from_plan(plan_note, symtabs)
    elif any(_is_byteslike(f.type) and f.name not in overrides
             for f in schema):
        if sample is None:
            sample = collect_sample(df)
        planned, symtabs, plan_note = plan_from_sample(sample,
                                                       skip=set(overrides))
    for col, ov in planned.items():
        overrides.setdefault(col, ov)

    M.write_meta(out_dir, schema, symtabs,
                 {"note": config_note or {}, "plan": plan_note,
                  "n_parts": n_parts if n_parts is not None
                             else estimate_width(df)})
    mdf = df.mapInArrow(make_encode_fn(out_dir, overrides, resume, schema),
                        M.manifest_spark_schema())
    # one action runs the whole job; the manifest lands from the EXECUTORS
    # (a parquet directory) — at the 400k partitions of docs/SCALE.md the
    # manifest is millions of rows, which must never route through a
    # driver collect, so the return value is a LAZY scan of the landed
    # parquet (aggregate it distributed; see decode.read_manifest /
    # meta_column_stats), never an in-memory table
    mpath = os.path.join(out_dir, "manifest.parquet")
    mdf.write.mode("overwrite").parquet(mpath)
    return df.sparkSession.read.schema(M.manifest_spark_schema()).parquet(mpath)


def encode_webtext(df, out_dir: str, n_parts: int,
                   skip_if_empty: bool = False):
    """Full webtext pipeline: ONE sampling job on the unshuffled input
    drives both skew salting and codec planning, then one shuffle+encode
    job. This is the production entry point for the north-rule table. It
    always resumes: committed partitions of ``out_dir`` are kept.

    ``skip_if_empty``: return None without creating ``out_dir`` when the
    input has no rows. The check piggybacks on the sampling job this
    function already runs — only a 0-row sample (rare: empty input, or a
    pathological partitioning that leaves every sampled partition empty)
    pays one extra ``isEmpty`` probe. This is how the streaming sink skips
    empty micro-batches without a dedicated per-batch probe job.
    """
    from ..plans.codec_plan import collect_sample, hot_keys_from_sample
    from ..plans.partitioning import plan_webtext

    sample = collect_sample(df)
    if skip_if_empty and sample.num_rows == 0 and df.isEmpty():
        return None
    hot = hot_keys_from_sample(sample, n_parts)
    planned = plan_webtext(df, n_parts, hot_hosts=hot)
    return encode_table(planned, out_dir, sample=sample, n_parts=n_parts,
                        config_note={"hot_hosts": hot})
