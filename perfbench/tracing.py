"""Spans and counters recorded from outside the engine.

Driver side: public engine functions are replaced by wrappers that open a
span around each call (the engine imports them at call time, so the
wrappers are seen). Spark actions (``collect``, ``count``, parquet writes)
get spans too, so the Spark jobs of an op show up as children of the engine
call that started them.

Executor side: every ``mapInArrow`` function is wrapped. Inside the Python
worker the wrapper patches ``encode_column``, ``decode_column``,
``content_crc``, ``pq.write_table`` and ``write_done``, times how long the
task waits on its input iterator and on its yields, and writes one JSON
record per task into the trace directory. This module is shipped to the
workers by value (``register_pickle_by_value``), so the workers need no
copy of the benchmark on their path.

Spark counters per op come from a job group per op and the status store's
``lastStageAttempt`` (available with the UI disabled).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

TASK_FIELDS = ("task_s", "input_wait_s", "output_wait_s", "input_mb",
               "kernel_s", "crc_s", "write_s", "commit_s", "blocks")


# ---------------------------------------------------------------------------
# executor side (runs inside the Python workers)

def _blob_codec(blob, t) -> str:
    """Codec name of a column blob, read from its envelope header."""
    from mapbox_vector_tile_java_spark import columns as C
    from mapbox_vector_tile_java_spark.codecs.base import ByteReader, by_id

    r = ByteReader(blob)
    r.take(1)
    n, nulls = r.uvarint(), r.uvarint()
    if n == 0 or nulls == n:
        return "all_null"
    if 0 < nulls < n:
        r.take((n + 7) // 8)
    if C._is_intlike(t) or C._is_byteslike(t):
        return by_id(int(r.take(1)[0])).name
    return str(t)


def traced_task(fn, task_dir: str, op_id: str, kind: str):
    """Wrap a mapInArrow function so its task records layer timings."""

    def run(batches):
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        from mapbox_vector_tile_java_spark import columns as C
        from mapbox_vector_tile_java_spark.operators import decode as D
        from mapbox_vector_tile_java_spark.operators import encode as E
        from mapbox_vector_tile_java_spark.plans import manifest as M

        clock = time.perf_counter
        rec = dict.fromkeys(TASK_FIELDS, 0.0)
        codecs: dict[str, list[float]] = {}
        depth = [0]

        def codec_row(name):
            return codecs.setdefault(name, [0.0, 0.0, 0.0, 0.0])

        orig_enc, orig_dec = E.encode_column, D.decode_column
        orig_crc, orig_write = C.content_crc, pq.write_table
        orig_done = M.write_done

        def enc(arr, *a, **kw):
            depth[0] += 1
            t0 = clock()
            try:
                blob, meta = orig_enc(arr, *a, **kw)
            finally:
                depth[0] -= 1
            dt = clock() - t0
            if depth[0] == 0:
                rec["kernel_s"] += dt
                row = codec_row(meta["codec"])
                row[0] += dt
                row[2] += meta["raw_bytes"] / 1e6
                row[3] += meta["enc_bytes"] / 1e6
            return blob, meta

        def dec(blob, t, ctx=None):
            t0 = clock()
            out = orig_dec(blob, t, ctx)
            dt = clock() - t0
            rec["kernel_s"] += dt
            codec_row(_blob_codec(blob, t))[1] += dt
            return out

        def crc(arr):
            t0 = clock()
            try:
                return orig_crc(arr)
            finally:
                rec["crc_s"] += clock() - t0

        def write(table, *a, **kw):
            t0 = clock()
            try:
                return orig_write(table, *a, **kw)
            finally:
                rec["write_s"] += clock() - t0
                rec["blocks"] += table.num_rows

        def done(*a, **kw):
            t0 = clock()
            try:
                return orig_done(*a, **kw)
            finally:
                rec["commit_s"] += clock() - t0

        def timed_input(it):
            while True:
                t0 = clock()
                try:
                    b = next(it)
                except StopIteration:
                    rec["input_wait_s"] += clock() - t0
                    return
                rec["input_wait_s"] += clock() - t0
                rec["input_mb"] += b.nbytes / 1e6
                yield b

        # a closure shipped by value resolves its globals in its own dict,
        # not the module's: patch the name there too
        g = getattr(fn, "__globals__", {})
        orig_g = {k: g[k] for k in ("decode_column", "encode_column") if k in g}
        g.update({k: dec if k == "decode_column" else enc for k in orig_g})
        E.encode_column, D.decode_column = enc, dec
        C.content_crc, pq.write_table, M.write_done = crc, write, done
        start = clock()
        tc = TaskContext.get()
        try:
            for out in fn(timed_input(iter(batches))):
                if kind == "decode":
                    rec["blocks"] += 1
                t0 = clock()
                yield out
                rec["output_wait_s"] += clock() - t0
        finally:
            g.update(orig_g)
            E.encode_column, D.decode_column = orig_enc, orig_dec
            C.content_crc, pq.write_table, M.write_done = orig_crc, orig_write, orig_done
            end = clock()
            rec["task_s"] = end - start
            rec.update(op=op_id, kind=kind, start=start, end=end,
                       stage=tc.stageId(), partition=tc.partitionId(),
                       attempt=tc.attemptNumber(), codecs=codecs)
            name = (f"{op_id}-{kind}-{rec['stage']}-{rec['partition']}-"
                    f"{rec['attempt']}-{os.getpid()}.json")
            tmp = os.path.join(task_dir, "." + name)
            with open(tmp, "w") as fh:
                json.dump(rec, fh)
            os.replace(tmp, os.path.join(task_dir, name))

    return run


def task_kind(fn) -> str:
    q = getattr(fn, "__qualname__", "")
    for key, kind in (("make_encode_fn", "encode"), ("make_decode_fn", "decode"),
                      ("exact_jaccard_verify", "verify"),
                      ("minhash_signatures", "signature"),
                      ("_gram_record_df", "grams"), ("collect_sample", "sample"),
                      ("webtext_df", "webtext_gen")):
        if key in q:
            return kind
    return "other"


# ---------------------------------------------------------------------------
# driver side

class Tracer:
    """In-memory span recorder plus the patches that feed it.

    ``install``/``uninstall`` swap the wrappers in and out, so a traced run
    can alternate traced and untraced ops and report the difference as
    tracing overhead."""

    def __init__(self, spark, task_dir: str):
        self.spark = spark
        self.task_dir = task_dir
        os.makedirs(task_dir, exist_ok=True)
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: str | None = None
        self.counters: dict[str, float] = {}
        self.plans: list[tuple] = []       # (sample, note) per plan call
        self.candidates = []               # candidate DataFrames per op
        self._patches: list[tuple] = []
        self._seq = 0

    # spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        self._seq += 1
        sid = self._seq
        parent = self.stack[-1] if self.stack else None
        self.stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self.stack.pop()
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, "op": self.op_id,
                               "side": "driver", **attrs})

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    # patches ----------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, before=None, after=None):
        orig = getattr(owner, attr)
        own = attr in vars(owner)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if before is not None:
                a, kw = before(a, kw)
            with tracer.span(name):
                out = orig(*a, **kw)
            if after is not None:
                after(a, kw, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig, own))

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter

        from mapbox_vector_tile_java_spark.operators import decode as D
        from mapbox_vector_tile_java_spark.operators import dedup as DD
        from mapbox_vector_tile_java_spark.operators import encode as E
        from mapbox_vector_tile_java_spark.plans import codec_plan as CP
        from mapbox_vector_tile_java_spark.plans import manifest as M
        from mapbox_vector_tile_java_spark.plans import partitioning as P
        from mapbox_vector_tile_java_spark.streaming import incremental as INC

        df_cls = type(self.spark.range(1))
        w = self._wrap
        w(CP, "collect_sample", "codec_plan.collect_sample",
          after=lambda a, kw, out: self.add("codec_plan.sample_rows", out.num_rows))
        w(CP, "plan_from_sample", "codec_plan.plan_from_sample",
          after=lambda a, kw, out: self.plans.append((a[0], out[2])))
        w(CP, "hot_keys_from_sample", "codec_plan.hot_keys_from_sample")
        w(P, "plan_webtext", "partitioning.plan_webtext")
        w(P, "plan_generic", "partitioning.plan_generic")
        w(E, "encode_webtext", "encode.encode_webtext")
        w(E, "encode_table", "encode.encode_table")
        w(E, "make_encode_fn", "encode.make_encode_fn")
        w(M, "write_meta", "manifest.write_meta")
        w(M, "read_meta", "manifest.read_meta")
        w(D, "decode_table", "decode.decode_table")
        w(D, "make_decode_fn", "decode.make_decode_fn")
        w(D, "meta_column_stats", "decode.meta_column_stats")
        w(D, "read_manifest", "manifest.read_manifest")
        w(INC, "content_fingerprint", "streaming.content_fingerprint")
        w(DD, "dedup_incremental", "dedup.dedup_incremental")
        w(DD, "_materialize_fp", "dedup.signature")
        w(DD, "build_gram_records", "dedup.build_gram_records")
        w(DD, "exact_jaccard_verify", "dedup.exact_jaccard_verify",
          after=lambda a, kw, out: self.candidates.append(a[1]))
        w(df_cls, "mapInArrow", "spark.mapInArrow", before=self._wrap_task)
        for action in ("collect", "count", "toArrow", "first"):
            w(df_cls, action, f"spark.{action}")
        w(DataFrameWriter, "parquet", "spark.write_parquet")

    def uninstall(self) -> None:
        for owner, attr, orig, own in reversed(self._patches):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()

    def _wrap_task(self, a, kw):
        fn = a[1] if len(a) > 1 else kw.pop("func")
        wrapped = traced_task(fn, self.task_dir, self.op_id, task_kind(fn))
        return (a[0], wrapped, *a[2:]), kw

    # per-op collection -----------------------------------------------------
    def begin_op(self, op_id: str) -> None:
        self.op_id = op_id
        self.counters = {}
        self.plans = []
        self.candidates = []
        self.spark.sparkContext.setJobGroup(op_id, op_id)

    def end_op(self) -> None:
        self.spark.sparkContext.setJobGroup("untraced", "untraced")
        self.op_id = None

    def tasks(self, op_id: str) -> list[dict]:
        out = []
        for path in sorted(glob.glob(os.path.join(self.task_dir, f"{op_id}-*.json"))):
            with open(path) as fh:
                out.append(json.load(fh))
        return out

    def spark_counters(self, op_id: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tot = dict.fromkeys(("jobs", "stages", "tasks", "executor_run_s",
                             "gc_s", "shuffle_write_mb", "shuffle_write_s"), 0.0)
        for jid in sc.statusTracker().getJobIdsForGroup(op_id):
            info = sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            tot["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped stage: its output was reused
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["executor_run_s"] += st.executorRunTime() / 1e3
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                tot["shuffle_write_s"] += st.shuffleWriteTime() / 1e9
        return tot


def covered(spans: list[dict], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the spans' intervals."""
    iv = sorted((max(s["start"], lo), min(s["end"], hi)) for s in spans)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: duration minus the part children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        own = dur - covered(kids.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
