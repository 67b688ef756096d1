#!/usr/bin/env python3
"""Benchmark runner for the columnar codec engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One closed-loop client in one process
issues one op at a time against a ``local[<cores>]`` Spark session. The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Per-op walls, per-layer detail,
spans and host context go to ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
from workloads import ENGINE, WORKLOADS, Op, du, read_manifest  # noqa: E402

# input size per workload: rows (documents for dedup_incremental)
SIZES = {"webtext_roundtrip": 8_000, "dedup_incremental": 5_000}
SETUP_REPEATS = 2   # set-up builds per run; setup_s uses their median
# measured ops per run even when --seconds is short. Ops within a run
# differ by 2-15 %, runs on a busy and a quiet host by 50 %, so a third op
# would buy little steadiness for its time
MIN_OPS = 2

END_TO_END = {"op_cpu_s": "s", "setup_s": "s", "stored_bytes_per_raw_byte": "ratio",
              "peak_pss_mb": "MB"}
# codecs webtext_roundtrip produces; any other codec is listed per op in
# the side file's ``codecs_seen``
CODECS = ("tok_dict", "fsst_global", "dict_global", "for_bitpack")
# the webtext columns the planner picks a global codec for
DRIFT_COLUMNS = ("url", "html", "text", "lang")
PER_LAYER = {
    "session.start_s": "s", "inputs.gen_s": "s",
    "codec_plan.sample_s": "s", "codec_plan.plan_s": "s",
    "codec_plan.sample_rows": "count",
    **{f"codec_plan.drift.{c}": "ratio" for c in DRIFT_COLUMNS},
    "partitioning.shuffle_write_mb": "MB", "partitioning.shuffle_write_s": "s",
    "partitioning.skew": "ratio",
    "encode.tasks": "count", "encode.blocks": "count", "encode.task_s": "s",
    "encode.slowest_task_s": "s", "encode.input_wait_s": "s",
    "encode.kernel_s": "s", "encode.block_write_s": "s", "encode.commit_s": "s",
    **{f"codecs.{c}.{k}": u for c in CODECS
       for k, u in (("encode_s", "s"), ("decode_s", "s"),
                    ("raw_mb", "MB"), ("enc_mb", "MB"))},
    "compression_ratio": "ratio",
    "decode.task_s": "s", "decode.input_wait_s": "s", "decode.kernel_s": "s",
    "decode.crc_s": "s", "decode.output_wait_s": "s",
    "decode.scan_input_mb": "MB", "decode.blocks_read": "count",
    "manifest.read_meta_s": "s", "manifest.input_mb": "MB",
    "dedup.signature_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "dedup.verify_s": "s", "dedup.verify_wait_s": "s",
    "dedup.shuffle_write_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.gc_s": "s", "process.cpu_s": "s",
    "trace.driver_coverage_min": "ratio", "trace.overhead_share": "ratio",
    "op.wall_s": "s",
}
# per-layer metrics of the whole run rather than of each traced op
RUN_LEVEL = ("session.start_s", "inputs.gen_s", "trace.overhead_share", "op.wall_s")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_op(wl, i: int, work: str, tracer=None) -> Op:
    """One op; an exception fails every section it reached, never the run."""
    op = Op(tracer)
    try:
        wl.op(i, op, work)
    except Exception as exc:  # the run must go on: record and count it
        name = next(reversed(op.walls), None) or "op"
        op.failures.setdefault(name, []).append(
            f"{type(exc).__name__}: {str(exc)[:300]}")
        op.info["traceback"] = traceback.format_exc()[-2000:]
    return op


def layer_metrics(tracer, op: Op, op_id: str) -> dict[str, float]:
    """Per-layer numbers of one traced op (all names of PER_LAYER except
    the run-level ones)."""
    from tracing import covered, self_times

    spans = [s for s in tracer.spans if s["op"] == op_id]
    tasks = tracer.tasks(op_id)
    sc = tracer.spark_counters(op_id)
    names = {s["name"] for s in spans}

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def tsum(kind, field):
        return sum(t[field] for t in tasks if t["kind"] == kind)

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["codec_plan.sample_s"] = dur("codec_plan.collect_sample")
    m["codec_plan.plan_s"] = dur("codec_plan.plan_from_sample")
    m["codec_plan.sample_rows"] = tracer.counters.get("codec_plan.sample_rows", 0.0)
    out_dir = op.info.get("out_dir")
    if tracer.plans and out_dir:
        m.update(_drift(tracer.plans[-1], read_manifest(out_dir)))
    partitioned = any(n.startswith("partitioning.") for n in names)
    if partitioned:
        m["partitioning.shuffle_write_mb"] = sc["shuffle_write_mb"]
        m["partitioning.shuffle_write_s"] = sc["shuffle_write_s"]
        m["partitioning.skew"] = op.info.get("skew", 0.0)
    enc = [t for t in tasks if t["kind"] == "encode"]
    m["encode.tasks"] = len(enc)
    m["encode.blocks"] = tsum("encode", "blocks")
    m["encode.task_s"] = tsum("encode", "task_s")
    m["encode.slowest_task_s"] = max((t["task_s"] for t in enc), default=0.0)
    m["encode.input_wait_s"] = tsum("encode", "input_wait_s")
    m["encode.kernel_s"] = tsum("encode", "kernel_s")
    m["encode.block_write_s"] = tsum("encode", "write_s")
    m["encode.commit_s"] = tsum("encode", "commit_s")
    op.info["codecs_seen"] = sorted({c for t in tasks for c in t["codecs"]})
    for t in tasks:
        for codec, (es, ds, raw, encb) in t["codecs"].items():
            if codec in CODECS:
                m[f"codecs.{codec}.encode_s"] += es
                m[f"codecs.{codec}.decode_s"] += ds
                m[f"codecs.{codec}.raw_mb"] += raw
                m[f"codecs.{codec}.enc_mb"] += encb
    m["compression_ratio"] = op.info.get("compression_ratio", 0.0)
    m["decode.task_s"] = tsum("decode", "task_s")
    m["decode.input_wait_s"] = tsum("decode", "input_wait_s")
    m["decode.kernel_s"] = tsum("decode", "kernel_s")
    m["decode.crc_s"] = tsum("decode", "crc_s")
    m["decode.output_wait_s"] = tsum("decode", "output_wait_s")
    m["decode.scan_input_mb"] = tsum("decode", "input_mb")
    m["decode.blocks_read"] = tsum("decode", "blocks")
    m["manifest.read_meta_s"] = dur("manifest.read_meta")
    if "decode.meta_column_stats" in names:
        m["manifest.input_mb"] = du(os.path.join(out_dir, "manifest.parquet")) / 1e6
    if "dedup.dedup_incremental" in names:
        m["dedup.signature_s"] = dur("dedup.signature")
        m["dedup.verify_s"] = tsum("verify", "task_s") - tsum("verify", "input_wait_s")
        m["dedup.verify_wait_s"] = tsum("verify", "input_wait_s")
        m["dedup.shuffle_write_mb"] = sc["shuffle_write_mb"]
        m["dedup.verified_pairs"] = op.info.get("verified_pairs", 0)
        if tracer.candidates:
            n = tracer.candidates[-1].count()
            m["dedup.candidate_pairs"] = n
            m["dedup.verify_yield"] = m["dedup.verified_pairs"] / max(n, 1)
    for k in ("jobs", "stages", "tasks", "executor_run_s", "gc_s"):
        m[f"spark.{k}"] = sc[k]
    m["process.cpu_s"] = op.info["cpu_s"]
    # driver-side child spans must cover each timed section
    cov = []
    for s in spans:
        if s.get("section"):
            kids = [c for c in spans if c["parent"] == s["id"]]
            cov.append(covered(kids, s["start"], s["end"]) / (s["end"] - s["start"]))
    m["trace.driver_coverage_min"] = min(cov, default=0.0)
    op.info["self_s"] = self_times(spans)
    for t in tasks:
        tracer.spans.append({"id": None, "name": f"executor.{t['kind']}_task",
                             "start": t["start"], "end": t["end"],
                             "parent": None, "op": op_id, "side": "executor",
                             **{k: t[k] for k in ("stage", "partition",
                                                  "task_s", "input_wait_s",
                                                  "kernel_s", "output_wait_s")}})
    return m


def _drift(plan, manifest) -> dict[str, float]:
    """sample-predicted ratio / realized ratio per planned column."""
    sample, note = plan
    raw, enc = {}, {}
    for name, r, e in zip(manifest.column("name").to_pylist(),
                          manifest.column("raw_bytes").to_pylist(),
                          manifest.column("enc_bytes").to_pylist()):
        raw[name] = raw.get(name, 0) + r
        enc[name] = enc.get(name, 0) + e
    out = {}
    for col, info in note.items():
        if col not in DRIFT_COLUMNS or not info.get("est_bytes"):
            continue
        arr = sample.column(col).combine_chunks()
        sample_raw = sum(b.size for b in arr.buffers() if b is not None)
        predicted = sample_raw / info["est_bytes"]
        out[f"codec_plan.drift.{col}"] = predicted / (raw[col] / enc[col])
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        shape: dict, rows: int | None = None, setup_repeats: int = SETUP_REPEATS,
        min_ops: int = MIN_OPS, tamper=None) -> tuple[dict, dict]:
    """Set up, warm up and measure one workload. Returns (result, detail).

    ``tamper``: a callable applied to the workload after set-up; the
    self-test uses it to damage a stored block or a result."""
    from mapbox_vector_tile_java_spark.session import get_spark

    cls = WORKLOADS[workload]
    rows = rows or SIZES[workload]
    detail: dict = {"workload": workload, "seed": seed, "seconds": seconds,
                    "trace": int(trace), "rows": rows, "shape": shape,
                    "versions": host.versions(), "probe_before": host.probe()}
    ops: list[Op] = []
    layers: list[dict] = []
    with host.PeakMemory() as mem:
        t0 = time.perf_counter()
        spark = get_spark(app=f"perfbench-{workload}", cores=shape["cores"],
                          shuffle_partitions=cls.n_parts)
        session_s = time.perf_counter() - t0
        try:
            tracer = None
            if trace:
                import tracing
                from pyspark import cloudpickle

                cloudpickle.register_pickle_by_value(tracing)
                tracer = tracing.Tracer(spark, os.path.join(work, "tasks"))
            builds = []
            for r in range(setup_repeats):
                d = os.path.join(work, f"setup-{r}")
                wl = cls(spark, seed, rows)
                t = time.perf_counter()
                wl.build(d)
                builds.append(time.perf_counter() - t)
            gen_s = wl.gen_s
            if tamper is not None:
                tamper(wl)
            op_dir = os.path.join(work, "ops")
            warm = run_op(wl, -1, op_dir)
            wl.finish(warm)
            setup_s = session_s + statistics.median(builds) + warm.wall

            deadline = time.perf_counter() + seconds
            mem.restart()
            ticks0 = host.cpu_ticks()
            i, last = 0, 0.0
            # start an op only if one more op of the last one's length ends
            # by the deadline, so a run overshoots --seconds rarely
            while i < min_ops or time.perf_counter() + last <= deadline:
                t_op = time.perf_counter()
                cpu0 = host.tree_cpu_s()
                traced = tracer is not None and i % 2 == 0
                op_id = f"op{i}"
                if traced:
                    tracer.install()
                    tracer.begin_op(op_id)
                try:
                    op = run_op(wl, i, op_dir, tracer if traced else None)
                finally:
                    if traced:
                        tracer.end_op()
                        tracer.uninstall()
                op.info["traced"] = traced
                op.info["cpu_s"] = host.tree_cpu_s() - cpu0
                if traced:
                    layers.append(layer_metrics(tracer, op, op_id))
                wl.finish(op)
                ops.append(op)
                last = time.perf_counter() - t_op
                i += 1
            ticks1 = host.cpu_ticks()
            detail["steal_share"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
        finally:
            peak_mb, at_peak_kb = mem.peak_mb, mem.at_peak_kb
            spark.stop()
            _stop_gateway()
    detail["probe_after"] = host.probe()

    failed = sum(1 for op in ops if any(op.failures.values()))
    attempted = len(ops)
    warm_failed = any(warm.failures.values())
    untraced = [op for op in ops if not op.info["traced"]] or ops
    op_s = statistics.median(op.wall for op in untraced)
    e2e = {
        "op_cpu_s": statistics.median(op.info["cpu_s"] for op in untraced),
        "setup_s": setup_s,
        # 0 only when no op produced output, and then correct is false
        "stored_bytes_per_raw_byte": wl.stored_bytes / wl.raw_bytes if wl.raw_bytes else 0.0,
        "peak_pss_mb": peak_mb,
    }
    if trace:
        per = {k: statistics.median(lay[k] for lay in layers) for k in PER_LAYER
               if k not in RUN_LEVEL}
        per["session.start_s"] = session_s
        per["inputs.gen_s"] = gen_s
        per["op.wall_s"] = op_s
        traced_walls = [op.wall for op in ops if op.info["traced"]]
        per["trace.overhead_share"] = (
            statistics.median(traced_walls) / op_s - 1
            if len(traced_walls) < len(ops) else 0.0)
        metrics = {k: {"value": per[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    result = {"correct": failed == 0 and not warm_failed, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    sections = sorted({n for op in ops for n in op.walls})
    detail.update(
        setup={"session_s": session_s, "builds_s": builds, "warmup_s": warm.wall,
               "warmup_failures": warm.failures},
        end_to_end=e2e,
        op_s=op_s,
        failed_op_share=failed / max(attempted, 1),
        section_median_s={n: statistics.median(op.walls[n] for op in ops if n in op.walls)
                          for n in sections},
        raw_mb=wl.raw_bytes / 1e6,
        pss_at_peak_mb={k: v / 1024 for k, v in at_peak_kb.items()},
        ops=[{"i": k, "traced": op.info.get("traced"), "wall": op.wall,
              "walls": op.walls, "failures": {n: f for n, f in op.failures.items() if f},
              "info": op.info} for k, op in enumerate(ops)],
        per_layer_ops=layers,
        spans=tracer.spans if trace else [],
        result=result,
    )
    return result, detail


def _stop_gateway() -> None:
    """Shut the py4j gateway and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, ENGINE)):
        print(f"perfbench: no {ENGINE}/ package in {root}; run from the root "
              "of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from mapbox_vector_tile_java_spark.session import MALLOC_ENV

    # the engine gives its Python workers these allocator settings; glibc
    # reads them at process start, so the driver gets them by re-executing
    if any(os.environ.get(k) != v for k, v in MALLOC_ENV.items()):
        os.execve(sys.executable, [sys.executable, *sys.argv],
                  {**os.environ, **MALLOC_ENV})
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shape = host.configure_env(work)
    try:
        result, detail = run(args.workload, args.seed, args.seconds,
                             bool(args.trace), work, shape)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    side = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(side, "w") as fh:
        json.dump(detail, fh, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
