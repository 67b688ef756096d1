#!/usr/bin/env python3
"""Self-test at tiny size: the benchmark's checks can fail, and every
metric named in BENCHMARK.json is emitted.

    python3 perfbench/selftest.py

Run from the root of a checkout. Exits 0 when every case holds; takes a
few minutes, because each case starts its own Spark session.

1. One byte flipped in one encoded ``c_text`` blob, between the encode and
   the decode of a ``webtext_roundtrip`` op, makes the decode section a
   failed op (CRC mismatch or decode error) while the run goes on and the
   encode section passes.
2. One injected pair below the jaccard threshold makes every
   ``dedup_incremental`` op a failed op.
3. Each workload in BENCHMARK.json emits exactly its end-to-end metrics
   with ``--trace 0`` and its per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import run as bench  # noqa: E402
from workloads import ENGINE  # noqa: E402

SEED = 5
TINY = {"webtext_roundtrip": 1_000, "dedup_incremental": 300}


def flip_text_byte(enc_dir: str) -> None:
    """Flip one payload byte of the first ``c_text`` blob on disk."""
    from mapbox_vector_tile_java_spark.plans import manifest as M

    path = M.part_file(enc_dir, 0)
    table = pq.read_table(path)
    blobs = table.column("c_text").to_pylist()
    blob = bytearray(blobs[0])
    blob[len(blob) // 2] ^= 0xFF
    blobs[0] = bytes(blob)
    i = table.schema.get_field_index("c_text")
    table = table.set_column(i, table.schema.field(i),
                             pa.array(blobs, pa.large_binary()))
    pq.write_table(table, path, compression="none", row_group_size=64)


def corrupt_after_encode(wl) -> None:
    wl.after_encode = flip_text_byte


def inject_bad_pair(wl) -> None:
    """Make every op's result carry one pair of unrelated documents that
    claims a jaccard of 0.9, and recompute every pair, not a sample."""
    wl.sample_pairs = 10**9
    check = wl.check_pairs
    ids = sorted(wl.new_ids)
    bad = (ids[0], ids[1], 0.9)

    def with_bad_pair(pairs):
        return check(sorted({*pairs, bad}))

    wl.check_pairs = with_bad_pair


def case(name, work, **kw):
    shutil.rmtree(work, ignore_errors=True)
    print(f"selftest: {name} ...", flush=True)
    result, detail = bench.run(seed=SEED, work=work, shape=host.configure_env(work),
                               setup_repeats=1, min_ops=1, seconds=0, **kw)
    shutil.rmtree(work, ignore_errors=True)
    return result, detail


def main() -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, ENGINE)):
        print(f"selftest: run from the root of a checkout ({ENGINE}/ missing)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(root, ".perfbench_work", "selftest")
    errors = []

    result, detail = case("corrupted c_text block", work, workload="webtext_roundtrip",
                          trace=False, rows=TINY["webtext_roundtrip"],
                          tamper=corrupt_after_encode)
    fails = detail["ops"][0]["failures"]
    if result["failed"] < 1 or "decode" not in fails or result["correct"]:
        errors.append(f"corrupted block not reported as a failed op: {fails}")
    if "encode" in fails:
        errors.append(f"the encode section failed too: {fails}")

    result, detail = case("injected dedup pair", work, workload="dedup_incremental",
                          trace=False, rows=TINY["dedup_incremental"],
                          tamper=inject_bad_pair)
    msgs = detail["ops"][0]["failures"].get("dedup", [])
    if result["failed"] < 1 or not any("reports jaccard 0.9" in m for m in msgs):
        errors.append(f"injected pair below threshold not flagged: {msgs}")

    for wl in spec["workloads"]:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            result, _ = case(f"{wl['name']} trace={int(trace)}", work,
                             workload=wl["name"], trace=trace,
                             rows=TINY[wl["name"]])
            want = {m["name"] for m in spec[key]}
            got = set(result["metrics"])
            if got != want or not result["correct"]:
                errors.append(f"{wl['name']} trace={int(trace)}: correct="
                              f"{result['correct']} missing={sorted(want - got)} "
                              f"extra={sorted(got - want)}")
    for e in errors:
        print("selftest FAIL:", e)
    print("selftest:", "FAIL" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
