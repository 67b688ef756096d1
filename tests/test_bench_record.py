"""bench.py prints one JSON line that a 2,000-char log tail keeps whole."""

from __future__ import annotations

import importlib.util
import json
import os

# every name bench.py times outside its operator suite
HEADLINE = ["webtext_encode", "webtext_decode", "webtext_decode_pruned",
            "parquet_zstd_baseline_write", "naive_reference_encode",
            "ann_ivf_build", "dedup_gram_stage_build"]


def _bench():
    path = os.path.join(os.path.dirname(__file__), "..", "bench.py")
    spec = importlib.util.spec_from_file_location("bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_line_fits_log_tail():
    bench = _bench()
    names = HEADLINE + bench.SUITE
    timings = {n: 123.456 for n in names}  # widest plausible values
    extras = {
        "bw_probe_eff": 0.321, "task_cpus": 2,
        "raw_bytes": 219_079_145, "enc_bytes": 45_896_201,
        "compression_ratio": 4.7734, "encode_gbps_raw_in": 0.0418,
        "decode_gbps_raw_out": 0.2171, "parquet_zstd_bytes": 73_324_225,
        "engine_blocks_bytes": 46_467_667,
        "naive_reference_bytes": 217_350_920,
        "bw_probe_pass_eff": [0.321, 0.369, 0.324, 0.333],
        "redrawn": [bench.SUITE[:8], bench.SUITE[8:12]],
        **{f"{n}_runs": [123.456] * 4 for n in names},
    }
    line, runs = bench.split_record(timings, extras, 0.1, 100_000)
    assert "\n" not in line and len(line) <= 2000, len(line)
    rec = json.loads(line)
    assert rec["queries"] == timings
    assert rec["value"] == round(sum(timings.values()), 3)
    assert rec["compression_ratio"] == 4.7734 and rec["bw_probe_eff"] == 0.321
    assert not any(k.endswith("_runs") for k in rec) and "redrawn" not in rec
    assert set(runs) == {f"{n}_runs" for n in names} | {"redrawn"}
