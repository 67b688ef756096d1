"""``fsst.train`` (incremental pair counts) against the reference trainer
(dense pair-count grid, tests/fsst_reference.py): identical symbol tables
on every planner-sized webtext column and on adversarial payloads, and an
identical codec plan."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from fsst_reference import reference_train

from mapbox_vector_tile_java_spark.codecs import fsst
from mapbox_vector_tile_java_spark.columns import _bytes_parts
from mapbox_vector_tile_java_spark.plans import codec_plan
from mapbox_vector_tile_java_spark.sources.webtext import SCHEMA, gen_batch


def _sample(seed: int) -> pa.Table:
    """What ``collect_sample`` takes from an 8-partition
    ``webtext_table(8000, seed)``: the first 512 rows of each partition."""
    ids = np.concatenate([np.arange(k * 1000, k * 1000 + 512)
                          for k in range(8)]).astype(np.int64)
    return pa.Table.from_batches([gen_batch(ids, seed)], schema=SCHEMA)


@pytest.mark.parametrize("seed", range(1, 11))
def test_train_matches_reference_on_webtext(seed):
    sample = _sample(seed)
    for col in ("url", "html", "text", "lang"):
        _, data = _bytes_parts(sample.column(col).combine_chunks().drop_null())
        # the planner's training input
        if len(data) > codec_plan.FSST_TRAIN_BYTES:
            data = fsst.spread_sample(data, codec_plan.FSST_TRAIN_BYTES)
        assert fsst.train(data).symbols == reference_train(data).symbols, col


def test_train_matches_reference_on_adversarial_payloads():
    rng = np.random.default_rng(0)
    payloads = [
        b"", b"\xff", b"a", b"\xff" * 100, b"ab" * 3000, b"aaaa" * 5000,
        b"aab" * 9000, (b"a" * 7 + b"b") * 4000, bytes(range(256)) * 4,
        "日本語".encode() * 100, b"abc" * 50000 + b"abd" * 50000,
        rng.integers(0, 4, 100_000, dtype=np.uint8).tobytes(),   # 2-bit
        rng.integers(0, 256, 100_000, dtype=np.uint8).tobytes(),  # 8-bit
    ]
    for p in payloads:
        data = np.frombuffer(p, dtype=np.uint8)
        assert fsst.train(data).symbols == reference_train(data).symbols, p[:8]


@pytest.mark.parametrize("seed", [1, 2])
def test_plan_from_sample_matches_reference_trainer(seed, monkeypatch):
    sample = _sample(seed)
    got = codec_plan.plan_from_sample(sample)
    monkeypatch.setattr(codec_plan.fsstmod, "train", reference_train)
    assert codec_plan.plan_from_sample(sample) == got
