"""Bit-exact arrow array comparison (NaN == NaN when bits match)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def assert_bit_equal(a: pa.Array, b: pa.Array) -> None:
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    if isinstance(b, pa.ChunkedArray):
        b = b.combine_chunks()
    assert a.type == b.type, f"type mismatch: {a.type} vs {b.type}"
    assert len(a) == len(b), f"length mismatch: {len(a)} vs {len(b)}"
    va = a.is_valid().to_numpy(zero_copy_only=False)
    vb = b.is_valid().to_numpy(zero_copy_only=False)
    np.testing.assert_array_equal(va, vb)
    t = a.type
    an, bn = a.drop_null(), b.drop_null()
    if pa.types.is_floating(t):
        w = np.int64 if t == pa.float64() else np.int32
        np.testing.assert_array_equal(
            an.to_numpy(zero_copy_only=False).view(w),
            bn.to_numpy(zero_copy_only=False).view(w),
        )
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        la = pa.compute.list_value_length(an).to_numpy(zero_copy_only=False)
        lb = pa.compute.list_value_length(bn).to_numpy(zero_copy_only=False)
        np.testing.assert_array_equal(la, lb)
        assert_bit_equal(an.flatten(), bn.flatten())
    elif pa.types.is_struct(t):
        for i in range(t.num_fields):
            assert_bit_equal(an.field(i), bn.field(i))
    elif pa.types.is_map(t):
        lt = pa.list_(pa.struct([t.key_field, t.item_field]))
        assert_bit_equal(an.cast(lt), bn.cast(lt))
    else:
        assert an.equals(bn), f"value mismatch for {t}: {an[:5]} vs {bn[:5]}"


def tear_json_dump(monkeypatch, key: str) -> None:
    """Make ``json.dump`` of any dict holding ``key`` write half of its
    output and then raise — a writer killed mid-write. Other dumps pass."""
    import json

    real = json.dump

    def torn(obj, fp, *a, **kw):
        if isinstance(obj, dict) and key in obj:
            s = json.dumps(obj)
            fp.write(s[: len(s) // 2])
            raise OSError("writer killed mid-write")
        return real(obj, fp, *a, **kw)

    monkeypatch.setattr(json, "dump", torn)
