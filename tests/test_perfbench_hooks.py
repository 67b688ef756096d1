"""The benchmark's tracer patches engine functions by name; a removed or
renamed hook must fail here, not only in the slow ``perfbench/selftest.py``."""

from __future__ import annotations

import importlib.util
import os

TRACING = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "perfbench", "tracing.py")


def _load_tracing():
    spec = importlib.util.spec_from_file_location("perfbench_tracing", TRACING)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tracer_installs_and_uninstalls(spark, tmp_path):
    from mapbox_vector_tile_java_spark.operators import encode as E
    from mapbox_vector_tile_java_spark.plans import codec_plan as CP
    from mapbox_vector_tile_java_spark.plans import partitioning as P

    hooks = [(CP, "collect_sample"), (CP, "plan_from_sample"),
             (CP, "hot_keys_from_sample"), (P, "plan_webtext"),
             (P, "plan_generic"), (E, "encode_webtext"), (E, "encode_table"),
             (E, "make_encode_fn")]
    before = {h: getattr(*h) for h in hooks}
    tracer = _load_tracing().Tracer(spark, str(tmp_path / "tasks"))
    tracer.install()
    try:
        for h in hooks:
            assert getattr(*h) is not before[h], f"{h[1]} not wrapped"
            assert getattr(*h).__wrapped__ is before[h]
    finally:
        tracer.uninstall()
    assert {h: getattr(*h) for h in hooks} == before
