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
    from mapbox_vector_tile_java_spark.operators import decode as D
    from mapbox_vector_tile_java_spark.operators import dedup as DD
    from mapbox_vector_tile_java_spark.operators import encode as E
    from mapbox_vector_tile_java_spark.plans import codec_plan as CP
    from mapbox_vector_tile_java_spark.plans import manifest as M
    from mapbox_vector_tile_java_spark.plans import partitioning as P
    from mapbox_vector_tile_java_spark.streaming import incremental as INC

    hooks = [(CP, "collect_sample"), (CP, "plan_from_sample"),
             (CP, "hot_keys_from_sample"), (P, "plan_webtext"),
             (P, "plan_generic"), (E, "encode_webtext"), (E, "encode_table"),
             (E, "make_encode_fn"), (M, "write_meta"), (M, "read_meta"),
             (D, "decode_table"), (D, "make_decode_fn"),
             (D, "meta_column_stats"), (D, "read_manifest"),
             (INC, "content_fingerprint"), (DD, "dedup_incremental"),
             (DD, "_materialize_fp"), (DD, "build_gram_records"),
             (DD, "exact_jaccard_verify")]
    before = {h: getattr(*h) for h in hooks}
    tracer = _load_tracing().Tracer(spark, str(tmp_path / "tasks"))
    tracer.install()
    try:
        for h in hooks:
            assert getattr(*h) is not before[h], f"{h[1]} not wrapped"
            assert getattr(*h).__wrapped__ is before[h]
        engine = {(o, a) for o, a, *_ in tracer._patches
                  if o.__name__.startswith("mapbox_vector_tile_java_spark")}
        assert engine == set(hooks)
    finally:
        tracer.uninstall()
    assert {h: getattr(*h) for h in hooks} == before


def test_task_kind_classifies_stage_functions(spark, monkeypatch):
    """The tracer sorts traced tasks by the ``__qualname__`` of the function
    handed to ``mapInArrow``: the signature stage must keep its function
    inside the route the tracer names."""
    from mapbox_vector_tile_java_spark.operators import dedup as DD

    task_kind = _load_tracing().task_kind
    df_cls = type(spark.range(1))
    orig = df_cls.mapInArrow
    seen = []

    def capture(self, func, *a, **kw):
        seen.append(func)
        return orig(self, func, *a, **kw)

    monkeypatch.setattr(df_cls, "mapInArrow", capture)
    docs = spark.createDataFrame([(1, "some document text")],
                                 "doc_id long, text string")
    DD.minhash_signatures(docs, "text", "doc_id")
    assert [task_kind(f) for f in seen] == ["signature"]
