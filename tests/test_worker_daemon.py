"""The engine's Python worker daemon (``worker_daemon``) and the workers'
import path that ``session.get_spark`` pins."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import mapbox_vector_tile_java_spark as engine

REPO = os.path.dirname(os.path.dirname(os.path.abspath(engine.__file__)))


def _run(script: str, cwd: str, *args: str) -> subprocess.CompletedProcess:
    # no PYTHONPATH: Spark hands it on to the workers, which would then find
    # the engine without the path the session pins
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, "-c", textwrap.dedent(script), *args],
                          cwd=cwd, env=env, capture_output=True, text=True,
                          timeout=600)


def test_tasks_do_not_reread_zip_archives(spark):
    """A task's ``importlib.invalidate_caches()`` (pyspark runs one per
    task) re-reads no zip directory, and workers import the driver's
    engine copy."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import mapbox_vector_tile_java_spark as pkg

        reads = [0]
        read = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"reads": [reads[0]], "zips": [zips], "file": [pkg.__file__]})

    rows = (spark.range(8, numPartitions=4)
            .mapInArrow(probe, "reads long, zips long, file string").collect())
    assert len(rows) == 4
    for r in rows:
        assert r["zips"] > 0  # pyspark.zip is imported from: there is a cache
        assert r["reads"] == 0, r
        assert r["file"] == engine.__file__


def test_zip_guard_rereads_only_a_changed_archive(tmp_path):
    """With the guard installed, an unchanged archive is not re-read; a
    rewritten one is, and its new attribute imports; a missing one is
    re-read (stdlib semantics)."""
    script = f"""
        import importlib, os, sys, zipfile, zipimport
        sys.path.insert(0, {REPO!r})
        from mapbox_vector_tile_java_spark import worker_daemon

        path = sys.argv[1]

        def write(src):
            with zipfile.ZipFile(path, "w") as z:
                z.writestr("zmod.py", src)

        write("A = 1\\n")
        sys.path.insert(0, path)
        import zmod
        assert zmod.A == 1
        worker_daemon.install()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)

        importlib.invalidate_caches()  # no read recorded yet: reads once
        assert reads == [path], reads
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == [path], reads

        write("A = 1\\nB = 2\\n")
        importlib.invalidate_caches()
        assert reads == [path] * 2, reads
        del sys.modules["zmod"]
        import zmod
        assert zmod.B == 2

        os.remove(path)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 4, reads
        print("OK")
    """
    p = _run(script, str(tmp_path), str(tmp_path / "m.zip"))
    assert p.returncode == 0 and p.stdout.strip() == "OK", p.stderr


def test_workers_import_engine_outside_its_checkout(tmp_path):
    """A driver whose cwd holds no engine copy, with the engine only on its
    own ``sys.path``, runs an encode -> decode round trip: the workers find
    the engine through the path the session pins, not through the cwd."""
    script = f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from mapbox_vector_tile_java_spark.operators.decode import decode_table
        from mapbox_vector_tile_java_spark.operators.encode import encode_webtext
        from mapbox_vector_tile_java_spark.session import get_spark
        from mapbox_vector_tile_java_spark.sources.webtext import webtext_df

        spark = get_spark("cwd-free", cores=2)
        try:
            out = {str(tmp_path / "enc")!r}
            encode_webtext(webtext_df(spark, 200, seed=3, partitions=2), out,
                           n_parts=2)
            print("ROWS", decode_table(spark, out).count())
        finally:
            spark.stop()
    """
    p = _run(script, str(tmp_path))
    assert p.returncode == 0, p.stderr[-4000:]
    assert "ROWS 200" in p.stdout
