"""Spark Python worker daemon that stops each task from re-reading zips.

Every task a Python worker runs calls ``importlib.invalidate_caches()``
(pyspark's ``worker_util.setup_spark_files``). On Python < 3.13 that makes
each cached ``zipimporter`` re-parse its archive's whole central directory:
pyspark.zip has 1,328 entries and a worker holds 14-16 zipimporters, most
of them into it: 0.15-0.18 CPU s per task. Here an importer re-reads only
when its archive's ``(st_ino, st_size, st_mtime_ns)`` changed since it
last read it, or when the stat fails, so a changed archive is still
picked up.

``session.get_spark`` runs this module as ``spark.python.daemon.module``;
it then serves workers exactly as ``pyspark.daemon`` does.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    key = _archive_key(self.archive)
    if key is None or getattr(self, "_read_key", None) != key:
        _reread(self)
        self._read_key = key


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    importlib.invalidate_caches()  # read once here, not in every forked worker
    daemon.manager()
