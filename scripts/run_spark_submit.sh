#!/usr/bin/env bash
# Package the engine and run the encode+verify job via spark-submit
# --py-files, as the north rule specifies. Works against any master
# (local[N] here; a real cluster master URL in production).
set -euo pipefail

REPO="$(cd "$(dirname "$0")/.." && pwd)"
MASTER="${1:-local[8]}"
ROWS="${2:-50000}"
OUT="${3:-$(mktemp -d)/job}"
PKG=/tmp/mvt_spark_pkg.zip

# malloc tunables for driver AND executors (see session.py)
export MALLOC_MMAP_THRESHOLD_=2147483648 MALLOC_TRIM_THRESHOLD_=2147483648 MALLOC_TOP_PAD_=268435456

rm -f "$PKG"
(cd "$REPO" && zip -qr "$PKG" mapbox_vector_tile_java_spark -x '*.pyc' -x '*__pycache__*')

# pyspark's default worker daemon: --py-files reaches workers per task, so
# the engine's worker_daemon (see session.py) is not importable when the
# daemon starts. An executor image with the engine installed can set
# spark.python.daemon.module=mapbox_vector_tile_java_spark.worker_daemon.
exec spark-submit \
  --master "$MASTER" \
  --conf spark.sql.shuffle.partitions=32 \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.python.worker.reuse=true \
  --conf spark.executorEnv.MALLOC_MMAP_THRESHOLD_=2147483648 \
  --conf spark.executorEnv.MALLOC_TRIM_THRESHOLD_=2147483648 \
  --conf spark.executorEnv.MALLOC_TOP_PAD_=268435456 \
  --py-files "$PKG" \
  "$REPO/scripts/submit_job.py" --rows "$ROWS" --out "$OUT"
