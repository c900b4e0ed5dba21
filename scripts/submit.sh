#!/usr/bin/env bash
# Package the library and launch the dedup pipeline via spark-submit.
#
# Local smoke:
#   scripts/submit.sh --input /root/testdata/sf0.001/documents.parquet \
#                     --workdir /tmp/dedup_wh --run-id demo
#
# Cluster (N and 4N executors for the scaling measurement):
#   SPARK_MASTER=yarn EXECUTORS=250 scripts/submit.sh --input s3://...  \
#     --workdir s3://.../warehouse --run-id prod-2025-06-01
#
# The job applies the engine's tuned session defaults (session.py
# tuned_sql_conf: shuffle width, AQE advisory size, Arrow batch size, ...)
# to every setting this launch leaves unset. A --conf key=value on the
# spark-submit line below (add it to EXTRA) or a spark-defaults.conf entry
# overrides the job's default, e.g. on a cluster
#   EXTRA+=(--conf spark.sql.shuffle.partitions=2000)
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/fuzzy_matcher_spark.zip
rm -f "$ZIP"
(cd . && zip -qr "$ZIP" fuzzy_matcher_spark -x '*__pycache__*')

# worker-process memory hygiene (see session.py): python workers are
# forked by the ALREADY-RUNNING JVM under spark-submit, so the driver
# script's os.environ / prctl cannot reach them — export here instead.
# NUMPY_MADVISE_HUGEPAGE=0 keeps numpy off the madvise-THP fault path
# (pathologically slow on the dev sandbox; neutral-to-positive on
# production hosts, where disabling THP for Spark is standard advice).
export NUMPY_MADVISE_HUGEPAGE="${NUMPY_MADVISE_HUGEPAGE:-0}"
export MALLOC_TRIM_THRESHOLD_="${MALLOC_TRIM_THRESHOLD_:-1073741824}"
export MALLOC_MMAP_THRESHOLD_="${MALLOC_MMAP_THRESHOLD_:-1073741824}"
export ARROW_DEFAULT_MEMORY_POOL="${ARROW_DEFAULT_MEMORY_POOL:-system}"

MASTER="${SPARK_MASTER:-local[*]}"
EXECUTORS="${EXECUTORS:-}"
EXTRA=()
if [[ -n "$EXECUTORS" ]]; then
  EXTRA+=(--conf "spark.executor.instances=$EXECUTORS")
fi
# Iceberg catalog (uncomment on a cluster with the runtime jar):
# EXTRA+=(--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.8.0 \
#         --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog \
#         --conf spark.sql.catalog.local.type=hadoop \
#         --conf spark.sql.catalog.local.warehouse="$ICEBERG_WAREHOUSE")

exec spark-submit \
  --master "$MASTER" \
  --driver-memory "${DRIVER_MEMORY:-8g}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  "${EXTRA[@]}" \
  --py-files "$ZIP" \
  fuzzy_matcher_spark/jobs/dedup_job.py "$@"
