#!/usr/bin/env bash
# Cluster submission example (north rule: ship via spark-submit --py-files
# to N- and 4N-executor clusters).
#
# Package the library once, then the same zip serves any job entrypoint.
set -euo pipefail

cd "$(dirname "$0")/.."
rm -f /tmp/plp_spark.zip
zip -qr /tmp/plp_spark.zip paper_layout_parser_spark

# N-executor run (swap num-executors for the 4N run; python3 perfbench/run.py
# is the single-node benchmark)
spark-submit \
  --master "${SPARK_MASTER:-yarn}" \
  --deploy-mode cluster \
  --num-executors "${NUM_EXECUTORS:-100}" \
  --executor-cores 4 \
  --executor-memory 16g \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.shuffle.partitions="${SHUFFLE_PARTITIONS:-800}" \
  --conf spark.sql.codegen.cache.maxEntries=1000 \
  --py-files /tmp/plp_spark.zip \
  scripts/run_extraction_job.py "$@"
