#!/usr/bin/env bash
# One-command cluster launch for a graft job — the shape the reference runs
# from its driver pod (bigdata-project/k8s/app-deployment.yaml:113-121),
# with the engine jar in place of the python script.
#
#   ./conf/submit.sh batch  lake=s3a://lake/events out=s3a://out date=2026-08-14
#   ./conf/submit.sh stream source=kafka brokers=kafka:9092 topic=events \
#                           out=s3a://out checkpoint=s3a://ckpt
#   ./conf/submit.sh ingest in=s3a://incoming root=s3a://corpus \
#                           checkpoint=s3a://ckpt neardup=true \
#                           maintainEvery=8 ivfHealth=true pqHealth=true
#     (ivfHealth / pqHealth run the drift monitor over the int8 / IVF-PQ
#      serving index on the maintenance cadence; either one implies it)
#
# Kafka jobs add the connector at submit time (config, not code):
#   EXTRA_PACKAGES=org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2
set -euo pipefail

HERE="$(cd "$(dirname "$0")" && pwd)"
JAR="${GRAFT_JAR:-$HERE/../target/scala-2.13/graft.jar}"

# The reference resolves the driver's own routable address at launch and
# hands it to Spark so workers can connect back; same move here.
DRIVER_HOST="${DRIVER_HOST:-$(hostname -i | awk '{print $1}')}"

exec "${SPARK_HOME:-/opt/spark}"/bin/spark-submit \
  --class graft.Submit \
  --properties-file "$HERE/graft-submit.conf" \
  --conf "spark.driver.host=$DRIVER_HOST" \
  ${EXTRA_PACKAGES:+--packages "$EXTRA_PACKAGES"} \
  "$JAR" "$@"
