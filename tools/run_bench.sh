#!/bin/bash
# Fast local Bench run: plain java against compiled classes (skips sbt startup).
# Usage: tools/run_bench.sh [sfDir]
# One query:
#   SPARK_GRAFT_BENCH_ONLY=q82_dedup_clusters SPARK_GRAFT_BENCH_PASSES=2 \
#     SPARK_GRAFT_BENCH_FULL=/tmp/one.json tools/run_bench.sh
#   (the full line in /tmp/one.json carries the query's "layers" split)
# Env passthrough: SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_ONLY,
#   SPARK_GRAFT_BENCH_PASSES, SPARK_GRAFT_BENCH_CHAIN_PROBES,
#   SPARK_GRAFT_BENCH_FULL, plus any -Dspark.* via JAVA_EXTRA.
SF=${1:-/root/testdata/sf0.1}
# A UTF-8 locale, so the JVM can name files outside ASCII (under C/POSIX
# it encodes file names as ASCII), as build.sbt sets it for the tests.
export LC_ALL=C.UTF-8
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} $JAVA_EXTRA \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench 2>/dev/null
