#!/bin/bash
# Fast local Verify run: plain java against compiled classes (skips sbt startup).
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
# A UTF-8 locale, so the JVM can name files outside ASCII (under C/POSIX
# it encodes file names as ASCII), as build.sbt sets it for the tests.
export LC_ALL=C.UTF-8
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-16} java $OPENS -Xmx24g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT" 2>&1 | grep -vE '^[0-9/: ]+(WARN|INFO)' | head -40
