#!/bin/bash
# Run a graft main class directly on the compiled classes + Spark jars
# (much faster than going through sbt). Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
#   SPARK_GRAFT_SF_DIR=... tools/run.sh graft.Bench   # progress on stderr, JSON line last on stdout
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
