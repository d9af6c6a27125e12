#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars,
# mirroring build.sbt's JDK17 add-opens flags. Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
#   tools/run.sh graft.Bench
set -e
cd "$(dirname "$0")/.."
MAIN=$1; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*" "$MAIN" "$@"
