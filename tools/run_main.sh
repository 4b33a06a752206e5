#!/bin/bash
# Run a graft main directly on the compiled classes (no sbt JVM in the
# way): tools/run_main.sh graft.Bench [args...]
# Env passthrough: SPARK_GRAFT_*, SPARK_DRIVER_MEM.
set -e
# GRAFT_CLASSES overrides the compiled-classes dir (an A/B of two
# builds then runs both through the same JVM/classpath shape)
CP="${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}"
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# JVM-wide Spark settings; build.sbt javaOptions mirrors this list.
exec java $ADDOPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dspark.sql.codegen.cache.maxEntries=4000 -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
