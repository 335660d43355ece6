#!/bin/bash
# Run a graft main class directly on the compiled classes + Spark jars,
# bypassing sbt (no project-lock contention between concurrent measurement
# runs; sbt compile must have run first). Usage:
#   tools/run_tool.sh graft.tools.ProfileRows [args...]
# Env: SPARK_DRIVER_MEM (default 8g) and the tool's own SPARK_GRAFT_* vars.
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(echo /opt/spark/jars/*.jar | tr ' ' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# JAVA_EXTRA_OPTS: extra JVM flags (e.g. -XX:G1HeapRegionSize=32m keeps the
# ~20 MB serialized grid-checkpoint blocks of the distributed routing regime
# out of G1's humongous-allocation path — the measured GC-spike driver; a
# cluster deployment passes the same flag via spark.executor.extraJavaOptions)
exec java $ADD_OPENS ${JAVA_EXTRA_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$@"
