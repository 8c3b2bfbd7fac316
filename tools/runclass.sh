#!/bin/bash
# Run a graft main class straight from compiled classes (no sbt lock —
# lets measurement runs proceed while sbt compiles elsewhere). Mirrors
# build.sbt's forked-run JVM options. src/main/resources follows the
# classes dir, so a dir built by `sbt compile` alone (which copies no
# resources) still finds the DataSourceRegister service file that
# `format("graft-relay")` resolves through. Usage:
#   tools/runclass.sh [-cp <classesdir>] graft.<Bench|Verify|Probe> [args...]
CLASSES="$(dirname "$0")/../target/scala-2.13/classes"
RESOURCES="$(dirname "$0")/../src/main/resources"
if [ "$1" = "-cp" ]; then CLASSES="$2"; shift 2; fi
CLASSES="$CLASSES:$RESOURCES"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
