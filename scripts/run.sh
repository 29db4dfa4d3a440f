#!/bin/bash
# Run a graft main class directly on the compiled classes + Spark jars
# (fast path around sbt runMain). Usage: scripts/run.sh graft.Verify args...
set -e
# the checkout this script lives in, so a copy of the repo runs its own
# compiled classes
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CLS="$1"; shift
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
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLS" "$@"
