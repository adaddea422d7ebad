#!/bin/bash
# Run a graft main class against the sbt-compiled classes without sbt
# startup overhead: scripts/run.sh graft.Bench [args...]
# The classes are those of the checkout this script lives in.
# Env: SPARK_DRIVER_MEM (default 8g), plus whatever the main reads.
MAIN="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
