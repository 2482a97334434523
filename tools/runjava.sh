#!/bin/bash
# Dev-only: run a graft main (Bench/Verify/PlanAudit/tools.Trace) straight from
# the compiled classes, bypassing the sbt launcher and its project lock —
# lets long SPARK_GRAFT_ONLY subset benches run in parallel with sbt work.
# Mirrors build.sbt's fork settings (JDK17 add-opens, heap, UTC, no UI).
# Usage: tools/runjava.sh graft.Bench [args...]   (env vars as with sbt)
set -e
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
