#!/bin/bash
# Run a graft main directly against compiled classes + /opt/spark/jars —
# no sbt startup (~40 s) and no sbt target-lock contention. Mirrors the
# build.sbt fork JVM flags exactly (JDK17 add-opens, host-sized heap, UTC,
# no UI) so timings are comparable with `sbt "runMain ..."` sessions.
#
#   tools/run_main.sh graft.Bench
#   SPARK_GRAFT_ONLY=q1,q2 tools/run_main.sh graft.Bench
#   tools/run_main.sh graft.tools.ExplainDump before q1,q2 /root/testdata/sf0.1
set -e
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Heap: MemTotal/2, clamped to 2-8 g; SPARK_DRIVER_MEM overrides.
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null)}"
exec java $OPENS \
  -Xmx"$HEAP" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
