#!/bin/bash
# Run a graft main directly (no sbt in the loop) with the same JVM
# options build.sbt forks with — for SERIALIZED record runs: one JVM,
# nothing else on the box (VERDICT r15 gate-protocol ask).
# Usage: scripts/run_main.sh graft.Bench [args...]
#   env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM, SPARK_CODE_CACHE
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# default heap: half the machine's memory, clamped to 2..8 GB (build.sbt's
# formula); Spark confs come from graft.Harness.session, not -D flags
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
exec java $ADD_OPENS ${EXTRA_JAVA_OPTS:-} \
  -Xmx"${SPARK_DRIVER_MEM:-$HEAP}" \
  -XX:ReservedCodeCacheSize="${SPARK_CODE_CACHE:-1g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
