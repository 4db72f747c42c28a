#!/usr/bin/env bash
# Run a graft main (src/main or src/test) directly on the compiled
# classes — same JVM flags as build.sbt's forked runs, without sbt's
# startup or its project lock (lets a bench run while sbt tests
# elsewhere is NOT safe for timing; use sequentially for measurements).
#
#   dev/run_main.sh graft.Bench [args...]
#   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_REPEAT=3 dev/run_main.sh graft.Bench
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:target/scala-2.13/test-classes:/opt/spark/jars/*"
# scalatest/scalacheck jars: only needed when the main lives in a spec
# file; harmless otherwise
for j in $(find "$HOME/.cache/coursier" -name 'scalatest*.jar' -o -name 'scalacheck*.jar' 2>/dev/null | head -20); do
  CP="$CP:$j"
done
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# mirror build.sbt's forkTmpDir fallback: /dev/shm when writable
# (RAM-backed scratch), else /tmp — set -e must not die on hosts
# without a writable /dev/shm
if [ -d /dev/shm ] && [ -w /dev/shm ]; then TMPD=/dev/shm/graft_tmp; else TMPD=/tmp; fi
mkdir -p "$TMPD"
# heap: SPARK_DRIVER_MEM, else min(48g, half of RAM) as in build.sbt
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152); print (g > 48 ? 48 : g < 1 ? 1 : g) "g"}' /proc/meminfo 2>/dev/null || echo 48g)}"
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Djava.io.tmpdir="$TMPD" \
  -Xmx"$MEM" -Xms"$MEM" \
  -XX:+UseTransparentHugePages \
  ${GRAFT_JVM_EXTRA:-} \
  -cp "$CP" "$@"
