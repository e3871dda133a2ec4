#!/bin/bash
# Run a graft bench main via plain java (NOT sbt — see BENCH/BASELINE.md
# "environment findings": sbt file watchers stall Spark jobs in this
# sandbox). One parallelism level per JVM; shuffle + state dirs on tmpfs.
#
#   tools/run_bench.sh <mainClass> [args...]
#
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

export GRAFT_LOCAL_DIR="${GRAFT_LOCAL_DIR:-/dev/shm/graft-local}"
export GRAFT_STATE_DIR="${GRAFT_STATE_DIR:-/dev/shm/graft-state}"
mkdir -p "$GRAFT_LOCAL_DIR" "$GRAFT_STATE_DIR"

# -Xms=-Xmx + AlwaysPreTouch: commit the whole heap at JVM start (BEFORE the
# timed region). Without it the JVM grows into the heap mid-run and gVisor
# demand-paging shows up as 30-300 s "environmental stalls" concentrated in
# the first memory-heavy round (diagnosed round 2: the classic r3 stall).
# The heap defaults to half the machine's memory; SPARK_DRIVER_MEM overrides.
# GRAFT_CLASSES: frozen classes snapshot for long campaigns, so concurrent
# sbt compiles can't churn class files under a running bench JVM.
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g) "g"}' /proc/meminfo)}
exec java $ADD_OPENS \
  -Xms"$HEAP" \
  -Xmx"$HEAP" \
  -XX:+AlwaysPreTouch \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Djava.io.tmpdir="$GRAFT_STATE_DIR" \
  -cp "${GRAFT_CLASSES:-target/scala-2.13/classes}:/opt/spark/jars/*" \
  "$@"
