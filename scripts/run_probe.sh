#!/bin/bash
# Dev helper (r14 optimization): run a graft main directly with java,
# bypassing sbt startup, with arbitrary -Dspark.* conf experiments.
# Usage: scripts/run_probe.sh [extra JVM flags...] -- <mainClass> [args...]
set -u
# classes of the checkout this script lives in, wherever it is cloned
CP="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
EXTRA=()
while [[ $# -gt 0 && "$1" != "--" ]]; do EXTRA+=("$1"); shift; done
# r15 (advice fix): a missing `--` used to consume every arg and then
# `exec java` ran with no main class; fail with usage instead.
[[ $# -gt 0 ]] || { echo "usage: run_probe.sh [jvm flags...] -- <mainClass> [args...]" >&2; exit 2; }
shift
[[ $# -gt 0 ]] || { echo "usage: run_probe.sh [jvm flags...] -- <mainClass> [args...]" >&2; exit 2; }
# Heap mirrors build.sbt: half of MemTotal, clamped to 2g..20g (20g where
# /proc/meminfo is absent); SPARK_DRIVER_MEM overrides it.
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152); print (g < 2 ? 2 : g > 20 ? 20 : g) "g"}' \
  /proc/meminfo 2>/dev/null)
# GC mirrors build.sbt: default ParallelGC, SPARK_GRAFT_GC overrides
# (comma-separated -XX: suffixes, e.g. SPARK_GRAFT_GC="+UseG1GC").
GC=()
if [[ -n "${SPARK_GRAFT_GC:-}" ]]; then
  IFS=',' read -ra GCOPTS <<< "$SPARK_GRAFT_GC"
  for o in "${GCOPTS[@]}"; do GC+=("-XX:$o"); done
else
  GC=("-XX:+UseParallelGC" "-XX:ParallelGCThreads=8")
fi
exec java -Xmx${SPARK_DRIVER_MEM:-${HEAP:-20g}} ${GC[@]+"${GC[@]}"} $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${EXTRA[@]+"${EXTRA[@]}"} -cp "$CP" "$@"
