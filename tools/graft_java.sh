#!/bin/bash
# Run a graft main on the compiled classes, without sbt:
#   tools/graft_java.sh <main-class> [args...]
# Needs `sbt compile` first and SPARK_HOME pointing at the Spark install
# whose jars the build compiles against. The --add-opens flags are the
# ones Spark needs on JDK 17 outside spark-submit (as in build.sbt).
# Heap: SPARK_DRIVER_MEM (as build.sbt reads it), else half of the
# machine's memory clamped to 2-8g.
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls "${SPARK_HOME:?set SPARK_HOME to the Spark install}"/jars/*.jar | tr '\n' ':')"
OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    jdk.internal.ref sun.nio.ch sun.nio.cs sun.security.action \
    sun.util.calendar; do
  OPENS+=("--add-opens=java.base/$p=ALL-UNNAMED")
done
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
exec java "-Xmx$MEM" "${OPENS[@]}" -cp "$CP" "$@"
