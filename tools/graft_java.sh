#!/bin/bash
# Run a graft main on the compiled classes, without sbt:
#   tools/graft_java.sh <main-class> [args...]
# Needs `sbt compile` first and SPARK_HOME pointing at the Spark install
# whose jars the build compiles against. The --add-opens flags are the
# ones Spark needs on JDK 17 outside spark-submit (as in build.sbt).
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
exec java -Xmx48g "${OPENS[@]}" -cp "$CP" "$@"
