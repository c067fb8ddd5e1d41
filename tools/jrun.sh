#!/bin/bash
# Run a graft tool class directly with the sbt-equivalent JVM flags.
CLS="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
REPO="$(cd "$(dirname "$0")/.." && pwd)"
exec java $ADD_OPENS -Xmx8g \
  -cp "$REPO/target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars/*" "$CLS" "$@"
