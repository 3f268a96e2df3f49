#!/bin/bash
# Dev helper: run a graft main with the driver's JVM flags, no sbt.
# Usage: tools/run_bench.sh <mainClass> [args...]   (env vars pass through)
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
exec java -Xmx16g -cp "$CP" \
  $(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
             java.util java.util.concurrent java.util.concurrent.atomic; do \
      echo --add-opens=java.base/$p=ALL-UNNAMED; done) \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  "$@"
