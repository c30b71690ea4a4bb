#!/usr/bin/env bash
# Run a graft main class directly (no sbt lock contention).
# Usage: tools/run_main.sh <MainClass> [args...]
# Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM honored.
# The heap defaults to half of MemTotal, clamped to 2-8g (the rule the
# test suite's JVM is sized by).
set -euo pipefail
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
MAIN="$1"; shift
# the classes of the checkout this script lives in
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS ${SPARK_EXTRA_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"$HEAP" \
  -XX:ReservedCodeCacheSize=1g \
  -cp "$CP" "$MAIN" "$@"
