#!/usr/bin/env bash
# Run a graft main class without sbt (sbt holds a global lock; data gen and
# bench runs can overlap compiles this way). Mirrors build.sbt javaOptions.
# Runs the classes `sbt compile` left in the checkout this script sits in,
# against $SPARK_HOME/jars, else the jar directory build.sbt names.
set -euo pipefail
MAIN="$1"; shift
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
if [[ -n "${SPARK_HOME:-}" && -d "$SPARK_HOME/jars" ]]; then
  JARS="$SPARK_HOME/jars"
else
  JARS="$(sed -n 's/^unmanagedBase *:= *file("\([^"]*\)").*/\1/p' "$ROOT/build.sbt")"
fi
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  -XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64 \
  ${GRAFT_JAVA_OPTS:-} \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" \
  "$MAIN" "$@"
