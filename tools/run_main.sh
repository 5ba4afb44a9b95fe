#!/bin/bash
# Run a graft main directly on the sbt-exported classpath (bypasses the
# sbt launcher so probes can run while another sbt instance is busy).
# Usage: tools/run_main.sh <MainClass> [args...]
# Env: JVM_MEM (default 8g) plus the usual SPARK_GRAFT_* vars.
# The classpath comes from /tmp/cp.txt; write it first with
#   sbt --batch "export Runtime/fullClasspath" | tail -1 > /tmp/cp.txt
CP_FILE=/tmp/cp.txt
if [ ! -s "$CP_FILE" ]; then
  echo "run_main.sh: $CP_FILE is missing or empty; write it with:" >&2
  echo "  sbt --batch \"export Runtime/fullClasspath\" | tail -1 > $CP_FILE" >&2
  exit 1
fi
CP=$(cat "$CP_FILE")
MAIN=$1; shift
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
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx${JVM_MEM:-8g} \
  ${JVM_EXTRA:-} \
  -cp "$CP" "$MAIN" "$@"
