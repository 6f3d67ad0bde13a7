#!/bin/bash
# Run a graft main directly on the compiled classes (no sbt lock):
# dev/run_main.sh <MainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 8g); session confs come from graft.Session
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
MAIN="$1"; shift
exec java $OPENS "-Xmx${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$MAIN" "$@"
