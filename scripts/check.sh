#!/bin/bash
# Build, run Verify on a scale factor, and compare against the DuckDB oracle.
# Usage: scripts/check.sh [sfDir] [outDir]
set -e
cd "$(dirname "${BASH_SOURCE[0]}")/.."
SF_DIR=${1:-/root/testdata/sf0.001}
OUT_DIR=${2:-/tmp/verify_out}
# logs of this run only: another checkout may run this script at the same time
LOGS=$(mktemp -d -t graft-check.XXXXXX)
echo "logs: $LOGS" >&2
sbt -batch package > "$LOGS/sbt_package.log" 2>&1 || { tail -30 "$LOGS/sbt_package.log"; exit 1; }
JAR=$(ls target/scala-2.13/*.jar | head -1)
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT_DIR"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$JAR:/opt/spark/jars/*" graft.Verify "$SF_DIR" "$OUT_DIR" 2>"$LOGS/verify_err.log" \
  || { tail -30 "$LOGS/verify_err.log"; exit 1; }
grep -E "^\[verify\]" "$LOGS/verify_err.log" || true
python3 scripts/compare.py "$SF_DIR" "$OUT_DIR" --strict-types
