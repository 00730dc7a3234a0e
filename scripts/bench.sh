#!/bin/bash
# Run the full Bench main against a scale factor.
# Usage: scripts/bench.sh [sfDir] [outJson]
set -e
cd "$(dirname "${BASH_SOURCE[0]}")/.."
SF_DIR=${1:-/root/testdata/sf0.1}
OUT=${2:-/tmp/BENCH_run.json}
# the package log of this run only: another checkout may run this script at the same time
LOGS=$(mktemp -d -t graft-bench.XXXXXX)
sbt -batch package > "$LOGS/sbt_package.log" 2>&1 || { tail -30 "$LOGS/sbt_package.log"; exit 1; }
JAR=$(ls target/scala-2.13/*.jar | head -1)
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
# unless set, the machine's cores and half its memory (2g to 8g), as the
# test command in ROADMAP.md sets these variables for build.sbt
CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_SF_DIR="$SF_DIR" \
SPARK_GRAFT_BENCH_OUT="$OUT" \
java $ADD_OPENS -Xmx$HEAP \
  -cp "$JAR:/opt/spark/jars/*" graft.Bench
