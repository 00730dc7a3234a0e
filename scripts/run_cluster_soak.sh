#!/bin/bash
# Stand up a single-box Spark STANDALONE cluster (1 master + 1 worker
# offering enough cores/memory for N executor JVMs) and run graft.ScaleSoak
# against it — the multi-executor validation path for SCALE.md's
# "on a real cluster local[32]'s spills become more partitions, not more
# bytes" claim. Each executor is its own JVM with its own heap and
# shuffle/spill accounting, so memory pressure and task placement behave
# like a real cluster's, unlike local[32]'s one shared heap.
#
# Usage: scripts/run_cluster_soak.sh [executors] [exec_cores] [exec_mem] [driver_xmx]
#   The soak's env rides through: GRAFT_SOAK_DOCS, GRAFT_SOAK_DIM and
#   GRAFT_SOAK_STAGES; this script sets GRAFT_SOAK_MASTER to the cluster.
# Cleans up master+worker on exit.
set -e
cd "$(dirname "${BASH_SOURCE[0]}")/.."
EXECUTORS=${1:-4}
EXEC_CORES=${2:-8}
EXEC_MEM=${3:-18g}
DRIVER_XMX=${4:-16g}

export SPARK_HOME=/opt/spark
export SPARK_MASTER_HOST=127.0.0.1
export SPARK_MASTER_PORT=7077
export SPARK_WORKER_CORES=$((EXECUTORS * EXEC_CORES))
export SPARK_WORKER_MEMORY=${SPARK_WORKER_MEMORY:-100g}
export SPARK_LOG_DIR=/tmp/spark-standalone-logs
export SPARK_WORKER_DIR=/tmp/spark-standalone-work
# SPARK_NO_DAEMONIZE must stay UNSET: spark-daemon.sh treats
# set-but-empty as "run in foreground", and start-master.sh then never
# returns (the round-7 smoke hang)
unset SPARK_NO_DAEMONIZE

"$SPARK_HOME/sbin/stop-worker.sh" >/dev/null 2>&1 || true
"$SPARK_HOME/sbin/stop-master.sh" >/dev/null 2>&1 || true
"$SPARK_HOME/sbin/start-master.sh"
"$SPARK_HOME/sbin/start-worker.sh" "spark://127.0.0.1:7077"
trap '"$SPARK_HOME/sbin/stop-worker.sh" >/dev/null 2>&1; "$SPARK_HOME/sbin/stop-master.sh" >/dev/null 2>&1' EXIT

# wait until the worker has registered (master log line), max 30 s
for i in $(seq 30); do
  grep -q "Registering worker" "$SPARK_LOG_DIR"/*master*.out 2>/dev/null && break
  sleep 1
done

JAR=$(ls "$PWD"/target/scala-2.13/*.jar | head -1)
# spark.jars ships the application jar to executors; executor sizing
# caps total parallelism at executors × cores so the comparison against
# local[32] holds the core count fixed while splitting the heap.
SOAK_JAVA_OPTS="-Dspark.jars=file://$JAR \
 -Dspark.executor.cores=$EXEC_CORES \
 -Dspark.executor.memory=$EXEC_MEM \
 -Dspark.cores.max=$((EXECUTORS * EXEC_CORES))" \
GRAFT_SOAK_MASTER="spark://127.0.0.1:7077" \
SPARK_GRAFT_CPUS=$((EXECUTORS * EXEC_CORES)) \
  scripts/run_soak.sh "$DRIVER_XMX"
