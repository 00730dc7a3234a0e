#!/bin/bash
# Launch the soak, graft.ScaleSoak, against the packaged jar with the
# JDK17 --add-opens set Spark needs. Usage:
#   scripts/run_soak.sh [xmx]
# The soak reads GRAFT_SOAK_DOCS, GRAFT_SOAK_DIM, GRAFT_SOAK_STAGES and
# GRAFT_SOAK_MASTER (see ScaleSoak's scaladoc); they ride through.
set -e
cd "$(dirname "${BASH_SOURCE[0]}")/.."
MAIN=graft.ScaleSoak
XMX=${1:-90g}
# SOAK_JAR pins an explicit jar snapshot for long multi-stage runs:
# `sbt package` rewrites target/*.jar in place, and replacing a jar a
# running JVM lazily loads classes from corrupts that run — so multi-hour
# campaigns should `cp` the jar somewhere stable and pass SOAK_JAR.
# The default stays the fresh build (never an implicit stale snapshot).
JAR=${SOAK_JAR:-$(ls target/scala-2.13/*.jar | head -1)}
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD_OPENS -Xmx"$XMX" -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC ${SOAK_JAVA_OPTS:-} \
  -cp "$JAR:/opt/spark/jars/*" "$MAIN"
