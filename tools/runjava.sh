#!/bin/bash
# Run any graft main without sbt (frees the shared sbt target lock).
# Replicates build.sbt's forked-run JVM flags; requires a prior
# `sbt compile` (reads target/scala-2.13/classes).
#
# Usage: [SPARK_GRAFT_* envs] tools/runjava.sh graft.Verify <args...>
set -eo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
CLASS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# a local-cluster master launches its executors through SPARK_HOME's
# launcher, which needs the jars' Scala version
export SPARK_HOME="${SPARK_HOME:-/opt/spark}"
export SPARK_SCALA_VERSION="${SPARK_SCALA_VERSION:-2.13}"
# default heap: half of host memory, clamped to 2-8 GB (as build.sbt)
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$HEAP" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$CLASS" "$@"
