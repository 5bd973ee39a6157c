#!/bin/bash
# r10: live-kill chaos for the EMBEDDING dedup stream on the
# two-executor fabric (EmbedChaosProbe — the StreamChaosProbe shape
# for StreamingEmbeddingDedup). Usage: tools/echaos.sh [baseDir]
set -eo pipefail
BASE="${1:-/tmp/graft-echaos}"
rm -rf "$BASE"; mkdir -p "$BASE"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"

run() {
  SPARK_GRAFT_MASTER='local-cluster[2,16,36864]' \
  SPARK_GRAFT_EXEC_MEM=36g \
  SPARK_GRAFT_EXEC_CP="$ROOT/target/scala-2.13/classes" \
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  SPARK_GRAFT_SF_DIR=/tmp/graft64x \
  SPARK_GRAFT_SHUFFLE=64 \
  tools/runjava.sh graft.EmbedChaosProbe "$@" 2>/dev/null
}

echo "=== phase feed1 ==="
run feed1 "$BASE"
echo "=== phase feed2 (executor killed mid-drain) ==="
( run feed2 "$BASE" || true ) &
DRIVER=$!
sleep 60
EXEC_PID=$(pgrep -f CoarseGrainedExecutorBackend | head -1 || true)
if [ -n "$EXEC_PID" ]; then
  echo "killing executor pid $EXEC_PID"
  kill -9 "$EXEC_PID"
else
  echo "WARN: no executor found to kill (feed2 may have finished)"
fi
wait $DRIVER || true
echo "=== phase resume ==="
run resume "$BASE"
