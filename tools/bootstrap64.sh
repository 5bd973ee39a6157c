#!/bin/bash
# r10: bootstrap-to-streaming rehearsal at 64x (VERDICT #6) — the
# documented 100 TB recipe composed end-to-end on the two-executor
# fabric, with a live executor SIGKILL mid-stream:
#   bulkLoad chunks -> compactSegments (bucketed) -> StreamingDedup
#   over a file source (tiered auto-compaction firing) -> kill ->
#   resume -> pairs == bulk, probes still pruned.
# Usage: tools/bootstrap64.sh [baseDir]   (corpus: /tmp/graft64x)
set -eo pipefail
BASE="${1:-/tmp/graft-bootstrap64}"
rm -rf "$BASE"; mkdir -p "$BASE/ckpt-reliable"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"

run() {
  SPARK_GRAFT_MASTER='local-cluster[2,16,36864]' \
  SPARK_GRAFT_EXEC_MEM=36g \
  SPARK_GRAFT_EXEC_CP="$ROOT/target/scala-2.13/classes" \
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  SPARK_GRAFT_SF_DIR=/tmp/graft64x \
  SPARK_GRAFT_SHUFFLE=64 \
  SPARK_GRAFT_CONF="graft.dedup.autoCompactSegments=6" \
  tools/runjava.sh graft.BootstrapProbe "$@" 2>/dev/null
}

echo "=== phase bulk ==="
run bulk "$BASE"
echo "=== phase stream1 (auto-compaction exercises) ==="
run stream1 "$BASE"
echo "=== phase stream2 (executor killed mid-drain) ==="
( run stream2 "$BASE" || true ) &
DRIVER=$!
# let the stream get into a batch, then SIGKILL one executor JVM
sleep 75
EXEC_PID=$(pgrep -f CoarseGrainedExecutorBackend | head -1 || true)
if [ -n "$EXEC_PID" ]; then
  echo "killing executor pid $EXEC_PID"
  kill -9 "$EXEC_PID"
else
  echo "WARN: no executor found to kill (stream2 may have finished)"
fi
wait $DRIVER || true
echo "=== phase resume ==="
run resume "$BASE"
echo "=== phase probecheck ==="
run probecheck "$BASE"
