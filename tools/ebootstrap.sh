#!/bin/bash
# r11: EMBEDDING bootstrap-to-streaming rehearsal (verdict #6) — the
# vector twin of tools/bootstrap64.sh, composed end-to-end on the
# two-executor fabric with a live executor SIGKILL mid-stream:
#   bulkLoad chunks (small geometry) -> compactSegments (bucketed) ->
#   reband to the corpus-sized geometry -> StreamingEmbeddingDedup
#   over a file source (tiered auto-compaction firing) -> kill ->
#   resume -> streamed verdicts == bulk nearDupPairsLsh at the
#   post-reband geometry, probes still pruned.
# Usage: tools/ebootstrap.sh [baseDir] [corpusDir]
set -eo pipefail
BASE="${1:-/tmp/graft-ebootstrap}"
CORPUS="${2:-/tmp/graft64x}"
rm -rf "$BASE"; mkdir -p "$BASE"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"

run() {
  SPARK_GRAFT_MASTER='local-cluster[2,16,36864]' \
  SPARK_GRAFT_EXEC_MEM=36g \
  SPARK_GRAFT_EXEC_CP="$ROOT/target/scala-2.13/classes" \
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  SPARK_GRAFT_SF_DIR="$CORPUS" \
  SPARK_GRAFT_SHUFFLE=64 \
  SPARK_GRAFT_CONF="graft.dedup.autoCompactSegments=6" \
  tools/runjava.sh graft.EBootstrapProbe "$@" 2>/dev/null
}

echo "=== phase bulk (small creation geometry) ==="
run bulk "$BASE"
echo "=== phase reband (corpus-sized geometry, in place) ==="
run reband "$BASE"
echo "=== phase stream1 (auto-compaction exercises) ==="
run stream1 "$BASE"
echo "=== phase stream2 (executor killed mid-drain) ==="
( run stream2 "$BASE" || true ) &
DRIVER=$!
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
