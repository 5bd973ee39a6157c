#!/bin/bash
# r10: the arrival-cost ladder as a recorded, rerunnable artifact
# (VERDICT #3) — DedupIndex per-batch cost vs store size, pruned
# probes vs the full-scan control. Rungs:
#   small/grown : self-contained ladder on /tmp/graft8x (20k -> 60k)
#   big         : persistent 2.54M-doc store bulk-loaded once from
#                 /tmp/graft512x (the bootstrap recipe), probed with
#                 batches from a held-out replica
# Usage: tools/arrival.sh [outFile]   (default tools/arrival_r10.txt)
set -eo pipefail
OUT="${1:-tools/arrival_r10.txt}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
STORE=/tmp/graft-arrival-store
{
  echo "# arrival-cost ladder, $(date -u +%FT%TZ)"
  echo "## small/grown (graft8x, self-contained), pruned"
  SPARK_GRAFT_SF_DIR=/tmp/graft8x SPARK_GRAFT_PROBE=arrival \
    tools/runjava.sh graft.PerfProbe 2>/dev/null | grep ^arrival
  echo "## small/grown (graft8x, self-contained), NOPRUNE control"
  SPARK_GRAFT_SF_DIR=/tmp/graft8x SPARK_GRAFT_PROBE=arrival \
    SPARK_GRAFT_NOPRUNE=1 \
    tools/runjava.sh graft.PerfProbe 2>/dev/null | grep ^arrival
  echo "## big store (graft512x -> 2.54M docs; bulkLoad+compact once)"
  echo "## pruned (donor replica 510)"
  SPARK_GRAFT_SF_DIR=/tmp/graft512x SPARK_GRAFT_PROBE=arrival \
    SPARK_GRAFT_STORE=$STORE SPARK_GRAFT_DONOR=510 \
    tools/runjava.sh graft.PerfProbe 2>/dev/null | grep ^arrival
  echo "## NOPRUNE control (donor replica 511)"
  SPARK_GRAFT_SF_DIR=/tmp/graft512x SPARK_GRAFT_PROBE=arrival \
    SPARK_GRAFT_STORE=$STORE SPARK_GRAFT_DONOR=511 \
    SPARK_GRAFT_NOPRUNE=1 \
    tools/runjava.sh graft.PerfProbe 2>/dev/null | grep ^arrival
} | tee "$OUT"
