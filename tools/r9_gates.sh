#!/bin/bash
# r9: full 159-key Verify gate on the local-cluster fabric under each
# durable checkpoint mode (VERDICT #3). Usage: tools/r9_gates.sh <mode>
# mode = reliable | replicated
set -eo pipefail
MODE="$1"
OUT=/tmp/verify_${MODE}
CKPT=/tmp/graft-ckpt-${MODE}
rm -rf "$OUT" "$CKPT"; mkdir -p "$CKPT"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
SPARK_GRAFT_MASTER='local-cluster[2,16,36864]' \
SPARK_GRAFT_EXEC_MEM=36g \
SPARK_GRAFT_EXEC_CP="$ROOT/target/scala-2.13/classes" \
SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
SPARK_GRAFT_CONF="graft.checkpoint.mode=${MODE};spark.checkpoint.dir=${CKPT}" \
tools/runjava.sh graft.Verify /root/testdata/sf0.01 "$OUT" 2>/dev/null
python3 tools/check.py --strict /root/testdata/sf0.01 "$OUT"
