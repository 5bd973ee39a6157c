#!/bin/bash
# Scale-probe runner: times a query subset at 1x (sf0.1), 8x and 64x
# perturbed-replica corpora (tools/make8x.py). Driver-side tooling.
#
# Usage: tools/probe.sh "q1,q2,..." [tag]
# Writes bench_last.json copies to /tmp/probe_<tag>_{1x,8x,64x}.json
set -eo pipefail
QUERIES="$1"
TAG="${2:-probe}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
for scale in 1x 8x 64x; do
  case $scale in
    1x) DIR=/root/testdata/sf0.1;;
    8x) DIR=/tmp/graft8x;;
    64x) DIR=/tmp/graft64x;;
  esac
  echo "=== $scale ($DIR) ==="
  SPARK_GRAFT_SF_DIR=$DIR SPARK_GRAFT_ONLY="$QUERIES" \
    sbt -batch "runMain graft.Bench" 2>&1 | tail -3
  cp bench_last.json /tmp/probe_${TAG}_${scale}.json
done
python3 - "$TAG" <<'EOF'
import json, sys
tag = sys.argv[1]
runs = {s: json.load(open(f"/tmp/probe_{tag}_{s}.json"))["queries"]
        for s in ("1x", "8x", "64x")}
print(f"{'query':<22}{'1x':>8}{'8x':>8}{'64x':>9}{'8/1':>7}{'64/8':>7}")
for q in sorted(runs["1x"]):
    a, b, c = runs["1x"][q], runs["8x"][q], runs["64x"][q]
    r1 = b / a if a > 0 else float("nan")
    r2 = c / b if b > 0 else float("nan")
    print(f"{q:<22}{a:>8.2f}{b:>8.2f}{c:>9.2f}{r1:>7.1f}{r2:>7.1f}")
EOF
