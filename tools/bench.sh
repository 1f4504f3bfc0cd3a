#!/bin/bash
# Tier bench runner: graft.Bench once per tier, headline + detail kept
# as BENCH_<tag>_<tier>.json / BENCH_<tag>_<tier>_detail.json in the
# repo root (<tier> = the sfDir's basename, e.g. sf0.1).
#
# Usage: tools/bench.sh <tag> <sfDir>...
#   SPARK_GRAFT_RUNS  samples per query (default 5; below 5 is refused —
#                     a tier median needs at least 5 samples)
#   SPARK_GRAFT_CPUS  cores (default: every processor)
#
# Stops at the first tier whose run fails or leaves either file empty,
# stale or unparseable, so a failed run never commits an artifact.
set -uo pipefail
[ $# -ge 2 ] || { sed -n '6,9p' "$0"; exit 2; }
TAG=$1; shift
export SPARK_GRAFT_RUNS=${SPARK_GRAFT_RUNS:-5}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
if [ "$SPARK_GRAFT_RUNS" -lt 5 ]; then
  echo "[bench] SPARK_GRAFT_RUNS=$SPARK_GRAFT_RUNS: need at least 5 samples" >&2
  exit 2
fi
REPO=$(cd "$(dirname "$0")/.." && pwd)
cd "$REPO"
LOGDIR=${TMPDIR:-/tmp}/bench_$TAG
mkdir -p "$LOGDIR"

check_json() {  # file must be non-empty, written by this run, and parse
  [ -s "$1" ] && [ "$1" -nt "$2" ] || { echo "[bench] FAIL $1 empty or stale" >&2; exit 1; }
  python3 -c 'import json, sys; assert json.load(open(sys.argv[1]))' "$1" \
    || { echo "[bench] FAIL $1 does not parse" >&2; exit 1; }
}

for sf in "$@"; do
  tier=$(basename "$sf")
  echo "[bench] $TAG $tier $(date +%H:%M:%S)"
  # warm the page cache so the first query doesn't eat the cold read
  find "$sf" -type f -exec cat {} + >/dev/null 2>&1 || true
  stamp="$LOGDIR/$tier.start"; touch "$stamp"; sleep 1
  SPARK_GRAFT_SF_DIR="$sf" sbt -batch "runMain graft.Bench" >"$LOGDIR/$tier.log" 2>&1 \
    || { echo "[bench] FAIL Bench at $tier (log: $LOGDIR/$tier.log)" >&2; exit 1; }
  check_json BENCH_HEADLINE.json "$stamp"
  check_json BENCH_DETAIL.json "$stamp"
  cp BENCH_HEADLINE.json "BENCH_${TAG}_${tier}.json"
  cp BENCH_DETAIL.json "BENCH_${TAG}_${tier}_detail.json"
  echo "[bench] OK BENCH_${TAG}_${tier}.json"
done
