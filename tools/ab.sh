#!/bin/bash
# Paired interleaved A/B of graft.Bench between two pre-built checkouts
# (A = baseline, B = candidate): one bench invocation per side per pair,
# alternating A/B on one machine, so slow environment drift cancels out
# of each pair's delta (SCALING.md). Build both sides first (sbt compile
# in each) so no pair times compilation.
#
# Usage: tools/ab.sh <dirA> <dirB> <queries> <pairs> <sfDir> <tag> [outjson]
#   queries  comma-separated Bench entries (SPARK_GRAFT_ONLY), or `all`
#            for the full headline set
#   outjson  when given, tools/ab_analyze.py writes the paired summary
#            there (relative to the repo root)
# CPUS_A / CPUS_B set each side's core count (default: every processor),
# so identical binaries on both sides answer a CONFIG A/B; RUNS sets the
# samples per query (default 5).
#
# Each invocation's JSON line and BENCH_DETAIL.json land in
# $TMPDIR/ab_<tag>/; an invocation that printed no JSON line stops the
# run instead of shortening one side.
set -uo pipefail
[ $# -ge 6 ] || { sed -n '8,15p' "$0"; exit 2; }
DIRA=$1; DIRB=$2; Q=$3; PAIRS=$4; SF=$5; TAG=$6
OUT=${7:-}
CPUS_A=${CPUS_A:-$(nproc)}
CPUS_B=${CPUS_B:-$(nproc)}
RUNS=${RUNS:-5}
REPO=$(cd "$(dirname "$0")/.." && pwd)
WORK=${TMPDIR:-/tmp}/ab_$TAG
ONLY=(env SPARK_GRAFT_ONLY="$Q")
[ "$Q" = all ] && ONLY=(env -u SPARK_GRAFT_ONLY)

# warm the page cache so pair 1 side A doesn't eat the cold read
find "$SF" -type f -exec cat {} + >/dev/null 2>&1 || true

rm -rf "$WORK"; mkdir -p "$WORK"
for i in $(seq 1 "$PAIRS"); do
  for side in a b; do
    d=$DIRA; cpus=$CPUS_A; [ "$side" = b ] && { d=$DIRB; cpus=$CPUS_B; }
    one="$WORK/${side}_$i.jsonl"
    echo "[ab] pair $i side $side $(date +%H:%M:%S)"
    (cd "$d" && "${ONLY[@]}" SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$cpus" \
       SPARK_GRAFT_RUNS="$RUNS" sbt -batch "runMain graft.Bench" 2>/dev/null \
       | grep '"metric"' >"$one")
    [ -s "$one" ] || { echo "[ab] no bench line: side $side pair $i"; exit 1; }
    cat "$one" >>"$WORK/$side.jsonl"
    cp "$d/BENCH_DETAIL.json" "$WORK/detail_${side}_$i.json" 2>/dev/null || true
  done
done
if [ -n "$OUT" ]; then
  python3 "$REPO/tools/ab_analyze.py" "$WORK/a.jsonl" "$WORK/b.jsonl" "$REPO/$OUT" \
    "interleaved A/B ($Q) on $SF, one invocation per side per pair: A=$DIRA B=$DIRB"
fi
echo "[ab] done: $WORK/{a,b}.jsonl"
