#!/bin/bash
# Paired A/B of the end-to-end benchmark (perfbench/run.py) between two
# checkouts: A = baseline, B = candidate. One untraced run per side per
# seed, the side that goes first alternating from pair to pair, so slow
# drift of the machine cancels out of each pair's delta.
#
# Usage: tools/perf_ab.sh <dirA> <dirB> <workload> <seed> <seed> ...
#   at least 10 seeds; the run length is BENCHMARK.json's run_seconds
#
# Stops on any run that is not `correct` (after keeping its detail
# line), and keeps the detail line of every run whose `failed` is
# above 0 in <work>/failed.jsonl, so a failed op is never lost to the
# medians. Prints, per end-to-end metric: each side's median and
# quartiles, B/A of the medians, the pairs B won (ties count for
# neither side), and a verdict:
#   gain        B won at least 9/10 of the pairs and the medians differ
#               by more than A's interquartile range;
#   worse       B's median is worse than A's by more than the metric's
#               BENCHMARK.json bound (a fraction of A's median);
#   unresolved  neither.
# Output lands in ${TMPDIR:-/tmp}/perf_ab_<workload>/.
set -uo pipefail
[ $# -ge 4 ] || { sed -n '7,8p' "$0"; exit 2; }
DIRA=$(cd "$1" && pwd); DIRB=$(cd "$2" && pwd); WL=$3; shift 3
SEEDS=("$@")
[ ${#SEEDS[@]} -ge 10 ] || { echo "[perf_ab] need at least 10 seeds, got ${#SEEDS[@]}"; exit 2; }
REPO=$(cd "$(dirname "$0")/.." && pwd)
SECS=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$DIRA/BENCHMARK.json")
WORK=${TMPDIR:-/tmp}/perf_ab_$WL
rm -rf "$WORK"; mkdir -p "$WORK"

# build both sides before the first timed run
for d in "$DIRA" "$DIRB"; do
  (cd "$d" && python3 perfbench/build.py >/dev/null) || { echo "[perf_ab] build failed in $d"; exit 1; }
done

i=0
for seed in "${SEEDS[@]}"; do
  order=(a b); [ $((i % 2)) -eq 1 ] && order=(b a)
  for side in "${order[@]}"; do
    d=$DIRA; [ "$side" = b ] && d=$DIRB
    out="$WORK/${side}_$seed.out"
    echo "[perf_ab] seed $seed side $side $(date +%H:%M:%S)"
    (cd "$d" && python3 perfbench/run.py --workload "$WL" --seed "$seed" \
       --seconds "$SECS" --trace 0 >"$out" 2>"$WORK/${side}_$seed.err")
    python3 - "$out" "$side" "$seed" "$WORK" <<'EOF' || exit 1
import json, sys
out, side, seed, work = sys.argv[1:]
lines = [l for l in open(out).read().splitlines() if l.strip()]
if len(lines) < 2:
    sys.exit(f"[perf_ab] side {side} seed {seed}: no result line (see {out[:-4]}.err)")
detail, res = json.loads(lines[-2]), json.loads(lines[-1])
if res.get("failed", 0) > 0:
    with open(f"{work}/failed.jsonl", "a") as f:
        f.write(json.dumps({"side": side, "seed": int(seed), **detail}) + "\n")
with open(f"{work}/{side}.jsonl", "a") as f:
    f.write(json.dumps({"seed": int(seed), "correct": res["correct"], "failed": res["failed"],
                        "attempted": res["attempted"],
                        **{k: v["value"] for k, v in res["metrics"].items()}}) + "\n")
if not res["correct"]:
    sys.exit(f"[perf_ab] side {side} seed {seed} not correct "
             f"({res['failed']}/{res['attempted']} failed); detail in {work}/failed.jsonl")
EOF
  done
  i=$((i + 1))
done

python3 - "$WORK" "$DIRA/BENCHMARK.json" <<'EOF'
import json, statistics, sys
work, bench = sys.argv[1:]
spec = {m["name"]: m for m in json.load(open(bench))["end_to_end"]}
rows = {s: {r["seed"]: r for r in map(json.loads, open(f"{work}/{s}.jsonl"))} for s in "ab"}
seeds = sorted(rows["a"])
def q(xs, p):
    xs = sorted(xs); k = (len(xs) - 1) * p; lo = int(k)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (k - lo)
def verdict(way, bound, a, b, won):
    ma, mb = statistics.median(a), statistics.median(b)
    if 10 * won >= 9 * len(a) and abs(mb - ma) > q(a, 0.75) - q(a, 0.25):
        return "gain"
    if (mb > ma * (1 + bound)) if way == "lower" else (mb < ma * (1 - bound)):
        return "worse"
    return "unresolved"
summary = {"pairs": len(seeds), "seeds": seeds, "metrics": {}}
print(f"{'metric':<12} {'A q1':>9} {'A median':>9} {'A q3':>9} {'B q1':>9} {'B median':>9} "
      f"{'B q3':>9} {'B/A':>7} {'B won':>6} {'verdict':>10}")
for m, sp in spec.items():
    way = sp["better"]
    a = [rows["a"][s][m] for s in seeds if m in rows["a"][s]]
    b = [rows["b"][s][m] for s in seeds if m in rows["b"][s]]
    if len(a) != len(seeds) or len(b) != len(seeds):
        continue
    won = sum((y < x) if way == "lower" else (y > x) for x, y in zip(a, b))
    ma, mb = statistics.median(a), statistics.median(b)
    v = verdict(way, sp["bound"], a, b, won)
    summary["metrics"][m] = {"a_median": ma, "b_median": mb, "b_over_a": mb / ma,
                             "a_q1": q(a, 0.25), "a_q3": q(a, 0.75),
                             "b_q1": q(b, 0.25), "b_q3": q(b, 0.75),
                             "a_iqr": q(a, 0.75) - q(a, 0.25), "b_won": won,
                             "bound": sp["bound"], "verdict": v, "a": a, "b": b}
    print(f"{m:<12} {q(a, 0.25):>9.4g} {ma:>9.4g} {q(a, 0.75):>9.4g} {q(b, 0.25):>9.4g} "
          f"{mb:>9.4g} {q(b, 0.75):>9.4g} {mb / ma:>7.3f} {won:>3}/{len(seeds):<2} {v:>10}")
json.dump(summary, open(f"{work}/summary.json", "w"), indent=1)
print(f"[perf_ab] done: {work}/summary.json")
EOF
