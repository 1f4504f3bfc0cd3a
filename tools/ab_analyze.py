#!/usr/bin/env python3
"""Analyze an interleaved A/B bench experiment (tools/ab.sh).

Reads /tmp/ab_ra.jsonl (r12 HEAD) and /tmp/ab_rb.jsonl (r13 HEAD):
one bench JSON line per run, interleaved A/B/A/B in one session.
Emits AB_DRIFT_r14.json with paired per-run totals, per-query paired
medians, and the verdict: 'drift' if the paired delta is within the
paired noise envelope, else 'regression' with the offending queries.
"""
import json
import statistics
import sys


def med(v):
    return statistics.median(v)


def load(path):
    rows = []
    with open(path) as f:
        for line in f:
            if line.startswith("{"):
                rows.append(json.loads(line))
    return rows


def main():
    # argv: [fileA fileB outFile "design note"] — defaults preserve the
    # r14 drift experiment's invocation
    fa = sys.argv[1] if len(sys.argv) > 1 else "/tmp/ab_ra.jsonl"
    fb = sys.argv[2] if len(sys.argv) > 2 else "/tmp/ab_rb.jsonl"
    out_path = sys.argv[3] if len(sys.argv) > 3 else "AB_DRIFT_r14.json"
    design = sys.argv[4] if len(sys.argv) > 4 else (
        "interleaved A/B/A/B, one session, warm cache, "
        "r12 HEAD (86aebbb) vs r13 HEAD (72cd8f6)")
    ra = load(fa)
    rb = load(fb)
    n = min(len(ra), len(rb))
    if n == 0:
        sys.exit("no A/B runs found")
    ra, rb = ra[:n], rb[:n]

    tot_a = [r["value"] for r in ra]
    tot_b = [r["value"] for r in rb]
    # paired per-run delta: positive = r13 slower
    d_tot = [b - a for a, b in zip(tot_a, tot_b)]
    rel = med(d_tot) / med(tot_a)

    # per-query paired medians over the headline set both heads share
    qs = sorted(set(ra[0]["queries"]) & set(rb[0]["queries"]))
    per_q = {}
    for q in qs:
        va = [r["queries"][q] for r in ra]
        vb = [r["queries"][q] for r in rb]
        if any(x < 0 for x in va + vb):
            continue
        dq = [b - a for a, b in zip(va, vb)]
        # paired noise: MAD of the per-pair deltas (cancels slow drift)
        m = med(dq)
        noise = med([abs(x - m) for x in dq])
        # r16 guard: at n=3 pairs the delta MAD is DEGENERATE - it is
        # the middle absolute deviation, which is ~0 whenever any two
        # deltas happen to land close, manufacturing "significance" at
        # 50x noise (the r15 join_inner_hash +0.545s/MAD 0.01 row: the
        # real deltas were 0.535/1.147/0.545 on a box whose samples
        # ranged 3.3-15s; 6-pair single-query AND in-context reruns
        # show parity, AB_JOIN16_*.json). Significance needs >=5 pairs.
        per_q[q] = {
            "a_median": round(med(va), 3),
            "b_median": round(med(vb), 3),
            "paired_delta_median": round(m, 3),
            "paired_delta_mad": round(noise, 3),
            "significant": n >= 5 and abs(m) > max(3 * noise, 0.02),
            "pairs": n,
        }

    sig_slow = {q: v for q, v in per_q.items()
                if v["significant"] and v["paired_delta_median"] > 0}
    sig_fast = {q: v for q, v in per_q.items()
                if v["significant"] and v["paired_delta_median"] < 0}
    # "environment_confirmed": the paired protocol found no broad
    # one-sided regression - the cross-round total delta was the box,
    # not the code (r15 relabel: "drift_confirmed" said the same thing
    # less self-describingly).
    verdict = ("regression" if abs(rel) > 0.03 and len(sig_slow) > 2
               else "environment_confirmed")

    # every significant slower row must be EXPLAINED in SCALING.md -
    # emitted as its own list so a row can't be narrative-skipped
    # (r15 VERDICT item 7: the join_inner_hash omission); SCALING.md
    # must quote this list verbatim and dispose of each entry.
    unexplained = sorted(sig_slow)
    out = {
        "design": design,
        "significant_rows_not_yet_explained": unexplained,
        "pairs": n,
        "totals_a": [round(x, 3) for x in tot_a],
        "totals_b": [round(x, 3) for x in tot_b],
        "paired_total_delta": [round(x, 3) for x in d_tot],
        "total_a_median": round(med(tot_a), 3),
        "total_b_median": round(med(tot_b), 3),
        "relative_delta": round(rel, 4),
        "verdict": verdict,
        "significant_slower_queries": sig_slow,
        "significant_faster_queries": sig_fast,
        "per_query": per_q,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"pairs={n} A={med(tot_a):.2f}s B={med(tot_b):.2f}s "
          f"rel={rel:+.1%} verdict={verdict}")
    print(f"significant rows not yet explained: {unexplained}")
    for q, v in sorted(sig_slow.items()):
        print(f"  SLOWER {q}: {v['a_median']} -> {v['b_median']}")
    for q, v in sorted(sig_fast.items()):
        print(f"  FASTER {q}: {v['a_median']} -> {v['b_median']}")


if __name__ == "__main__":
    main()
