#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query} --seed N \
        --seconds S --trace {0,1}

Builds the program from source on first use (perfbench/build.py),
generates the workload's inputs from the seed, computes the DuckDB
ground truth, runs one benchmark JVM (perfbench.Harness) and checks
its outputs. The last stdout line is the result object; the line
before it carries the detail (tail percentiles and sample counts,
failures, resolved SQL conf, per-span times when traced).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

HARD_LIMIT_S = 170.0


def parse_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fault", default="",
                   help="op whose output is corrupted (tests the failure count)")
    return p.parse_args(argv)


def end_to_end(workload, res):
    """The user-visible metrics of one run, from its raw samples.

    op: a tick (ingest) or one query execution (query, complete passes
    only, so every run pools the same mix); pass: a backlog catch-up
    (ingest) or one full pass of the mix (query); items_per_s: dump
    changesets loaded per second (ingest) or queries per second in a
    median pass (query)."""
    smp = res["samples"]
    info = res["info"]
    ops = smp.get("op", [])
    passes = smp.get("pass", [])
    m = {"setup_s": res["setup_s"]}
    detail = {"peak_rss_mb": res["peak_rss_mb"]}
    if ops:
        m["op_p50_s"] = stats.median(ops)
        v, p, n = stats.tail(ops)
        m["op_tail_s"] = v
        detail["op_tail"] = {"percentile": p, "n": n}
    if passes:
        m["pass_s"] = stats.median(passes)
    if workload == "ingest" and smp.get("load"):
        m["items_per_s"] = info["load_rows"] / stats.median(smp["load"])
        detail["load_rows_per_s"] = m["items_per_s"]
        detail["catchup_diffs_per_s"] = info["backlog_diffs"] / m["pass_s"]
    elif workload == "query" and passes:
        m["items_per_s"] = len(info["mix"]) / m["pass_s"]
    detail["samples"] = {k: len(v) for k, v in smp.items()}
    detail["medians_s"] = {k: stats.median(v) for k, v in smp.items() if v}
    return m, detail


def oracle_check(res, duck, fault):
    """Compare every SparkEntry set-up result with its DuckDB digest; a
    mismatch fails the set-up op and every timed execution of it."""
    attempted = failed = 0
    verdicts = {}
    for name, run in sorted(res["oracle_runs"].items()):
        attempted += 1
        want = duck.get(name, {"error": duck.get("__error__", "no oracle digest")})
        if fault == f"oracle:{name}":
            want = dict(want, hash="0" * 64)
        got = oracle.spark_digest(run["dir"])
        ok = got == want
        verdicts[name] = "pass" if ok else f"FAIL spark={got} duckdb={want}"
        if not ok:
            failed += 1 + run["executions"]
    return attempted, failed, verdicts


def history_path(workload):
    return os.path.join(build.BUILD, "history", f"{workload}.jsonl")


def overhead(workload, traced):
    """Traced minus the median of this checkout's untraced runs."""
    path = history_path(workload)
    if not os.path.exists(path):
        return {}, "no untraced run of this workload recorded yet"
    rows = [json.loads(x) for x in open(path) if x.strip()]
    out = {}
    for k, v in traced.items():
        base = [r[k] for r in rows if k in r]
        if base:
            out[f"overhead.{k}"] = v - stats.median(base)
    return out, None


def main(argv):
    # SIGTERM unwinds like an exception, so children are stopped and the
    # work directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse_args(argv)
    classes, build_s = build.ensure_build(workloads.ORACLE_ENTRIES)
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(a, classes, build_s, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, classes, build_s, work):
    t0 = time.time()
    cfg = workloads.generate(a.workload, a.seed, work)
    prep = {"generate_s": time.time() - t0}
    oracle_proc = None
    duck_path = os.path.join(work, "duckdb.json")
    if cfg["entries"]:
        # DuckDB ground truth runs beside the JVM's set-up; the harness
        # waits for duckdb.json before its timed window opens
        with open(os.path.join(classes, "oracle_sql.json")) as f:
            sqls = json.load(f)
        with open(os.path.join(work, "oracle_sql.json"), "w") as f:
            json.dump({n: sqls[n] for n in cfg["entries"]}, f)
        oracle_proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "oracle.py"), cfg["data"],
             os.path.join(work, "oracle_sql.json"), duck_path])
        cfg["oracle_done"] = duck_path
    cores = len(os.sched_getaffinity(0))
    cfg.update({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": bool(a.trace), "work": work, "fault": a.fault, "cores": cores,
                # set-up is timed from process start; a build done by this
                # process is not set-up and is left out
                "start_ms": int((T_START + build_s) * 1000)})
    with open(os.path.join(work, "config.json"), "w") as f:
        json.dump(cfg, f)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    cmd = ["java", *build.jvm_options(os.path.join(work, "tmp")),
           "-cp", build.classpath(classes), "perfbench.Harness",
           os.path.join(work, "config.json")]
    budget = HARD_LIMIT_S - (time.time() - T_START - build_s)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        rc = "interrupted"
        t_jvm = time.time()
        try:
            rc = proc.wait(timeout=max(10.0, budget))
            prep["jvm_s"] = time.time() - t_jvm
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # a failed or interrupted run still stops every child it started
            for p in (proc, oracle_proc):
                if p is not None:
                    if rc != 0:
                        p.kill()
                    p.wait()
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-60:]))
        sys.stderr.write(f"benchmark JVM failed: {rc}\n")
        return 1
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    duck = {}
    if oracle_proc is not None:
        with open(duck_path) as f:
            duck = json.load(f)
    o_att, o_fail, verdicts = oracle_check(res, duck, a.fault)
    attempted = res["attempted"] + o_att
    failed = res["failed"] + o_fail
    e2e, detail = end_to_end(a.workload, res)
    detail.update({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "build_s": build_s, "prep": prep, "failures": res["failures"], "oracle": verdicts,
                   "fail_ratio": failed / max(1, attempted), "info": res["info"],
                   "loadavg": os.getloadavg(),
                   "sql_conf": res["sql_conf"]})
    if a.trace:
        layer = dict(res["per_layer"], **{"jvm.peak_rss_mb": res["peak_rss_mb"]})
        absent = dict(res["absent"])
        over, why = overhead(a.workload, e2e)
        layer.update(over)
        for name in workloads.PER_LAYER:
            if name not in layer:
                if name.startswith("overhead.") and why:
                    absent[name] = why
                elif name not in absent:
                    absent[name] = "not exercised by this workload"
                layer[name] = 0.0
        metrics = {n: {"value": layer[n], "unit": u} for n, u in workloads.PER_LAYER.items()}
        detail["absent"] = absent
        detail["end_to_end_traced"] = e2e
        detail["spans"] = res["spans"]
    else:
        missing = [n for n in workloads.END_TO_END if n not in e2e]
        if missing and failed == 0:
            sys.stderr.write(f"run produced no samples for {missing}; "
                             "raise --seconds\n")
            return 1
        # every op of a kind failed: its latency reads as the whole
        # window and its rate as one item per window
        for n in missing:
            e2e[n] = 1.0 / a.seconds if n == "items_per_s" else a.seconds
            detail.setdefault("no_successful_ops", []).append(n)
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in workloads.END_TO_END.items()}
        if failed == 0:
            os.makedirs(os.path.dirname(history_path(a.workload)), exist_ok=True)
            with open(history_path(a.workload), "a") as f:
                f.write(json.dumps(e2e) + "\n")
    prep["wall_s"] = time.time() - T_START
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
