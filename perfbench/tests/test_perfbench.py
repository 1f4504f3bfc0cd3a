"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The generator, statistics and oracle-comparison tests are pure Python;
the span-attribution and failure-counting tests start the benchmark
JVM (building it on first use) and take about a minute.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "test")


def scratch(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def run_bench(*args):
    out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                         capture_output=True, text=True, cwd=ROOT, timeout=300)
    if out.returncode != 0:
        raise AssertionError(out.stderr[-3000:])
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


class GeneratorDeterminism(unittest.TestCase):

    def generate(self, name, seed):
        d = scratch(name)
        truth = {
            "world": gen.changeset_world(seed, f"{d}/world", 400, 3, 4, readme=True),
            "tables": gen.relational_tables(seed, f"{d}/data", 300),
            "corpus": gen.curate_corpus(seed, f"{d}/data", 200, 200),
        }
        return d, truth

    def test_same_seed_gives_identical_bytes(self):
        a, ta = self.generate("gen_a", 5)
        b, tb = self.generate("gen_b", 5)
        self.assertTrue(same_tree(a, b))
        self.assertEqual(ta, tb)

    def test_other_seed_gives_other_inputs(self):
        a, ta = self.generate("gen_a", 5)
        c, tc = self.generate("gen_c", 6)
        self.assertFalse(same_tree(a, c))
        self.assertNotEqual(ta["world"]["ticks"], tc["world"]["ticks"])

    def test_truth_follows_last_wins(self):
        _, t = self.generate("gen_a", 5)
        w = t["world"]
        self.assertEqual(len(w["ticks"]), 4)
        for tk in w["ticks"]:
            self.assertTrue(tk["lookup_row"].startswith(f"{tk['lookup_id']}|"))
            self.assertGreaterEqual(tk["changesets"], 400)
        readme = w["after_backlog"]["readme"]
        self.assertEqual(int(readme["sql_readme_1"][0]), w["after_backlog"]["comment_count"])


class TailRule(unittest.TestCase):

    def test_percentile_keeps_ten_samples_beyond(self):
        for n, want in [(20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
                        (200, 95.0), (1000, 99.0), (10000, 99.9)]:
            v, p, got_n = stats.tail([float(i) for i in range(n)])
            self.assertEqual((p, got_n), (want, n), n)
            beyond = sum(1 for x in range(n) if x > v)
            self.assertGreaterEqual(beyond, 10, n)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([float(i) for i in range(19)])[1], 100.0)


class OracleFailureCount(unittest.TestCase):

    def test_wrong_setup_result_fails_every_execution(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        d = scratch("oracle")
        os.makedirs(f"{d}/res/q")
        pq.write_table(pa.table({"k": [1, 2], "v": [0.5, 1.5]}), f"{d}/res/q/part-0.parquet")
        duck = {"q": oracle._digest([(1, 0.5), (2, 1.5)], ["k", "v"])}
        res = {"oracle_runs": {"q": {"dir": f"{d}/res/q", "executions": 7}}}
        self.assertEqual(run.oracle_check(res, duck, "")[:2], (1, 0))
        self.assertEqual(run.oracle_check(res, duck, "oracle:q")[:2], (1, 8))
        bad = {"q": oracle._digest([(1, 0.5), (2, 2.5)], ["k", "v"])}
        self.assertEqual(run.oracle_check(res, bad, "")[:2], (1, 8))


class JvmHarness(unittest.TestCase):

    def test_spans_attribute_a_toy_job(self):
        detail, res = run_bench("--workload", "selftest-spans", "--seed", "1",
                                "--seconds", "1", "--trace", "1")
        st = detail["info"]["selftest"]
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(st["outer_own_jobs"], 1)
        self.assertGreaterEqual(st["inner_jobs"], 1)
        self.assertEqual(st["outer_tree_jobs"], st["outer_own_jobs"] + st["inner_jobs"])
        # the inner range has 3 partitions, the outer one 4
        self.assertGreaterEqual(st["inner_tasks"], 3)
        self.assertGreaterEqual(st["outer_own_tasks"], 4)
        self.assertGreater(st["inner_planning_s"], 0.0)
        self.assertAlmostEqual(st["outer_self_seconds"],
                               st["outer_seconds"] - st["inner_seconds"], places=3)

    def test_one_wrong_op_kind_counts_every_execution_failed(self):
        detail, res = run_bench("--workload", "ingest", "--seed", "3", "--seconds", "16",
                                "--trace", "0", "--fault", "tick")
        ticks = detail["info"]["ticks"]
        self.assertGreaterEqual(ticks, 1)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], ticks)
        self.assertEqual(res["attempted"], ticks + 4)  # + two loads and catch-ups
        self.assertTrue(all(f.startswith("tick:") for f in detail["failures"]))


if __name__ == "__main__":
    unittest.main()
