"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke tests compile and run the engine (a few minutes); the rest take
seconds.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True
import gen  # noqa: E402
import run  # noqa: E402


def lines(seed, n, rate=100):
    st = gen.Stream(seed, rate)
    clock = gen.Clock()
    out = []
    for _ in range(n):
        head, tail, ok, bad = st.next()
        seq = st.seq - 1
        out.append((gen.render(head, tail, 1.7e12 + seq * 10.0, seq, clock), ok, bad))
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_stream(self):
        self.assertEqual(lines(7, 3000), lines(7, 3000))

    def test_different_seeds_differ(self):
        self.assertNotEqual(lines(7, 200), lines(8, 200))

    def test_file_mode_is_deterministic(self):
        with tempfile.TemporaryDirectory() as d:
            for i in (0, 1):
                gen.write_file(5, 3000, 100, f"{d}/a{i}", f"{d}/v{i}")
            self.assertEqual(Path(d, "a0").read_bytes(), Path(d, "a1").read_bytes())
            self.assertEqual(Path(d, "v0").read_bytes(), Path(d, "v1").read_bytes())

    def test_expectations_describe_the_stream(self):
        got = lines(3, 20000)
        exp = gen.expectations(3, 20000, 100)
        arity = [len(line.rstrip("\n").split(",")) for line, _, _ in got]
        self.assertEqual([i for i, a in enumerate(arity) if a == 22], exp["valid"])
        self.assertEqual([i for i, a in enumerate(arity) if a != 22], exp["invalid"])
        self.assertTrue(set(arity) == {21, 22, 23})
        # the sequence number rides in field 3
        self.assertEqual([int(line.split(",")[2]) for line, _, _ in got],
                         list(range(20000)))
        self.assertEqual(sum(1 for _, ok, bad in got if ok and bad is not None),
                         exp["coerced"])
        self.assertGreater(exp["coerced"], 0)

    def test_traffic_shape(self):
        got = lines(4, 20000)
        fields = [line.split(",") for line, ok, _ in got if ok]
        self.assertEqual({int(f[1]) for f in fields}, {1, 3, 4, 5, 7, 8})
        per_ac = {}
        for f in fields:
            per_ac[f[4]] = per_ac.get(f[4], 0) + 1
        counts = sorted(per_ac.values(), reverse=True)
        self.assertGreater(len(counts), 200)
        # Zipf: the busiest aircraft sends far more than the median one
        self.assertGreater(counts[0], 10 * counts[len(counts) // 2])


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.exp = gen.expectations(3, 5000, 100)
        self.rows = [(s, "") for s in self.exp["valid"]]

    def check(self, rows, nulls=None):
        return run.check_feed(rows, self.exp, nulls)

    def test_exact_commit_passes(self):
        self.assertEqual(self.check(self.rows, dict(self.exp["nulls"])), (0, []))

    def test_duplicate_row(self):
        failed, problems = self.check(self.rows + [self.rows[10]])
        self.assertEqual(failed, 1)
        self.assertTrue(problems)

    def test_missing_row(self):
        failed, problems = self.check(self.rows[:-1])
        self.assertEqual(failed, 1)
        self.assertTrue(problems)

    def test_invalid_line_committed(self):
        failed, _ = self.check(self.rows + [(self.exp["invalid"][0], "")])
        self.assertEqual(failed, 1)

    def test_unknown_row(self):
        failed, _ = self.check(self.rows + [(10 ** 9, "")])
        self.assertEqual(failed, 1)

    def test_null_counts_differ(self):
        nulls = dict(self.exp["nulls"])
        nulls["altitude"] += 1
        failed, problems = self.check(self.rows, nulls)
        self.assertEqual(failed, 0)
        self.assertTrue(problems)

    def test_digest_ignores_row_order_and_sees_values(self):
        import duckdb
        con = duckdb.connect()
        a = run.result_digest(*run.duckdb_rows(
            con, "SELECT * FROM (VALUES (1, 'x', 0.5), (2, 'y', 1.5)) t(b, a, c)"))
        b = run.result_digest(*run.duckdb_rows(
            con, "SELECT * FROM (VALUES (2, 'y', 1.5), (1, 'x', 0.5)) t(b, a, c)"))
        c = run.result_digest(*run.duckdb_rows(
            con, "SELECT * FROM (VALUES (2, 'y', 1.5), (1, 'x', 0.25)) t(b, a, c)"))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(a["rows"], 2)

    def test_live_rate_kept(self):
        # 50,000 lines at 5,000 lines/s; the last commit 1.4 s after the last
        # line was due
        live = {"t0_ms": 0.0, "lines": 50000, "done_ms": 9999.8 + 1400.0}
        self.assertAlmostEqual(run.live_lag_s(live, 5000), 1.4)
        self.assertEqual(run.check_live_rate(live, 5000), [])

    def test_late_drain_fails_the_rate(self):
        # the pipeline fell behind: the window's last line commits 8 s late
        live = {"t0_ms": 0.0, "lines": 50000, "done_ms": 9999.8 + 8000.0}
        self.assertEqual(len(run.check_live_rate(live, 5000)), 1)

    def test_wrong_query_hash(self):
        warm = {"k1": {"error": ""}, "k2": {"error": ""}, "k3": {"error": "boom"}}
        good = {"rows": 3, "sha256": "aa"}
        bad, problems = run.compare_results(
            ["k1", "k2", "k3"], warm,
            {"k1": good, "k2": {"rows": 3, "sha256": "ab"}},
            {"k1": good, "k2": good, "k3": good})
        self.assertEqual(bad, {"k2", "k3"})
        self.assertEqual(len(problems), 2)


class ContractTest(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         list(run.E2E))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         list(run.PER_LAYER))
        self.assertEqual({w["name"] for w in spec["workloads"]},
                         {"feed_live", "query_mix"})

    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(BENCH.parent / "BENCHMARK.json", d)
            shutil.copytree(BENCH, Path(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "feed_live",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=120, env=env)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


class SmokeTest(unittest.TestCase):
    """A tiny run of each workload prints every metric with its unit."""

    def smoke(self, workload, trace):
        p = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", workload,
             "--seed", "2", "--seconds", "1", "--trace", str(trace), "--smoke"],
            cwd=BENCH.parent, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], p.stderr[-3000:])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        want = run.PER_LAYER if trace else run.E2E
        self.assertEqual({n: m["unit"] for n, m in res["metrics"].items()}, dict(want))
        return res

    def test_feed_live(self):
        for trace in (0, 1):
            self.smoke("feed_live", trace)

    def test_query_mix(self):
        for trace in (0, 1):
            self.smoke("query_mix", trace)


if __name__ == "__main__":
    unittest.main()
