"""Tests of the benchmark itself: python3 -m unittest discover -s perfbench/tests

The unit tests are instant. The integration tests (`RunTest`) start the
JVM five times with one-second timed sections and take several minutes.
"""
import contextlib
import io
import json
import os
import statistics
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
import run  # noqa: E402


def spec():
    with open(run.SPEC) as fh:
        return json.load(fh)


def fake_raw(times, passes, errors=(), check_errors=()):
    samples = [{"query": f"q{i % 3}", "family": "agg", "s": t, "error": None}
               for i, t in enumerate(times)]
    for i in errors:
        samples[i]["error"] = "boom"
    checks = [{"query": f"q{i}", "s": 1.0, "error": "wrong" if i in check_errors else None}
              for i in range(3)]
    return {"seed": 1, "cores": 4, "setup_s": 12.5, "process_cpu_s": 6.0, "heap_mb": 300.0,
            "passes": passes, "samples": samples, "checks": checks, "unchecked": ["qx"]}


class StatsTest(unittest.TestCase):
    def test_quantile_matches_statistics_inclusive(self):
        xs = [0.31, 0.12, 0.55, 0.2, 0.9, 0.47, 0.05, 0.66, 0.33]
        for n in (4, 10):
            cuts = statistics.quantiles(xs, n=n, method="inclusive")
            for k, cut in enumerate(cuts, start=1):
                self.assertAlmostEqual(run.quantile(xs, k / n), cut)
        self.assertEqual(run.quantile(xs, 0.5), statistics.median(xs))

    def test_samples_beyond_p90(self):
        # with interpolated quantiles, ten samples lie beyond p90 from 92 samples on
        self.assertEqual(run.tail_samples(91, 0.9), 9)
        self.assertEqual(run.tail_samples(92, 0.9), 10)
        self.assertEqual(run.tail_samples(14, 0.9), 2)
        for n in (7, 14, 45, 91, 92, 100):
            xs = list(range(n))
            p90 = run.quantile(xs, 0.9)
            self.assertEqual(sum(1 for x in xs if x > p90), run.tail_samples(n, 0.9))

    def test_total_is_one_pass_of_per_query_medians(self):
        raw = fake_raw([1.0, 2.0, 3.0, 1.2, 2.2, 3.2, 5.0, 2.1, 3.1], passes=3)
        m, attempted, failed = run.end_to_end(raw)
        self.assertAlmostEqual(m["total_s"], 1.2 + 2.1 + 3.1)
        self.assertAlmostEqual(m["process_cpu_s"], 2.0)
        self.assertEqual((attempted, failed), (12, 0))
        self.assertEqual(m["ok_frac"], 1.0)


class ReportTest(unittest.TestCase):
    def test_every_end_to_end_metric_printed_with_unit(self):
        raw = fake_raw([0.1] * 9, passes=3)
        m, attempted, failed = run.end_to_end(raw)
        units = {x["name"]: x["unit"] for x in spec()["end_to_end"]}
        self.assertEqual(set(m), set(units))
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            run.report("q4112", raw, m, units, attempted, failed)
        lines = out.getvalue().splitlines()
        for name, unit in units.items():
            self.assertTrue(any(line.split()[:1] == [name] and line.endswith(f" {unit}")
                                for line in lines), name)
        self.assertIn("unchecked (1): qx", out.getvalue())

    def test_wrong_result_raises_failed_frac(self):
        m, attempted, failed = run.end_to_end(fake_raw([0.1] * 9, 3, errors=[4], check_errors=[1]))
        self.assertEqual(failed, 2)
        self.assertAlmostEqual(m["ok_frac"], 1 - 2 / attempted)

    def test_spec_names_are_unique_and_metrics_never_zero_by_design(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual([w["name"] for w in s["workloads"]], list(run.WORKLOADS))
        self.assertIn("setup_s", names)


def tree_state():
    """The checkout's visible state: git status when it is a repository,
    else every file outside the build output with its size and mtime."""
    try:
        return subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"],
                              cwd=run.ROOT, check=True, capture_output=True, text=True).stdout
    except (OSError, subprocess.CalledProcessError):
        state = []
        skip = {".bench_build", "target", ".bsp"}
        for d, dirs, files in os.walk(run.ROOT):
            dirs[:] = [x for x in dirs if x not in skip]
            for f in files:
                st = os.stat(os.path.join(d, f))
                state.append((os.path.join(d, f), st.st_size, st.st_mtime_ns))
        return sorted(state)


def bench(workload, seed, env=None):
    """Runs the benchmark; returns (result line, raw measurements)."""
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                       cwd=run.ROOT, capture_output=True, text=True,
                       env=dict(os.environ, **(env or {})))
    if p.returncode != 0:
        raise AssertionError(f"run failed ({p.returncode}): {p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(run.OUT, "out", f"{workload}-{seed}-trace0.json")) as fh:
        return result, json.load(fh), p.stdout


class RunTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build()  # a first build may write new build output; not part of a run
        cls.before = tree_state()
        cls.q = {s: bench("q4112", s) for s in (1, 2)}
        cls.sf = {s: bench("sf_suite", s) for s in (1, 2)}
        cls.after = tree_state()

    def test_seed_changes_data_and_order_not_checked_results(self):
        (r1, raw1, _), (r2, raw2, _) = self.q[1], self.q[2]
        self.assertEqual((r1["failed"], r2["failed"]), (0, 0))
        self.assertTrue(r1["correct"] and r2["correct"])
        self.assertEqual(raw1["oracles"].keys(), raw2["oracles"].keys())
        self.assertNotEqual(raw1["oracles"], raw2["oracles"])  # new data, same shapes
        (s1, sraw1, _), (s2, sraw2, _) = self.sf[1], self.sf[2]
        self.assertEqual((s1["failed"], s2["failed"]), (0, 0))
        order1 = [x["query"] for x in sraw1["checks"]]
        order2 = [x["query"] for x in sraw2["checks"]]
        self.assertNotEqual(order1, order2)
        self.assertEqual(sorted(order1), sorted(order2))

    def test_result_line_has_every_metric_with_unit(self):
        units = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
        for result, _, stdout in list(self.q.values()) + list(self.sf.values()):
            self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, units)
            for name, unit in units.items():
                self.assertRegex(stdout, rf"\n  {name} = \S+ {unit}\n")
            self.assertGreaterEqual(result["attempted"], 1)

    def test_injected_wrong_result_is_counted(self):
        shape = next(iter(self.q[1][1]["oracles"]))
        result, _, stdout = bench("q4112", 1, env={"PERFBENCH_INJECT_WRONG": shape})
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertLess(result["metrics"]["ok_frac"]["value"], 1.0)
        self.assertIn(f"FAILED {shape}", stdout)

    def test_run_leaves_tree_unchanged(self):
        self.assertEqual(self.before, self.after)


if __name__ == "__main__":
    unittest.main()
