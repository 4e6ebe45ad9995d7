"""The benchmark's own tests.

  python3 perfbench/test_bench.py          # from the repository root

The evaluator tests run in a second. The smoke tests build the engine (once)
and run every workload at tiny sizes for a few ops, traced and untraced,
then plant a wrong CP row and a throwing op and expect a nonzero exit.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import cpcheck  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace=0, plant=None, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--smoke"]
    if plant:
        cmd += ["--plant", plant]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else None
    return p.returncode, (json.loads(last) if last else None), p.stderr


class EvaluatorTest(unittest.TestCase):
    """cpcheck against hand-computed answers on a ten-point series."""

    y = np.array([1, 5, 2, 8, 3, 3, 9, 1, 4, 6], dtype=float)

    def spec(self, cons, limit, refined, x=(1, 6), lx=(1, 3)):
        return {"x": list(x), "lx": list(lx), "cons": cons, "limit": limit,
                "refined": refined}

    def test_window_values(self):
        s = self.spec([("avg_amp", None, None, None, "MAX"),
                       ("max_amp_excess_right", 2, None, None, "MAX"),
                       ("max_amp_excess_left", 2, None, None, "MAX")], 5, True)
        xs, lxs, vals, locate = cpcheck.grid_values(self.y, s)
        i = int(locate(2, 2))
        self.assertEqual((xs[i], lxs[i]), (2, 2))
        self.assertAlmostEqual(vals[i, 0], (5 + 2 + 8) / 3)
        self.assertEqual(vals[i, 1], 8 - 8)            # max y[2..4] - max y[4..6]
        self.assertEqual(vals[i, 2], 8 - 5)            # max y[2..4] - max y[1..2] (clipped)
        self.assertEqual(locate(9, 3), -1)             # x + lx beyond the series end

    def test_refined_relaxation_and_wrong_rows(self):
        s = self.spec([("avg_amp", None, 6, 7, "MAX")], 3, True)
        exp = cpcheck.Expected(s, self.y)
        xs, lxs, vals, _ = exp.grid
        sat, rk, rp = cpcheck.scores(s, vals)
        order = np.lexsort((lxs, xs, np.where(sat, -rk, rp), ~sat))
        rows = [(int(xs[i]), int(lxs[i])) for i in order[:3]]
        self.assertEqual(exp.rows(), rows)
        self.assertIsNone(exp.check(rows))
        self.assertIsNotNone(exp.check(rows[:2]))                     # too few
        self.assertIsNotNone(exp.check(rows[::-1]))                   # wrong order
        worst = (int(xs[order[-1]]), int(lxs[order[-1]]))
        self.assertIsNotNone(exp.check(rows[:2] + [worst]))
        self.assertIsNotNone(exp.check(rows[:2] + [(9, 3)]))          # not a candidate cell

    def test_unrefined(self):
        s = self.spec([("avg_amp", None, 4, 6, "MAX")], None, False)
        exp = cpcheck.Expected(s, self.y)
        xs, lxs, vals, _ = exp.grid
        sat = [(int(a), int(b)) for a, b, v in zip(xs, lxs, vals[:, 0]) if 4 <= v <= 6]
        self.assertIsNone(exp.check(sat))
        self.assertIsNotNone(exp.check(sat[1:]))

    def test_refuses_a_real_valued_series(self):
        s = self.spec([("avg_amp", None, 6, 7, "MAX")], 3, True)
        with self.assertRaises(ValueError):
            cpcheck.Expected(s, self.y + 0.5)

    def test_stream_cycles_through_fixed_shapes_with_new_queries(self):
        rng = np.random.default_rng(0)
        y = gen.emg_signal(rng, 5000).astype(float)
        cycle = len(gen.VARIANTS)
        ops = gen.interactive_stream(rng, y, 3 * cycle, "emg_data", "emg1", (1e2, 1e3))
        self.assertEqual(len({o["text"] for o in ops}), len(ops))
        for a, b in zip(ops, ops[cycle:]):
            self.assertTrue(a["text"].startswith("SELECT time_id, offset IN_DOMAIN ["))
            self.assertEqual(a["variant"], b["variant"])
            self.assertEqual([c[:2] for c in a["cons"]], [c[:2] for c in b["cons"]])
            if a["x"][0] is not None and a["x"][1] is not None:
                self.assertEqual(a["x"][1] - a["x"][0], b["x"][1] - b["x"][0])
        for o in ops:
            self.assertIsNone(cpcheck.Expected(o, y).check(cpcheck.Expected(o, y).rows()))


class ResultCompareTest(unittest.TestCase):
    """The suite result check against a hand-written oracle frame."""

    def check(self, got, want, tmp):
        path = os.path.join(tmp, "r")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pd.DataFrame({"k": range(len(got)), "v": got}).to_parquet(os.path.join(path, "p.parquet"))
        return workloads.result_mismatch(pd.DataFrame({"k": range(len(want)), "v": want}), path)

    def test_float_columns(self):
        with tempfile.TemporaryDirectory() as tmp:
            self.assertIsNone(self.check([0.0, 0.5, 1.0], [0.0, 0.5, 1.0], tmp))
            self.assertIsNotNone(self.check([0.05, 0.5, 1.0], [0.0, 0.5, 1.0], tmp))
            # one unit in the last rounded digit: a rounding tie
            self.assertIsNone(self.check([0.1235, 0.5], [0.1234, 0.5], tmp))
            self.assertIsNotNone(self.check([0.1236, 0.5], [0.1234, 0.5], tmp))
            # unrounded values: equal to 1e-9 relative only
            self.assertIsNone(self.check([1 / 3 + 1e-12], [1 / 3], tmp))
            self.assertIsNotNone(self.check([1 / 3 + 1e-6], [1 / 3], tmp))
            self.assertIsNotNone(self.check([0.5, 0.5], [0.5], tmp))


class SmokeTest(unittest.TestCase):
    """End to end through the engine at tiny sizes."""

    def test_every_workload_prints_every_metric(self):
        for workload in sorted(workloads.WORKLOADS):
            for trace, names in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
                with self.subTest(workload=workload, trace=trace):
                    code, res, err = run(workload, trace)
                    self.assertEqual(code, 0, err[-2000:])
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in names}
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, want)

    def test_planted_wrong_row_fails_the_run(self):
        code, res, err = run("cp_interactive", plant="wrong-row")
        self.assertEqual(code, 1)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn("FAILED op", err)

    def test_planted_throwing_op_fails_the_run(self):
        for workload in ("cp_interactive", "suite_mix"):
            with self.subTest(workload=workload):
                code, res, err = run(workload, plant="throw")
                self.assertEqual(code, 1)
                self.assertGreaterEqual(res["failed"], 1)
                self.assertIn("FAILED op", err)

    def test_refuses_without_sources(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", ".build", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            code, res, _ = run("cp_interactive", cwd=d)
            self.assertEqual(code, 2)
            self.assertIsNone(res)


if __name__ == "__main__":
    unittest.main(verbosity=2)
