"""The benchmark's own test: the result line carries exactly the keys
correct, attempted, failed and metrics, and every metric of BENCHMARK.json
with its unit, for each workload
and both trace modes, and the command fails without a result when the
sources it measures are absent.

Run from the root of the checkout: python3 graftbench/test_run.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def fake_record(workload):
    """A JVM record shaped like BenchMain's output, with every layer that
    runs on `workload` measured."""
    layers = {m["name"]: 1.5 for m in SPEC["per_layer"]
              if m["name"].split(".")[0] in run.LAYERS[workload]}
    if workload == "transe":
        return {"setup_s": 17.0, "layers": layers,
                "fit": {"epochs": 3, "triples": 272115, "secs": 4.0,
                        "epoch_secs": [0.7, 0.6, 0.65], "loss": [3.0, 2.0, 1.0],
                        "warm_loss": [3.0]},
                "rank_check": {"checked": 24, "mismatched": 0},
                "ops": [{"op": i, "block": i, "ok": True, "ranks": 1000, "secs": 0.5}
                        for i in range(1, 5)]}
    ops = [{"op": i, "name": f"q{i % 2}", "layer": ["query", "stream"][i % 2],
            "ok": True, "hash": f"h{i % 2}", "rows": 10, "batches": i % 2 * 3,
            "secs": 0.8} for i in range(2, 6)]
    return {"setup_s": 25.0, "layers": layers, "ops": ops,
            "warm": [dict(o, op=o["op"] - 2) for o in ops[:2]]}


class ResultLineTest(unittest.TestCase):
    def check_line(self, line, kind):
        out = json.loads(line)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertIsInstance(out["attempted"], int)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertIsInstance(out["failed"], int)
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        self.assertEqual(set(out["metrics"]), set(want))
        for name, unit in want.items():
            self.assertEqual(set(out["metrics"][name]), {"value", "unit"})
            self.assertEqual(out["metrics"][name]["unit"], unit)
            self.assertIsInstance(out["metrics"][name]["value"], float)
        return out

    def test_every_metric_with_its_unit(self):
        for w in run.WORKLOADS:
            res = run.evaluate(w, 7, fake_record(w), {})
            self.assertTrue(res["correct"], w)
            e2e = self.check_line(run.result_line(w, res, False), "end_to_end")
            for name, m in e2e["metrics"].items():
                self.assertGreater(m["value"], 0.0, f"{w} {name}")
            self.check_line(run.result_line(w, res, True), "per_layer")

    def test_wrong_answer_counts_as_failed(self):
        rec = fake_record("queries")
        rec["ops"][1]["hash"] = "other"
        res = run.evaluate("queries", 7, rec, {})
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        rec = fake_record("transe")
        rec["fit"]["warm_loss"] = [2.5]
        self.assertFalse(run.evaluate("transe", 7, rec, {})["correct"])

    def test_missing_layer_metric_is_an_error(self):
        layers = fake_record("transe")["layers"]
        del layers["trainer.fit_prep_s"]
        with self.assertRaises(KeyError):
            run.layer_values("transe", layers)

    def test_fails_without_sources(self):
        bare = os.path.join(run.BUILD, "test-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(run.BENCH, os.path.join(bare, "graftbench"),
                            ignore=shutil.ignore_patterns("target", "project"))
            out = subprocess.run([sys.executable, "graftbench/run.py", "--workload",
                                  "transe", "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 cwd=bare, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(out.returncode, 0)
            self.assertNotIn("metrics", out.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
