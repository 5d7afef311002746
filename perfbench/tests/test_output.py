"""The last stdout line: one JSON object carrying every metric that
BENCHMARK.json names for the mode, each with its unit."""
import contextlib
import io
import json
import os
import sys
import unittest
from pathlib import Path

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import run  # noqa: E402

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
LAYER_NAMES = [m["name"] for m in SPEC["per_layer"]]


def fake_result(fatal=None, error=None):
    """A run as perfbench.Main writes it: cold pass, a JIT warm-up pass,
    then untraced and traced passes in turn (U T U T U)."""
    def op(name, ms, err=None):
        return {"name": name, "sink": "parquet", "ms": ms, "rows": 10, "error": err}

    def layers(traced):
        return {k: 1.5 for k in LAYER_NAMES if not k.startswith(("tables.", "artifacts."))} if traced else {}
    def traced(p):
        return p >= 3 and p % 2 == 1
    passes = [{"pass": p, "traced": traced(p), "wall_s": 2.0 + 0.1 * p, "heap_mb": 300.0 + p,
               "layers": layers(traced(p)),
               "ops": [op(f"q{i}", 100.0 + i + p, error if (p, i) == (1, 3) else None) for i in range(8)]}
              for p in range(7)]
    return {"workload": "catalog", "setup_s": 5.0, "passes": passes,
            "setup_layers": {"tables.load_ms": 80.0, "tables.load_jobs": 10.0},
            "artifacts": {"artifacts.bytes": 1e6, "artifacts.files": 12.0},
            "oracles": {}, "fatal": fatal}


def final_line(result, trace):
    buf = io.StringIO()
    with contextlib.redirect_stderr(io.StringIO()), contextlib.redirect_stdout(buf):
        lines, final, ok = run.report(result, "catalog", trace, SPEC)
        for line in lines:
            print(line)
        print(json.dumps(final))
    return json.loads(buf.getvalue().splitlines()[-1]), ok


class LastLine(unittest.TestCase):
    def check_mode(self, trace, section):
        obj, ok = final_line(fake_result(), trace)
        self.assertTrue(ok)
        self.assertEqual(set(obj), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(obj["metrics"]), {m["name"] for m in SPEC[section]})
        for m in SPEC[section]:
            got = obj["metrics"][m["name"]]
            self.assertEqual(set(got), {"value", "unit"})
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], float)
        self.assertEqual((obj["correct"], obj["attempted"], obj["failed"]), (True, 56, 0))

    def test_end_to_end_metrics(self):
        self.check_mode(False, "end_to_end")

    def test_per_layer_metrics(self):
        self.check_mode(True, "per_layer")

    def test_failed_op_counts_and_clears_correct(self):
        obj, _ = final_line(fake_result(error="check: values differ"), False)
        self.assertEqual((obj["correct"], obj["failed"]), (False, 1))

    def test_fatal_error_reports_no_metrics(self):
        obj, ok = final_line(fake_result(fatal="java.lang.OutOfMemoryError"), False)
        self.assertFalse(ok)
        self.assertFalse(obj["correct"])
        self.assertEqual(obj["metrics"], {})

    def test_warm_metrics_ignore_traced_passes(self):
        e2e = run.end_to_end(fake_result())
        self.assertAlmostEqual(e2e["warm_s"], 2.4)  # passes 2, 4 and 6
        self.assertEqual(e2e["cold_s"], 2.0)
        self.assertEqual(e2e["setup_s"], 5.0)

    def test_overhead_ignores_the_jit_warm_up_pass(self):
        result = fake_result()
        walls = {1: 9.0, 2: 2.0, 3: 2.2, 4: 2.0, 5: 2.2, 6: 2.0}  # pass 1 still warming up
        for p in result["passes"]:
            p["wall_s"] = walls.get(p["pass"], 5.0)
        self.assertAlmostEqual(run.per_layer(result)["trace.overhead_pct"], 10.0)


if __name__ == "__main__":
    unittest.main()
