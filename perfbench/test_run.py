"""Tests of the benchmark's result line.

    python3 -m unittest perfbench/test_run.py            # parser checks
    PERFBENCH_E2E=1 python3 -m unittest perfbench/test_run.py
                                # also runs every workload once, untraced

Run from the root of a checkout.
"""
import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def line_for(metrics, **over) -> str:
    r = {"correct": True, "attempted": 6, "failed": 0,
         "metrics": {m["name"]: {"value": 1.25, "unit": m["unit"]} for m in metrics}}
    r.update(over)
    return json.dumps(r, separators=(",", ":"))


class ResultLineTest(unittest.TestCase):
    def test_accepts_declared_metrics(self):
        line = line_for(SPEC["end_to_end"])
        self.assertEqual(run.result_line("noise\n" + line + "\n", SPEC, trace=False), line)
        traced = line_for(SPEC["per_layer"])
        self.assertEqual(run.result_line(traced, SPEC, trace=True), traced)

    def test_rejects_missing_or_extra_metric(self):
        with self.assertRaises(ValueError):
            run.result_line(line_for(SPEC["end_to_end"][1:]), SPEC, trace=False)
        with self.assertRaises(ValueError):
            run.result_line(line_for(SPEC["per_layer"]), SPEC, trace=False)

    def test_rejects_bad_counts(self):
        for bad in ({"attempted": 0}, {"attempted": 1.5}, {"failed": True}):
            with self.assertRaises(ValueError):
                run.result_line(line_for(SPEC["end_to_end"], **bad), SPEC, trace=False)

    def test_rejects_output_without_json(self):
        with self.assertRaises(ValueError):
            run.result_line("", SPEC, trace=False)
        with self.assertRaises(ValueError):
            run.result_line("trace file: x\n", SPEC, trace=False)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class EndToEndTest(unittest.TestCase):
    def test_every_workload_prints_a_parsing_line(self):
        for w in SPEC["workloads"]:
            out = subprocess.run(
                [sys.executable, str(run.BENCH / "run.py"), "--workload", w["name"],
                 "--seed", "1", "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
                cwd=run.ROOT, capture_output=True, text=True, check=True).stdout
            line = out.strip().splitlines()[-1]
            r = json.loads(line)
            self.assertLess(len(line.encode()), run.MAX_LINE_BYTES)
            self.assertTrue(r["correct"], w["name"])
            self.assertEqual(r["failed"], 0)
            self.assertEqual(set(r["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
            self.assertTrue(all(m["value"] > 0 for m in r["metrics"].values()))


if __name__ == "__main__":
    unittest.main()
