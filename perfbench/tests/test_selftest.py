"""Self-tests of the benchmark: planted faults must show in its output.

    python3 -m unittest discover -s perfbench/tests -v     (from the repo root)

Each test runs the `bi` workload through perfbench/run.py, so it needs
the same toolchain as the benchmark and takes about a minute per run.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
SEED = 11


def run(*extra, trace=0):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bi", "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class PlantedFaults(unittest.TestCase):
    def test_broadcast_flip_moves_join_counts(self):
        """Disabling size-based broadcast turns broadcast hash joins into
        sort-merge joins; the traced run must show both counts move."""
        base = run(trace=1)["metrics"]
        flip = run("--conf", "spark.sql.autoBroadcastJoinThreshold=-1", trace=1)["metrics"]
        self.assertGreater(base["query.bhj"]["value"], 0)
        self.assertLess(flip["query.bhj"]["value"], base["query.bhj"]["value"])
        self.assertGreater(flip["query.smj"]["value"], base["query.smj"]["value"])

    def test_dropped_row_raises_error_rate(self):
        """One row missing from one query's result makes the run
        incorrect and counts that query's executions as failed."""
        good = run()
        self.assertTrue(good["correct"])
        self.assertEqual(good["failed"], 0)
        bad = run("--plant-drop-row", "q1_pricing_summary")
        self.assertFalse(bad["correct"])
        self.assertGreater(bad["failed"], 0)
        self.assertEqual(bad["attempted"], good["attempted"])


if __name__ == "__main__":
    unittest.main()
