"""The benchmark's own tests. Run from a checkout root:

    python3 -m unittest perfbench/test_perfbench.py

The last test runs one traced batch_backfill pass (about a minute, plus
the build on first use) and checks that its layers account for every task
Spark ran.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def table_digest(path):
    """Content hash of one generated table (its values, not its file bytes)."""
    h = hashlib.sha256()
    for col in pq.read_table(path).columns:
        h.update(repr(col.to_pylist()).encode())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        self.addCleanup(shutil.rmtree, self.tmp)

    def digests(self, seed, name):
        out = os.path.join(self.tmp, name)
        stats = gen.generate(seed, out)
        return stats, {t: table_digest(os.path.join(out, f"{t}.parquet"))
                       for t in gen.TABLES}

    def test_same_seed_same_tables(self):
        self.assertEqual(self.digests(7, "a"), self.digests(7, "b"))

    def test_other_seed_other_tables_same_sizes(self):
        (s7, d7), (s8, d8) = self.digests(7, "a"), self.digests(8, "b")
        for t in gen.TABLES:
            self.assertNotEqual(d7[t], d8[t])
        self.assertEqual((s7["traces"], s7["docs"]), (s8["traces"], s8["docs"]))


class NamesTest(unittest.TestCase):
    def test_emitted_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         list(run.PER_LAYER))


class TracedRunTest(unittest.TestCase):
    def test_layers_cover_the_pass(self):
        res = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "batch_backfill",
             "--seed", "3", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
        lines = res.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        self.assertTrue(out["correct"])
        self.assertEqual(sorted(out["metrics"]), sorted(n for n, _ in run.PER_LAYER))
        metrics = {k: v["value"] for k, v in out["metrics"].items()}
        detail_path = lines[-2].split("detail=")[1]
        with open(os.path.join(ROOT, detail_path)) as f:
            detail = json.load(f)["run"]
        # every task the listener saw while tracing went to some layer
        self.assertGreater(detail["tasks_seen"], 0)
        self.assertEqual(detail["tasks_unattributed"], 0)
        self.assertEqual(detail["run_ms_unattributed"], 0)
        # and each layer the pass runs got work of its own: tasks, executor
        # time and Catalyst planning
        for layer in ("store", "classify", "accounting", "pricing", "inspect", "compose",
                      "corpus"):
            for stat in ("tasks", "busy_s", "plan_s"):
                self.assertGreater(metrics[f"{layer}.{stat}"], 0, f"{layer}.{stat}")
        self.assertEqual(metrics["stream.tasks"], 0)
        # no work of the pass runs outside a step span
        self.assertLess(metrics["trace.span_gap_frac"], 0.05)


if __name__ == "__main__":
    unittest.main()
