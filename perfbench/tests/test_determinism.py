"""Determinism of the benchmark's inputs and exact counters.

    python3 perfbench/tests/test_determinism.py     # every workload, ~10 min on 4 cores

1. The same seed generates byte-identical inputs; another seed does not.
2. Two traced runs of one seed report identical exact counters (job, task,
   file and byte counts, storage amplification, pair and changed-row
   counts) and the same failed-op count — the "identical job counts" check
   a change that claims a count-based gain relies on. Determinism is tested
   apart from correctness: a workload that trips a known engine defect must
   still repeat exactly.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

EXACT = ["spark.jobs", "spark.tasks", "spark.output_bytes", "storage_amp",
         "sinks.bytes_written", "sinks.files_written",
         "neardup.bytes_written", "neardup.files_written", "neardup.pairs",
         "ledger.bytes_written", "ledger.changed_rows",
         "ann.bytes_written", "ann.reclusters"]
# the counters every workload's JSON must carry (gated ones carry the
# BENCHMARK.json per-layer set, the others every per-layer metric)
REQUIRED = {"sql_analytics": ["spark.jobs", "spark.tasks"],
            "etl_incremental": ["spark.jobs", "spark.tasks", "storage_amp", "sinks.bytes_written"],
            "curation_ledger": ["spark.jobs", "spark.tasks", "storage_amp", "ledger.changed_rows",
                                "ledger.bytes_written"],
            "curation_batches": ["spark.jobs", "spark.tasks", "neardup.pairs",
                                 "ledger.changed_rows", "neardup.bytes_written"],
            "vector_ann": ["spark.jobs", "spark.tasks", "storage_amp", "ann.reclusters"],
            "ledger_no_edges": ["spark.jobs", "spark.tasks"]}
SCRATCH = os.path.join(run.WORK, "test-determinism")


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def traced(workload, seed):
    out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                         cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} run failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class Determinism(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = (os.path.join(SCRATCH, w, x) for x in ("a", "b", "c"))
                gen.generate(w, 11, a)
                gen.generate(w, 11, b)
                gen.generate(w, 12, c)
                self.assertTrue(same_tree(a, b), "same seed, different inputs")
                self.assertFalse(same_tree(a, c), "different seeds, same inputs")

    def test_traced_counters_repeat(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                first, second = traced(w, 5), traced(w, 5)
                self.assertEqual((first["attempted"], first["failed"]),
                                 (second["attempted"], second["failed"]))
                for k in REQUIRED[w]:
                    self.assertIn(k, first["metrics"])
                for k in (k for k in EXACT if k in first["metrics"]):
                    self.assertEqual(first["metrics"][k]["value"], second["metrics"][k]["value"], k)


if __name__ == "__main__":
    unittest.main(argv=sys.argv[:1], verbosity=2)
