#!/usr/bin/env python3
"""The benchmark's own tests.

Run from the repository root:  python3 -m unittest perfbench/test_bench.py

- the result is one bare JSON object on the last line of stdout, with
  exactly the keys the contract names and every end-to-end metric of
  BENCHMARK.json;
- a traced run reports exactly the per-layer metrics of BENCHMARK.json,
  with their units, and writes its spans;
- the CVE feed generator writes byte-identical landing trees for one seed
  and different trees for another;
- in a directory holding only BENCHMARK.json and the benchmark, the
  benchmark fails without printing a result.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "test")


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, names in os.walk(root):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class BenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        build.build()
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_last_line_is_the_result(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        r = subprocess.run(["python3", "perfbench/run.py", "--workload", "cve_daily",
                            "--seed", "3", "--seconds", "1", "--trace", "0"],
                           cwd=REPO, stdout=subprocess.PIPE, text=True, timeout=600)
        self.assertEqual(r.returncode, 0)
        result = json.loads(r.stdout.rstrip("\n").split("\n")[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec["end_to_end"]})
        for m in spec["end_to_end"]:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])

    def test_traced_run_reports_the_layers(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        r = subprocess.run(["python3", "perfbench/run.py", "--workload", "corpus_lifecycle",
                            "--seed", "3", "--seconds", "1", "--trace", "1"],
                           cwd=REPO, stdout=subprocess.PIPE, text=True, timeout=600)
        self.assertEqual(r.returncode, 0)
        result = json.loads(r.stdout.rstrip("\n").split("\n")[-1])
        self.assertTrue(result["correct"])
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()},
                         {m["name"]: m["unit"] for m in spec["per_layer"]})
        self.assertGreater(result["metrics"]["scheduler.jobs.tick"]["value"], 0)
        self.assertGreater(result["metrics"]["scheduler.jobs.query"]["value"], 0)
        spans = os.path.join(HERE, "out", "corpus_lifecycle-seed3-trace1.spans.jsonl")
        with open(spans) as fh:
            first = json.loads(fh.readline())
        self.assertEqual(set(first), {"id", "name", "start_ns", "end_ns", "parent", "op"})

    def gen(self, seed, name):
        out = os.path.join(SCRATCH, name)
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(),
                            "perfbench.BenchMain", "--gen-cve", str(seed), "3000", "5", out],
                           stdout=subprocess.PIPE, text=True, timeout=120)
        self.assertEqual(r.returncode, 0)
        return tree_digest(out), json.loads(r.stdout.strip().split("\n")[-1])

    def test_generator_is_seeded(self):
        a, ha = self.gen(7, "a")
        b, hb = self.gen(7, "b")
        c, _ = self.gen(8, "c")
        self.assertEqual(a, b)
        self.assertEqual(ha, hb)
        self.assertNotEqual(a, c)
        self.assertEqual(sum(ha["histogram"]), ha["ids"])

    def test_fails_without_the_program(self):
        bare = os.path.join(SCRATCH, "bare")
        os.makedirs(bare)
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".build", ".work", "out", "__pycache__"))
        r = subprocess.run(["python3", "perfbench/run.py", "--workload", "cve_daily",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=180)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
