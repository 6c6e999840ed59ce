"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Each test starts the benchmark's JVM on the benchmark's own inputs: the
determinism test only generates them, the others are single runs of about
a minute each, so the whole file takes about five minutes; the first run
also compiles.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def run(*args):
    cmd = [sys.executable, os.path.join(BENCH, "run.py")] + list(args)
    return subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)


def digest(workload, seed):
    p = run("--workload", workload, "--seed", str(seed), "--seconds", "1", "--generate-only")
    assert p.returncode == 0, p.stdout[-2000:]
    return [l for l in p.stdout.splitlines() if l.startswith("input_digest ")][-1]


def result(p):
    return json.loads([l for l in p.stdout.splitlines() if l.strip()][-1])


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in ("trace_interactive", "corpus_dedup"):
            with self.subTest(workload=w):
                a, b, c = digest(w, 7), digest(w, 7), digest(w, 8)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class Results(unittest.TestCase):
    def test_injected_wrong_result_fails_the_run(self):
        for w in ("trace_interactive", "corpus_dedup"):
            with self.subTest(workload=w):
                p = run("--workload", w, "--seed", "3", "--seconds", "1", "--inject-wrong")
                self.assertNotEqual(p.returncode, 0)
                r = result(p)
                self.assertFalse(r["correct"])
                self.assertGreaterEqual(r["failed"], 1)

    def test_printed_metric_names_match_benchmark_json(self):
        s = spec()
        self.assertEqual([w["name"] for w in s["workloads"]], ["trace_interactive", "corpus_dedup"])
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            with self.subTest(trace=trace):
                p = run("--workload", "corpus_dedup", "--seed", "3", "--seconds", "1",
                        "--trace", str(trace))
                self.assertEqual(p.returncode, 0, p.stdout[-2000:])
                r = result(p)
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
                self.assertEqual(sorted(r["metrics"]), sorted(m["name"] for m in s[key]))
                for m in s[key]:
                    self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])


class Bare(unittest.TestCase):
    def test_fails_without_the_program_sources(self):
        import shutil
        import tempfile
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")
                                         if os.path.isdir(os.path.join(ROOT, ".bench_build"))
                                         else None) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, os.path.basename(BENCH)),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, os.path.join(os.path.basename(BENCH), "run.py"),
                                "--workload", "corpus_dedup", "--seed", "1", "--seconds", "1"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                               timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
