"""The benchmark's own tests.

Run from the repository root:

    python3 -m unittest discover perfbench/tests

A small-size smoke run of each workload, untraced and traced, must print
every metric `BENCHMARK.json` names for that mode, with a number, and pass
every output check, also when the JVM sees more than twice as many cores
as `policy_heavy` has principals. The generated inputs must be a function
of the seed.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")


def run(*args, env=None):
    proc = subprocess.run([sys.executable, RUN] + list(args), cwd=ROOT, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    return proc.returncode, proc.stdout.strip().splitlines()


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def smoke(self, workload, trace):
        code, lines = run("--workload", workload, "--seed", "7", "--seconds", "2",
                          "--trace", str(trace), "--size", "small")
        self.assertEqual(code, 0, "\n".join(lines[-20:]))
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], "\n".join(l for l in lines if "mismatch" in l))
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        wanted = self.spec["per_layer" if trace else "end_to_end"]
        for m in wanted:
            self.assertIn(m["name"], result["metrics"])
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})

    def test_smoke_every_workload(self):
        for w in self.spec["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.smoke(w["name"], trace)

    def test_more_cores_than_principals(self):
        # one reader per two cores, but never more readers than principals (8)
        env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:ActiveProcessorCount=20")
        code, lines = run("--workload", "policy_heavy", "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--size", "small", env=env)
        self.assertEqual(code, 0, "\n".join(lines[-20:]))
        self.assertTrue(any("cores=20 readers=8 " in l for l in lines), "\n".join(lines[-20:]))
        result = json.loads(lines[-1])
        self.assertTrue(result["correct"], "\n".join(l for l in lines if "mismatch" in l))

    def test_inputs_are_a_function_of_the_seed(self):
        for w in self.spec["workloads"]:
            digests = {}
            for seed in (1, 1, 2):
                code, lines = run("--workload", w["name"], "--seed", str(seed), "--dump-inputs")
                self.assertEqual(code, 0)
                digests.setdefault(seed, set()).add(lines[-1])
            self.assertEqual(len(digests[1]), 1, "same seed, different inputs")
            self.assertNotEqual(digests[1], digests[2], "different seeds, same inputs")


if __name__ == "__main__":
    unittest.main()
