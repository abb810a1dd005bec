"""Input generators: the same seed gives byte-identical inputs, another
seed gives different ones. Builds the benchmark's JVM driver first
(about half a minute on a cold build directory).

Run: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402


def digest(cp: str, workload: str, seed: int, root: str) -> dict:
    work = os.path.join(root, f"{workload}-{seed}-{len(os.listdir(root))}")
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Main", "--gen-only", "1",
         "--workload", workload, "--seed", str(seed), "--seconds", "9",
         "--trace", "0", "--cores", "1", "--work", work, "--out", "-"],
        check=True, stdout=subprocess.DEVNULL)
    out = {}
    for name in sorted(os.listdir(work)):
        with open(os.path.join(work, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


class Determinism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = build.build(quiet=True)

    def check(self, workload):
        with tempfile.TemporaryDirectory(dir=build.BUILD_DIR) as root:
            a = digest(self.cp, workload, 11, root)
            b = digest(self.cp, workload, 11, root)
            c = digest(self.cp, workload, 12, root)
        self.assertTrue(a)
        self.assertEqual(a, b, "same seed must give identical inputs")
        for name in a:
            self.assertNotEqual(a[name], c[name], f"{name} must differ across seeds")

    def test_crypto_inputs(self):
        self.check("crypto_etl")

    def test_ingest_inputs(self):
        self.check("ingest_ticks")


if __name__ == "__main__":
    unittest.main()
