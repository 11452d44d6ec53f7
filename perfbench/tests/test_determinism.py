"""The same seed must give the same generated inputs and query parameters.

Builds the benchmark, then asks the generator for the SHA-256 digest of a
seed's bootstrap, daily and bulk increments and first 200 dashboard
queries (`perfbench.Bench --digest`). No Spark session is started.

  python3 perfbench/tests/test_determinism.py
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402


class DeterminismTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classpath = run.build()

    def digest(self, seed):
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-cp", ":".join(self.classpath), "perfbench.Bench",
             "--digest", "--seed", str(seed)],
            capture_output=True, text=True, check=True).stdout
        return out.strip().splitlines()[-1]

    def test_same_seed_gives_identical_inputs(self):
        self.assertEqual(self.digest(7), self.digest(7))

    def test_other_seed_gives_other_inputs(self):
        self.assertNotEqual(self.digest(7), self.digest(8))


if __name__ == "__main__":
    unittest.main()
