"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py

- the generator writes byte-identical files for a fixed seed;
- every output check passes on real outputs and fails when one index
  row is dropped or one download row is altered (perfbench.SelfTest);
- a seed not used while the benchmark was written runs every workload
  with no failed operation.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SCRATCH = os.path.join(run.BUILD, "test")
UNUSED_SEED = 90210


def tree_digest(top):
    h = hashlib.sha256()
    for d, dirs, names in sorted(os.walk(top)):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, top).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class PerfbenchTest(unittest.TestCase):

    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_generator_is_byte_identical_for_a_seed(self):
        for w in run.WORKLOADS:
            digests = []
            for k in ("a", "b"):
                out = os.path.join(SCRATCH, f"{w}-{k}")
                code, _ = run.java(["gen", w, "7", out], timeout=170)
                self.assertEqual(code, 0)
                digests.append(tree_digest(out))
            self.assertEqual(digests[0], digests[1], w)
            other = os.path.join(SCRATCH, f"{w}-c")
            run.java(["gen", w, "8", other], timeout=170)
            self.assertNotEqual(digests[0], tree_digest(other), w)

    def test_checks_fail_on_mutated_outputs(self):
        code, out = run.java(["selftest", run.ROOT], timeout=170)
        print(out)
        self.assertEqual(code, 0, out)

    def test_unused_seed_has_no_failed_operation(self):
        for w in run.WORKLOADS:
            p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                                "--workload", w, "--seed", str(UNUSED_SEED),
                                "--seconds", "2", "--trace", "0"],
                               capture_output=True, text=True, timeout=200)
            self.assertEqual(p.returncode, 0, p.stderr[-3000:])
            r = json.loads(p.stdout.strip().splitlines()[-1])
            self.assertTrue(r["correct"], w)
            self.assertEqual(r["failed"], 0, w)
            self.assertGreaterEqual(r["attempted"], 1, w)


if __name__ == "__main__":
    unittest.main()
