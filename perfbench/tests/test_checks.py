"""The output checks reject wrong outputs, and each rejection is a failed op.

    python3 perfbench/tests/test_checks.py

Builds like run.py does, generates small drain and query inputs with gen.py,
and runs perfbench.SelfTest, which corrupts outputs between each timed op and
its check: a duplicated landed identity (both drains), a dropped message, a
lost schema lineage, a changed query digest and changed row counts.
"""
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import run  # noqa: E402


class OutputChecks(unittest.TestCase):
    def test_checks_reject_wrong_outputs(self):
        cp = run.build(run.build_dir())
        work = os.path.join(run.ROOT, ".bench_work", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        try:
            gen.WARM_MSGS, gen.ONESHOT_MSGS, gen.QUERY_SCALE = 3_200, 6_400, 0.001
            gen.RESUME_BASE_MSGS, gen.RESUME_ROUND_MSGS, gen.RESUME_ROUNDS = 6_400, 3_200, 4
            for w in ("drain_oneshot", "drain_resume", "query_mix"):
                gen.generate(w, 5, os.path.join(work, "input", w))
            p = subprocess.run(
                run.java_cmd(cp, work, "perfbench.SelfTest") +
                ["--input", os.path.join(work, "input"), "--work", work],
                cwd=work, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, timeout=600)
            print(p.stdout)
            lines = [ln for ln in p.stdout.splitlines() if ln.startswith(("PASS", "FAIL"))]
            self.assertEqual(p.returncode, 0)
            self.assertEqual(len(lines), 11)
            self.assertTrue(all(ln.startswith("PASS") for ln in lines))
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
