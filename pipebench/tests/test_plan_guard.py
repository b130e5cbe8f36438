"""Full-materialization guard: the timed action of every closed-loop
operation must keep every Window and Sort node of the operation's own
optimized plan. A `count()` would not: Catalyst prunes the window columns
nobody reads (see README.md, "Why not count()").

Builds graft and the harness (pipebench/build.py) and runs the harness's
guard mode on a small seeded input, so it needs SPARK_HOME and takes a few
minutes. Run from the root of a checkout.
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.abspath(os.path.join(HERE, ".."))


@unittest.skipUnless(os.environ.get("SPARK_HOME"), "needs SPARK_HOME")
class PlanGuard(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.jar, _ = build.build(ROOT)
        cls.tmp = tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build"))
        gen.generate(1, os.path.join(cls.tmp.name, "data"))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def guard(self, workload):
        work = os.path.join(self.tmp.name, workload)
        os.makedirs(work)
        raw = os.path.join(work, "raw.jsonl")
        subprocess.run(["java"] + build.ADD_OPENS + [
            "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'harness', 'log4j2.properties')}",
            "-cp", f"{self.jar}{os.pathsep}{build.spark_jars()}", "pipebench.Harness",
            "--mode", "guard", "--workload", workload, "--cores", "2",
            "--data", os.path.join(self.tmp.name, "data"), "--raw", raw, "--work", work],
            check=True, timeout=600, stdout=subprocess.DEVNULL)
        return metrics.of(metrics.load(raw), "guard")

    def check(self, workload, n_ops):
        rows = self.guard(workload)
        self.assertEqual(len(rows), n_ops)
        for r in rows:
            with self.subTest(op=r["name"]):
                self.assertEqual(r["timed_windows"], r["own_windows"])
                self.assertEqual(r["timed_sorts"], r["own_sorts"])
        return {r["name"]: r for r in rows}

    def test_dashboard_actions_materialize_everything(self):
        rows = self.check("ticks", 16)
        # the reason for the guard: under count() q_sma keeps none of its windows
        sma = rows["indicators.sma"]
        self.assertGreater(sma["own_windows"], 0)
        self.assertEqual(sma["count_windows"], 0)

    def test_curation_actions_materialize_everything(self):
        self.check("curation", 3 + gen.SEARCH_BATCHES)


if __name__ == "__main__":
    unittest.main()
