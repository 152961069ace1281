"""Unit tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The fingerprint test runs the harness JVM, so it needs a built classpath
(any earlier benchmark run leaves one); it is skipped without one.
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))
import benchlib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolated(self):
        xs = list(range(1, 102))
        self.assertEqual(benchlib.percentile(xs, 50), 51)
        self.assertEqual(benchlib.percentile(xs, 90), 91)
        self.assertEqual(benchlib.percentile([3.0], 90), 3.0)
        self.assertEqual(benchlib.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertAlmostEqual(benchlib.percentile([1.0, 2.0], 90), 1.9)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(benchlib.tail_percentile(1000), 99)
        self.assertEqual(benchlib.tail_percentile(200), 95)
        self.assertEqual(benchlib.tail_percentile(100), 90)
        self.assertEqual(benchlib.tail_percentile(99), 75)
        self.assertEqual(benchlib.tail_percentile(40), 75)
        self.assertEqual(benchlib.tail_percentile(20), 50)
        self.assertIsNone(benchlib.tail_percentile(19))
        for n in (20, 57, 100, 333, 5000):
            p = benchlib.tail_percentile(n)
            self.assertGreaterEqual(benchlib.samples_beyond(n, p), 10)


class CallSiteTest(unittest.TestCase):
    MODULES = {"Tables": "sources", "Curate": "operators", "ChDdl": "functions",
               "DedupQueries": "queries", "ChSql": "functions", "SparkEntry": ""}

    def test_reference_cases(self):
        m = self.MODULES
        self.assertEqual(benchlib.module_of("parquet at Tables.scala:16", m), "sources")
        self.assertEqual(benchlib.module_of("count at Curate.scala:91", m), "operators")
        self.assertEqual(benchlib.module_of("localCheckpoint at ChDdl.scala:1385", m), "operators")

    def test_other_sites(self):
        m = self.MODULES
        self.assertEqual(benchlib.module_of("collect at ChSql.scala:10", m), "functions")
        self.assertEqual(benchlib.module_of("save at Harness.scala:170", m), "other")
        self.assertEqual(benchlib.module_of("", m), "other")
        self.assertEqual(benchlib.module_of("entry at SparkEntry.scala:3", m), "graft")

    def test_modules_from_source_tree(self):
        src = BENCH.parent / "src/main/scala/graft"
        if not src.is_dir():
            self.skipTest("no graft source tree")
        m = benchlib.file_modules(src)
        self.assertEqual(m["Tables"], "sources")
        self.assertEqual(m["Curate"], "operators")
        self.assertEqual(benchlib.module_of("localCheckpoint at ChDdl.scala:1385", m), "operators")


class OutputCheckTest(unittest.TestCase):
    FP = {"rows": 3, "hash": "12", "schema": "a:int"}

    def setup(self, **checks):
        return {"setup_s": 1.0, "checks": checks}

    def ok(self, rows=3, h="12"):
        return {"ok": True, "rows": rows, "hash": h, "schema": "a:int", "s": 0.1}

    def test_match(self):
        self.assertEqual(benchlib.check_outputs(self.setup(k=self.ok()), {"k": self.FP}), [])

    def test_mismatch_names_key_and_phase(self):
        f = benchlib.check_outputs(self.setup(k=self.ok(h="13")), {"k": self.FP})
        self.assertEqual((f[0]["key"], f[0]["phase"]), ("k", "check"))

    def test_exception_names_phase_and_cause(self):
        bad = {"ok": False, "phase": "plan", "cause": "AnalysisException: x", "s": 0.1}
        f = benchlib.check_outputs(self.setup(k=bad), {"k": self.FP})
        self.assertEqual(f, [{"key": "k", "phase": "plan", "cause": "AnalysisException: x"}])

    def test_unrecorded_key_fails(self):
        f = benchlib.check_outputs(self.setup(k=self.ok()), {})
        self.assertEqual((f[0]["key"], f[0]["cause"]), ("k", "no recorded fingerprint"))


class ReconcileTest(unittest.TestCase):
    def span(self, i, parent, name, start, end, **attrs):
        return dict(id=i, parent=parent, name=name, start_ms=start, end_ms=end, **attrs)

    def test_gap_per_key_does_not_cancel(self):
        spans = [self.span(0, -1, "run", 0, 9000)]
        nid = 1
        for p, t0 in ((1, 0), (2, 4000)):
            pid = nid
            spans.append(self.span(pid, 0, "pass", t0, t0 + 3000, **{"pass": p}))
            nid += 1
            # key a: 1.2 s of spans, key b: 0.8 s
            for key, t, ms in (("a", t0, 1200), ("b", t0 + 1500, 800)):
                kid = nid
                spans.append(self.span(kid, pid, "key", t, t + ms, key=key))
                spans.append(self.span(kid + 1, kid, "build", t, t + 200, key=key))
                spans.append(self.span(kid + 2, kid, "plan", t + 200, t + 300, key=key))
                spans.append(self.span(kid + 3, kid, "exec", t + 300, t + ms, key=key))
                nid += 4
        gaps = benchlib.reconcile_gaps(spans, {"a": 1.0, "b": 1.0})
        self.assertAlmostEqual(gaps["a"], 0.2)
        self.assertAlmostEqual(gaps["b"], -0.2)
        # the +0.2 of a and the -0.2 of b do not cancel: each key must fit
        self.assertFalse(benchlib.reconciles(gaps, 0.1, {}))
        self.assertFalse(benchlib.reconciles(gaps, 0.1, {"a": 0.15}))
        self.assertTrue(benchlib.reconciles(gaps, 0.1, {"a": 0.15, "b": 0.1}))
        self.assertTrue(benchlib.reconciles(gaps, -0.25, {}))


class FingerprintTest(unittest.TestCase):
    """The fingerprint must not depend on row order or partitioning, and
    must tell apart a NULL from a value and a moved value."""

    def test_order_insensitive(self):
        import run
        cp_file = run.build_dir() / "classpath.txt"
        if not cp_file.exists():
            self.skipTest("harness not built; run the benchmark once")
        with tempfile.TemporaryDirectory() as tmp:
            out = Path(tmp) / "fp.json"
            cmd = (["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                    f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
                   + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in run.JDK_OPENS]
                   + ["-cp", cp_file.read_text().strip(), "perfbench.FingerprintSelfTest",
                      str(out), tmp])
            subprocess.run(cmd, check=True, cwd=tmp, timeout=170,
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            fp = json.loads(out.read_text())
        base = fp["base"]
        self.assertEqual(fp["shuffled"], base)
        self.assertEqual(fp["repartitioned"], base)
        self.assertNotEqual(fp["null_moved"]["hash"], base["hash"])
        self.assertNotEqual(fp["value_swapped"]["hash"], base["hash"])
        self.assertNotEqual(fp["row_dropped"]["rows"], base["rows"])


if __name__ == "__main__":
    unittest.main()
