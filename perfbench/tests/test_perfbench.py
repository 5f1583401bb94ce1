"""Tests of the benchmark's own pieces. From the root of the repository:

    python3 -m unittest discover -s perfbench/tests

The oracle test builds the harness on first use, as the benchmark does.
"""
import collections
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_edge_list(self):
        self.assertEqual(gen.snap_edges(5, lines=20_000), gen.snap_edges(5, lines=20_000))
        self.assertNotEqual(gen.snap_edges(5, lines=20_000), gen.snap_edges(6, lines=20_000))

    def test_same_seed_same_lineitem(self):
        self.assertTrue(gen.lineitem(3, 0.0005).equals(gen.lineitem(3, 0.0005)))
        self.assertFalse(gen.lineitem(3, 0.0005).equals(gen.lineitem(4, 0.0005)))

    def test_edge_list_shape(self):
        lines = gen.snap_edges(1, lines=50_000).decode().split("\n")[2:-1]
        good = [l.split("\t") for l in lines if len(l.split("\t")) == 2]
        self.assertAlmostEqual(1 - len(good) / len(lines), gen.SNAP_JUNK_SHARE, delta=0.002)
        top = collections.Counter(d for _, d in good).most_common(1)[0][1]
        self.assertAlmostEqual(top / len(good), 0.0135, delta=0.003)


class OracleTest(unittest.TestCase):
    """The expected report equals what CitationReportApp.run writes."""

    def engine_report(self, edges_path, tmp):
        run.ensure_build()
        out = os.path.join(tmp, "report.txt")
        run.jvm(["report", edges_path, out, gen.REPORT_TIMESTAMP], "oracle-test.log")
        with open(out) as f:
            return f.read()

    def check(self, data):
        with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
            path = os.path.join(tmp, "edges.txt")
            with open(path, "wb") as f:
                f.write(data)
            self.assertEqual(gen.expected_report(data), self.engine_report(path, tmp))

    def test_tiny_fixture(self):
        os.makedirs(run.WORK, exist_ok=True)
        with open(os.path.join(run.ROOT, "src", "test", "resources", "edges_tiny.txt"), "rb") as f:
            self.check(f.read())

    def test_ties_break_on_the_id_string(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.check(b"1\t9\n2\t10\n3\t9\n4\t10\n5\t100\n  \n#x\n6\t7\t8\n")


class BuildKeyTest(unittest.TestCase):
    """The build is redone when the engine's or the harness's sources change,
    and only then."""

    def test_key_follows_the_sources(self):
        with tempfile.TemporaryDirectory() as root:
            here = os.path.join(root, "perfbench")
            files = {"build.sbt": "a", "project/build.properties": "b",
                     "src/main/scala/graft/A.scala": "c", "perfbench/build.sbt": "d",
                     "perfbench/src/main/scala/H.scala": "e"}
            for name, text in files.items():
                os.makedirs(os.path.dirname(os.path.join(root, name)), exist_ok=True)
                with open(os.path.join(root, name), "w") as f:
                    f.write(text)
            saved = run.ROOT, run.HERE
            run.ROOT, run.HERE = root, here
            try:
                key = run.build_key()
                os.makedirs(os.path.join(root, "project", "target"))
                with open(os.path.join(root, "project", "target", "out.class"), "w") as f:
                    f.write("built")
                self.assertEqual(key, run.build_key())
                for name in ("src/main/scala/graft/A.scala", "perfbench/src/main/scala/H.scala"):
                    with open(os.path.join(root, name), "a") as f:
                        f.write(" ")
                    self.assertNotEqual(key, run.build_key(), name)
                    key = run.build_key()
            finally:
                run.ROOT, run.HERE = saved


class StatsTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertRaises(ValueError, stats.geomean, [1, 0])

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(range(1, 21)))
        self.assertEqual(stats.tail(range(1, 41)), (75.0, 30))
        self.assertEqual(stats.tail(range(1, 101)), (90.0, 90))
        self.assertEqual(stats.tail(range(1, 1001)), (99.0, 990))

    def test_effective_parallelism(self):
        self.assertAlmostEqual(stats.effective_parallelism(800, 100, 4), 2.0)
        self.assertAlmostEqual(stats.effective_parallelism(400, 100, 4), 1.0)

    def test_pass_reference_brackets_the_pass(self):
        timings = {"reference_s": [[-1, 3.0], [0, 1.0], [1, 2.0], [2, 4.0]]}
        self.assertEqual(run.pass_reference(timings), {0: 2.0, 1: 1.5, 2: 3.0})

    def test_uncovered_time(self):
        spans = [(10, 20), (15, 30), (50, 60), (90, 120), (52, 55)]
        self.assertAlmostEqual(stats.uncovered_ms(0, 100, spans), 60)
        self.assertAlmostEqual(stats.uncovered_ms(0, 100, []), 100)
        self.assertAlmostEqual(stats.uncovered_ms(0, 100, [(-5, 200)]), 0)


if __name__ == "__main__":
    unittest.main()
