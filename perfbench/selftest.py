"""Self-tests of the benchmark's own machinery. No Spark session needed.

Run from the root of a checkout:

    python3 perfbench/selftest.py

* the input generator is a pure function of the seed: the same seed
  writes byte-identical files, another seed writes different ones;
* the correctness check catches a corrupted result: a frame carrying the
  oracle's own rows passes, the same rows with one cell changed, one row
  dropped or one column renamed fail;
* the tracer's self times add up to the traced wall time, and a patched
  function is rebound in every module that imported it, then restored.
"""

from __future__ import annotations

import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import gen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

SCALE = 0.001


def _files(d: str) -> list[str]:
    return sorted(os.listdir(d))


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work"))

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, seed: int, name: str) -> str:
        src = os.path.join(self.tmp.name, f"{name}_sf")
        gen.write_sources(seed, SCALE, src)
        return src

    def assert_same(self, a: str, b: str) -> None:
        self.assertEqual(_files(a), _files(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_same_seed_same_bytes(self):
        self.assert_same(self.write(7, "a"), self.write(7, "b"))

    def test_other_seed_other_bytes(self):
        a, b = self.write(7, "a"), self.write(8, "b")
        # fixed dimensions: 5 regions, 25 nations
        names = [f for f in _files(a) if f not in ("region.parquet", "nation.parquet")]
        _, mismatch, _ = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual(sorted(mismatch), sorted(names))


class _Frame:
    """Stands in for a Spark DataFrame: the check only collects rows."""

    def __init__(self, columns, rows):
        self.columns = list(columns)
        self._rows = rows

    def collect(self):
        return self._rows


class CorruptedResultTest(unittest.TestCase):
    KEY = "q_revenue_daily"

    @classmethod
    def setUpClass(cls):
        from saas_analytics_pipeline_spark import qcatalog

        qcatalog.load_all()
        os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
        cls.tmp = tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work"))
        sf_dir = os.path.join(cls.tmp.name, "sf")
        gen.write_sources(5, SCALE, sf_dir)
        cls.con = workloads.open_oracle(sf_dir)
        res = cls.con.execute(qcatalog.QUERIES[cls.KEY].oracle)
        cls.cols = [d[0] for d in res.description]
        cls.rows = res.fetchall()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def check(self, cols, rows):
        return workloads.check_against_oracle(self.con, self.KEY, _Frame(cols, rows))

    def test_oracle_rows_pass(self):
        self.assertGreater(len(self.rows), 0)
        self.assertIsNone(self.check(self.cols, list(reversed(self.rows))))

    def test_changed_cell_fails(self):
        rows = list(self.rows)
        i = next(j for j, v in enumerate(rows[0]) if isinstance(v, (int, float)))
        bad = list(rows[0])
        bad[i] = bad[i] + 1
        rows[0] = tuple(bad)
        self.assertIn("values differ", self.check(self.cols, rows))

    def test_dropped_row_fails(self):
        self.assertIn("rowcount", self.check(self.cols, self.rows[1:]))

    def test_renamed_column_fails(self):
        cols = ["renamed"] + self.cols[1:]
        self.assertIn("columns", self.check(cols, self.rows))


class TracerTest(unittest.TestCase):
    def test_self_time_and_outermost_nesting(self):
        tr = Tracer("t")
        with tr.span("bench.workload") as outer:
            with tr.span("qcatalog.build"):
                with tr.span("sources.load_table"):
                    pass
        own = tr.self_times()
        total = sum(own.values())
        self.assertAlmostEqual(total, outer.end - outer.start, places=9)
        self.assertEqual([s.parent for s in tr.spans], [None, 0, 1])

    def test_patch_rebinds_importers_and_restores(self):
        from saas_analytics_pipeline_spark import ci, quality

        orig = quality.checks.run_checks
        tr = Tracer("t")
        tr.patch(quality.checks, "run_checks", "quality.run_checks")
        self.assertIsNot(ci.run_checks, orig)
        self.assertIs(ci.run_checks, quality.checks.run_checks)
        self.assertEqual(ci.run_checks({}), [])
        self.assertEqual([s.name for s in tr.spans], ["quality.run_checks"])
        tr.restore()
        self.assertIs(ci.run_checks, orig)
        self.assertIs(quality.checks.run_checks, orig)


if __name__ == "__main__":
    unittest.main()
