"""The benchmark's own tests: each correctness check accepts a right output
and rejects a perturbed one, and the launcher's JVM flags match build.sbt.

Run: python3 -m unittest discover -s perfbench/tests -v
"""
import csv
import datetime
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import core25_ref   # noqa: E402
import payroll      # noqa: E402
import run          # noqa: E402
import tables       # noqa: E402
import xlsx         # noqa: E402


def _plain(v):
    return v.item() if hasattr(v, "item") else v


class Core25CheckTest(unittest.TestCase):
    """run.check_core25 against results written the way the harness writes them."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        data = os.path.join(cls.tmp, "tables")
        tables.generate(data, sf=0.01, seed=42)
        load = core25_ref._load(data)
        cache = {}

        def t(name):
            if name not in cache:
                cache[name] = load(name)
            return cache[name]
        cls.frames = {n: fn(t) for n, fn in core25_ref.QUERIES.items()}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def _write(self, frames):
        work = tempfile.mkdtemp(dir=self.tmp)
        os.makedirs(os.path.join(work, "results"))
        for name, (cols, rows) in frames.items():
            with open(os.path.join(work, "results", f"{name}.json"), "w") as f:
                json.dump({"columns": cols, "rows": [[_plain(v) for v in r] for r in rows]}, f)
        return work

    def test_reference_output_passes(self):
        self.assertEqual(run.check_core25(self._write(self.frames)), [])

    def test_rows_in_another_order_pass(self):
        frames = dict(self.frames)
        cols, rows = frames["q_scan_project"]
        frames["q_scan_project"] = (cols, list(reversed(rows)))
        self.assertEqual(run.check_core25(self._write(frames)), [])

    def test_changed_value_fails(self):
        frames = dict(self.frames)
        cols, rows = frames["q_derive_strip_decimal"]
        rows = list(rows)
        k, n, q = rows[7]
        rows[7] = (k, n, q + ".0")
        frames["q_derive_strip_decimal"] = (cols, rows)
        errors = run.check_core25(self._write(frames))
        self.assertTrue(any(e.startswith("q_derive_strip_decimal: digest") for e in errors), errors)

    def test_missing_row_fails(self):
        frames = dict(self.frames)
        cols, rows = frames["q_pipeline_pretam"]
        frames["q_pipeline_pretam"] = (cols, list(rows)[1:])
        errors = run.check_core25(self._write(frames))
        self.assertTrue(any(e.startswith("q_pipeline_pretam: rows") for e in errors), errors)

    def test_renamed_column_fails(self):
        frames = dict(self.frames)
        cols, rows = frames["q_project_rename"]
        frames["q_project_rename"] = (["id"] + cols[1:], rows)
        errors = run.check_core25(self._write(frames))
        self.assertTrue(any(e.startswith("q_project_rename: columns") for e in errors), errors)

    def test_missing_query_fails(self):
        frames = dict(self.frames)
        del frames["q_agg_minmax"]
        self.assertIn("q_agg_minmax: no result", run.check_core25(self._write(frames)))


class PayrollCheckTest(unittest.TestCase):
    """payroll.check against outputs built from the generator's bookkeeping."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.truth = payroll.generate(os.path.join(self.tmp, "storage"), seed=3,
                                      n_pua=300, n_cert=250)
        self.pua = [[""] * len(payroll.PUA_COLUMNS) for _ in self.truth["pua"]]
        c = {n: i for i, n in enumerate(payroll.PUA_COLUMNS)}
        for row, (uin, w) in zip(self.pua, sorted(self.truth["pua"].items())):
            row[c["UIN"]] = uin
            row[c["Adjustment Reason Code"]], row[c["Adjustment Reason Description"]] = w["adj"]
            row[c["Time Entry"]] = w["time_entry"] or ""
            row[c["TS-Org Dept Title"]] = w["dept_title"]
            row[c["Calc Date"]] = "2025-07-14T00:00:00.000Z"
        self.cpa = [[""] * len(payroll.CPA_COLUMNS) for _ in self.truth["cert"]]
        c = {n: i for i, n in enumerate(payroll.CPA_COLUMNS)}
        for row, (uin, w) in zip(self.cpa, sorted(self.truth["cert"].items())):
            row[c["UIN"]] = uin
            row[c["Time Entry"]] = w["time_entry"]

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _write(self, pua, cpa, pua_xlsx=None, pua_header=None):
        out = os.path.join(self.tmp, "out")
        shutil.rmtree(out, ignore_errors=True)
        for prefix, header, rows, xrows in (
                ("PreTAM_PUA", pua_header or payroll.PUA_COLUMNS, pua, pua_xlsx or pua),
                ("CPA_Final", payroll.CPA_COLUMNS, cpa, cpa)):
            d = os.path.join(out, f"{prefix}_{payroll.STAMP}")
            os.makedirs(d)
            with open(os.path.join(d, "part-00000-x.csv"), "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(header)
                w.writerows(rows)
            date_col = header.index("Calc Date") if "Calc Date" in header else None
            xl = [[datetime.date.fromisoformat(v[:10]) if i == date_col and v else (v or None)
                   for i, v in enumerate(r)] for r in xrows]
            xlsx.write(os.path.join(out, f"{prefix}_{payroll.STAMP}.xlsx"), header, xl,
                       date_cols=[date_col] if date_col is not None else [])
        return out

    def test_bookkeeping_output_passes(self):
        self.assertEqual(payroll.check(self._write(self.pua, self.cpa), self.truth), [])

    def test_duplicate_left_in_fails(self):
        errors = payroll.check(self._write(self.pua + [self.pua[0]], self.cpa), self.truth)
        self.assertTrue(any(e.startswith("PUA rows") for e in errors), errors)

    def test_unfilled_adjustment_fails(self):
        c = payroll.PUA_COLUMNS.index("Adjustment Reason Code")
        row = next(r for r in self.pua if r[c] == "INT")
        row[c] = ""
        errors = payroll.check(self._write(self.pua, self.cpa), self.truth)
        self.assertTrue(any("adj fills" in e for e in errors), errors)

    def test_mode_fill_missing_fails(self):
        c = payroll.PUA_COLUMNS.index("Time Entry")
        uin = next(u for u, w in sorted(self.truth["pua"].items()) if w["mode_fill"])
        next(r for r in self.pua if r[0] == uin)[c] = ""
        errors = payroll.check(self._write(self.pua, self.cpa), self.truth)
        self.assertTrue(any("mode fills" in e for e in errors), errors)

    def test_dept_fallback_missing_fails(self):
        c = payroll.PUA_COLUMNS.index("TS-Org Dept Title")
        row = next(r for r in self.pua if r[c].startswith("Home Dept "))
        row[c] = ""
        errors = payroll.check(self._write(self.pua, self.cpa), self.truth)
        self.assertTrue(any("fallback fills" in e for e in errors), errors)

    def test_filtered_row_kept_fails(self):
        extra = list(self.cpa[0])
        extra[0] = "C999999999"
        errors = payroll.check(self._write(self.pua, self.cpa + [extra]), self.truth)
        self.assertTrue(any(e.startswith("CPA rows") for e in errors), errors)

    def test_column_order_fails(self):
        header = list(payroll.PUA_COLUMNS)
        header[1], header[2] = header[2], header[1]
        errors = payroll.check(self._write(self.pua, self.cpa, pua_header=header), self.truth)
        self.assertTrue(any("paper's column order" in e for e in errors), errors)

    def test_xlsx_differs_from_csv_fails(self):
        other = [list(r) for r in self.pua]
        other[5][payroll.PUA_COLUMNS.index("TS ORG")] = "999999"
        errors = payroll.check(self._write(self.pua, self.cpa, pua_xlsx=other), self.truth)
        self.assertTrue(any("CSV and XLSX hold different rows" in e for e in errors), errors)

    def test_missing_xlsx_fails(self):
        out = self._write(self.pua, self.cpa)
        os.remove(os.path.join(out, f"CPA_Final_{payroll.STAMP}.xlsx"))
        self.assertTrue(payroll.check(out, self.truth))

    def test_generator_is_seeded(self):
        a = payroll.generate(os.path.join(self.tmp, "a"), seed=9, n_pua=50, n_cert=40)
        b = payroll.generate(os.path.join(self.tmp, "b"), seed=9, n_pua=50, n_cert=40)
        self.assertEqual(a, b)
        with open(os.path.join(self.tmp, "a", "cert_BW_2026.csv")) as f1, \
                open(os.path.join(self.tmp, "b", "cert_BW_2026.csv")) as f2:
            self.assertEqual(f1.read(), f2.read())


class XlsxTest(unittest.TestCase):
    def test_round_trip(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "t.xlsx")
            xlsx.write(path, ["a", "b", "when"],
                       [["x", 1, datetime.date(2026, 1, 2)], [None, 2.5, None]], date_cols=[2])
            self.assertEqual(xlsx.read(path), [["a", "b", "when"], ["x", "1", "2026-01-02"],
                                               [None, "2.5", None]])


class LauncherTest(unittest.TestCase):
    def test_java_options_match_build_sbt(self):
        with open(os.path.join(os.path.dirname(BENCH), "build.sbt")) as f:
            sbt = f.read()
        opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S).group(1)
        self.assertEqual(re.findall(r'"java\.base/([\w.]+)"', opens), run.ADD_OPENS)
        java_opts = re.search(r"javaOptions \+\+= .*?Seq\((.*?)\n\)", sbt, re.S).group(1)
        flags = re.findall(r'"(-D[^"]+)"', java_opts)
        self.assertEqual(flags, [f for f in run.JAVA_OPTIONS if f.startswith("-D")])

    def test_heap_is_the_only_deviation(self):
        # runs pin a 1 GB heap; --heap gives back build.sbt's -Xmx for heap studies
        with open(os.path.join(os.path.dirname(BENCH), "build.sbt")) as f:
            sbt_heap = re.search(r'-Xmx\$\{sys\.env\.getOrElse\("SPARK_DRIVER_MEM", "(\w+)"\)\}',
                                 f.read()).group(1)
        self.assertEqual(run.heap_flags(), ["-Xms1g", "-Xmx1g"])
        self.assertEqual(run.heap_flags(sbt_heap), ["-Xmx8g"])
        self.assertFalse([f for f in run.JAVA_OPTIONS if f.startswith("-Xm")])


if __name__ == "__main__":
    unittest.main()
