"""The checkers must reject damaged outputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The catalog cases damage real artifacts: the program is built and run once
(a cold catalog pass, a warm-up and one timed pass, under a minute) on a
small generated roster; the checks read the cold pass's artifacts.
"""
import os
import re
import shutil
import subprocess
import sys
import unittest
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check_catalog  # noqa: E402
import check_queries  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(build.WORK, "test")
N_NOC, N_IND = 6, 3


def rewrite(path, part, edit):
    """Replace zip entry `part` of `path` by edit(text)."""
    with zipfile.ZipFile(path) as z:
        items = [(i, z.read(i.filename)) for i in z.infolist()]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for info, data in items:
            if info.filename == part:
                data = edit(data.decode("utf-8")).encode("utf-8")
            z.writestr(info, data)


def sheet_part(path, sheet):
    """The worksheet part of the sheet named `sheet`."""
    with zipfile.ZipFile(path) as z:
        wb = z.read("xl/workbook.xml").decode()
    rid = re.search(r'<sheet name="%s" sheetId="\d+" r:id="(rId\d+)"' % re.escape(sheet), wb)
    return f"xl/worksheets/sheet{rid.group(1)[3:]}.xml"


class CatalogChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classes, _ = build.build()
        shutil.rmtree(WORK, ignore_errors=True)
        cls.raw = os.path.join(WORK, "raw")
        out = os.path.join(WORK, "out")
        os.makedirs(out)
        os.makedirs(os.path.join(build.WORK, "tmp"), exist_ok=True)
        gen.generate(cls.raw, N_NOC, N_IND, 7)
        args = ["--mode", "catalog", "--raw", cls.raw, "--out", out, "--seconds", "0",
                "--trace", "0",
                "--result", os.path.join(WORK, "result.json")]
        with open(os.path.join(WORK, "jvm.log"), "w") as log:
            subprocess.run(run.jvm_command(classes, args), stdout=log, stderr=subprocess.STDOUT,
                           cwd=WORK, check=True, timeout=300)
        cls.good = os.path.join(out, "cold")

    def damaged(self, name):
        d = os.path.join(WORK, name)
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.good, d)
        return d

    def problems(self, d):
        return check_catalog.check(d, self.raw, N_NOC, N_IND)

    def assertFound(self, problems, pattern):
        self.assertTrue(any(re.search(pattern, p) for p in problems),
                        f"no problem matching {pattern!r} in {problems}")

    def test_intact_artifacts_pass(self):
        self.assertEqual(self.problems(self.good), [])

    def test_dropped_row(self):
        d = self.damaged("dropped_row")
        f = os.path.join(d, "Employment by Industry and Occupation for BC.xlsx")
        rewrite(f, sheet_part(f, "data"), lambda x: re.sub(r'<row r="3">.*?</row>', "", x, count=1))
        self.assertFound(self.problems(d), r"for BC\.xlsx/data: \d+ rows, expected")

    def test_edited_cell(self):
        d = self.damaged("edited_cell")
        f = os.path.join(d, "Job Openings by Industry and Occupation for BC.xlsx")
        rewrite(f, sheet_part(f, "Sheet 1"),
                lambda x: re.sub(r'(<c r="H4" t="n"><v>)([^<]+)', lambda m: m.group(1) + str(float(m.group(2)) + 1), x))
        self.assertFound(self.problems(d), r"Sum of .* recomputed")

    def test_job_openings_not_expansion_plus_replacement(self):
        d = self.damaged("jo_identity")
        f = os.path.join(d, "JO by Type, Ind and Occ for BC and Regions.xlsx")

        def edit(x):
            # the first "Job Openings" row: bump its 2024 value
            m = re.search(r'<row r="(\d+)">(?:(?!</row>).)*Job Openings</t>', x)
            ref = f'<c r="F{m.group(1)}" t="n"><v>'
            i = x.index(ref) + len(ref)
            j = x.index("<", i)
            return x[:i] + str(float(x[i:j]) + 5) + x[j:]
        rewrite(f, sheet_part(f, "Sheet 1"), edit)
        self.assertFound(self.problems(d), r"Job Openings .* != Expansion")

    def test_region_sheet_differs_from_data(self):
        d = self.damaged("region_sheet")
        f = os.path.join(d, "Employment by Occupation for BC and Regions.xlsx")
        rewrite(f, sheet_part(f, "Kootenay"), lambda x: re.sub(r'<row r="2">.*?</row>', "", x, count=1))
        self.assertFound(self.problems(d), r"region sheets differ from the data sheet")

    def test_sheet_over_row_limit(self):
        d = os.path.join(WORK, "row_limit")
        os.makedirs(d, exist_ok=True)
        f = os.path.join(d, "big.xlsx")
        n = check_catalog.EXCEL_MAX_ROWS + 1
        ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
        with zipfile.ZipFile(f, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("xl/workbook.xml", f'<workbook {ns} {rns}><sheets><sheet name="Sheet 1" '
                                          'sheetId="1" r:id="rId1"/></sheets></workbook>')
            z.writestr("xl/_rels/workbook.xml.rels",
                       '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
                       'relationships"><Relationship Id="rId1" Target="worksheets/sheet1.xml"/>'
                       '</Relationships>')
            with z.open("xl/worksheets/sheet1.xml", "w") as s:
                s.write(f"<worksheet {ns}><sheetData>".encode())
                for r in range(1, n + 1):
                    s.write(f'<row r="{r}"><c r="A{r}" t="n"><v>1</v></c></row>'.encode())
                s.write(b"</sheetData></worksheet>")
        problems = []
        check_catalog.Book(f, problems)
        self.assertFound(problems, r"1048577 rows, over Excel's 1048576")

    def test_malformed_part(self):
        d = self.damaged("malformed")
        f = os.path.join(d, "Job Openings by NOC and Skill Cluster.xlsx")
        rewrite(f, "xl/styles.xml", lambda x: x.replace("</styleSheet>", ""))
        self.assertFound(self.problems(d), r"styles\.xml is not well-formed XML")


class QueryChecks(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.dir = os.path.join(WORK, "queries")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tables = os.path.join(self.dir, "tables")
        self.results = os.path.join(self.dir, "results")
        os.makedirs(self.tables)
        os.makedirs(os.path.join(self.results, "q_sum"))
        con = duckdb.connect()
        con.sql("COPY (SELECT i AS r_regionkey, 'region ' || i AS r_name FROM range(5) t(i)) "
                f"TO '{self.tables}/region.parquet' (FORMAT parquet)")
        con.sql(f"CREATE VIEW region AS FROM '{self.tables}/region.parquet'")
        self.sql = "SELECT r_regionkey % 2 AS k, sum(r_regionkey) AS s FROM region GROUP BY 1 ORDER BY 1"
        self.oracle = os.path.join(self.dir, "oracle_sql.json")
        with open(self.oracle, "w") as f:
            f.write('{"q_sum": "%s"}' % self.sql)
        self.con = con

    def write_result(self, sql):
        self.con.sql(f"COPY ({sql}) TO '{self.results}/q_sum/part-0.parquet' (FORMAT parquet)")

    def test_right_result_passes(self):
        self.write_result(self.sql)
        self.assertEqual(check_queries.check(self.tables, self.results, self.oracle), [])

    def test_wrong_result_fails(self):
        self.write_result("SELECT k, CASE WHEN k = 1 THEN s + 1 ELSE s END AS s FROM (" + self.sql + ")")
        problems = check_queries.check(self.tables, self.results, self.oracle)
        self.assertEqual(len(problems), 1)
        self.assertIn("value mismatch in s", problems[0])

    def test_missing_row_fails(self):
        self.write_result(self.sql.replace("ORDER BY 1", "HAVING k = 0 ORDER BY 1"))
        self.assertIn("row count", check_queries.check(self.tables, self.results, self.oracle)[0])


if __name__ == "__main__":
    unittest.main()
