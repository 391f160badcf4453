"""Checks the ten catalog artifacts against the raw input CSVs, with no
code from the program: the workbooks are read with zipfile and a plain
XML parser, the inputs with the csv module.

    python3 perfbench/check_catalog.py <artifact_dir> <raw_dir> <n_noc> <n_ind>

Properties checked:
  - every part of every workbook is well-formed XML;
  - no sheet has more than 1,048,576 rows (Excel's limit);
  - each sheet's row count equals the count implied by the roster;
  - Job Openings = Expansion + Replacement (within rounding) for every
    NOC x industry x area x year;
  - every CAGR and horizon-sum column equals its value recomputed from the
    same row's year columns (sums exclude the base year);
  - the region sheets together hold exactly the rows of the "data" sheet;
  - the long CSV in the zip has the per-group totals of the wide
    "JO by Type" sheet;
  - output totals equal totals computed from the raw CSVs.
"""
import csv
import io
import math
import os
import re
import sys
import zipfile
import xml.etree.ElementTree as ET
from collections import Counter, defaultdict

from gen import AGGREGATES, AREAS, FYOD, INCOME, YEARS

EXCEL_MAX_ROWS = 1048576
NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
RNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
PUBLISHED = [a for a in AREAS if a not in AGGREGATES]  # BC + the 7 regions
CAGRS = ["1st 5-year CAGR", "2nd 5-year CAGR", "10-year CAGR"]
SUMS = ["1st 5-year Sum", "2nd 5-year Sum", "10-year Sum"]
JO_COL = f"LMO Job Openings {FYOD}-{FYOD + 10}"
ZIP_NAME = "JO by Type, Ind and Occ for BC and Regions (long).zip"
JO_VARS = ["Expansion Demand", "Replacement Demand", "Job Openings"]


def sheet_name(s):
    return re.sub(r"[\[\]:*?/\\]", " ", s)[:31]


def col_index(ref):
    n = 0
    for ch in ref:
        if not ch.isalpha():
            break
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def cell_value(c):
    t = c.get("t")
    if t == "inlineStr":
        return "".join(x.text or "" for x in c.iter(NS + "t"))
    v = c.find(NS + "v")
    if v is None:
        return None
    if t == "b":
        return v.text == "1"
    if t == "s":
        raise ValueError("shared strings are not expected")
    return float(v.text)


def read_sheet(stream):
    """(header, rows, row_count) of one worksheet part, streamed."""
    rows, count = [], 0
    for _, el in ET.iterparse(stream):
        if el.tag == NS + "row":
            count += 1
            cells = {}
            for c in el.findall(NS + "c"):
                cells[col_index(c.get("r"))] = cell_value(c)
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i) for i in range(width)])
            el.clear()
    header = rows[0] if rows else []
    body = [r + [None] * (len(header) - len(r)) for r in rows[1:]]
    return header, body, count


class Book:
    """A workbook as {sheet name: (header, rows)}; parts must parse."""

    def __init__(self, path, problems):
        self.sheets = {}
        name = os.path.basename(path)
        with zipfile.ZipFile(path) as z:
            for part in z.namelist():
                if part.endswith((".xml", ".rels")) and "worksheets/sheet" not in part:
                    try:
                        ET.fromstring(z.read(part))
                    except ET.ParseError as e:
                        problems.append(f"{name}: {part} is not well-formed XML: {e}")
            wb = ET.fromstring(z.read("xl/workbook.xml"))
            rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
            target = {r.get("Id"): r.get("Target") for r in rels}
            for s in wb.iter(NS + "sheet"):
                part = "xl/" + target[s.get(RNS + "id")]
                try:
                    with z.open(part) as f:
                        header, body, count = read_sheet(f)
                except ET.ParseError as e:
                    problems.append(f"{name}: {part} is not well-formed XML: {e}")
                    continue
                if count > EXCEL_MAX_ROWS:
                    problems.append(f"{name}/{s.get('name')}: {count} rows, over Excel's "
                                    f"{EXCEL_MAX_ROWS}")
                self.sheets[s.get("name")] = (header, body)


def as_dicts(header, rows):
    return [dict(zip(header, r)) for r in rows]


def read_raw(path, skip):
    with open(path, newline="", encoding="utf-8") as f:
        for _ in range(skip):
            f.readline()
        rows = list(csv.reader(f))
    header = rows[0]
    keep = [i for i, h in enumerate(header) if h != ""]
    out = []
    for r in rows[1:]:
        if any(x != "" for x in r):
            out.append({header[i]: r[i] for i in keep})
    return out


def close(a, b, rel=1e-9, absol=1e-6):
    return a is not None and b is not None and math.isclose(a, b, rel_tol=rel, abs_tol=absol)


class Checker:
    def __init__(self, out_dir, raw_dir, n_noc, n_ind):
        self.problems = []
        self.out_dir = out_dir
        self.emp = read_raw(os.path.join(raw_dir, "employment.csv"), 3)
        self.jo = read_raw(os.path.join(raw_dir, "job_openings.csv"), 3)
        self.occ = read_raw(os.path.join(raw_dir, f"Occupational Characteristics {FYOD}.csv"), 3)
        with open(os.path.join(raw_dir, "clusters.csv"), newline="", encoding="utf-8") as f:
            self.clusters = list(csv.DictReader(f))
        self.n_occ = n_noc + 1  # the roster plus the "#T" total row
        self.n_ind = n_ind

    def fail(self, msg):
        self.problems.append(msg)

    def book(self, file_name):
        path = os.path.join(self.out_dir, file_name)
        if not os.path.exists(path):
            self.fail(f"missing artifact {file_name}")
            return None
        return Book(path, self.problems)

    def expect_rows(self, where, rows, n):
        if len(rows) != n:
            self.fail(f"{where}: {len(rows)} rows, expected {n}")

    def check_stats(self, where, rows, stats):
        for r in rows:
            v = {y: r.get(y) for y in YEARS}
            try:
                if stats == CAGRS:
                    b, m, e = v[str(FYOD)], v[str(FYOD + 5)], v[str(FYOD + 10)]
                    want = [(m / b) ** (1 / 5) - 1, (e / m) ** (1 / 5) - 1,
                            (e / b) ** (1 / 10) - 1]
                else:
                    want = [sum(v[str(FYOD + i)] for i in range(1, 6)),
                            sum(v[str(FYOD + i)] for i in range(6, 11)),
                            sum(v[str(FYOD + i)] for i in range(1, 11))]
            except (TypeError, ZeroDivisionError):
                self.fail(f"{where}: year values of {r.get('NOC')}/{r.get('Industry')}/"
                          f"{r.get('Geographic Area')} are missing or zero: {v}")
                return
            for name, w in zip(stats, want):
                if not close(r.get(name), w):
                    self.fail(f"{where}: {name} of {r.get('NOC')}/{r.get('Industry')}/"
                              f"{r.get('Geographic Area')} is {r.get(name)}, recomputed {w}")
                    return

    def raw_total(self, table, pred):
        return sum(float(r[y]) for r in table if pred(r) for y in YEARS)

    def check_total(self, where, got, want):
        if not close(got, want, rel=1e-9, absol=1e-3):
            self.fail(f"{where}: total {got}, raw inputs give {want}")

    def out_total(self, rows):
        return sum(r[y] for r in rows for y in YEARS if r.get(y) is not None)

    def horizon_book(self, file_name, sheet, n_rows, stats, table, pred):
        b = self.book(file_name)
        if b is None:
            return None
        if sheet not in b.sheets:
            self.fail(f"{file_name}: no sheet {sheet!r}")
            return None
        rows = as_dicts(*b.sheets[sheet])
        self.expect_rows(f"{file_name}/{sheet}", rows, n_rows)
        self.check_stats(f"{file_name}/{sheet}", rows, stats)
        self.check_total(f"{file_name}/{sheet}", self.out_total(rows),
                         self.raw_total(table, pred))
        return b, rows

    def check_regions(self, file_name, b, data_rows, region_rows_each):
        """Region sheets: one per published area, together the data sheet."""
        want_names = {"data"} | {sheet_name(a) for a in PUBLISHED}
        if set(b.sheets) != want_names:
            self.fail(f"{file_name}: sheets {sorted(b.sheets)}, expected {sorted(want_names)}")
            return
        union = Counter()
        header0 = None
        for area in PUBLISHED:
            header, rows = b.sheets[sheet_name(area)]
            header0 = header0 or header
            dicts = as_dicts(header, rows)
            self.expect_rows(f"{file_name}/{sheet_name(area)}", dicts, region_rows_each)
            if any(d.get("Geographic Area") != area for d in dicts):
                self.fail(f"{file_name}/{sheet_name(area)}: rows of another area")
            union.update(tuple(r) for r in rows)
        data = Counter(tuple(d.get(h) for h in header0) for d in data_rows)
        if data != union:
            self.fail(f"{file_name}: region sheets differ from the data sheet "
                      f"({sum((data - union).values())} data rows missing, "
                      f"{sum((union - data).values())} extra)")

    def run(self):
        n_occ, n_ind = self.n_occ, self.n_ind
        bc = lambda r: r["Geographic Area"] == "British Columbia"  # noqa: E731
        published = lambda r: r["Geographic Area"] in PUBLISHED  # noqa: E731
        all_ind = lambda r: r["Industry"] == "All industries"  # noqa: E731

        # 1. employment, BC, every NOC x industry
        self.horizon_book("Employment by Industry and Occupation for BC.xlsx", "data",
                          n_occ * n_ind, CAGRS, self.emp, bc)

        # 2. employment, all-occupation total, per area
        f = "Employment by Industry for BC and Regions.xlsx"
        got = self.horizon_book(f, "data", n_ind * len(PUBLISHED), CAGRS, self.emp,
                                lambda r: r["NOC"] == "#T" and published(r))
        if got:
            self.check_regions(f, got[0], got[1], n_ind)

        # 3. job openings, BC
        self.horizon_book("Job Openings by Industry and Occupation for BC.xlsx", "Sheet 1",
                          n_occ * n_ind, SUMS, self.jo,
                          lambda r: bc(r) and r["Variable"] == "Job Openings")

        # 4. high opportunity occupations
        self.check_hoo()

        # 5. job openings by type, every area; JO = ED + RD
        f5 = "JO by Type, Ind and Occ for BC and Regions.xlsx"
        got5 = self.horizon_book(f5, "Sheet 1", n_occ * n_ind * len(AREAS) * 3, SUMS,
                                 self.jo, lambda r: True)
        if got5:
            self.check_jo_identity(f5, got5[1])

        # 6. employment long
        f6 = "Employment by Ind and Occ for BC and Regions.xlsx"
        b6 = self.book(f6)
        if b6:
            rows = as_dicts(*b6.sheets.get("Sheet 1", ([], [])))
            self.expect_rows(f6, rows, n_occ * n_ind * len(PUBLISHED) * len(YEARS))
            self.check_total(f6, sum(r["Value"] for r in rows),
                             self.raw_total(self.emp, published))

        # 7. employment, all industries, per area
        f = "Employment by Occupation for BC and Regions.xlsx"
        got = self.horizon_book(f, "data", n_occ * len(PUBLISHED), CAGRS, self.emp,
                                lambda r: all_ind(r) and published(r))
        if got:
            self.check_regions(f, got[0], got[1], n_occ)

        # 8. job openings by type, all industries, per area
        f = "Job Openings by Type and Occ for BC and Regions.xlsx"
        got = self.horizon_book(f, "data", n_occ * 3 * len(PUBLISHED), SUMS, self.jo,
                                lambda r: all_ind(r) and published(r))
        if got:
            self.check_regions(f, got[0], got[1], n_occ * 3)

        # 9. the long CSV in the zip
        if got5:
            self.check_zip(got5[1])

        # 10. job openings by skill cluster
        self.check_clusters()
        return self.problems

    def check_jo_identity(self, where, rows):
        by = defaultdict(dict)
        for r in rows:
            by[(r["NOC"], r["Industry"], r["Geographic Area"])][r["Variable"]] = r
        for key, v in by.items():
            if set(v) != set(JO_VARS):
                self.fail(f"{where}: {key} has variables {sorted(v)}")
                continue
            for y in YEARS:
                ed, rd, jo = (v[n][y] for n in JO_VARS)
                if ed is None or rd is None or jo is None or abs(jo - (ed + rd)) > 0.0101:
                    self.fail(f"{where}: Job Openings {jo} != Expansion {ed} + "
                              f"Replacement {rd} for {key} {y}")
                    return

    def check_zip(self, wide_rows):
        path = os.path.join(self.out_dir, ZIP_NAME)
        if not os.path.exists(path):
            self.fail(f"missing artifact {ZIP_NAME}")
            return
        with zipfile.ZipFile(path) as z:
            names = z.namelist()
            if len(names) != 1:
                self.fail(f"{ZIP_NAME}: {len(names)} entries, expected 1")
                return
            with z.open(names[0]) as f:
                rows = list(csv.DictReader(io.TextIOWrapper(f, encoding="utf-8")))
        self.expect_rows(ZIP_NAME, rows, self.n_occ * self.n_ind * len(PUBLISHED) * 3 * len(YEARS))
        long_tot = defaultdict(float)
        for r in rows:
            long_tot[(r["NOC"], r["Industry"], r["Variable"], r["Geographic Area"])] += float(r["value"])
        wide_tot = {(r["NOC"], r["Industry"], r["Variable"], r["Geographic Area"]):
                    sum(r[y] for y in YEARS)
                    for r in wide_rows if r["Geographic Area"] in PUBLISHED}
        if set(long_tot) != set(wide_tot):
            self.fail(f"{ZIP_NAME}: groups differ from the wide JO by Type sheet")
            return
        for k, v in long_tot.items():
            if not close(v, wide_tot[k], rel=1e-9, absol=1e-6):
                self.fail(f"{ZIP_NAME}: total of {k} is {v}, wide sheet has {wide_tot[k]}")
                return

    def jo_sum(self, noc, area):
        return self.raw_total(self.jo, lambda r: r["NOC"] == noc and r["Geographic Area"] == area
                              and r["Industry"] == "All industries"
                              and r["Variable"] == "Job Openings")

    def check_hoo(self):
        f = "High Opportunity Occupations BC and Regions.xlsx"
        b = self.book(f)
        if b is None:
            return
        want = {"Data Dictionary"} | {sheet_name(f"HOO {a}") for a in AREAS}
        if set(b.sheets) != want:
            self.fail(f"{f}: sheets {sorted(b.sheets)}, expected {sorted(want)}")
            return
        self.expect_rows(f"{f}/Data Dictionary", b.sheets["Data Dictionary"][1], 8)
        for a in AREAS:
            s = sheet_name(f"HOO {a}")
            rows = as_dicts(*b.sheets[s])
            flagged = [o for o in self.occ if o[f"Occ Group: HOO {a} {FYOD}E"] == "HOO"]
            self.expect_rows(f"{f}/{s}", rows, len(flagged))
            want_jo = sum(self.jo_sum(o["NOC"], a) for o in flagged)
            self.check_total(f"{f}/{s}", sum(r.get(JO_COL) or 0.0 for r in rows), want_jo)
            for r in rows:
                if r.get("TEER") != str(r.get("NOC"))[2:3]:
                    self.fail(f"{f}/{s}: TEER {r.get('TEER')} for {r.get('NOC')}")
                    break
            want_inc = sum(float(o[INCOME]) for o in flagged if o[INCOME] != "x")
            self.check_total(f"{f}/{s} income", sum(r.get(INCOME) or 0.0 for r in rows), want_inc)

    def check_clusters(self):
        f = "Job Openings by NOC and Skill Cluster.xlsx"
        b = self.book(f)
        if b is None:
            return
        rows = as_dicts(*b.sheets.get("Sheet 1", ([], [])))
        nocs = ["#" + c["NOC"].split(": ", 1)[0] for c in self.clusters]
        self.expect_rows(f, rows, len(nocs))
        self.check_total(f, sum(r.get(JO_COL) or 0.0 for r in rows),
                         sum(self.jo_sum(n, "British Columbia") for n in nocs))


def check(out_dir, raw_dir, n_noc, n_ind):
    """Return a list of problems; empty when every property holds."""
    c = Checker(out_dir, raw_dir, n_noc, n_ind)
    try:
        return c.run()
    except (KeyError, TypeError, ValueError, zipfile.BadZipFile, ET.ParseError) as e:
        # malformed artifacts: report, do not crash the run
        return c.problems + [f"artifacts unreadable: {type(e).__name__}: {e}"]


if __name__ == "__main__":
    found = check(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
    for p in found:
        print("FAIL:", p)
    sys.exit(1 if found else 0)
