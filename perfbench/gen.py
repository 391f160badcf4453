"""Seeded generator for the catalog inputs: four raw CSVs shaped like the
4castviewer exports the catalog build reads.

    python3 perfbench/gen.py <out_dir> <n_noc> <n_ind> <seed>

Geography is the real BC one: British Columbia, the seven economic
regions, and the two aggregate areas North and South East. The roster is
`n_noc` occupations plus the "#T" total row, times `n_ind` industries
("All industries" first). Values depend only on the seed.

Files and the traps they carry:
  employment.csv, job_openings.csv
      3-line preamble, header and rows with a trailing empty column, a
      trailing all-empty row; Job Openings = round2(Expansion + Replacement).
  Occupational Characteristics <fyod>.csv
      3-line preamble, one "Occ Group: HOO <area> <fyod>E" column per
      area, "x" as the NA token in the income column.
  clusters.csv
      "<code>: <description>" keys; the last occupation is left out.
"""
import csv
import os
import random
import sys

FYOD = 2024
YEARS = [str(y) for y in range(FYOD, FYOD + 11)]
REGIONS = ["Cariboo", "Kootenay", "Mainland/Southwest", "North Coast and Nechako",
           "Northeast", "Thompson-Okanagan", "Vancouver Island and Coast"]
AGGREGATES = ["North", "South East"]
AREAS = ["British Columbia"] + REGIONS + AGGREGATES
JO_VARIABLES = ["Expansion Demand", "Replacement Demand", "Job Openings"]
PREAMBLE = ["Export from 4castviewer", "BC Labour Market Outlook", ""]
INCOME = "2021 Census Median Employment Income (Employed)"


def roster(n_noc, n_ind):
    nocs = [("#T", "All occupations")]
    for i in range(n_noc):
        code = f"{(i * 7919) % 90000 + 10000:05d}"
        # every fifth description carries ": " (split-once in clusters)
        # and every seventh a comma (CSV quoting)
        desc = f"Occupation {i}"
        if i % 5 == 1:
            desc += ": specialists"
        if i % 7 == 3:
            desc += ", n.e.c."
        nocs.append((f"#{code}", desc))
    inds = ["All industries"] + [f"Industry {i}" for i in range(1, n_ind)]
    return nocs, inds


def r2(x):
    return round(x, 2)


def series(rng, lo, hi):
    base = rng.uniform(lo, hi)
    growth = rng.uniform(0.97, 1.04)
    return [r2(base * growth ** i) for i in range(len(YEARS))]


def write_export(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        for line in PREAMBLE:
            f.write(line + "\n")
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header + [""])
        for r in rows:
            w.writerow(r + [""])
        w.writerow([""] * (len(header) + 1))


def generate(out_dir, n_noc, n_ind, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    nocs, inds = roster(n_noc, n_ind)
    head = ["NOC", "Description", "Industry", "Variable", "Geographic Area"]

    emp, jo = [], []
    for noc, desc in nocs:
        for ind in inds:
            for area in AREAS:
                emp.append([noc, desc, ind, "Employment", area] + series(rng, 50, 5000))
                ed = series(rng, 1, 200)
                rd = series(rng, 1, 200)
                total = [r2(a + b) for a, b in zip(ed, rd)]
                for var, vals in zip(JO_VARIABLES, (ed, rd, total)):
                    jo.append([noc, desc, ind, var, area] + vals)
    write_export(os.path.join(out_dir, "employment.csv"), head + YEARS, emp)
    write_export(os.path.join(out_dir, "job_openings.csv"), head + YEARS, jo)

    hoo_cols = [f"Occ Group: HOO {a} {FYOD}E" for a in AREAS]
    with open(os.path.join(out_dir, f"Occupational Characteristics {FYOD}.csv"),
              "w", newline="", encoding="utf-8") as f:
        for line in PREAMBLE:
            f.write(line + "\n")
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["NOC", "Description"] + hoo_cols + [INCOME])
        for noc, desc in nocs[1:]:
            flags = ["HOO" if rng.random() < 0.5 else "Non-HOO" for _ in AREAS]
            income = "x" if rng.random() < 0.1 else f"{r2(rng.uniform(30000, 120000))}"
            w.writerow([noc, desc] + flags + [income])

    with open(os.path.join(out_dir, "clusters.csv"), "w", newline="",
              encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["NOC", "new_cluster"])
        for noc, desc in nocs[1:-1]:
            w.writerow([f"{noc[1:]}: {desc}", f"cluster_{rng.randrange(5)}"])


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
