"""Compare two directories of the 28 WDI output CSVs (as `graft.wdi.WdiMain`
writes them) and exit non-zero on any mismatch.

For every `<stat>_by_<level>_<variant>.csv` stem both directories must hold
the file, with identical headers, identical row keys and identical row order.
`*_by_country_*` files must be byte-identical. `*_by_region_*` cells must
agree within a relative 1e-12 (the region aggregates may sum countries in a
different order); `NA` must meet `NA`.

Usage: python3 tools/wdi_diff.py DIR_A DIR_B
"""
import csv
import os
import sys

STATS = ["sd_by_country", "sd_by_region", "sd_ratio_by_region",
         "corr_by_country", "corr_by_region", "acf_by_country", "acf_by_region"]
VARIANTS = ["logquad", "hp", "hp625", "dlog"]
REL_TOL = 1e-12


def read(path):
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.reader(fh))


def close(a, b):
    if a == b:
        return True
    if "NA" in (a, b):
        return False
    x, y = float(a), float(b)
    return abs(x - y) <= REL_TOL * max(abs(x), abs(y))


def compare(stem, path_a, path_b):
    """Returns (list of problems, worst relative cell difference)."""
    if stem.split("_by_")[1].startswith("country"):
        with open(path_a, "rb") as fa, open(path_b, "rb") as fb:
            same = fa.read() == fb.read()
        return ([] if same else [f"{stem}: by-country files differ in bytes"]), 0.0
    a, b = read(path_a), read(path_b)
    if a[0] != b[0]:
        return [f"{stem}: header {a[0]} != {b[0]}"], 0.0
    keys = [r[0] for r in a[1:]], [r[0] for r in b[1:]]
    if keys[0] != keys[1]:
        return [f"{stem}: row keys/order {keys[0]} != {keys[1]}"], 0.0
    problems, worst = [], 0.0
    for ra, rb in zip(a[1:], b[1:]):
        for name, x, y in zip(a[0][1:], ra[1:], rb[1:]):
            if not close(x, y):
                problems.append(f"{stem} {ra[0]}.{name}: {x} vs {y}")
            elif x != y:
                fx, fy = float(x), float(y)
                worst = max(worst, abs(fx - fy) / max(abs(fx), abs(fy)))
    return problems, worst


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    dir_a, dir_b = argv[1], argv[2]
    problems, worst = [], 0.0
    for stat in STATS:
        for variant in VARIANTS:
            stem = f"{stat}_{variant}"
            pa, pb = (os.path.join(d, stem + ".csv") for d in (dir_a, dir_b))
            missing = [p for p in (pa, pb) if not os.path.exists(p)]
            if missing:
                problems += [f"{stem}: missing {p}" for p in missing]
                continue
            found, w = compare(stem, pa, pb)
            problems += found
            worst = max(worst, w)
    for p in problems:
        print(p)
    print(f"files={len(STATS) * len(VARIANTS)} mismatches={len(problems)} "
          f"worst_region_rel_diff={worst:.3g}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
