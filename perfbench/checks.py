"""Output checks, independent of the program's own code.

* Registry entries: each entry's oracle SQL runs in DuckDB over the same
  generated parquet, and its fingerprint (row count + order-insensitive sum
  of per-row digests, the encoding of RowHash.scala) must equal the one the
  JVM computed for the entry's first pass; every later pass must repeat it.
* WDI: every output file of every pass has the row count the generated
  cells imply, and for a seeded sample of countries each variant's
  sd_by_country row is recomputed here from the cells and must agree at the
  golden-file tolerance (relative 1e-9; 1e-8 for HP lambda=6.25).
"""
import csv
import datetime
import decimal
import hashlib
import math
import os
import random
import struct

import duckdb
import numpy as np

MASK = (1 << 64) - 1
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


# ---- registry fingerprints -------------------------------------------------

def _dbl(d):
    if math.isnan(d):
        return "dNaN"
    if d == 0.0:
        return "d0"
    return "d" + format(struct.unpack("<Q", struct.pack("<d", d))[0], "x")


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "btrue" if v else "bfalse"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return _dbl(v)
    if isinstance(v, decimal.Decimal):
        return _dbl(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            return f"t{(v - EPOCH) // datetime.timedelta(microseconds=1)}"
        return f"t{(v - EPOCH_TZ) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return f"D{(v - datetime.date(1970, 1, 1)).days}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    return f"o{v}"


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "\u0001".join(cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
    return len(rows), total & MASK


def check_registry(result, data_dir):
    """Returns (checks made, checks failed, messages)."""
    oracles = result["workload_info"]["oracle_sql"]
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    passes = result["passes"]
    first = {q["name"]: q for q in passes[0]["queries"]}
    made, failed, msgs = 0, 0, []
    for name in sorted(first):
        q = first[name]
        if q["error"]:
            continue  # counted as a failed operation, not a failed check
        made += 1
        sql = oracles.get(name)
        if sql is None:
            failed += 1
            msgs.append(f"{name}: no oracle")
            continue
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        n, h = fingerprint(cols, cur.fetchall())
        if (n, h) != (q["rows"], int(q["hash"])):
            failed += 1
            msgs.append(f"{name}: oracle rows={n} hash={h:x}, program rows={q['rows']} "
                        f"hash={int(q['hash']):x}")
    for p in passes[1:]:
        for q in p["queries"]:
            ref = first.get(q["name"])
            if q["error"] or ref is None or ref["error"]:
                continue
            made += 1
            if (q["rows"], q["hash"]) != (ref["rows"], ref["hash"]):
                failed += 1
                msgs.append(f"{q['name']}: pass {p['index']} differs from the first pass")
    return made, failed, msgs


# ---- WDI recomputation -----------------------------------------------------

SERIES = {"NE.EXP.GNFS.ZS": "Xper", "NY.GDP.PCAP.KN": "Y", "NE.GDI.TOTL.ZS": "Iper",
          "NE.CON.PRVT.ZS": "Cper", "NE.IMP.GNFS.ZS": "Mper"}
VARIABLES = ["Y", "Cper", "Iper", "Xper", "Mper"]
MIN_RUN = 30
FILES = ["GDP_SSA_WDI.csv", "GDP_ASIA_WDI.csv", "GDP_LA_WDI.csv"]
# (file suffix, sd column names in golden order, relative tolerance)
VARIANTS = {
    "logquad": (["sd_Y", "sd_C", "sd_I", "sd_TB"], 1e-9),
    "hp": (["sd_Y", "sd_C", "sd_I", "sd_TB"], 1e-9),
    "hp625": (["sd_Y", "sd_C", "sd_I", "sd_TB"], 1e-8),
    "dlog": (["sd_dlogY", "sd_dlogC", "sd_dlogI", "sd_TB"], 1e-9),
}
BY_COUNTRY = ["sd_by_country", "corr_by_country", "acf_by_country"]
BY_REGION = ["sd_by_region", "sd_ratio_by_region", "corr_by_region", "acf_by_region"]


def read_cells(gen_dir):
    """{country: {variable: [60 values or None]}} from the generated CSVs."""
    cells = {}
    for f in FILES:
        with open(os.path.join(gen_dir, f), newline="") as fh:
            rows = csv.reader(fh)
            next(rows)
            for r in rows:
                var = SERIES.get(r[3])
                if var is None:
                    continue
                vals = [float(x) if x != "" else None for x in r[4:]]
                cells.setdefault(r[1], {})[var] = vals
    return cells


def clean(vals):
    """Keep only maximal runs of >= MIN_RUN consecutive valid (positive) years."""
    out = [None] * len(vals)
    i = 0
    while i < len(vals):
        if vals[i] is not None and vals[i] > 0:
            j = i
            while j < len(vals) and vals[j] is not None and vals[j] > 0:
                j += 1
            if j - i >= MIN_RUN:
                out[i:j] = vals[i:j]
            i = j
        else:
            i += 1
    return out


def wide(series):
    """The front half for one country: None if it does not survive, else
    (years, columns) with the derived national accounts."""
    if any(v not in series for v in VARIABLES):
        return None
    cleaned = {v: clean(series[v]) for v in VARIABLES}
    if any(all(x is None for x in cleaned[v]) for v in VARIABLES):
        return None
    years = [i for i in range(60) if any(cleaned[v][i] is not None for v in VARIABLES)]

    def col(v):
        return [cleaned[v][i] for i in years]

    def mul(a, b):
        return [None if x is None or y is None else x * y / 100 for x, y in zip(a, b)]
    y = col("Y")
    c, inv = mul(y, col("Cper")), mul(y, col("Iper"))
    x, m = mul(y, col("Xper")), mul(y, col("Mper"))
    tb = [None if xx is None or mm is None or yy is None else (xx - mm) / yy
          for xx, mm, yy in zip(x, m, y)]
    return years, {"Y": y, "C": c, "I": inv, "TB": tb}


def _log(v):
    return math.log(v) if v is not None and v > 0 else None


def quad(t, y):
    ok = [i for i in range(len(y)) if y[i] is not None]
    if len(ok) < MIN_RUN:
        return [None] * len(y)
    tt = np.array([t[i] for i in ok], float)
    u = tt - tt.mean()
    a = np.vstack([np.ones_like(u), u, u * u]).T
    coef, *_ = np.linalg.lstsq(a, np.array([y[i] for i in ok]), rcond=None)
    out = [None] * len(y)
    for k, i in enumerate(ok):
        out[i] = y[i] - float(a[k] @ coef)
    return out


def hp(y, lam):
    ok = [i for i in range(len(y)) if y[i] is not None]
    n = len(ok)
    if n < MIN_RUN:
        return [None] * len(y)
    d = np.zeros((n - 2, n))
    for i in range(n - 2):
        d[i, i:i + 3] = [1.0, -2.0, 1.0]
    v = np.array([y[i] for i in ok])
    trend = np.linalg.solve(np.eye(n) + lam * d.T @ d, v)
    out = [None] * len(y)
    for k, i in enumerate(ok):
        out[i] = float(v[k] - trend[k])
    return out


def dlog(y):
    out = [None] * len(y)
    for i in range(len(y)):
        prev = y[i - 1] if i > 0 else None
        if y[i] is not None and y[i] > 0 and prev is not None and prev > 0:
            out[i] = math.log(y[i]) - math.log(prev)
    return out


def sd100(xs):
    v = [x for x in xs if x is not None]
    if len(v) < 2:
        return None
    return float(np.std(np.array(v), ddof=1)) * 100


def sd_row(years, cols, variant):
    """sd_Y, sd_C, sd_I, sd_TB, sdC_over_sdY, sdI_over_sdY for one country."""
    if variant == "dlog":
        cyc = [dlog(cols["Y"]), dlog(cols["C"]), dlog(cols["I"]), cols["TB"]]
    else:
        series = [[_log(v) for v in cols[k]] for k in ("Y", "C", "I")] + [cols["TB"]]
        if variant == "logquad":
            cyc = [quad(years, s) for s in series]
        else:
            lam = 100.0 if variant == "hp" else 6.25
            cyc = [hp(s, lam) for s in series]
    sds = [sd100(c) for c in cyc]
    ratio = [None if s is None or sds[0] is None else s / sds[0] for s in sds[1:3]]
    return sds + ratio


def _close(got, want, tol):
    if want is None or got is None:
        return want is None and got is None
    return abs(got - want) / max(1e-12, abs(want)) <= tol


def _read_out(path):
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh))
    return rows[0], rows[1:]


def check_wdi(result, gen_dir, seed, sample=24):
    """Returns (checks made, checks failed, messages)."""
    cells = read_cells(gen_dir)
    regions = {}
    with open(os.path.join(gen_dir, "regions.tsv")) as fh:
        for line in fh:
            code, region = line.rstrip("\n").split("\t")
            regions[code] = region
    fronts = {c: wide(s) for c, s in cells.items()}
    survivors = sorted(c for c, w in fronts.items() if w is not None)
    n_regions = len({regions[c] for c in survivors})
    picked = random.Random(seed).sample(survivors, min(sample, len(survivors)))
    out_root = result["workload_info"]["outputs_dir"]
    made, failed, msgs = 0, 0, []
    passes = result["passes"]
    for p in passes:
        out_dir = os.path.join(out_root, f"p{p['index']}")
        for suffix, (names, tol) in VARIANTS.items():
            for stem in BY_COUNTRY + BY_REGION:
                path = os.path.join(out_dir, f"{stem}_{suffix}.csv")
                want = len(survivors) if stem in BY_COUNTRY else n_regions
                made += 1
                if not os.path.exists(path):
                    failed += 1
                    msgs.append(f"pass {p['index']}: {stem}_{suffix} missing")
                    continue
                _, body = _read_out(path)
                if len(body) != want:
                    failed += 1
                    msgs.append(f"pass {p['index']}: {stem}_{suffix} rows={len(body)} want {want}")
            if p is not passes[0] and p is not passes[-1]:
                continue
            path = os.path.join(out_dir, f"sd_by_country_{suffix}.csv")
            if not os.path.exists(path):
                continue
            header, body = _read_out(path)
            got = {r[header.index("Country Code")]: r for r in body}
            cols = names + ["sdC_over_sdY", "sdI_over_sdY"]
            for code in picked:
                made += 1
                years, wide_cols = fronts[code]
                want = sd_row(years, wide_cols, suffix)
                row = got.get(code)
                if row is None:
                    failed += 1
                    msgs.append(f"pass {p['index']}: {code} missing from sd_by_country_{suffix}")
                    continue
                vals = [None if row[header.index(c)] == "NA" else float(row[header.index(c)])
                        for c in cols]
                bad = [c for c, g, w in zip(cols, vals, want) if not _close(g, w, tol)]
                if bad:
                    failed += 1
                    msgs.append(f"pass {p['index']}: {code} sd_by_country_{suffix} {bad}: "
                                f"got {vals} want {want}")
    return made, failed, msgs


def wdi_output_rows(result):
    """Data rows written per pass, summed over the pass's output files."""
    out_root = result["workload_info"]["outputs_dir"]
    rows = {}
    for p in result["passes"]:
        d = os.path.join(out_root, f"p{p['index']}")
        total = 0
        for f in os.listdir(d):
            with open(os.path.join(d, f)) as fh:
                total += sum(1 for _ in fh) - 1
        rows[p["index"]] = total
    return rows
