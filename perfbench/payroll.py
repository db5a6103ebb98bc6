"""Seeded payroll storage root for the payroll_etl workload, and its check.

`generate` writes what the reference pipeline receives: the PUA extract as an
Excel workbook, the BW and MN certification CSVs, the four lookup files, the
two inputs the reference loads but never uses, and distractors (a stale
certification file in an archive folder, unrelated documents). While it
writes, it records what it planted: which rows are duplicates, which
adjustment codes are blank, which Time Entry values must come from the per-code
mode, which departments miss the lookup, and which certification rows the
fiscal-year and ACTION filters must drop.

`check` reads the stamped CSV and XLSX outputs back (the XLSX with this
benchmark's own reader) and compares them with that bookkeeping.
"""
import csv
import datetime
import glob
import os
import random
import re

import xlsx

RUN_DATE = datetime.date(2026, 8, 12)          # must match Harness.RunDate
FY_START, FY_END = datetime.date(2025, 7, 1), datetime.date(2026, 6, 30)
STAMP = RUN_DATE.strftime("%m%d%Y")

PUA_COLUMNS = [
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number", "College Code",
    "College Name", "College", "TS COA", "TS ORG", "TS-Org Code", "TS-Org Title",
    "Dept Code", "TS-Org Dept Code", "TS-Org Dept Title", "E-Class Code", "E-Class",
    "TE M", "Time Entry", "Overtime", "Earn Code", "Earn Code Description",
    "Adjustment Reason Code", "Adjustment Reason Description", "Calc Date"]
CPA_COLUMNS = [
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number", "College Code",
    "College Name", "College", "TS COA", "TS Org", "TS-Org Code", "TS-Org Title",
    "TS-Org Dept Code", "TS-Org Dept Title", "E-Class Code", "E-Class", "TE M",
    "Time Entry", "Overtime"]
CERT_COLUMNS = [
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID", "TRAN_COMPNT",
    "ADJ_REASON", "TRAN_CREATE_DT", "TRAN_CLOSED_DT", "JOB", "JOB_TITLE",
    "JOB_TS_COAS", "JOB_TS_ORGN", "JOB_ECLS", "COLLEGE", "OWNING_UIN",
    "LAST_NAME", "FIRST_NAME", "UI_ENTERPRISE_ID", "EMAIL_ADDR", "HRLY_RATE",
    "RT_LEAVE_DT", "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE", "ACTION",
    "ROUTED_BY_UIN", "RETURNED_FLAG", "TRAN_ROUTE_DT", "ELAPSED_WORK_TIME",
    "ROUTE_STOP_TIME", "ELAPSED_TRAN_TIME"]
PUA_HEADER = [
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "POSN", "SUFF", "College Code",
    "College Name", "TS COA", "TS ORG", "DEPT Code", "Department Name", "ECLS",
    "ECLS DESC", "TE M", "Time Entry", "Earn Code", "DESCRIPTION",
    "Adj Reason Code", "Adj Reason", "Calc Date"]

# Time Entry Method values per TE M code, in the proportions the TE_M lookup
# holds them: the first value of each cycle is that code's strict mode.
TE_CYCLES = {"W": ["Web"] * 5 + ["Kiosk"] * 3 + ["Paper"] * 2,
             "P": ["Paper"] * 6 + ["Web"] * 4,
             "K": ["Kiosk"] * 7 + ["Web"] * 3}
MODES = {code: cyc[0] for code, cyc in TE_CYCLES.items()}
ECLASSES = {"CA": ("Civil Service", "Eligible"), "AB": ("Academic", "Exempt"),
            "HR": ("Hourly", "Eligible")}
COLLEGES = [("KL", "Engineering"), ("LA", "Liberal Arts"), ("AG", "Agriculture"),
            ("BU", "Business")]
DEPTS_IN_LOOKUP = range(600, 608)   # 608 and 609 miss TS_Dept: title falls back
ORGS = [600000 + 100 * k for k in range(100)]

# Sizes: PUA base rows and certification rows per file (before planted duplicates).
N_PUA, N_CERT = 3000, 2500


def _fy_day(rnd):
    return FY_START + datetime.timedelta(days=rnd.randrange((FY_END - FY_START).days + 1))


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def generate(root, seed, n_pua=N_PUA, n_cert=N_CERT):
    """Writes the storage root; returns the planted truths."""
    rnd = random.Random(seed)
    os.makedirs(os.path.join(root, "old"), exist_ok=True)
    truth = {"pua": {}, "cert": {}, "pua_duplicates": 0, "cert_duplicates": 0,
             "cert_collisions": 0, "fy_dropped": 0, "action_dropped": 0}

    # --- PUA extract (Excel) ---
    rows = []
    for i in range(n_pua):
        uin = f"U{seed % 1000:03d}{i:06d}"
        coa = rnd.choice([1, 2])
        dept = rnd.randrange(600, 610)
        dept_cell = None if rnd.random() < 0.04 else (float(dept) if rnd.random() < 0.3 else dept)
        ecls = rnd.choice(sorted(ECLASSES))
        tem = rnd.choices(["W", "P", "K", "X", None], [40, 25, 20, 5, 10])[0]
        te = rnd.choice(["Web", "Paper", "Kiosk", "Mobile"]) if rnd.random() < 0.5 else None
        u = rnd.random()
        adj = None if u < 0.1 else ("nan" if u < 0.15 else rnd.choice(["RET", "COR", "LWP"]))
        adj_desc = f"reason {rnd.randrange(50)}"
        posn = rnd.randrange(100, 1000)
        cc, cn = rnd.choice(COLLEGES)
        row = [uin, rnd.choice(["BW", "MN"]), 2026, rnd.randrange(1, 27), rnd.randrange(1, 3),
               float(posn) if rnd.random() < 0.3 else posn, rnd.randrange(2), cc, cn,
               coa, rnd.choice(ORGS), dept_cell, f"Home Dept {dept}", ecls, ECLASSES[ecls][0],
               tem, te, rnd.choice(["REG", "OVT", "SCK"]), "earnings", adj, adj_desc,
               _fy_day(rnd)]
        rows.append(row)
        dept_key = "nan" if dept_cell is None else str(dept)
        title_hit = dept_cell is not None and dept in DEPTS_IN_LOOKUP
        truth["pua"][uin] = {
            "adj": ("INT", "Internal") if adj in (None, "nan") else (adj, adj_desc),
            "time_entry": te if te is not None else MODES.get(tem),
            "mode_fill": te is None and tem in MODES,
            "dept_title": f"Dept {coa}-{dept_key}" if title_hit else f"Home Dept {dept}",
            "dept_fallback": not title_hit}
        if rnd.random() < 1 / 12:
            rows.append(list(row))
            truth["pua_duplicates"] += 1
    rnd.shuffle(rows)
    xlsx.write(os.path.join(root, "PUA_extract_2026.xlsx"), PUA_HEADER, rows,
               date_cols=[PUA_HEADER.index("Calc Date")])

    # --- certification CSVs (BW, MN) ---
    te_rows = []
    te_counter = {code: 0 for code in TE_CYCLES}
    for pay_id, prefix in (("BW", "C"), ("MN", "D")):
        lines = []
        for i in range(n_cert):
            uin = f"{prefix}{seed % 1000:03d}{i:06d}"
            job = str(200 + rnd.randrange(50))
            u = rnd.random()
            if u < 0.04:
                day = datetime.date(2024, 7, 1) + datetime.timedelta(days=rnd.randrange(365))
            elif u < 0.07:
                day = datetime.date(2026, 7, 1) + datetime.timedelta(days=rnd.randrange(40))
            else:
                day = _fy_day(rnd)
            in_fy = FY_START <= day <= FY_END
            action = "3 - Apply" if rnd.random() < 0.875 else rnd.choice(["1 - Route", "2 - Return"])
            nan_org = rnd.random() < 1 / 19
            ecls = rnd.choice(sorted(ECLASSES))
            te_code = None
            if rnd.random() < 1 / 3:
                te_code = rnd.choice(sorted(TE_CYCLES))
                cyc = TE_CYCLES[te_code]
                te_rows.append([f"{uin}-{job}", te_code, cyc[te_counter[te_code] % len(cyc)],
                                f"T{te_counter[te_code] % 4}"])
                te_counter[te_code] += 1

            def cert(tran):
                return [uin, 2026, pay_id, rnd_nbr, 1, tran, "C", "R", day.isoformat(),
                        day.isoformat(), job, "Title", "nan" if nan_org else coas,
                        "nan" if nan_org else orgn, ecls, college, "O", "Last", "First",
                        "E", "e@x.edu", 10.5, "", "", "", 1, "R", action, "RB", "N", "",
                        1, 2, 3]
            rnd_nbr, coas, orgn = rnd.randrange(1, 27), rnd.choice([1, 2]), rnd.choice(ORGS)
            college = rnd.choice(["KL-Engineering", "LA-Liberal Arts", "LAW"])
            base = cert(f"T{prefix}{i}")
            lines.append(base)
            if rnd.random() < 1 / 13:
                lines.append(list(base))
                truth["cert_duplicates"] += 1
            if rnd.random() < 1 / 17:   # same UIN and JOB, differs only in TRAN_ID
                lines.append(cert(f"T{prefix}{i}b"))
                truth["cert_collisions"] += 1
            if not in_fy:
                truth["fy_dropped"] += 1
            elif action != "3 - Apply":
                truth["action_dropped"] += 1
            else:
                # CPA stringifies every column the pandas way: a null is "nan"
                truth["cert"][uin] = {"time_entry": MODES.get(te_code, "nan")}
        rnd.shuffle(lines)
        _write_csv(os.path.join(root, f"cert_{pay_id}_2026.csv"), CERT_COLUMNS, lines)

    # --- lookups ---
    _write_csv(os.path.join(root, "TS_Org.csv"), ["TS-Org Code", "TS-Org Title"],
               [[f"{c}-{o}", f"Org {c}-{o}"] for c in (1, 2) for o in ORGS[:95]])
    _write_csv(os.path.join(root, "TS_Dept.csv"), ["TS-Org Dept Code", "TS-Org Dept Title"],
               [[f"{c}-{d}", f"Dept {c}-{d}"] for c in (1, 2) for d in DEPTS_IN_LOOKUP])
    _write_csv(os.path.join(root, "Overtime_E_Class.csv"),
               ["Job Eclass", "Pay ID", "Overtime FLSA", "Job Detail E-Class Long Desc"],
               [[e, p, flsa, f"{desc} Long"] for e, (desc, flsa) in sorted(ECLASSES.items())
                for p in ("BW", "MN")])
    rnd.shuffle(te_rows)
    _write_csv(os.path.join(root, "TE_M.csv"),
               ["UIN Job", "TE M", "Time Entry Method", "Time Entry Type"], te_rows)

    # --- loaded but unused by the reference, and distractors ---
    _write_csv(os.path.join(root, "Feeder_List.csv"), ["UIN", "Feeder"],
               [[f"U{i}", "F"] for i in range(50)])
    _write_csv(os.path.join(root, "YTD_summary_2026.csv"), ["UIN", "YTD"],
               [[f"U{i}", i] for i in range(50)])
    stale = [[f"S{i}", 2024, "BW", 1, 1, f"TS{i}", "C", "R", "2023-01-05", "2023-01-05", "201",
              "T", 1, 600000, "CA", "LAW", "O", "L", "F", "E", "e@x", 10.5, "", "", "", 1, "R",
              "3 - Apply", "RB", "N", "", 1, 2, 3] for i in range(20)]
    _write_csv(os.path.join(root, "old", "cert_BW_2024.csv"), CERT_COLUMNS, stale)
    with open(os.path.join(root, "notes.txt"), "w") as f:
        f.write("payroll drop folder\n")
    with open(os.path.join(root, "budget_2026.pdf"), "wb") as f:
        f.write(bytes(rnd.randrange(256) for _ in range(4096)))
    return truth


def _norm(v):
    """CSV and XLSX spellings of one value, made comparable."""
    if v is None:
        return ""
    m = re.fullmatch(r"(\d{4}-\d{2}-\d{2})[T ]00:00:00(\.0+)?(Z|[+-]00:00)?", v)
    return m.group(1) if m else v


def _read_stamped(out_dir, prefix):
    """(csv rows, xlsx rows) of one stamped output; raises on a missing file."""
    parts = sorted(glob.glob(os.path.join(out_dir, f"{prefix}_{STAMP}", "part-*.csv")))
    if len(parts) != 1:
        raise AssertionError(f"{prefix}: expected one CSV part file, found {len(parts)}")
    with open(parts[0], newline="") as f:
        csv_rows = list(csv.reader(f))
    path = os.path.join(out_dir, f"{prefix}_{STAMP}.xlsx")
    if not os.path.isfile(path):
        raise AssertionError(f"{prefix}: missing {os.path.basename(path)}")
    return csv_rows, xlsx.read(path)


def _same_file_contents(name, csv_rows, xlsx_rows, columns, errors):
    for kind, rows in (("CSV", csv_rows), ("XLSX", xlsx_rows)):
        if not rows or [_norm(h) for h in rows[0]] != columns:
            errors.append(f"{name} {kind}: header {rows[0] if rows else None} != paper's column order")
    a = sorted(tuple(_norm(v) for v in r) for r in csv_rows[1:])
    b = sorted(tuple(_norm(v) for v in r) for r in xlsx_rows[1:])
    if a != b:
        errors.append(f"{name}: CSV and XLSX hold different rows ({len(a)} vs {len(b)})")


def check(out_dir, truth):
    """Compares the stamped outputs with the planted truths; returns problems found."""
    errors = []
    try:
        pua_csv, pua_xlsx = _read_stamped(out_dir, "PreTAM_PUA")
        cpa_csv, cpa_xlsx = _read_stamped(out_dir, "CPA_Final")
    except (AssertionError, OSError, KeyError, ValueError) as e:
        return [str(e)]
    _same_file_contents("PUA", pua_csv, pua_xlsx, PUA_COLUMNS, errors)
    _same_file_contents("CPA", cpa_csv, cpa_xlsx, CPA_COLUMNS, errors)
    if errors:
        return errors

    # PUA: one row per planted UIN, with the planted fills
    col = {c: i for i, c in enumerate(PUA_COLUMNS)}
    pua = pua_csv[1:]
    want = truth["pua"]
    if len(pua) != len(want):
        errors.append(f"PUA rows {len(pua)} != {len(want)} expected "
                      f"({truth['pua_duplicates']} duplicates planted)")
    seen = {r[col["UIN"]] for r in pua}
    if seen != set(want):
        errors.append(f"PUA UINs differ: {len(seen - set(want))} unexpected, "
                      f"{len(set(want) - seen)} missing")
    got = {"adj": 0, "mode": 0, "fallback": 0}
    for r in pua:
        w = want.get(r[col["UIN"]])
        if w is None:
            continue
        adj = (r[col["Adjustment Reason Code"]], r[col["Adjustment Reason Description"]])
        if adj != tuple(w["adj"]):
            errors.append(f"PUA {r[col['UIN']]}: adjustment {adj} != {w['adj']}")
        if _norm(r[col["Time Entry"]]) != (w["time_entry"] or ""):
            errors.append(f"PUA {r[col['UIN']]}: Time Entry {r[col['Time Entry']]!r} != {w['time_entry']!r}")
        if r[col["TS-Org Dept Title"]] != w["dept_title"]:
            errors.append(f"PUA {r[col['UIN']]}: dept title {r[col['TS-Org Dept Title']]!r} != {w['dept_title']!r}")
        got["adj"] += adj == ("INT", "Internal")
        got["mode"] += w["mode_fill"] and r[col["Time Entry"]] == w["time_entry"]
        got["fallback"] += r[col["TS-Org Dept Title"]].startswith("Home Dept ")
    planted = {"adj": sum(w["adj"] == ("INT", "Internal") for w in want.values()),
               "mode": sum(w["mode_fill"] for w in want.values()),
               "fallback": sum(w["dept_fallback"] for w in want.values())}
    for k in planted:
        if got[k] != planted[k]:
            errors.append(f"PUA {k} fills: {got[k]} in output, {planted[k]} planted")

    # CPA: the planted in-FY, applied rows, one per UIN, nothing that was dropped
    col = {c: i for i, c in enumerate(CPA_COLUMNS)}
    cpa = cpa_csv[1:]
    want = truth["cert"]
    if len(cpa) != len(want):
        errors.append(f"CPA rows {len(cpa)} != {len(want)} expected ({truth['fy_dropped']} "
                      f"fiscal-year drops, {truth['action_dropped']} ACTION drops, "
                      f"{truth['cert_duplicates']} duplicates, {truth['cert_collisions']} "
                      "UIN-Job collisions planted)")
    seen = {r[col["UIN"]] for r in cpa}
    if seen != set(want):
        errors.append(f"CPA UINs differ: {len(seen - set(want))} unexpected, "
                      f"{len(set(want) - seen)} missing")
    for r in cpa:
        w = want.get(r[col["UIN"]])
        if w is not None and r[col["Time Entry"]] != w["time_entry"]:
            errors.append(f"CPA {r[col['UIN']]}: Time Entry {r[col['Time Entry']]!r} != {w['time_entry']!r}")
    return errors[:20]
