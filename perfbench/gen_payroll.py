"""Seeded generator of a reference-shaped payroll storage root.

Writes what the flagship Runner discovers: the monthly PUA feed and the PUA
YTD workbook as .xlsx (the inputs the reference reads with read_excel), the
BW and MN certification CSVs, the four lookup CSVs and an unused feeder list.
It plants every feature the Runner scale-gate test plants, at positions the
seed chooses: full duplicate rows, cert UIN-Job collisions that differ only
in TRAN_ID (dropped before output, so keep-first picks are value-identical),
blank TE M (mode-filled), blank and "nan" adjustment reasons, "nan" and
blank org codes, ".0" code suffixes, applied/routed actions, dash/dashless
colleges and out-of-fiscal-year dates.

From its own bookkeeping it returns the expected output row counts.

    python3 perfbench/gen_payroll.py <out_dir> <seed> [n_pua] [n_cert]
"""
import datetime as dt
import json
import os
import sys
import zipfile
from xml.sax.saxutils import escape

import numpy as np

# Run date 2026-08-12: the calendar fiscal year is 2025-07-01..2026-06-30.
RUN_DATE = "2026-08-12"
FY_START = dt.date(2025, 7, 1)

PUA_HEADER = ["UIN", "Pay ID", "Year", "Pay #", "Seq #", "POSN", "SUFF",
              "College Code", "College Name", "TS COA", "TS ORG", "DEPT Code",
              "Department Name", "ECLS", "ECLS DESC", "TE M", "Earn Code",
              "DESCRIPTION", "ADJ Reason Code", "ADJ Reason DESC", "Calc Date"]
CERT_HEADER = [
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID", "TRAN_COMPNT",
    "ADJ_REASON", "TRAN_CREATE_DT", "TRAN_CLOSED_DT", "JOB", "JOB_TITLE",
    "JOB_TS_COAS", "JOB_TS_ORGN", "JOB_ECLS", "COLLEGE", "OWNING_UIN",
    "LAST_NAME", "FIRST_NAME", "UI_ENTERPRISE_ID", "EMAIL_ADDR", "HRLY_RATE",
    "RT_LEAVE_DT", "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE", "ACTION",
    "ROUTED_BY_UIN", "RETURNED_FLAG", "TRAN_ROUTE_DT", "ELAPSED_WORK_TIME",
    "ROUTE_STOP_TIME", "ELAPSED_TRAN_TIME"]


def _pick(rng, n, every):
    """Exactly n // every row positions, placed by the seed."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, n // every, replace=False)] = True
    return mask


def _fy_date(i):
    return (FY_START + dt.timedelta(days=i % 360)).isoformat()


def _col(i):
    s = ""
    i += 1
    while i > 0:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, header, rows):
    """Single-sheet workbook, every cell an inline string."""
    def row_xml(r, cells):
        return f'<row r="{r}">' + "".join(
            f'<c r="{_col(j)}{r}" t="inlineStr"><is><t>{escape(v)}</t></is></c>'
            for j, v in enumerate(cells) if v != "") + "</row>"
    body = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            '<sheetData>', row_xml(1, header)]
    body += [row_xml(i + 2, r) for i, r in enumerate(rows)]
    body.append("</sheetData></worksheet>")
    ns = "http://schemas.openxmlformats.org"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml",
                   f'<?xml version="1.0" encoding="UTF-8"?><Types xmlns="{ns}/package/2006/content-types">'
                   '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
                   '<Default Extension="xml" ContentType="application/xml"/>'
                   '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
                   '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
                   '</Types>')
        z.writestr("_rels/.rels",
                   f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{ns}/package/2006/relationships">'
                   f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
                   '</Relationships>')
        z.writestr("xl/workbook.xml",
                   f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}/spreadsheetml/2006/main" '
                   f'xmlns:r="{ns}/officeDocument/2006/relationships"><sheets>'
                   '<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>')
        z.writestr("xl/_rels/workbook.xml.rels",
                   f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{ns}/package/2006/relationships">'
                   f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
                   '</Relationships>')
        z.writestr("xl/worksheets/sheet1.xml", "".join(body))


def _write_csv(path, header, rows):
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        f.writelines(",".join(r) + "\n" for r in rows)


def _pua_rows(rng, n):
    dup = _pick(rng, n, 11)
    blank_te = _pick(rng, n, 5)
    blank_org = _pick(rng, n, 19)
    adj = rng.choice(["", "nan", "RET", "RET", "RET", "RET", "RET"], n)
    rows = []
    for i in range(n):
        posn = f"{100 + i % 500}.0" if i % 3 == 0 else f"{100 + i % 500}"
        dept = f"{600 + i % 10}.0" if i % 4 == 0 else f"{600 + i % 10}"
        te_m = "" if blank_te[i] else ("P" if i % 4 == 1 else "W")
        org = "" if blank_org[i] else f"60{i % 100:02d}00"
        row = [f"U{i}", "BW" if i % 2 == 0 else "MN", "2026", str(1 + i % 9),
               str(1 + i % 2), posn, str(i % 2), "KL", "Engineering",
               str(1 + i % 2), org, dept, "CS Dept", "CA" if i % 2 == 0 else "AB",
               "Civil Service", te_m, "RGS", "Regular", adj[i], "desc", _fy_date(i)]
        rows.append(row)
        if dup[i]:
            rows.append(list(row))
    return rows


def _cert_rows(rng, n, pay_id, prefix):
    nan_org = _pick(rng, n, 19)
    routed = _pick(rng, n, 7)
    out_fy = _pick(rng, n, 17)
    collide = _pick(rng, n, 13)
    rows, in_fy_rows, kept = [], 0, 0
    for i in range(n):
        coas = "nan" if nan_org[i] else str(1 + i % 2)
        orgn = "nan" if nan_org[i] else f"60{i % 100:02d}00"
        college = "LAW" if i % 3 == 0 else "KL-Engineering"
        action = "1 - Route" if routed[i] else "3 - Apply"
        # out-of-FY dates stay inside the previous fiscal year, so the
        # staleness guard still passes
        d = (dt.date(2024, 9, 1) + dt.timedelta(days=i % 200)).isoformat() \
            if out_fy[i] else _fy_date(i)

        def row(tran):
            return [f"{prefix}{i}", "2026", pay_id, str(1 + i % 9), "1", tran, "C",
                    "R", d, d, str(200 + i % 50), "T", coas, orgn,
                    "CA" if i % 2 == 0 else "AB", college, "O", "L", "F", "E",
                    "e@x", "10.5", "", "", "", "1", "R", action, "RB", "N", "",
                    "1", "2", "3"]
        base = row(f"T{prefix}{i}")
        group = [base, list(base), row(f"T{prefix}{i}b")] if collide[i] else [base]
        rows.extend(group)
        if not out_fy[i]:
            in_fy_rows += len(group)
            kept += int(not routed[i])
    return rows, in_fy_rows, kept


def generate(root, seed, n_pua=10000, n_cert=6000):
    """Write the storage root; return the generator's expected counts."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    pua = _pua_rows(rng, n_pua)
    write_xlsx(os.path.join(root, "monthly_PUA_file.xlsx"), PUA_HEADER, pua)
    write_xlsx(os.path.join(root, "YTD_summary_2026.xlsx"), ["UIN", "Amount"],
               [[f"U{i}", str(i)] for i in range(50)])
    bw, bw_fy, bw_kept = _cert_rows(rng, n_cert, "BW", "C")
    mn, mn_fy, mn_kept = _cert_rows(rng, n_cert, "MN", "D")
    _write_csv(os.path.join(root, "cert_BW_2026.csv"), CERT_HEADER, bw)
    _write_csv(os.path.join(root, "cert_MN_2026.csv"), CERT_HEADER, mn)
    _write_csv(os.path.join(root, "TS_Org.csv"), ["TS-Org Code", "TS-Org Title"],
               [[f"{c}-60{x:02d}00", f"Org {c}-{x}"] for c in (1, 2) for x in range(100)])
    _write_csv(os.path.join(root, "TS_Dept.csv"),
               ["TS-Org Dept Code", "TS-Org Dept Title"],
               [[f"{c}-60{x}", f"Dept {c}-{x}"] for c in (1, 2) for x in range(10)])
    _write_csv(os.path.join(root, "Overtime_E_Class.csv"),
               ["Job Eclass", "Pay ID", "Overtime FLSA", "Job Detail E-Class Long Desc"],
               [["CA", "BW", "Eligible", "Civil Service Long"],
                ["AB", "MN", "Exempt", "Academic Long"],
                ["CA", "MN", "Exempt", "Hourly Long"]])
    _write_csv(os.path.join(root, "TE_M.csv"),
               ["UIN Job", "TE M", "Time Entry Method", "Time Entry Type"],
               [[f"C{i}-{200 + i % 50}", "W", "Web", f"T{i}"] for i in range(0, n_cert, 5)])
    _write_csv(os.path.join(root, "Feeder_List.csv"), ["UIN"], [[f"U{i}"] for i in range(20)])
    return {
        "run_date": RUN_DATE,
        "input_rows": len(pua) + len(bw) + len(mn),
        "pua_rows": len(pua),
        "pua_unique": n_pua,
        "cert_rows": len(bw) + len(mn),
        "cpa_in_fy": bw_fy + mn_fy,
        "cpa_out": bw_kept + mn_kept,
    }


if __name__ == "__main__":
    args = sys.argv[1:]
    print(json.dumps(generate(args[0], int(args[1]), *map(int, args[2:4]))))
