"""A small SpreadsheetML (.xlsx) writer and reader on the standard library only.

The writer produces the workbook shape a payroll extract arrives in: shared
strings, numeric cells, and date cells stored as serial numbers with a date
number format. The reader is the benchmark's own, independent of the engine's
graft.io.Xlsx, and reads back what either side wrote.
"""
import datetime
import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
EPOCH = datetime.date(1899, 12, 30)
# builtin number formats that are dates (ECMA-376 18.8.30)
DATE_FORMAT_IDS = set(range(14, 23)) | set(range(45, 48))


def col_ref(i):
    s = ""
    n = i + 1
    while n:
        n, r = divmod(n - 1, 26)
        s = chr(65 + r) + s
    return s


def write(path, header, rows, date_cols=()):
    """rows: sequences of str | int | float | datetime.date | None."""
    strings, index = [], {}

    def sst(s):
        if s not in index:
            index[s] = len(strings)
            strings.append(s)
        return index[s]

    date_cols = set(date_cols)
    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
           f'<worksheet xmlns="{NS["m"]}"><sheetData>']
    for r, row in enumerate([header] + list(rows), start=1):
        cells = []
        for c, v in enumerate(row):
            ref = f"{col_ref(c)}{r}"
            if v is None:
                continue
            if r > 1 and c in date_cols and isinstance(v, datetime.date):
                cells.append(f'<c r="{ref}" s="1"><v>{(v - EPOCH).days}</v></c>')
            elif isinstance(v, (int, float)) and not isinstance(v, bool):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="s"><v>{sst(str(v))}</v></c>')
        out.append(f'<row r="{r}">{"".join(cells)}</row>')
    out.append("</sheetData></worksheet>")
    sst_xml = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
               f'<sst xmlns="{NS["m"]}" count="{len(strings)}" uniqueCount="{len(strings)}">'
               + "".join(f"<si><t>{escape(s)}</t></si>" for s in strings) + "</sst>")
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{NS["m"]}" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="PUA" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>'
            '<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>',
        "xl/styles.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<styleSheet xmlns="{NS["m"]}"><cellXfs count="2">'
            '<xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs></styleSheet>',
        "xl/sharedStrings.xml": sst_xml,
        "xl/worksheets/sheet1.xml": "".join(out),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            z.writestr(name, body)


def _cell_index(ref):
    letters = re.match(r"[A-Z]+", ref).group(0)
    n = 0
    for ch in letters:
        n = n * 26 + ord(ch) - 64
    return n - 1


def read(path):
    """First sheet as a list of rows of strings; date cells become ISO dates
    (builtin date formats only: the ones both writers use).

    Missing cells read as None. Rows are padded to the header's width.
    """
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        shared = []
        if "xl/sharedStrings.xml" in names:
            for si in ET.fromstring(z.read("xl/sharedStrings.xml")).findall("m:si", NS):
                shared.append("".join(t.text or "" for t in si.iter(f"{{{NS['m']}}}t")))
        date_styles = set()
        if "xl/styles.xml" in names:
            xfs = ET.fromstring(z.read("xl/styles.xml")).find("m:cellXfs", NS)
            for i, xf in enumerate(xfs.findall("m:xf", NS) if xfs is not None else []):
                if int(xf.get("numFmtId", "0")) in DATE_FORMAT_IDS:
                    date_styles.add(i)
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    rows = []
    for row in sheet.iter(f"{{{NS['m']}}}row"):
        vals = {}
        for c in row.findall("m:c", NS):
            t = c.get("t", "n")
            v = c.find("m:v", NS)
            if t == "inlineStr":
                text = "".join(x.text or "" for x in c.iter(f"{{{NS['m']}}}t"))
            elif v is None:
                continue
            elif t == "s":
                text = shared[int(v.text)]
            elif t in ("n", "") and int(c.get("s", "0")) in date_styles:
                serial = float(v.text)
                day = (EPOCH + datetime.timedelta(days=int(serial))).isoformat()
                # a time of day is kept as a fraction so that it cannot pass for midnight
                text = day if serial.is_integer() else f"{day}+{serial % 1}"
            else:
                text = v.text
            vals[_cell_index(c.get("r"))] = text
        width = max(vals) + 1 if vals else 0
        rows.append([vals.get(i) for i in range(width)])
    if rows:
        w = len(rows[0])
        rows = [r + [None] * (w - len(r)) if len(r) < w else r for r in rows]
    return rows
