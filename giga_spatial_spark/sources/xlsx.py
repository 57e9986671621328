"""XLSX read/write — from-scratch OOXML (stdlib zipfile + ElementTree).

The reference reads and writes Excel workbooks (core/io/readers.py xlsx
branch, writers.py:31-133) via openpyxl, which is absent in this container;
XLSX is just a zip of XML parts, so the minimal SpreadsheetML subset is
implemented directly: one worksheet, inline strings on write, inline or
shared strings on read, numeric cells typed.

Scale note: the reference uses xlsx for dim-sized lookup/summary tables.
Reading parses the sheet driver-side then parallelizes; writing collects —
both guarded by a row cap so nobody routes a fact table through Excel.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, SparkSession

from ..session import local_df

_MAX_ROWS = 1_048_576  # the .xlsx format's own sheet limit
_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    "</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
)
_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    "</Relationships>"
)


def _col_letter(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(65 + rem) + out
    return out


def write_xlsx(df: DataFrame, path: str) -> str:
    """Spark DataFrame → single-sheet .xlsx (header row + typed cells)."""
    rows = df.limit(_MAX_ROWS + 1).collect()
    if len(rows) > _MAX_ROWS:
        raise ValueError(f"xlsx sheets cap at {_MAX_ROWS} rows — use parquet")
    cols = df.columns
    buf = io.StringIO()
    buf.write(
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
    )

    def cell(ref: str, v) -> str:
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            # NaN/Inf are not valid SpreadsheetML numbers (Excel/openpyxl
            # reject them) — emit an empty cell, like the csv writer's null.
            if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
                return ""
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    buf.write("<row r=\"1\">")
    for j, c in enumerate(cols):
        buf.write(cell(f"{_col_letter(j)}1", c))
    buf.write("</row>")
    for i, row in enumerate(rows, start=2):
        buf.write(f'<row r="{i}">')
        for j, c in enumerate(cols):
            buf.write(cell(f"{_col_letter(j)}{i}", row[c]))
        buf.write("</row>")
    buf.write("</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        z.writestr("xl/worksheets/sheet1.xml", buf.getvalue())
    return path


_REF_RE = re.compile(r"([A-Z]+)(\d+)")


def _ref_col(ref: str) -> int:
    letters = _REF_RE.match(ref).group(1)
    i = 0
    for ch in letters:
        i = i * 26 + (ord(ch) - 64)
    return i - 1


def _first_sheet_part(z: zipfile.ZipFile) -> str:
    """Resolve the workbook's FIRST sheet via xl/workbook.xml and its rels —
    zip namelist order is arbitrary for externally-produced workbooks (e.g.
    sheet10.xml can precede sheet2.xml), so "first by namelist" is wrong."""
    _R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
    try:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_target = {
            r.get("Id"): r.get("Target")
            for r in rels
            if (r.get("Type") or "").endswith("/worksheet")
        }
        first = next(iter(wb.iter(f"{_NS}sheet")))
        target = rel_target[first.get(f"{_R}id")]
        part = target if target.startswith("xl/") else "xl/" + target.lstrip("/")
        if part in z.namelist():
            return part
    except (KeyError, StopIteration, ET.ParseError):
        pass
    # fallback: lowest numeric suffix wins
    cands = [
        n for n in z.namelist() if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)
    ]
    return min(cands, key=lambda n: int(re.search(r"(\d+)\.xml$", n).group(1)))


def read_xlsx(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """.xlsx → Spark DataFrame (first sheet). Handles inline strings,
    shared strings, numbers, booleans; columns typed long / double / string
    by inspection (mixed numeric → double, anything else → string)."""
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
        root = ET.fromstring(z.read(_first_sheet_part(z)))
    grid: list[dict[int, object]] = []
    for row in root.iter(f"{_NS}row"):
        cells: dict[int, object] = {}
        for c in row.findall(f"{_NS}c"):
            j = _ref_col(c.get("r", "A1"))
            t = c.get("t", "n")
            if t == "inlineStr":
                is_el = c.find(f"{_NS}is")
                v = "".join(tt.text or "" for tt in is_el.iter(f"{_NS}t")) if is_el is not None else None
            else:
                v_el = c.find(f"{_NS}v")
                raw = v_el.text if v_el is not None else None
                if raw is None:
                    v = None
                elif t == "s":
                    v = shared[int(raw)]
                elif t == "b":
                    v = raw == "1"
                elif t == "str":
                    v = raw
                else:
                    f = float(raw)
                    v = int(f) if f.is_integer() and abs(f) < 2**53 else f
            cells[j] = v
        grid.append(cells)
    if not grid:
        raise ValueError(f"empty worksheet in {path}")
    width = max(max(r.keys(), default=-1) for r in grid) + 1
    mat = [[r.get(j) for j in range(width)] for r in grid]
    if header:
        names = [str(v) if v is not None else f"_c{j}" for j, v in enumerate(mat[0])]
        data = mat[1:]
    else:
        names = [f"_c{j}" for j in range(width)]
        data = mat
    # column typing: all-int → long, numeric → double, else string
    typed_cols = []
    for j in range(width):
        vals = [r[j] for r in data if r[j] is not None]
        if vals and all(isinstance(v, bool) for v in vals):
            typed_cols.append("boolean")
        elif vals and all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
            typed_cols.append("long")
        elif vals and all(
            isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals
        ):
            typed_cols.append("double")
        else:
            typed_cols.append("string")
    schema = ", ".join(f"`{n}` {t}" for n, t in zip(names, typed_cols))

    # Arrow widens the ints of a double column exactly (all below 2**53)
    data = [
        tuple(str(v) if t == "string" and v is not None else v
              for v, t in zip(r, typed_cols))
        for r in data
    ]
    return local_df(spark, data, schema)
