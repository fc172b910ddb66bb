"""The benchmark's own workbook writer and reader (zipfile + expat only).

The writer stores every value as a shared string, the way Excel itself
saves a text workbook, so the inputs do not depend on the package's
``io.xlsx_payload``.  The reader accepts shared, inline and numeric cells,
so it can parse back what the package's ``io.write_excel`` wrote without
sharing a line of code with ``io.parse_xlsx``.
"""

from __future__ import annotations

import re
import zipfile
from xml.parsers import expat
from xml.sax.saxutils import escape

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
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
_WORKBOOK_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
    "</Relationships>"
)
_MAIN_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"


def _col_letters(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(65 + r) + out
    return out


def write_workbook(path: str, header: list[str], rows: list[tuple]) -> None:
    """One-sheet workbook; ``None`` values become absent cells."""
    index: dict[str, int] = {}
    strings: list[str] = []
    letters = [_col_letters(i) for i in range(len(header))]
    parts = []
    total = 0
    for ri, values in enumerate([tuple(header), *rows], start=1):
        cells = []
        for ci, v in enumerate(values):
            if v is None:
                continue
            k = index.get(v)
            if k is None:
                k = index[v] = len(strings)
                strings.append(v)
            total += 1
            cells.append(f'<c r="{letters[ci]}{ri}" t="s"><v>{k}</v></c>')
        parts.append(f'<row r="{ri}">{"".join(cells)}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_MAIN_NS}"><sheetData>{"".join(parts)}</sheetData></worksheet>'
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_MAIN_NS}" count="{total}" uniqueCount="{len(strings)}">'
        + "".join(f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in strings)
        + "</sst>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


_REF_COL = re.compile(r"[A-Z]+")


def _col_number(ref: str) -> int:
    n = 0
    for ch in _REF_COL.match(ref).group():
        n = n * 26 + ord(ch) - 64
    return n - 1


def _shared_strings(data: bytes) -> list[str]:
    out: list[str] = []
    buf: list[str] = []
    in_t = False

    def start(name, _attrs):
        nonlocal in_t
        if name == "si":
            buf.clear()
        elif name == "t":
            in_t = True

    def end(name):
        nonlocal in_t
        if name == "t":
            in_t = False
        elif name == "si":
            out.append("".join(buf))

    def text(s):
        if in_t:
            buf.append(s)

    p = expat.ParserCreate()
    p.StartElementHandler, p.EndElementHandler, p.CharacterDataHandler = start, end, text
    p.Parse(data, True)
    return out


def read_workbook(path: str) -> tuple[list[str], list[tuple]]:
    """(header, rows) of the first sheet; every cell as text or ``None``."""
    with zipfile.ZipFile(path) as zf:
        names = set(zf.namelist())
        shared = (
            _shared_strings(zf.read("xl/sharedStrings.xml"))
            if "xl/sharedStrings.xml" in names else []
        )
        sheet = zf.read("xl/worksheets/sheet1.xml")

    rows: list[dict[int, str]] = []
    cell: dict = {}
    buf: list[str] = []
    capture = False

    def start(name, attrs):
        nonlocal capture
        if name == "row":
            rows.append({})
        elif name == "c":
            cell.clear()
            cell["col"] = _col_number(attrs["r"])
            cell["type"] = attrs.get("t", "n")
            buf.clear()
        elif name in ("v", "t"):
            capture = True

    def end(name):
        nonlocal capture
        if name in ("v", "t"):
            capture = False
        elif name == "c":
            raw = "".join(buf)
            if cell["type"] == "s":
                raw = shared[int(raw)]
            elif cell["type"] != "inlineStr" and not raw:
                return
            rows[-1][cell["col"]] = raw

    def text(s):
        if capture:
            buf.append(s)

    p = expat.ParserCreate()
    p.StartElementHandler, p.EndElementHandler, p.CharacterDataHandler = start, end, text
    p.Parse(sheet, True)
    if not rows:
        raise ValueError(f"{path}: empty worksheet")
    width = max(rows[0]) + 1
    header = [rows[0].get(i) for i in range(width)]
    body = []
    for r in rows[1:]:
        if r and max(r) >= width:
            raise ValueError(f"{path}: a row is wider than the {width}-column header")
        body.append(tuple(r.get(i) for i in range(width)))
    return header, body
