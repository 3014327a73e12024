"""Minimal .xlsx (ECMA-376 SpreadsheetML) reader/writer on the Python
stdlib — no openpyxl dependency.

The reference ingests its balancing-authority and energy-source
dimensions from a multi-sheet workbook
(``pd.read_excel(url, sheet_name=['BAs', 'Energy Sources'])``,
EIA930PipelineHourlyData.py:33-34). An .xlsx file is a zip of XML
parts, so a purpose-sized reader needs only ``zipfile`` +
``xml.etree``:

- ``xl/workbook.xml``            sheet names → relationship ids
- ``xl/_rels/workbook.xml.rels`` relationship ids → worksheet parts
- ``xl/sharedStrings.xml``       the shared-string table (t="s" cells)
- ``xl/worksheets/sheetN.xml``   sparse rows of typed cells

Supported cell types: shared string (``s``), formula/inline string
(``str``/``inlineStr``), boolean (``b``), and numbers (default) —
everything the dimension sheets use. Dates come back as their raw
serial numbers (callers coerce; the reference sheets carry no dates).

The writer emits the same subset (strings as ``inlineStr`` so no
shared-string table is needed) and exists so tests can build real
workbook fixtures; it round-trips through this reader and through
pandas/openpyxl where available.

Scale: workbook dimensions are driver-small by contract (the
reference's BA sheet is a few hundred rows). The parsed rows become a
Spark LocalRelation via ``tables.local_rows_df`` and are broadcast
into joins — the same posture as every other dimension source in
sources/.
"""

from __future__ import annotations

import re
import zipfile
import xml.etree.ElementTree as ET
from typing import Any
from xml.sax.saxutils import escape

_R_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_INT_RE = re.compile(r"^-?\d+$")


def _local(tag: str) -> str:
    """Element tag without its namespace."""
    return tag.rsplit("}", 1)[-1]


def _col_index(cell_ref: str) -> int:
    """'A1' → 0, 'BC23' → 54 (base-26 letters prefix of the A1 ref)."""
    idx = 0
    for ch in cell_ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return idx - 1


def _col_ref(idx: int) -> str:
    """0 → 'A', 54 → 'BC' (inverse of _col_index)."""
    out = ""
    idx += 1
    while idx > 0:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _text_of(el: ET.Element) -> str:
    """Concatenated <t> runs (plain and rich-text <si> both flatten)."""
    return "".join(t.text or "" for t in el.iter() if _local(t.tag) == "t")


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    return [
        _text_of(si)
        for si in ET.fromstring(data)
        if _local(si.tag) == "si"
    ]


def _sheet_parts(zf: zipfile.ZipFile) -> dict[str, str]:
    """Sheet name → worksheet zip member, in workbook order."""
    rels = {
        rel.get("Id"): rel.get("Target")
        for rel in ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    }
    parts: dict[str, str] = {}
    for el in ET.fromstring(zf.read("xl/workbook.xml")).iter():
        if _local(el.tag) != "sheet":
            continue
        target = rels[el.get(f"{_R_NS}id")]
        if target.startswith("/"):
            target = target[1:]
        elif not target.startswith("xl/"):
            target = f"xl/{target}"
        parts[el.get("name")] = target
    return parts


def _cell_value(cell: ET.Element, strings: list[str]) -> Any:
    ctype = cell.get("t", "n")
    raw: str | None = None
    for child in cell:
        name = _local(child.tag)
        if name == "v":
            raw = child.text
        elif name == "is":  # inline string holds its runs in <is>
            return _text_of(child)
    if raw is None:
        return None
    if ctype == "s":
        return strings[int(raw)]
    if ctype in ("str", "inlineStr"):
        return raw
    if ctype == "b":
        return bool(int(raw))
    return int(raw) if _INT_RE.match(raw) else float(raw)


def _sheet_rows(zf: zipfile.ZipFile, part: str, strings: list[str]) -> list[list[Any]]:
    """Dense row-major grid (None-padded — sheet XML stores cells
    sparsely and may omit empty rows/cells entirely)."""
    sparse: list[dict[int, Any]] = []
    for el in ET.fromstring(zf.read(part)).iter():
        if _local(el.tag) != "row":
            continue
        row_cells: dict[int, Any] = {}
        next_idx = 0
        for cell in el:
            if _local(cell.tag) != "c":
                continue
            ref = cell.get("r")
            idx = _col_index(ref) if ref else next_idx
            next_idx = idx + 1
            row_cells[idx] = _cell_value(cell, strings)
        sparse.append(row_cells)
    width = max((max(cells) + 1 for cells in sparse if cells), default=0)
    if width == 0:  # rows exist but hold no cells → an empty grid
        return []
    return [[cells.get(i) for i in range(width)] for cells in sparse]


def read_workbook(
    path: str, sheets: list[str] | None = None
) -> dict[str, list[list[Any]]]:
    """Parse the requested sheets (default: all) into header-inclusive
    row grids. Raises KeyError for a missing sheet name — same contract
    as pandas' ``read_excel(sheet_name=[...])``."""
    with zipfile.ZipFile(path) as zf:
        parts = _sheet_parts(zf)
        strings = _shared_strings(zf)
        wanted = list(parts) if sheets is None else sheets
        missing = [s for s in wanted if s not in parts]
        if missing:
            raise KeyError(f"worksheet(s) {missing} not in workbook {sorted(parts)}")
        return {name: _sheet_rows(zf, parts[name], strings) for name in wanted}


def rows_to_header_and_data(
    grid: list[list[Any]],
) -> tuple[list[str], list[list[Any]]]:
    """First grid row → column names (pandas-style ``Unnamed: i`` for
    blanks), rest → data rows."""
    if not grid:
        return [], []
    header = [
        str(v) if v is not None and v != "" else f"Unnamed: {i}"
        for i, v in enumerate(grid[0])
    ]
    return header, grid[1:]


# ---------------------------------------------------------------------------
# Writer (fixture construction + round-trip tests)
# ---------------------------------------------------------------------------

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    "{sheet_overrides}"
    "</Types>"
)

_SHEET_OVERRIDE = (
    '<Override PartName="/xl/worksheets/sheet{n}.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
)

_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)


# XML 1.0 forbids most C0 controls even escaped; strip them rather
# than emit an unreadable workbook (tab/newline/CR are legal).
_XML_INVALID = {c: None for c in range(0x20) if c not in (0x09, 0x0A, 0x0D)}


def _cell_xml(ref: str, value: Any) -> str:
    if value is None:
        return ""
    if isinstance(value, bool):
        return f'<c r="{ref}" t="b"><v>{int(value)}</v></c>'
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    text = escape(str(value).translate(_XML_INVALID))
    return f'<c r="{ref}" t="inlineStr"><is><t>{text}</t></is></c>'


def write_workbook(path: str, sheets: dict[str, list[list[Any]]]) -> None:
    """Write rows (header row first) as a multi-sheet .xlsx."""
    names = list(sheets)
    sheet_entries = "".join(
        # attribute context: double quotes must be escaped too
        f'<sheet name="{escape(name.translate(_XML_INVALID), {chr(34): "&quot;"})}" '
        f'sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, name in enumerate(names)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{sheet_entries}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/'
            f'officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            _CONTENT_TYPES.format(
                sheet_overrides="".join(
                    _SHEET_OVERRIDE.format(n=i + 1) for i in range(len(names))
                )
            ),
        )
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, name in enumerate(names):
            rows_xml = "".join(
                f'<row r="{ri + 1}">'
                + "".join(
                    _cell_xml(f"{_col_ref(ci)}{ri + 1}", v) for ci, v in enumerate(row)
                )
                + "</row>"
                for ri, row in enumerate(sheets[name])
            )
            zf.writestr(
                f"xl/worksheets/sheet{i + 1}.xml",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<worksheet xmlns='
                '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                f"<sheetData>{rows_xml}</sheetData></worksheet>",
            )
