"""Minimal stdlib .xlsx sheet reader (ECMA-376 / ISO 29500 SpreadsheetML).

The engine's only Excel parser: a workbook is a zip of XML parts. This
module parses ``xl/workbook.xml`` (sheet name → relationship id), the
workbook rels (rel id → worksheet part), ``xl/sharedStrings.xml``, and
the worksheet's ``sheetData`` rows into a dense row-major grid. Cell
types covered: shared strings (``t="s"``), inline strings
(``t="inlineStr"``), formula-cached strings (``t="str"``), booleans
(``t="b"``), and numbers (returned as float — column-stable for
Spark/Arrow inference).

Driver-side by design: a single workbook is not a splittable source, so
the scale story remains ingest-to-Parquet
(sources.excel.excel_to_parquet). For many-workbook ingest the parser
also accepts an open binary file object, so executors can parse workbook
bytes from a binaryFile scan (sources.excel.read_excel_many).

Knowledge source: the public OOXML spec only. Not a general-purpose
reader — no dates-as-datetimes, merged-cell fills, or 1904 epoch; the
reference workbook (label + value columns) needs none of those.
"""

from __future__ import annotations

import zipfile
from typing import IO
from xml.etree import ElementTree as ET

_M = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _col_index(cell_ref: str) -> int:
    """'BC12' → 0-based column index 54."""
    idx = 0
    for ch in cell_ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return idx - 1


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    if "xl/sharedStrings.xml" not in z.namelist():
        return []
    root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    out = []
    for si in root.findall(f"{_M}si"):
        # Concatenate all <t> runs (rich-text cells have several).
        out.append("".join(t.text or "" for t in si.iter(f"{_M}t")))
    return out


def _sheet_target(z: zipfile.ZipFile, sheet_name: str | int) -> str:
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    rid_to_target = {
        rel.get("Id"): rel.get("Target") for rel in rels.findall(f"{_PKG_REL}Relationship")
    }
    sheets = wb.find(f"{_M}sheets")
    if sheets is None:
        raise ValueError("workbook.xml has no <sheets> element")
    names = []
    for i, sh in enumerate(sheets.findall(f"{_M}sheet")):
        name = sh.get("name")
        names.append(name)
        if name == str(sheet_name) or (isinstance(sheet_name, int) and i == sheet_name):
            target = rid_to_target[sh.get(f"{_R}id")]
            return target.lstrip("/") if target.startswith("/") else f"xl/{target}"
    raise KeyError(f"sheet {sheet_name!r} not found; workbook has {names}")


def sheet_rows(
    source: str | IO[bytes], sheet_name: str | int = 0
) -> list[list[object]]:
    """Parse one worksheet into a dense grid (list of equal-length rows).

    ``source`` is a filesystem path or an open binary file object (e.g.
    BytesIO over binaryFile content). Rows that are entirely empty are
    dropped; cells are str | float | bool | None.
    """
    with zipfile.ZipFile(source) as z:
        shared = _shared_strings(z)
        ws = ET.fromstring(z.read(_sheet_target(z, sheet_name)))
        raw_rows: list[dict[int, object]] = []
        max_col = -1
        for row in ws.iter(f"{_M}row"):
            cells: dict[int, object] = {}
            for c in row.findall(f"{_M}c"):
                col = _col_index(c.get("r", ""))
                t = c.get("t", "n")
                v: object = None
                if t == "inlineStr":
                    is_el = c.find(f"{_M}is")
                    if is_el is not None:
                        v = "".join(tt.text or "" for tt in is_el.iter(f"{_M}t"))
                else:
                    v_el = c.find(f"{_M}v")
                    if v_el is not None and v_el.text is not None:
                        if t == "s":
                            v = shared[int(v_el.text)]
                        elif t == "str":
                            v = v_el.text
                        elif t == "b":
                            v = bool(int(v_el.text))
                        else:  # numeric
                            v = float(v_el.text)
                if v is not None and col >= 0:
                    cells[col] = v
                    max_col = max(max_col, col)
            if cells:
                raw_rows.append(cells)
        return [
            [cells.get(c) for c in range(max_col + 1)] for cells in raw_rows
        ]


def sheet_names(source: str | IO[bytes]) -> list[str]:
    with zipfile.ZipFile(source) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        sheets = wb.find(f"{_M}sheets")
        return [sh.get("name") for sh in sheets.findall(f"{_M}sheet")] if sheets is not None else []
