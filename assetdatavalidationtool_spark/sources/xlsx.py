"""XLSX first-worksheet reader (S2) — stdlib only (zipfile + ElementTree).

Behavioral parity with the reference's ExcelReader
(`/root/reference/src/Services/ExcelReader.cs`):

* ``read_headers`` (ExcelReader.cs:17-85): first row of the FIRST sheet
  (workbook.xml order, resolved through its relationship id); each cell
  trimmed; header cells are appended in ELEMENT order — the reference
  ignores cell references for the header row, so a sparse first row
  compacts left — then trailing blanks are trimmed.
* ``read_first_sheet`` (ExcelReader.cs:88-176): rows after the first;
  column index derived from the cell reference (``"C5" → 2``,
  GetColumnIndexFromReference at :179-191) with fallback to the running
  index, so sparse rows land in the right columns; shared-string cells
  (``t="s"``) resolve through sharedStrings.xml; anything else takes the
  raw ``<v>`` text; cells beyond the header count are dropped; missing
  header cells back-fill ``""``; any structural error returns what was
  parsed so far (the reference swallows exceptions to empty results).

Scale position: XLSX is a desktop CONFIG/REPORT format — this reader is
driver-side by design (a workbook is at most a few MB; the 100 TB data
path is parquet/Iceberg). ``read_xlsx`` wraps the parse in a DataFrame
(all-string columns, like the reference's row dictionaries) so workbook
inputs join the same validation plans as every other source.
"""

from __future__ import annotations

import posixpath
import re
import zipfile
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from ..rules.base import local_rows

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_RID = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"


def _col_index_from_ref(cell_ref: str | None) -> int | None:
    """``"C5" → 2`` (ExcelReader.cs:179-191); None for no/invalid ref."""
    if not cell_ref:
        return None
    idx = 0
    for ch in cell_ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return idx - 1 if idx > 0 else None


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    out = []
    for si in root.findall(f"{_NS}si"):
        # InnerText: concatenation of every text node (plain + rich runs)
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _first_sheet_xml(zf: zipfile.ZipFile) -> bytes | None:
    """First <sheet> in workbook.xml order, resolved via its r:id
    relationship (ExcelReader.cs:37-45)."""
    try:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    except KeyError:
        return None
    sheets = wb.find(f"{_NS}sheets")
    if sheets is None:
        return None
    first = sheets.find(f"{_NS}sheet")
    if first is None:
        return None
    rel_id = first.get(_RID)
    if not rel_id:
        return None
    target = None
    for rel in rels.findall(f"{_REL_NS}Relationship"):
        if rel.get("Id") == rel_id:
            target = rel.get("Target")
            break
    if not target:
        return None
    # OPC part-reference resolution (GetPartById semantics): targets may
    # be package-absolute ("/xl/worksheets/sheet1.xml") or relative with
    # "../" segments; both must normalize to a real zip member or a
    # valid workbook silently reads as empty.
    if target.startswith("/"):
        path = posixpath.normpath(target.lstrip("/"))
    else:
        path = posixpath.normpath(posixpath.join("xl", target))
    try:
        return zf.read(path)
    except KeyError:
        return None


def _cell_text(cell: ET.Element, sst: list[str]) -> str | None:
    v = cell.find(f"{_NS}v")
    if cell.get("t") == "s":
        try:
            i = int(v.text) if v is not None and v.text is not None else -1
        except ValueError:
            return None
        return sst[i] if 0 <= i < len(sst) else None
    if cell.get("t") == "inlineStr":
        is_el = cell.find(f"{_NS}is")
        if is_el is not None:
            return "".join(t.text or "" for t in is_el.iter(f"{_NS}t"))
        return None
    return v.text if v is not None else None


def _parse_first_sheet(
    path: str, with_rows: bool
) -> tuple[list[str], list[dict[str, str]]]:
    """One parse of the first worksheet: headers, then (``with_rows``)
    the data rows. Any error returns what was parsed so far, so an
    unreadable workbook is ``([], [])`` (ExcelReader's catch-all)."""
    headers: list[str] = []
    rows: list[dict[str, str]] = []
    try:
        with zipfile.ZipFile(path) as zf:
            sheet_xml = _first_sheet_xml(zf)
            if sheet_xml is None:
                return headers, rows
            sst = _shared_strings(zf)
            row_iter = ET.fromstring(sheet_xml).iter(f"{_NS}row")
            first = next(row_iter, None)
            if first is None:
                return headers, rows
            # header cells append in element order (refs ignored)
            headers = [
                (_cell_text(c, sst) or "").strip()
                for c in first.findall(f"{_NS}c")
            ]
            while headers and headers[-1] == "":
                headers.pop()
            if not (with_rows and headers):
                return headers, rows
            for row in row_iter:
                d: dict[str, str] = {}
                col_index = 0
                for cell in row.findall(f"{_NS}c"):
                    ref_idx = _col_index_from_ref(cell.get("r"))
                    if ref_idx is not None:
                        col_index = ref_idx
                    text = _cell_text(cell, sst)
                    if 0 <= col_index < len(headers):
                        d[headers[col_index]] = text or ""
                    col_index += 1
                for h in headers:
                    d.setdefault(h, "")
                rows.append(d)
    except Exception:
        pass
    return headers, rows


def read_headers(path: str) -> list[str]:
    """First row of the first sheet as trimmed headers, trailing blanks
    trimmed (ExcelReader.cs:17-85). Header cells append in element
    order — sparse first rows compact left, as in the reference."""
    return _parse_first_sheet(path, with_rows=False)[0]


def read_first_sheet(
    path: str,
) -> tuple[list[str], list[dict[str, str]]]:
    """Headers + row dicts of the first worksheet (ExcelReader.cs:88-176),
    from one parse of the workbook. Data rows honor cell references
    (sparse-row safe); missing header cells back-fill ''."""
    return _parse_first_sheet(path, with_rows=True)


def read_xlsx(spark: SparkSession, path: str) -> DataFrame:
    """First worksheet as an all-string DataFrame (the reference's row
    dictionaries, ExcelReader.cs:88). Driver-side parse by design —
    workbooks are config/report scale, never the 100 TB data path."""
    headers, rows = read_first_sheet(path)
    if not headers:
        # unreadable/empty workbook → zero-column, zero-row frame (the
        # reference's (empty headers, empty rows) analog)
        return local_rows(spark, [], "_empty string").drop("_empty")
    # sanitize duplicate headers positionally like a dict would (last wins
    # in the reference's dict too); keep original order
    schema = ", ".join(f"`{re.sub('`', '', h)}` string" for h in dict.fromkeys(headers))
    data = [tuple(r[h] for h in dict.fromkeys(headers)) for r in rows]
    return local_rows(spark, data, schema)
