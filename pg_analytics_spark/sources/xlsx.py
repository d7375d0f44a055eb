"""Minimal XLSX reader — dependency-free (zipfile + ElementTree).

The reference reads spreadsheets through GDAL's XLSX driver behind
``st_read`` (/root/reference/src/duckdb/spatial.rs:57-82; the xlsx case
appears in its own docs/tests).  No GDAL/openpyxl exists in this
environment, so this implements the public OOXML SpreadsheetML subset
that data files actually use: sheet1..N XML, shared strings, inline
strings, numeric/boolean/date cells (1900 epoch), blank-cell gaps via
the ``r`` cell references.

Scope: VALUES only (formulas surface their cached value), one sheet per
load (``sheet`` option: name or 1-based index), ``header`` option like
CSV, ``all_varchar`` to suppress numeric typing.  The parse is
driver-side (a spreadsheet is a small, single-file artifact by nature —
the reference's GDAL path is equally single-node); rows land in a
regular DataFrame so everything downstream distributes as usual.
"""

from __future__ import annotations

import datetime as dt
import re
import zipfile
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources.base import _truthy, apply_common
from pg_analytics_spark.types import local_relation

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)


def _col_index(cell_ref: str) -> int:
    """'C7' → 2 (0-based column)."""
    n = 0
    for ch in cell_ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return n - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    out = []
    for si in ET.fromstring(data).iter(f"{_NS}si"):
        # plain <t> or rich-text runs <r><t>
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _sheet_path(zf: zipfile.ZipFile, sheet) -> str:
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = {}
    try:
        rel_xml = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        pkg = "{http://schemas.openxmlformats.org/package/2006/relationships}"
        for r in rel_xml.iter(f"{pkg}Relationship"):
            target = r.get("Target")
            if not target.startswith("/"):
                target = "xl/" + target
            rels[r.get("Id")] = target.lstrip("/")
    except KeyError:
        pass
    sheets = []
    for s in wb.iter(f"{_NS}sheet"):
        rid = s.get(_REL_NS)
        sheets.append((s.get("name"), rels.get(rid)))
    if not sheets:
        raise UnsupportedFormat("xlsx workbook has no sheets")
    if sheet is None:
        return sheets[0][1] or "xl/worksheets/sheet1.xml"
    if isinstance(sheet, int) or (isinstance(sheet, str) and sheet.isdigit()):
        idx = int(sheet) - 1
        if not 0 <= idx < len(sheets):
            raise UnsupportedFormat(
                f"xlsx sheet index {sheet} out of range 1..{len(sheets)}"
            )
        return sheets[idx][1] or f"xl/worksheets/sheet{idx + 1}.xml"
    for name, path in sheets:
        if name == sheet:
            return path or "xl/worksheets/sheet1.xml"
    raise UnsupportedFormat(
        f"xlsx sheet {sheet!r} not found; have {[n for n, _ in sheets]}"
    )


def _date_styles(zf: zipfile.ZipFile) -> set[int]:
    """Style indexes whose number format renders dates (builtin ids
    14-22 and 45-47, or custom formats containing y/m/d tokens)."""
    try:
        styles = ET.fromstring(zf.read("xl/styles.xml"))
    except KeyError:
        return set()
    custom_date = set()
    for fmt in styles.iter(f"{_NS}numFmt"):
        code = (fmt.get("formatCode") or "").lower()
        if re.search(r"[ymd]", re.sub(r"\[[^]]*\]|\"[^\"]*\"", "", code)):
            custom_date.add(int(fmt.get("numFmtId")))
    out = set()
    xfs = styles.find(f"{_NS}cellXfs")
    if xfs is None:
        return out
    for i, xf in enumerate(xfs.findall(f"{_NS}xf")):
        fmt_id = int(xf.get("numFmtId") or 0)
        if 14 <= fmt_id <= 22 or 45 <= fmt_id <= 47 or fmt_id in custom_date:
            out.add(i)
    return out


def _excel_serial_to_date(serial: float) -> dt.date:
    # 1900 date system incl. the fictitious 1900-02-29 (serial 60)
    base = dt.date(1899, 12, 30)
    return base + dt.timedelta(days=int(serial))


def _parse_rows(zf, sheet_xml, shared, date_styles, all_varchar):
    rows: list[list] = []
    for row_el in ET.fromstring(zf.read(sheet_xml)).iter(f"{_NS}row"):
        row: list = []
        for c in row_el.findall(f"{_NS}c"):
            idx = _col_index(c.get("r", ""))
            if idx < 0:
                idx = len(row)
            while len(row) < idx:
                row.append(None)
            ctype = c.get("t", "n")
            v_el = c.find(f"{_NS}v")
            if ctype == "inlineStr":
                is_el = c.find(f"{_NS}is")
                val = (
                    "".join(t.text or "" for t in is_el.iter(f"{_NS}t"))
                    if is_el is not None
                    else None
                )
            elif v_el is None or v_el.text is None:
                val = None
            elif ctype == "s":
                val = shared[int(v_el.text)]
            elif ctype == "b":
                val = v_el.text == "1"
            elif ctype == "str":
                val = v_el.text
            else:  # numeric
                raw = float(v_el.text)
                style = int(c.get("s") or -1)
                if style in date_styles:
                    val = _excel_serial_to_date(raw)
                elif raw == int(raw) and abs(raw) < 2**53:
                    val = int(raw)
                else:
                    val = raw
            if all_varchar and val is not None and not isinstance(val, str):
                val = (
                    val.isoformat()
                    if isinstance(val, dt.date)
                    else str(val).lower()
                    if isinstance(val, bool)
                    else str(val)
                )
            row.append(val)
        rows.append(row)
    return rows


#: parsed cell value type → Spark column type (PySpark's inference
#: rule for the same Python values)
_CELL_TYPES = {
    bool: T.BooleanType(),
    int: T.LongType(),
    float: T.DoubleType(),
    str: T.StringType(),
    dt.date: T.DateType(),
}


def load(spark: SparkSession, files: list[str], opts: dict) -> DataFrame:
    if len(files) != 1:
        raise UnsupportedFormat("xlsx source takes exactly one file")
    opts = dict(opts or {})
    header = _truthy(opts.get("header", True))
    all_varchar = _truthy(opts.get("all_varchar"))
    with zipfile.ZipFile(files[0]) as zf:
        shared = _shared_strings(zf)
        sheet_xml = _sheet_path(zf, opts.get("sheet"))
        rows = _parse_rows(
            zf, sheet_xml, shared, _date_styles(zf), all_varchar
        )
    if not rows:
        raise UnsupportedFormat(f"xlsx sheet is empty: {files[0]}")
    width = max(len(r) for r in rows)
    rows = [r + [None] * (width - len(r)) for r in rows]
    if header:
        names = [
            str(v) if v is not None else f"col{i}"
            for i, v in enumerate(rows[0])
        ]
        rows = rows[1:]
    else:
        names = [f"col{i}" for i in range(width)]
    # unify column types: mixed int/float → float; anything mixed with
    # string → string (spreadsheets are schemaless by nature); an
    # all-empty column reads as string
    types = []
    for i in range(width):
        kinds = {type(r[i]) for r in rows if r[i] is not None}
        types.append(
            _CELL_TYPES[next(iter(kinds))] if len(kinds) == 1
            else T.DoubleType() if kinds == {int, float}
            else T.StringType()
        )
        if kinds == {int, float}:
            for r in rows:
                if r[i] is not None:
                    r[i] = float(r[i])
        elif len(kinds) > 1:
            for r in rows:
                if r[i] is not None:
                    v = r[i]
                    r[i] = (
                        v.isoformat()
                        if isinstance(v, dt.date)
                        else str(v).lower()
                        if isinstance(v, bool)
                        else str(v)
                    )
    df = local_relation(
        spark,
        [tuple(r) for r in rows] or [tuple([None] * width)],
        T.StructType([T.StructField(n, t) for n, t in zip(names, types)]),
    )
    return apply_common(df, opts)
