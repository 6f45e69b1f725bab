"""Result serialization: the reference's JSON envelope + Excel.

JSON shape mirrors maha `service/.../output/JsonOutputFormat.scala:80-335`:

    {"header": {"cube": ..., "fields": [{"fieldName":..., "fieldType":...}],
                "maxRows": n, "debug": {}},
     "rows": [[...], ...],
     "curators": {name: {...}}}

Rows stream via ``toLocalIterator`` so the driver never materializes the
whole result (the reference spills RowLists to RocksDB for the same
reason, query/OffHeapRowList.scala:40-83).
"""

from __future__ import annotations

import datetime as _dt
import io
from decimal import Decimal
from typing import Any, Iterable, Optional

from pyspark.sql import DataFrame


def _json_value(v: Any) -> Any:
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
    if isinstance(v, bytearray):
        return bytes(v).hex()
    if isinstance(v, bytes):
        return v.hex()
    return v


def field_types(df: DataFrame, metric_aliases: set[str]) -> list[dict[str, str]]:
    return [{"fieldName": f.name,
             "fieldType": "FACT" if f.name in metric_aliases else "DIM"}
            for f in df.schema.fields]


def to_json_response(df: DataFrame, cube: str,
                     metric_aliases: Optional[set[str]] = None,
                     max_rows: int = -1,
                     curators: Optional[dict[str, Any]] = None,
                     debug: Optional[dict[str, Any]] = None,
                     stream: bool = False) -> dict[str, Any]:
    metric_aliases = metric_aliases or set()
    rows_iter: Iterable = df.toLocalIterator() if stream else df.collect()
    rows = [[_json_value(v) for v in row] for row in rows_iter]
    out: dict[str, Any] = {
        "header": {
            "cube": cube,
            "fields": field_types(df, metric_aliases),
            "maxRows": max_rows,
        },
        "rows": rows,
    }
    if debug:
        out["header"]["debug"] = debug
    if curators:
        out["curators"] = curators
    return out


# ------------------------------------------------------------------ excel
# ReportFormatType includes Excel (core/.../request/Request.scala:121-127,
# report writers under core/.../report/). No Excel library ships in this
# environment, so the workbook is written directly in the OOXML container
# format with the stdlib: an .xlsx IS a zip of XML parts. Strings are
# inline (t="inlineStr"), which every reader accepts and avoids the
# sharedStrings table; numbers are native cells. Rows stream from
# ``toLocalIterator`` — but Excel is a driver-materialized single file by
# nature (the sheet XML must be complete before zipping), so this sink is
# for row-capped report output, not bulk extracts (the reference's Excel
# writer has the same shape).

def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def _col_letter(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(65 + r) + out
    return out


def _xlsx_cell(ref: str, v: Any) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
    if isinstance(v, (int, float, Decimal)):
        if isinstance(v, float) and (v != v or v in (float("inf"),
                                                     float("-inf"))):
            return (f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>')
        return f'<c r="{ref}"><v>{v}</v></c>'
    s = _xml_escape(str(_json_value(v)))
    return (f'<c r="{ref}" t="inlineStr"><is>'
            f'<t xml:space="preserve">{s}</t></is></c>')


def to_excel_bytes(df: DataFrame, sheet_name: str = "Report") -> bytes:
    """Serialize header + rows as a single-sheet .xlsx workbook."""
    import zipfile

    rows_xml = io.StringIO()
    hdr = "".join(_xlsx_cell(f"{_col_letter(c)}1", name)
                  for c, name in enumerate(df.columns))
    rows_xml.write(f'<row r="1">{hdr}</row>')
    r = 1
    for row in df.toLocalIterator():
        r += 1
        cells = "".join(_xlsx_cell(f"{_col_letter(c)}{r}", v)
                        for c, v in enumerate(row))
        rows_xml.write(f'<row r="{r}">{cells}</row>')

    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>'
             f"{rows_xml.getvalue()}</sheetData></worksheet>")
    workbook = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<workbook xmlns="http://schemas.openxmlformats.org/'
                'spreadsheetml/2006/main" xmlns:r="http://schemas.'
                'openxmlformats.org/officeDocument/2006/relationships">'
                f'<sheets><sheet name="{_xml_escape(sheet_name)}" '
                'sheetId="1" r:id="rId1"/></sheets></workbook>')
    wb_rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
               '<Relationships xmlns="http://schemas.openxmlformats.org/'
               'package/2006/relationships">'
               '<Relationship Id="rId1" Type="http://schemas.'
               'openxmlformats.org/officeDocument/2006/relationships/'
               'worksheet" Target="worksheets/sheet1.xml"/>'
               '</Relationships>')
    root_rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                 '<Relationships xmlns="http://schemas.openxmlformats.org/'
                 'package/2006/relationships">'
                 '<Relationship Id="rId1" Type="http://schemas.'
                 'openxmlformats.org/officeDocument/2006/relationships/'
                 'officeDocument" Target="xl/workbook.xml"/>'
                 '</Relationships>')
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'worksheet+xml"/></Types>')

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()
