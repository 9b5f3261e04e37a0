"""XLSX (SpreadsheetML) table extraction — the fourth ZIP-of-XML
office format, from the public ECMA-376 SpreadsheetML structure: the
tabular format open-data portals and enterprise exports ship
alongside CSV, and one Spark has no route into.

Same composition as the docx/odt walks (``sources/ziparchive.py`` +
namespace-aware expat), with the format's own semantics:

- cell VALUES live behind indirection: ``t="s"`` cells index the
  SHARED-STRINGS table (``xl/sharedStrings.xml`` — including
  rich-text ``<si><r><t>`` runs that concatenate), ``t="inlineStr"``
  cells carry ``<is><t>`` inline, ``t="b"`` booleans, ``t="str"``
  formula-result strings, and the default type is NUMBER;
- cell POSITIONS come from A1-style ``r`` attributes — absent cells
  simply do not appear, so the reader must place values by parsed
  column index, not element order, or a sparse row shifts every
  later column (the classic naive-xlsx-reader bug);
- DATES are not a type: they are serial NUMBERS (days since the
  1900 epoch, fractional days for time) plus a display format. The
  reader converts serial -> timestamp for DDL timestamp columns at
  SECOND precision — Excel's float serial cannot hold microseconds
  at modern dates, so second precision is the honest contract
  (documented, tested);
- drop policy: a zip without a parseable sheet drops the ROW; a
  malformed sheet row drops ROW-GRANULARLY (other spreadsheet rows
  survive); torn XML keeps completed rows (the wikidump rule).

The reader is reader-schema-driven like avro/arrowipc: the caller's
DDL names the columns IN SHEET ORDER (A, B, C ...) and the per-column
adapters coerce — numbers to int/double, serials to timestamps,
anything uncoercible to null, never a task-killing mis-typed cell.

Reference parity note: extension surface (the reference reads plain
text/CSV only, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import re
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

from distributed_computing_projects_spark.operators.spread import flat_map_rows

from distributed_computing_projects_spark.sources.ziparchive import (
    build_zip,
    iter_zip_members,
)

_NS_MAIN = (
    "http://schemas.openxmlformats.org/spreadsheetml/2006/main",
    "http://purl.oclc.org/ooxml/spreadsheetml/main",  # ISO strict
)

# Excel serial date epoch: serial 25569.0 == 1970-01-01 (1900 system)
_UNIX_EPOCH_SERIAL = 25569.0

MAX_CELLS = 1 << 24  # spreadsheet-level bound: cells, not bytes


def col_index(ref: str) -> int | None:
    """0-based column index from an A1 reference ('BC23' -> 54)."""
    n = 0
    seen = False
    for ch in ref:
        if "A" <= ch <= "Z":
            n = n * 26 + (ord(ch) - 64)
            seen = True
        elif "a" <= ch <= "z":
            n = n * 26 + (ord(ch) - 96)
            seen = True
        else:
            break
    return n - 1 if seen else None


def _parse_shared_strings(xml_bytes: bytes) -> list[str] | None:
    """The shared-strings table: one string per ``<si>``, rich-text
    runs concatenated."""
    from xml.parsers import expat

    strings: list[str] = []
    cur: list[str] | None = None
    in_t = 0

    def split(name):
        ns, _, local = name.rpartition(" ")
        return ns, local

    def start(name, attrs):
        nonlocal cur, in_t
        ns, local = split(name)
        if ns not in _NS_MAIN:
            return
        if local == "si":
            cur = []
        elif local == "t":
            in_t += 1

    def end(name):
        nonlocal cur, in_t
        ns, local = split(name)
        if ns not in _NS_MAIN:
            return
        if local == "t" and in_t:
            in_t -= 1
        elif local == "si" and cur is not None:
            strings.append("".join(cur))
            cur = None

    def chars(data):
        if in_t and cur is not None:
            cur.append(data)

    p = expat.ParserCreate(namespace_separator=" ")
    p.StartElementHandler = start
    p.EndElementHandler = end
    p.CharacterDataHandler = chars
    p.buffer_text = True
    try:
        p.Parse(xml_bytes, True)
    except expat.ExpatError:
        pass  # torn tail: completed strings survive (cells indexing
        # past the tear null out row-granularly downstream)
    return strings


def _parse_sheet(xml_bytes: bytes, shared: list[str]):
    """Rows from one worksheet: list of dict {col_index: value},
    values typed str/float/bool/None. Rows completed before a torn
    tail survive."""
    from xml.parsers import expat

    rows: list[dict] = []
    row: dict | None = None
    cell_col: list[int | None] = [None]
    cell_type: list[str] = [""]
    next_col = [0]  # spec: a cell without r follows the previous cell
    in_v = [0]
    in_is_t = [0]
    buf: list[str] = []
    n_cells = 0
    bomb = []

    def split(name):
        ns, _, local = name.rpartition(" ")
        return ns, local

    def start(name, attrs):
        nonlocal row, n_cells
        ns, local = split(name)
        if ns not in _NS_MAIN:
            return
        if local == "row":
            row = {}
            next_col[0] = 0
        elif local == "c" and row is not None:
            ref = None
            t = ""
            for k, v in attrs.items():
                lk = k.rpartition(" ")[2]
                if lk == "r":
                    ref = v
                elif lk == "t":
                    t = v
            col = col_index(ref) if ref is not None else None
            if col is None:
                # positional cell: one past the previous cell — NOT
                # len(row), which undercounts after sparse/empty cells
                col = next_col[0]
            cell_col[0] = col
            next_col[0] = col + 1
            cell_type[0] = t
            n_cells += 1
            if n_cells > MAX_CELLS:
                bomb.append(True)
                raise expat.ExpatError("cell bomb")
        elif local == "v":
            in_v[0] += 1
            buf.clear()
        elif local == "t" and cell_type[0] == "inlineStr":
            in_is_t[0] += 1
            buf.clear()

    def _store(text: str):
        if row is None or cell_col[0] is None or cell_col[0] < 0:
            return
        t = cell_type[0]
        if t == "s":
            try:
                idx = int(text)
                if idx < 0:
                    raise IndexError  # Python wraps negatives; spec says dangling
                row[cell_col[0]] = shared[idx]
            except (ValueError, IndexError):
                pass  # dangling shared index: cell nulls
        elif t == "inlineStr":
            # <is> may carry multiple rich-text runs (<r><t>..</t></r>...);
            # each </t> lands here, so concatenate like _parse_shared_strings
            prev = row.get(cell_col[0])
            row[cell_col[0]] = (prev + text) if isinstance(prev, str) else text
        elif t == "str":
            row[cell_col[0]] = text
        elif t == "b":
            row[cell_col[0]] = text.strip() == "1"
        else:  # number (the default type)
            try:
                row[cell_col[0]] = float(text)
            except ValueError:
                pass  # malformed numeric: cell nulls

    def end(name):
        nonlocal row
        ns, local = split(name)
        if ns not in _NS_MAIN:
            return
        if local == "v" and in_v[0]:
            in_v[0] -= 1
            _store("".join(buf))
            buf.clear()
        elif local == "t" and in_is_t[0]:
            in_is_t[0] -= 1
            _store("".join(buf))
            buf.clear()
        elif local == "row" and row is not None:
            rows.append(row)
            row = None

    def chars(data):
        if in_v[0] or in_is_t[0]:
            buf.append(data)

    p = expat.ParserCreate(namespace_separator=" ")
    p.StartElementHandler = start
    p.EndElementHandler = end
    p.CharacterDataHandler = chars
    p.buffer_text = True
    try:
        p.Parse(xml_bytes, True)
    except expat.ExpatError:
        if bomb:
            return None  # cell bomb: the whole payload is untrustable
        # torn tail: completed rows survive
    return rows


def iter_sheet_rows(data: bytes, skip_header: bool = True):
    """{col_index: value} dicts from the FIRST worksheet of one
    ``.xlsx`` byte string (sheet1 — the scan contract; multi-sheet
    selection is a reader option a caller can build on
    ``_parse_sheet``), or ``None`` when nothing parses."""
    shared: list[str] = []
    sheet = None
    for name, body in iter_zip_members(data):
        if name == "xl/sharedStrings.xml":
            shared = _parse_shared_strings(body) or []
        elif name == "xl/worksheets/sheet1.xml":
            sheet = body
    if sheet is None:
        return None
    rows = _parse_sheet(sheet, shared)
    if rows is None:
        return None
    if skip_header and rows:
        rows = rows[1:]
    return rows


def read_xlsx(spark, path: str, ddl: str,
              skip_header: bool = True) -> DataFrame:
    """DataFrame over ``.xlsx`` files: binaryFile scan, the sheet
    walk in Arrow workers, DDL columns mapped to sheet columns IN
    ORDER (A, B, C ...) with coercing adapters (module docstring).
    The first spreadsheet row is a header by default."""
    return rows_from_binary(
        spark.read.format("binaryFile").load(path), ddl,
        skip_header=skip_header)


def rows_from_binary(bin_df: DataFrame, ddl: str,
                     skip_header: bool = True) -> DataFrame:
    """The decode stage of :func:`read_xlsx` over any binaryFile-
    shaped DataFrame — shared with the streaming landing-zone
    pattern like avro/arrowipc."""
    from pyspark.sql.types import StructType

    kinds = [f.dataType.simpleString()
             for f in StructType.fromDDL(ddl).fields]

    def decode(content):
        rows = iter_sheet_rows(content, skip_header=skip_header)
        # None: not a spreadsheet, file-granular drop
        for row in rows or ():
            yield tuple(_cell(k, row.get(i)) for i, k in enumerate(kinds))

    return flat_map_rows(bin_df.select("content"), decode, ddl)


def _cell(kind: str, v):
    """One sheet cell coerced to its DDL column type, or null."""
    if kind == "boolean":
        return v if isinstance(v, bool) else None
    if kind == "string":
        return v if isinstance(v, str) or v is None else str(v)
    try:
        f = float(v)  # numbers, booleans, numeric text
        if kind in ("bigint", "int"):
            return round(f)
        if kind in ("timestamp", "timestamp_ntz"):
            # Excel serial days -> epoch microseconds; SECOND
            # precision is the format's honest contract (float
            # serial). The DDL's Arrow type makes the INSTANT
            # tz-aware UTC (the avro lesson); ntz stays naive.
            return round((f - _UNIX_EPOCH_SERIAL) * 86400.0) * 1_000_000
        return f if f == f else None
    except (TypeError, ValueError, OverflowError):
        return None


# -------------------------------------------------------- builder


_CONTENT_TYPES = (
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
    'worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
    'sharedStrings+xml"/>'
    "</Types>"
)

_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="xl/workbook.xml"/>'
    "</Relationships>"
)

_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/worksheet" '
    'Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/sharedStrings" '
    'Target="sharedStrings.xml"/>'
    "</Relationships>"
)

_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<workbook xmlns="{_NS_MAIN[0]}" xmlns:r="http://schemas.'
    'openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>'
    "</workbook>"
)


def _col_ref(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(65 + r) + out
    return out


def ts_to_serial(epoch_seconds: float) -> float:
    """Unix seconds -> Excel serial days (1900 system)."""
    return epoch_seconds / 86400.0 + _UNIX_EPOCH_SERIAL


def build_xlsx(header: list[str], rows: list[list],
               shared_threshold: int = 2) -> bytes:
    """One deterministic ``.xlsx`` from a header and typed rows —
    the fixture twin of :func:`iter_sheet_rows`. str cells alternate
    between SHARED (t="s", deduped via the shared table, rich-text
    split for every third string) and INLINE (t="inlineStr");
    numbers are plain ``<v>``; bools ``t="b"``; None cells are
    OMITTED entirely (sparse rows — the A1-placement discipline on
    the read side). ``shared_threshold``: strings shorter than this
    always inline (mixes both paths deterministically)."""
    shared: list[str] = []
    shared_idx: dict[str, int] = {}

    def cell_xml(r: int, c: int, v) -> str:
        ref = f"{_col_ref(c)}{r + 1}"
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        if isinstance(v, str):
            if len(v) >= shared_threshold and (r + c) % 2 == 0:
                if v not in shared_idx:
                    shared_idx[v] = len(shared)
                    shared.append(v)
                return (f'<c r="{ref}" t="s">'
                        f"<v>{shared_idx[v]}</v></c>")
            return (f'<c r="{ref}" t="inlineStr"><is>'
                    f'<t xml:space="preserve">{escape(v)}</t></is></c>')
        return f'<c r="{ref}"><v>{v!r}</v></c>'

    body = []
    for r, vals in enumerate([header] + [list(x) for x in rows]):
        cells = "".join(cell_xml(r, c, v) for c, v in enumerate(vals))
        body.append(f'<row r="{r + 1}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_NS_MAIN[0]}"><sheetData>'
        + "".join(body) + "</sheetData></worksheet>"
    )
    sis = []
    for s in shared:
        if len(s) > 6 and len(sis) % 3 == 2:
            # rich-text split: two runs the reader must concatenate
            sis.append(f'<si><r><t xml:space="preserve">{escape(s[:4])}'
                       f'</t></r><r><t xml:space="preserve">'
                       f"{escape(s[4:])}</t></r></si>")
        else:
            sis.append(f'<si><t xml:space="preserve">{escape(s)}'
                       "</t></si>")
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_NS_MAIN[0]}" count="{len(shared)}" '
        f'uniqueCount="{len(shared)}">' + "".join(sis) + "</sst>"
    )
    return build_zip([
        ("[Content_Types].xml", _CONTENT_TYPES.encode()),
        ("_rels/.rels", _RELS.encode()),
        ("xl/workbook.xml", _WORKBOOK.encode()),
        ("xl/_rels/workbook.xml.rels", _WB_RELS.encode()),
        ("xl/sharedStrings.xml", sst.encode()),
        ("xl/worksheets/sheet1.xml", sheet.encode()),
    ])
