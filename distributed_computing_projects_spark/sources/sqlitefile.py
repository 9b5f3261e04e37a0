"""SQLite database file ingest — pure stdlib, from the public file
format specification (sqlite.org/fileformat2.html) — the ``.sqlite`` /
``.db`` files that application exports, research datasets, and data
dumps ship (browser histories, messaging exports, ML eval harnesses,
open-data releases all use SQLite as their container).

Why from scratch: Spark cannot read SQLite at all, and a JDBC hop
requires a server-shaped deployment a pile of dump FILES does not
have. The file format itself is a stable, fully documented b-tree
(the format doc is normative and frozen for the 3.x line), and the
engine already walks every other size/frame-structured container —
this is the page-structured one. The differential story is uniquely
strong here: the FIXTURE WRITER is the format's reference
implementation (the stdlib ``sqlite3`` module writes the test
databases), so every hash-path byte was produced by SQLite itself,
not by a builder twin that could share a misreading with the reader.

Decode policy (the avro/bson adapter discipline):

- **Page walk**: header → page size / reserved bytes / text encoding;
  ``sqlite_master`` root rides page 1 (cell content offset by the
  100-byte header); table b-trees walk interior (type 5) / leaf
  (type 13) pages via the cell pointer array with a visited-set cycle
  guard and payload/overflow bounds. A page of any other type under a
  table walk (e.g. a WITHOUT ROWID table's index b-tree) drops the
  TABLE — documented unsupported, never misread.
- **Cell payloads** reassemble through the spec's local-payload
  formula (``X = U-35``, ``M = (U-12)*32/255 - 23``,
  ``K = M + (P-M) % (U-4)``) and the 4-byte overflow chain.
- **Records** decode by serial type (NULL / 1–6 big-endian
  two's-complement ints / float64 / const 0,1 / blob / text in the
  header-declared encoding, UTF-8/16LE/16BE all supported). Rows
  written before an ``ALTER TABLE ADD COLUMN`` carry fewer values
  than the schema — missing tail columns null (constant DEFAULTs are
  not evaluated; documented).
- **INTEGER PRIMARY KEY rowid alias**: a column declared ``INTEGER
  PRIMARY KEY`` (column-level, or single-column table-level PRIMARY
  KEY over an INTEGER column; ``DESC`` disqualifies, per spec) stores
  NULL in the record and takes its value from the cell's rowid key.
  Detected from the stored ``CREATE TABLE`` text with a
  paren/quote-aware column splitter.
- **Reader DDL resolves by NAME** against the CREATE TABLE column
  list with per-cell nulling adapters: ``bigint`` takes integer
  storage, ``double`` takes float and widens integers, ``string``
  takes text, ``binary`` takes blobs, ``boolean`` takes integer 0/1.
  SQLite has no timestamp storage class (the convention is TEXT or
  epoch INTEGER), so time columns read as ``string``/``bigint`` by
  choice — documented, no silent guess.
- **Drops**: a malformed record or cell drops the ROW (the cell
  pointer array still locates every other cell — pointer-derived
  granularity, the b-tree's analogue of the size-framed walk); an
  unreadable page subtree, absent table, or non-table root drops the
  TABLE; a bad header magic/page geometry drops the FILE. Free
  space, freeblocks, and fragment bytes are never read.

Scale: per-FILE parallelism (binaryFile scan) — a SQLite file is a
single b-tree forest with internal page pointers, not splittable.
Dumps arrive as many per-shard/per-app files, which is the
parallelism; for one huge database the documented discipline is the
avro one (``sources/avro.py:41-46``): ingest once, convert to
parquet. A live database mid-write (hot journal / non-empty WAL
sidecar) is out of scope: the reader targets cold dump files and
reads only the main file bytes it is handed.

Reference: extension surface (the reference's only record format is
the plain text line, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import decode_records

MAX_PAYLOAD_BYTES = 1 << 28   # single-record bomb bound
_MAX_OVERFLOW_PAGES = 1 << 20  # overflow chain bound (4 GiB at 4 KiB)

_MAGIC = b"SQLite format 3\x00"
_ENCODINGS = {1: "utf-8", 2: "utf-16-le", 3: "utf-16-be"}


# ------------------------------------------------------- primitives


def _varint(buf: bytes, pos: int):
    """SQLite varint: 1-9 bytes, high-bit continuation, ninth byte
    contributes all 8 bits. Returns (unsigned value, new pos)."""
    v = 0
    for i in range(8):
        b = buf[pos + i]
        v = (v << 7) | (b & 0x7F)
        if not b & 0x80:
            return v, pos + i + 1
    return (v << 8) | buf[pos + 8], pos + 9


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


class _Db:
    """Parsed header + page accessor over one database byte string."""

    def __init__(self, data: bytes):
        if len(data) < 512 or data[:16] != _MAGIC:
            raise ValueError("not a SQLite database")
        (page_size,) = struct.unpack_from(">H", data, 16)
        if page_size == 1:
            page_size = 65536
        if page_size & (page_size - 1) or not 512 <= page_size <= 65536:
            raise ValueError("bad page size")
        self.page_size = page_size
        self.usable = page_size - data[20]
        if self.usable < 480:
            raise ValueError("bad reserved-bytes count")
        (enc,) = struct.unpack_from(">I", data, 56)
        # enc == 0 only in a zero-table freshly-created file
        self.encoding = _ENCODINGS.get(enc or 1)
        if self.encoding is None:
            raise ValueError("bad text encoding")
        self.data = data
        # trust the actual byte count over the header's page count
        # (the header copy can be stale under legacy journal modes)
        self.n_pages = len(data) // page_size

    def page(self, n: int) -> bytes:
        if not 1 <= n <= self.n_pages:
            raise ValueError("page out of range")
        off = (n - 1) * self.page_size
        return self.data[off:off + self.page_size]


# ---------------------------------------------------- b-tree walk


def _iter_table_cells(db: _Db, rootpage: int):
    """(rowid, payload bytes) for every row of a table b-tree,
    reassembling overflow; drop policy per the module docstring.
    Raises ValueError on a non-table page type (WITHOUT ROWID /
    corrupted root) so the caller can drop the whole table."""
    stack = [rootpage]
    seen: set[int] = set()
    while stack:
        pno = stack.pop()
        if pno in seen:
            raise ValueError("page cycle")
        seen.add(pno)
        page = db.page(pno)
        hdr = 100 if pno == 1 else 0  # page 1 hosts the file header
        ptype = page[hdr]
        (ncells,) = struct.unpack_from(">H", page, hdr + 3)
        if ptype == 5:  # interior table page
            (right,) = struct.unpack_from(">I", page, hdr + 8)
            base = hdr + 12
            children = []
            for i in range(ncells):
                (coff,) = struct.unpack_from(">H", page, base + 2 * i)
                (child,) = struct.unpack_from(">I", page, coff)
                children.append(child)
            children.append(right)
            stack.extend(reversed(children))  # in-order: rowid asc
            continue
        if ptype != 13:  # not a table leaf: index b-tree or garbage
            raise ValueError(f"non-table page type {ptype}")
        base = hdr + 8
        for i in range(ncells):
            (coff,) = struct.unpack_from(">H", page, base + 2 * i)
            try:
                yield _leaf_cell(db, page, coff)
            except (ValueError, IndexError, struct.error):
                continue  # malformed cell: ROW drop, array continues


def _leaf_cell(db: _Db, page: bytes, coff: int):
    payload_len, pos = _varint(page, coff)
    rowid, pos = _varint(page, pos)
    if payload_len > MAX_PAYLOAD_BYTES:
        raise ValueError("payload over bomb bound")
    u = db.usable
    x = u - 35
    if payload_len <= x:
        payload = page[pos:pos + payload_len]
        if len(payload) != payload_len:
            raise ValueError("payload past page end")
        return _signed64(rowid), payload
    m = ((u - 12) * 32) // 255 - 23
    k = m + (payload_len - m) % (u - 4)
    local = k if k <= x else m
    parts = [page[pos:pos + local]]
    if len(parts[0]) != local:
        raise ValueError("local payload past page end")
    (nxt,) = struct.unpack_from(">I", page, pos + local)
    remaining = payload_len - local
    hops: set[int] = set()
    while remaining > 0:
        if nxt == 0 or nxt in hops or len(hops) > _MAX_OVERFLOW_PAGES:
            raise ValueError("broken overflow chain")
        hops.add(nxt)
        opage = db.page(nxt)
        (nxt,) = struct.unpack_from(">I", opage, 0)
        chunk = opage[4:4 + min(remaining, u - 4)]
        parts.append(chunk)
        remaining -= len(chunk)
    return _signed64(rowid), b"".join(parts)


def _parse_record(payload: bytes, encoding: str):
    """Record format: header-size varint, serial-type varints, body.
    Returns the value list; raises on malformed structure."""
    hdr_len, pos = _varint(payload, 0)
    if hdr_len > len(payload):
        raise ValueError("record header past payload")
    serials = []
    while pos < hdr_len:
        st, pos = _varint(payload, pos)
        serials.append(st)
    if pos != hdr_len:
        raise ValueError("record header overrun")
    out = []
    for st in serials:
        if st == 0:
            out.append(None)
        elif 1 <= st <= 6:
            n = (0, 1, 2, 3, 4, 6, 8)[st]
            raw = payload[pos:pos + n]
            if len(raw) != n:
                # a short slice would silently decode a SMALLER value
                # (int.from_bytes accepts any length) — the torn-head
                # hazard; a truncated integer must drop the row
                raise ValueError("integer body past payload")
            out.append(int.from_bytes(raw, "big", signed=True))
            pos += n
        elif st == 7:
            (v,) = struct.unpack_from(">d", payload, pos)
            out.append(v)
            pos += 8
        elif st == 8:
            out.append(0)
        elif st == 9:
            out.append(1)
        elif st >= 12:
            n = (st - 12) // 2
            raw = payload[pos:pos + n]
            if len(raw) != n:
                raise ValueError("body past payload")
            out.append(raw.decode(encoding, "replace")
                       if st & 1 else raw)
            pos += n
        else:
            raise ValueError(f"reserved serial type {st}")
    return out


# ------------------------------------------------- schema handling


def _split_top_level(s: str) -> list[str]:
    """Split on commas outside parens and outside all four SQLite
    quoting forms ('', \"\", [], ``)."""
    parts, depth, i, start = [], 0, 0, 0
    closers = {"'": "'", '"': '"', "[": "]", "`": "`"}
    while i < len(s):
        c = s[i]
        if c in closers:
            end = closers[c]
            i += 1
            while i < len(s):
                if s[i] == end:
                    # '' and "" double the quote to escape it
                    if end in "'\"`" and s[i:i + 2] == end * 2:
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
        i += 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _ident(tok: str) -> str:
    if tok[:1] in "'\"`" and tok[-1:] == tok[:1]:
        return tok[1:-1].replace(tok[0] * 2, tok[0])
    if tok[:1] == "[" and tok[-1:] == "]":
        return tok[1:-1]
    return tok


def _tokens(s: str) -> list[str]:
    """Crude SQL tokens: quoted identifiers/strings stay single
    tokens; parens split; everything else whitespace-split."""
    out, i = [], 0
    closers = {"'": "'", '"': '"', "[": "]", "`": "`"}
    while i < len(s):
        c = s[i]
        if c.isspace():
            i += 1
        elif c in closers:
            end = closers[c]
            j = i + 1
            while j < len(s):
                if s[j] == end:
                    if end in "'\"`" and s[j:j + 2] == end * 2:
                        j += 2
                        continue
                    break
                j += 1
            out.append(s[i:j + 1])
            i = j + 1
        elif c in "(),":
            out.append(c)
            i += 1
        else:
            j = i
            while j < len(s) and not s[j].isspace() and s[j] not in "(),'\"[`":
                j += 1
            out.append(s[i:j])
            i = j
    return out


_CONSTRAINT_LEADS = {"CONSTRAINT", "PRIMARY", "UNIQUE", "CHECK",
                     "FOREIGN"}


def parse_create_table(sql: str):
    """(column names, ipk index or None, without_rowid) from stored
    ``CREATE TABLE`` text. The rowid-alias rule per the spec: a
    column typed exactly INTEGER with a PRIMARY KEY (column-level,
    or single-column table-level) not marked DESC."""
    lp = sql.index("(")
    rp = sql.rindex(")")
    without_rowid = "WITHOUT" in sql[rp:].upper() \
        and "ROWID" in sql[rp:].upper()
    cols: list[str] = []
    col_toks: list[list[str]] = []
    table_pk: str | None = None
    for piece in _split_top_level(sql[lp + 1:rp]):
        toks = _tokens(piece)
        if not toks:
            continue
        lead = toks[0].upper()
        if lead in _CONSTRAINT_LEADS:
            up = [t.upper() for t in toks]
            if "PRIMARY" in up and "KEY" in up and "(" in toks:
                inner = toks[toks.index("(") + 1:]
                if ")" in inner:
                    inner = inner[:inner.index(")")]
                names = [_ident(t) for t in inner if t != ","]
                if len(names) == 1 and "DESC" not in up:
                    table_pk = names[0]
            continue
        cols.append(_ident(toks[0]))
        col_toks.append(toks)
    ipk = None
    for i, toks in enumerate(col_toks):
        up = [t.upper() for t in toks]
        is_integer = len(up) > 1 and up[1] == "INTEGER"
        col_pk = False
        for j in range(len(up) - 1):
            if up[j] == "PRIMARY" and up[j + 1] == "KEY":
                col_pk = up[j + 2:j + 3] != ["DESC"]
        if is_integer and (col_pk or cols[i] == table_pk):
            ipk = i
            break
    if without_rowid:
        ipk = None  # WITHOUT ROWID has no rowid to alias
    return cols, ipk, without_rowid


def _master_rows(db: _Db):
    """sqlite_master rows (type, name, tbl_name, rootpage, sql) —
    the schema table rooted at page 1."""
    for _rowid, payload in _iter_table_cells(db, 1):
        try:
            vals = _parse_record(payload, db.encoding)
        except (ValueError, IndexError, struct.error):
            continue
        if len(vals) >= 5:
            yield vals[0], vals[1], vals[2], vals[3], vals[4]


def list_tables(data: bytes) -> list[str]:
    """Names of readable (rowid) tables in one database file."""
    try:
        db = _Db(data)
        return sorted(
            name for kind, name, _t, root, sql in _master_rows(db)
            if kind == "table" and isinstance(root, int) and root > 0
            and isinstance(sql, str)
            and not parse_create_table(sql)[2])
    except (ValueError, IndexError, struct.error):
        return []


def iter_table_rows(data: bytes, table: str) -> Iterator[dict]:
    """``{column: value}`` dicts for one table of one database byte
    string; values keep SQLite storage identity (int/float/str/
    bytes/None). Absent / WITHOUT ROWID / broken tables yield
    nothing (TABLE drop)."""
    try:
        db = _Db(data)
    except (ValueError, IndexError, struct.error):
        return
    root, sql = None, None
    try:
        for kind, name, _t, rp, s in _master_rows(db):
            if kind == "table" and name == table:
                root, sql = rp, s
                break
    except (ValueError, IndexError, struct.error):
        return
    if not isinstance(root, int) or root <= 0 or not isinstance(sql, str):
        return
    try:
        cols, ipk, without_rowid = parse_create_table(sql)
    except (ValueError, IndexError):
        return
    if without_rowid:
        return
    try:
        for rowid, payload in _iter_table_cells(db, root):
            try:
                vals = _parse_record(payload, db.encoding)
            except (ValueError, IndexError, struct.error):
                continue  # ROW drop
            row = {}
            for i, c in enumerate(cols):
                v = vals[i] if i < len(vals) else None
                if i == ipk:
                    v = rowid  # the rowid-alias rule
                row[c] = v
            yield row
    except (ValueError, IndexError, struct.error):
        return  # broken subtree: table drop, complete rows emitted


# ----------------------------------------------------- Spark stages


def _adapter(sql_type: str):
    def adapt(v):
        if v is None:
            return None
        if sql_type == "bigint":
            return v if isinstance(v, int) else None
        if sql_type == "double":
            if isinstance(v, float):
                return v
            if isinstance(v, int):
                return float(v)  # affinity-style widening
            return None
        if sql_type == "string":
            return v if isinstance(v, str) else None
        if sql_type == "binary":
            return bytes(v) if isinstance(v, (bytes, bytearray)) \
                else None
        if sql_type == "boolean":
            return bool(v) if isinstance(v, int) and v in (0, 1) \
                else None
        return None
    return adapt


def read_sqlite(spark: SparkSession, path: str, table: str,
                ddl: str) -> DataFrame:
    """DataFrame over SQLite database files: binaryFile scan
    (per-file parallelism), the stdlib page/record walk inside the
    Arrow row stage, row/table/file-granular drops, DDL-by-name
    resolution with per-cell nulling adapters."""
    return rows_from_binary(
        spark.read.format("binaryFile").load(path), table, ddl)


def rows_from_binary(bin_df: DataFrame, table: str,
                     ddl: str) -> DataFrame:
    """The decode stage of :func:`read_sqlite` over any
    binaryFile-shaped DataFrame — shared by batch and the streaming
    landing-zone pattern (the avro/bson twin)."""
    return decode_records(
        bin_df, ddl, lambda content: iter_table_rows(content, table),
        _adapter)
