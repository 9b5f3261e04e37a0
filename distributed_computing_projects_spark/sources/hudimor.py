"""Apache Hudi MERGE_ON_READ snapshot reader — the log-file half of
the Hudi layout, from the public tech spec (hudi.apache.org/
tech-specs: "Log File Format" + timeline actions) and the same
timeline documentation `sources/hudi.py` cites. Completes the
lakehouse triad's last refusal: ``sources/hudi.py`` reads
COPY_ON_WRITE tables and loudly refuses MOR because base files alone
return STALE rows; this module merges the log files in.

The MOR shape: a file group is a BASE parquet file plus ordered LOG
files of appended blocks. Writes land as ``deltacommit`` instants
appending log blocks; a ``commit`` is a COMPACTION that folds a
group's logs into a fresh base file (after which older logs no longer
apply). A snapshot read must take, per record key, the LATEST
committed value across base + logs — reading either side alone is
wrong.

Log block framing (tech-specs; all integers big-endian, the Java
``DataOutputStream`` convention):

  ``#HUDI#`` magic (6B) | block length (8B, bytes after this field) |
  format version (4B, = 1) | block type (4B, the enum ordinal) |
  header map | content length (8B) | content | footer map |
  total block length (8B, incl. magic — the reverse-seek pointer)

  maps: entry count (4B), then per entry key ordinal (4B) +
  value length (4B) + UTF-8 bytes. Header keys used here:
  INSTANT_TIME(0), TARGET_INSTANT_TIME(1), SCHEMA(2),
  COMMAND_BLOCK_TYPE(3).

  AVRO data block content: format version (4B) | record count (4B) |
  per record: length (4B) + one schema-framed avro datum
  (``avro.decode_datum`` — the engine's own binary codec, no OCF).

Reader policy (the codec-seam discipline):

- Blocks whose INSTANT_TIME is not a COMPLETED ``deltacommit`` at or
  before the read point are INVISIBLE (a torn writer appends bytes
  but never publishes the instant — the timeline is the commit
  protocol, exactly as the CoW reader treats torn base files).
- A COMMAND block (type 0, ROLLBACK_PREVIOUS_BLOCK) additionally
  invalidates earlier blocks in the same log whose INSTANT_TIME
  equals its TARGET_INSTANT_TIME — the tech-specs rollback
  mechanism; both filters run, either alone suffices.
- A TORN TAIL (magic mismatch mid-file, truncated frame) stops that
  log file's walk; complete blocks before it survive — append-only
  logs fail at the tail.
- DELETES ride the documented ``_hoodie_is_deleted`` sentinel field
  inside data-block records (true drops the key). DELETE_BLOCK(1),
  HFILE(4)/PARQUET(5)/CDC(6) blocks and compressed/partial blocks
  REFUSE loudly — each changes row meaning; never silently skip.
  (Boundary, documented: the binary key layout inside DELETE_BLOCKs
  is writer-version-specific and no real-writer corpus exists in
  this container to differentially test against — the refusal names
  the feature, and SURVEY §7 records the probe.)

Merge shape (the 100 TB properties): base files read in ONE native
parquet FileScan; log files decode in EXECUTORS (the Arrow row
stage over the distributed path list — per-log-file
parallelism, the avro/tfrecord walk shape, never driver-side; the
paths ride a tiny DataFrame because Hadoop's listing filter hides
Hudi's dot-prefixed log names from ``binaryFile``, verified — each
task opens its own files, a posix/NFS assumption swap-able for an FS
client); the merge is one window over the
record key (``hoodie.table.recordkey.fields``) ordered by (instant,
within-instant sequence) taking the last committed row then dropping
deleted keys. That is ONE shuffle on the record key — inherent to
MOR (folding it away is exactly what compaction does), and the same
exchange a native Hudi snapshot reader's merge pays.

Reference: extension surface (the reference stores flat files in
SDFS, mp3/src/sdfsmaster.go; table formats are beyond it).
"""

from __future__ import annotations

import json
import os
import re
import struct

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import (
    flat_map_rows, local_frame,
)
from distributed_computing_projects_spark.sources import avro as AV
from distributed_computing_projects_spark.sources.hudi import (
    _read_properties,
)

MAGIC = b"#HUDI#"
LOG_FORMAT_VERSION = 1

# block type ordinals (HoodieLogBlockType order per the spec)
COMMAND_BLOCK = 0
DELETE_BLOCK = 1
CORRUPT_BLOCK = 2
AVRO_DATA_BLOCK = 3

# header key ordinals (HeaderMetadataType)
INSTANT_TIME = 0
TARGET_INSTANT_TIME = 1
SCHEMA_KEY = 2
COMMAND_BLOCK_TYPE = 3

DELETED_FIELD = "_hoodie_is_deleted"

_COMPLETED_MOR_RE = re.compile(
    r"^(\d+)\.(commit|replacecommit|deltacommit)$")


# ------------------------------------------------- block serializer


def _map_bytes(entries: dict[int, str]) -> bytes:
    out = struct.pack(">i", len(entries))
    for k in sorted(entries):
        vb = entries[k].encode("utf-8")
        out += struct.pack(">ii", k, len(vb)) + vb
    return out


def _parse_map(buf: bytes, pos: int):
    if pos + 4 > len(buf):
        raise ValueError("log block map truncated")
    (n,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    if n < 0 or n > 64:
        raise ValueError(f"implausible log map entry count {n}")
    out = {}
    for _ in range(n):
        if pos + 8 > len(buf):
            raise ValueError("log block map truncated")
        k, ln = struct.unpack_from(">ii", buf, pos)
        pos += 8
        if ln < 0 or pos + ln > len(buf):
            raise ValueError("log block map value truncated")
        out[k] = buf[pos:pos + ln].decode("utf-8")
        pos += ln
    return out, pos


def avro_block_content(payloads: list[bytes],
                       content_version: int = 1) -> bytes:
    # join, not bytes +=: appending to an immutable accumulator is
    # quadratic in the record count (measured 40 s per 100k records
    # before; the 100x fixture frames ~400k)
    return b"".join(
        [struct.pack(">ii", content_version, len(payloads))]
        + [struct.pack(">i", len(p)) + p for p in payloads])


def write_block(block_type: int, header: dict[int, str],
                content: bytes, footer: dict[int, str]
                | None = None) -> bytes:
    hb = _map_bytes(header)
    fb = _map_bytes(footer or {})
    body = (struct.pack(">i", LOG_FORMAT_VERSION)
            + struct.pack(">i", block_type)
            + hb
            + struct.pack(">q", len(content)) + content
            + fb)
    total = 6 + 8 + len(body) + 8
    return (MAGIC + struct.pack(">q", len(body) + 8) + body
            + struct.pack(">q", total))


# ----------------------------------------------------- block walker


def walk_log_blocks(data: bytes):
    """Yield ``(block_type, header, content)`` per complete block; a
    torn tail or magic mismatch STOPS the walk (append-only logs fail
    at the tail; everything before is intact). Structural refusals
    (unsupported block type) raise from the CALLER, which knows the
    read policy — the walker is mechanism only."""
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 14 > n or data[pos:pos + 6] != MAGIC:
            return
        (blen,) = struct.unpack_from(">q", data, pos + 6)
        body_end = pos + 6 + 8 + blen - 8  # blen includes trailer
        if blen < 24 or body_end + 8 > n:
            return  # torn tail
        p = pos + 14
        ver, btype = struct.unpack_from(">ii", data, p)
        if ver != LOG_FORMAT_VERSION:
            return
        p += 8
        try:
            header, p = _parse_map(data, p)
            if p + 8 > body_end:
                return
            (clen,) = struct.unpack_from(">q", data, p)
            p += 8
            if clen < 0 or p + clen > body_end:
                return
            content = data[p:p + clen]
            p += clen
            _footer, p = _parse_map(data, p)
        except ValueError:
            return
        (total,) = struct.unpack_from(">q", data, body_end)
        if total != 6 + 8 + blen:
            return  # reverse pointer disagrees: treat as torn
        yield btype, header, content
        pos = body_end + 8


def decode_avro_block(content: bytes, schema) -> list[dict]:
    if len(content) < 8:
        raise ValueError("avro data block content truncated")
    _cver, count = struct.unpack_from(">ii", content, 0)
    if count < 0 or count > 1 << 24:
        raise ValueError(f"implausible record count {count}")
    pos = 8
    out = []
    for _ in range(count):
        if pos + 4 > len(content):
            raise ValueError("avro data block record truncated")
        (ln,) = struct.unpack_from(">i", content, pos)
        pos += 4
        if ln < 0 or pos + ln > len(content):
            raise ValueError("avro data block record truncated")
        out.append(AV.decode_datum(content[pos:pos + ln], schema))
        pos += ln
    if pos != len(content):
        raise ValueError("trailing bytes after avro data block")
    return out


def blocks_to_records(data: bytes, completed: frozenset[str],
                      as_of: str | None) -> list[tuple[str, dict]]:
    """One log file's VISIBLE records as (instant, record): the
    completed-instant filter, the rollback command blocks, and the
    loud refusals of the module docstring, in order."""
    kept: list[tuple[str, int, dict, bytes]] = []
    for btype, header, content in walk_log_blocks(data):
        instant = header.get(INSTANT_TIME, "")
        if btype == COMMAND_BLOCK:
            # ROLLBACK_PREVIOUS_BLOCK: invalidate earlier blocks of
            # the target instant (command type 0 is the only one)
            if header.get(COMMAND_BLOCK_TYPE, "0") != "0":
                raise ValueError(
                    f"unsupported hudi command block type "
                    f"{header.get(COMMAND_BLOCK_TYPE)!r}")
            target = header.get(TARGET_INSTANT_TIME, "")
            kept = [k for k in kept if k[0] != target]
            continue
        if btype == CORRUPT_BLOCK:
            continue  # the writer already marked it dead
        if instant not in completed:
            continue  # torn/uncommitted append: invisible
        if as_of is not None and instant > as_of:
            continue
        if btype != AVRO_DATA_BLOCK:
            # refusal applies to VISIBLE (committed) blocks only — an
            # uncommitted exotic block is invisible like any torn
            # append; a committed one would change row meaning
            raise ValueError(
                f"unsupported hudi log block type {btype}; "
                f"delete/hfile/parquet/cdc blocks change row "
                f"meaning — refusing, never skipping")
        schema = header.get(SCHEMA_KEY)
        if not schema:
            raise ValueError("avro data block without SCHEMA header")
        kept.append((instant, btype, header, content))
    out = []
    for instant, _bt, header, content in kept:
        for rec in decode_avro_block(content,
                                     json.loads(
                                         header[SCHEMA_KEY])):
            out.append((instant, rec))
    return out


# -------------------------------------------------- slice resolution


def resolve_slices(table_path: str, as_of: str | None = None):
    """Per file group: (fileId, base path or None,
    [(instant, log path)...], base instant). Bases come from
    commit/replacecommit write stats
    (a MOR ``commit`` is a compaction), logs from deltacommit write
    stats; logs at or before a group's base instant no longer apply
    (the compaction folded them). Returns (slices, completed set)."""
    hoodie = os.path.join(table_path, ".hoodie")
    props = _read_properties(os.path.join(hoodie,
                                          "hoodie.properties"))
    ttype = props.get("hoodie.table.type")
    if ttype != "MERGE_ON_READ":
        raise ValueError(
            f"hudimor reads MERGE_ON_READ tables; this one is "
            f"{ttype!r} (use sources/hudi.read_hudi)")
    if os.path.isdir(os.path.join(hoodie, "timeline")):
        raise ValueError(
            "hudi 1.x timeline layout (.hoodie/timeline/) not "
            "supported; refusing rather than reading an empty "
            "classic timeline")
    instants = []
    for name in os.listdir(hoodie):
        m = _COMPLETED_MOR_RE.match(name)
        if m:
            instants.append((m.group(1), m.group(2),
                             os.path.join(hoodie, name)))
    instants.sort()
    if as_of is not None:
        kept = [i for i in instants if i[0] <= as_of]
        if not kept and instants:
            raise ValueError(
                f"no hudi instant at or before {as_of!r}")
        instants = kept

    bases: dict[str, tuple[str, str]] = {}   # fid -> (t, path)
    logs: dict[str, list[tuple[str, str]]] = {}
    completed = set()
    for t, action, path in instants:
        completed.add(t)
        with open(path, "r", encoding="utf-8") as f:
            try:
                meta = json.load(f)
            except json.JSONDecodeError:
                raise ValueError(
                    f"unreadable hudi commit metadata {path}")
        if action == "replacecommit":
            for fids in (meta.get("partitionToReplaceFileIds")
                         or {}).values():
                for fid in fids:
                    bases.pop(fid, None)
                    logs.pop(fid, None)
        for stats in (meta.get("partitionToWriteStats")
                      or {}).values():
            for st in stats:
                fid, rel = st.get("fileId"), st.get("path")
                if not fid or not rel:
                    raise ValueError(
                        f"hudi write stat without fileId/path in "
                        f"{path}")
                abs_p = os.path.join(table_path, rel)
                if action == "deltacommit":
                    logs.setdefault(fid, []).append((t, abs_p))
                else:
                    prev = bases.get(fid)
                    if prev is None or t >= prev[0]:
                        bases[fid] = (t, abs_p)
    slices = []
    for fid in sorted(set(bases) | set(logs)):
        base = bases.get(fid)
        base_t = base[0] if base else ""
        flogs = sorted((t, p) for t, p in logs.get(fid, ())
                       if t > base_t)
        slices.append((fid, base[1] if base else None, flogs,
                       base_t))
    return slices, frozenset(completed)


# ------------------------------------------------------- spark read


def read_hudi_mor(spark: SparkSession, table_path: str, ddl: str,
                  as_of: str | None = None) -> DataFrame:
    """Snapshot (or ``as_of``) read of one MOR table: base FileScan
    union executor-decoded log upserts, one window over the record
    key, deleted sentinels dropped. Assumes record keys are unique
    TABLE-WIDE (the global-index configuration); under a partition-
    scoped index a key reused across partitions would merge across
    them — documented boundary, not detectable from the layout."""
    from pyspark.sql.types import StructType

    props = _read_properties(
        os.path.join(table_path, ".hoodie", "hoodie.properties"))
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError(
            f"hudimor reads MERGE_ON_READ tables; this one is "
            f"{props.get('hoodie.table.type')!r} (use "
            f"sources/hudi.read_hudi)")
    key_fields = [c for c in props.get(
        "hoodie.table.recordkey.fields", "").split(",") if c]
    if not key_fields:
        raise ValueError(
            "MOR merge needs hoodie.table.recordkey.fields in "
            "hoodie.properties")
    schema = StructType.fromDDL(ddl)
    order = [f.name for f in schema.fields]
    missing = [k for k in key_fields if k not in order]
    if missing:
        raise ValueError(
            f"record key field(s) {missing} not in the DDL")

    slices, completed = resolve_slices(table_path, as_of)
    base_files = [b for _f, b, _lg, _t in slices if b]
    log_files = [p for _f, _b, lg, _t in slices for _t2, p in lg]
    return _merge(spark, schema, base_files, log_files, completed,
                  as_of, key_fields)


def _log_records_df(spark, log_files: list[str],
                    completed: frozenset, as_of: str | None,
                    names: list[str], ddl_types: dict):
    """Executor-side log decode over the distributed path list."""
    out_ddl = (", ".join(f"`{n}` {ddl_types[n]}" for n in names)
               + ", `_mor_instant` string, `_mor_seq` bigint, "
                 "`_mor_del` boolean")

    def decode(path):
        # open-by-path inside the Arrow worker: Hudi log files are
        # DOT-PREFIXED and Hadoop's listing filter hides them from
        # binaryFile (verified), so the path list rides a tiny
        # DataFrame and each task reads its own files — same per-file
        # parallelism, decode still executor-side
        with open(path, "rb") as f:
            data = f.read()
        for seq, (instant, rec) in enumerate(
                blocks_to_records(data, completed, as_of) or ()):
            yield (*(rec.get(n) for n in names), instant, seq,
                   bool(rec.get(DELETED_FIELD, False)))

    # dedup (several deltacommits reference the same log file — a
    # double read would double-apply its records); a LocalTableScan
    # slices its rows over min(rows, defaultParallelism) tasks, so the
    # decode spreads WITHOUT a shuffle exchange
    uniq = sorted(set(log_files))
    paths_df = local_frame(spark, [(p,) for p in uniq], "`path` string")
    return flat_map_rows(paths_df, decode, out_ddl)


def _merge(spark, schema, base_files: list[str],
           log_files: list[str], completed: frozenset,
           as_of: str | None, key_fields: list[str]):
    """base FileScan union decoded log upserts -> last-wins window
    over the record key -> deleted sentinels dropped."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    order = [f.name for f in schema.fields]
    base = (spark.read.schema(schema).parquet(*base_files)
            if base_files
            else local_frame(spark, [], schema))
    base = (base
            .withColumn("_mor_instant", F.lit(""))
            .withColumn("_mor_seq", F.lit(-1).cast("bigint"))
            .withColumn("_mor_del", F.lit(False)))
    if log_files:
        ddl_types = {f.name: f.dataType.simpleString()
                     for f in schema.fields}
        merged = base.unionByName(_log_records_df(
            spark, log_files, completed, as_of, order, ddl_types))
    else:
        merged = base
    w = (Window.partitionBy(*key_fields)
         .orderBy(F.col("_mor_instant").desc(),
                  F.col("_mor_seq").desc()))
    return (merged
            .withColumn("_mor_rn", F.row_number().over(w))
            .filter(F.col("_mor_rn") == 1)
            .filter(~F.col("_mor_del"))
            .select(*order))


def compact(spark: SparkSession, table_path: str, ddl: str,
            instant: str) -> dict:
    """MOR COMPACTION: fold each file group's log blocks into a
    fresh base file published as a ``commit`` instant (exactly what
    a real compactor writes — after it, the group's older logs no
    longer apply and snapshot reads become pure FileScans again).
    Deletes materialize (``_hoodie_is_deleted`` keys leave the data;
    a fully-deleted group writes an empty base). Runs the same
    last-wins merge PER GROUP — one small job per group, the shape a
    native compactor's per-group tasks take. Returns the
    partition -> write-stats mapping it committed."""
    import shutil
    import uuid as uuidmod

    from distributed_computing_projects_spark.sources import (
        hudi as HU,
    )

    from pyspark.sql.types import StructType

    props = _read_properties(
        os.path.join(table_path, ".hoodie", "hoodie.properties"))
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError("compact() is a MOR op")
    key_fields = [c for c in props.get(
        "hoodie.table.recordkey.fields", "").split(",") if c]
    if not key_fields:
        raise ValueError(
            "MOR compaction needs hoodie.table.recordkey.fields")
    schema = StructType.fromDDL(ddl)
    slices, completed = resolve_slices(table_path)
    stats: dict[str, list[dict]] = {}
    for fid, base, flogs, _base_t in slices:
        if not flogs:
            continue  # nothing to fold for this group
        merged = _merge(spark, schema, [base] if base else [],
                        [p for _t, p in flogs], completed, None,
                        key_fields)
        ref = base or flogs[0][1]
        rel_dir = os.path.dirname(
            os.path.relpath(ref, table_path))
        stage = os.path.join(table_path,
                             f"_staging-{uuidmod.uuid4().hex}")
        merged.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(n for n in sorted(os.listdir(stage))
                    if n.startswith("part-")
                    and n.endswith(".parquet"))
        rel = os.path.join(rel_dir,
                           HU.base_file_name(fid, instant))
        dest = os.path.join(table_path, rel)
        os.replace(os.path.join(stage, part), dest)
        shutil.rmtree(stage, ignore_errors=True)
        stats.setdefault(rel_dir, []).append(
            {"fileId": fid, "path": rel.replace(os.sep, "/"),
             "numWrites": 1})
    if not stats:
        raise ValueError("nothing to compact: no group carries logs")
    HU.commit_instant(table_path, instant, stats)
    return stats


# ----------------------------------------------------- builder twin


def log_file_name(file_id: str, base_instant: str,
                  version: int = 1, token: str = "1-0-1") -> str:
    return f".{file_id}_{base_instant}.log.{version}_{token}"


def append_log_blocks(table_path: str, rel: str,
                      blocks: list[bytes]) -> str:
    dest = os.path.join(table_path, rel)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "ab") as f:
        for b in blocks:
            f.write(b)
    return dest


def data_block(instant: str, avro_schema, records: list[dict]
               ) -> bytes:
    # parse the schema ONCE — passing the JSON string through would
    # make encode_datum re-parse it per record (measured 400 us/rec
    # vs 7.5 us once fixed; the 100x fixture encodes ~400k records)
    obj = (json.loads(avro_schema)
           if isinstance(avro_schema, str) else avro_schema)
    sjson = (avro_schema if isinstance(avro_schema, str)
             else json.dumps(avro_schema, separators=(",", ":")))
    payloads = [AV.encode_datum(obj, r) for r in records]
    return write_block(
        AVRO_DATA_BLOCK,
        {INSTANT_TIME: instant, SCHEMA_KEY: sjson},
        avro_block_content(payloads))


def rollback_block(instant: str, target_instant: str) -> bytes:
    return write_block(
        COMMAND_BLOCK,
        {INSTANT_TIME: instant,
         TARGET_INSTANT_TIME: target_instant,
         COMMAND_BLOCK_TYPE: "0"},
        b"")
