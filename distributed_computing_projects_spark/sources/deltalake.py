"""Delta Lake table reader — from the public Delta transaction-log
PROTOCOL (github.com/delta-io/delta/blob/master/PROTOCOL.md), no
delta-spark dependency — the lakehouse table format large corpora
already sit in.

Why: at the 100 TB tier, training data increasingly lives in
LAKEHOUSE tables, not loose files — a Delta table is "a parquet
directory plus a transaction log", and an engine that can only read
the directory reads WRONG data (compacted-away duplicates, deleted
rows, uncommitted orphans). This reader replays the log so the
engine scans exactly the table's committed state, then hands the
active file set to Spark's native parquet scan — all heavy I/O stays
JVM-side, vectorized, with column pruning and predicate pushdown
intact.

Log replay (the protocol's snapshot reconstruction):

- ``_delta_log/%020d.json`` commits are newline-delimited action
  envelopes (``add`` / ``remove`` / ``metaData`` / ``protocol``;
  ``commitInfo``/``txn``/``cdc`` are read-irrelevant). Versions must
  be CONTIGUOUS from the replay base — a gap means an incomplete
  copy, and the snapshot stops at the last contiguous version
  (never a silently-wrong mixture).
- ``%020d.checkpoint.parquet`` (single-part or classic multi-part
  ``.%010d.%010d.parquet``) is the compacted state at a version; the
  newest checkpoint at-or-below the requested version seeds the
  replay and only LATER json commits apply. ``_last_checkpoint`` is
  an optimization hint only — the listing is authoritative (a stale
  hint must not pin an old snapshot).
- Reconciliation is by RELATIVE PATH (url-decoded per the spec):
  ``add`` upserts, ``remove`` tombstones. The last ``metaData`` wins
  (``schemaString`` is a Spark StructType JSON — the native schema
  language here); ``protocol`` gates reading.
- **Deletion vectors** (default-on in modern writers) are READ: an
  ``add`` may carry a ``deletionVector`` descriptor whose roaring
  bitmap marks dead row indexes inside an otherwise-live file;
  ``sources/deltadv.py`` decodes it (z85 + portable roaring + the
  sidecar ``.bin`` layout, all from PROTOCOL.md) driver-side and the
  scan anti-joins ``(file, _metadata.row_index)`` pairs out via one
  broadcast — a reader that ignores DVs RESURRECTS deleted rows.
- **Column mapping, name mode** (on in any table that ever renamed
  a column) is READ: the parquet files carry PHYSICAL column names
  from the metaData schema's ``delta.columnMapping.physicalName``
  annotations; the scan pins the physical schema and renames to
  logical right after, and partition values are looked up through
  the mapping (``partitionValues`` keys are physical per the
  protocol's writer requirements; a logical-keyed fallback tolerates
  nonconforming writers).
- **Loud unsupported, never silent wrong**: ``minReaderVersion`` > 2
  (unless 3 with only supported ``readerFeatures`` —
  ``timestampNtz``, ``deletionVectors``, ``columnMapping``),
  id-mode column mapping, or a mapping that renames a NESTED field
  raise ``ValueError`` — each would change WHAT the parquet bytes
  mean, so refusing is the only correct read.

Scan shape (the 100 TB properties):

- Data columns read through ONE ``spark.read.parquet`` over the
  active file list with the metaData schema pinned (files written
  before an ADD COLUMN null the missing column, schema drift cannot
  flip types mid-scan).
- Partition columns are NOT in the data files (protocol) — values
  ride the log. They are attached by a BROADCAST map-join on
  ``input_file_name()`` basename (Delta writer filenames are UUIDs;
  uniqueness is VERIFIED driver-side and the reader falls back to
  per-partition-group unions on collision), cast from the log's
  string serialization to the schema type.
- ``partitions=`` prunes the FILE LIST driver-side before the scan —
  partition pruning at the log layer, the same file-skipping a
  native Delta reader does.
- ``version=`` time-travels: the replay simply stops at that commit
  (checkpoints newer than the target are ignored).
- Driver memory is O(active files) — the same order Spark's own
  FileIndex pays; checkpoint parquet is read through Spark, only
  (path, partitionValues) tuples are collected.

Reference: extension surface (the reference stores flat files in
SDFS, mp3/src/sdfsmaster.go; table formats are beyond it).
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_computing_projects_spark.operators.spread import local_frame

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CKPT_RE = re.compile(
    r"^(\d{20})\.checkpoint(?:\.\d{10}\.\d{10})?\.parquet$")

# readerFeatures this implementation actually implements (version-3
# tables advertise capabilities; anything outside this set refuses)
_SUPPORTED_READER_FEATURES = frozenset({"timestampNtz",
                                        "deletionVectors",
                                        "columnMapping"})


class DeltaSnapshot:
    """Resolved table state: schema, partition columns, active files."""

    def __init__(self, version: int, schema_json: dict,
                 partition_columns: list[str],
                 files: list[tuple[str, dict]],
                 dvs: dict[str, dict] | None = None,
                 column_mapping: dict | None = None):
        self.version = version
        self.schema_json = schema_json
        self.partition_columns = partition_columns
        self.files = files  # [(absolute path, partitionValues), ...]
        # absolute path -> deletionVector descriptor, for the subset
        # of active files carrying one (sources/deltadv.py decodes)
        self.dvs = dvs or {}
        # name-mode column mapping: logical name -> physical parquet
        # column name (None when the table has no mapping)
        self.column_mapping = column_mapping
        # last protocol action seen in the replay (None for tables
        # whose log never wrote one — implicit reader/writer 1/2)
        self.protocol: dict | None = None
        # the surviving metaData action verbatim (RESTORE re-commits
        # it when the schema changed after the restore point)
        self.meta: dict | None = None


def _log_listing(table_path: str):
    log_dir = os.path.join(table_path, "_delta_log")
    commits: dict[int, str] = {}
    checkpoints: dict[int, list[str]] = {}
    for name in os.listdir(log_dir):
        m = _COMMIT_RE.match(name)
        if m:
            commits[int(m.group(1))] = os.path.join(log_dir, name)
            continue
        m = _CKPT_RE.match(name)
        if m:
            checkpoints.setdefault(int(m.group(1)), []).append(
                os.path.join(log_dir, name))
    return commits, checkpoints


def _check_protocol(proto: dict) -> None:
    v = proto.get("minReaderVersion", 1)
    if v <= 2:
        # reader version 2 = column mapping, which this reader
        # implements in name mode (id mode refuses at metaData time)
        return
    if v == 3:
        extra = set(proto.get("readerFeatures") or []) \
            - _SUPPORTED_READER_FEATURES
        if not extra:
            return
        raise ValueError(
            f"unsupported Delta readerFeatures {sorted(extra)}")
    raise ValueError(f"unsupported Delta minReaderVersion {v}")


def _check_metadata(meta: dict) -> None:
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if mode not in ("none", "name"):
        raise ValueError(
            f"unsupported Delta column mapping mode {mode!r}")


def _column_mapping(schema_json: dict, mode: str) -> dict | None:
    """``name``-mode mapping: logical top-level column -> physical
    parquet column, from the metaData schema's
    ``delta.columnMapping.physicalName`` annotations. A NESTED field
    whose physical name differs refuses (renaming inside a struct
    would need a recursive projection this reader does not build —
    loud beats silently reading the wrong nested column)."""
    if mode != "name":
        return None

    def _nested_ok(t) -> None:
        if isinstance(t, dict) and t.get("type") == "struct":
            for f in t["fields"]:
                phys = (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName", f["name"])
                if phys != f["name"]:
                    raise ValueError(
                        f"column mapping renames NESTED field "
                        f"{f['name']!r} -> {phys!r}; unsupported")
                _nested_ok(f["type"])
        elif isinstance(t, dict) and t.get("type") == "array":
            _nested_ok(t.get("elementType"))
        elif isinstance(t, dict) and t.get("type") == "map":
            _nested_ok(t.get("keyType"))
            _nested_ok(t.get("valueType"))

    mapping = {}
    for f in schema_json["fields"]:
        phys = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"])
        mapping[f["name"]] = phys
        _nested_ok(f["type"])
    if len(set(mapping.values())) != len(mapping):
        raise ValueError(
            "column mapping physical names collide")
    return mapping


def _apply_action(state: dict, action: dict) -> None:
    if "add" in action:
        a = action["add"]
        # an add for an already-active path UPSERTS (the protocol's
        # DV-update shape: remove + re-add with a new bitmap)
        dv = a.get("deletionVector") or None
        if dv and not dv.get("storageType"):
            dv = None  # all-null checkpoint struct == no DV
        state["files"][urllib.parse.unquote(a["path"])] = (
            a.get("partitionValues") or {}, dv)
    elif "remove" in action:
        state["files"].pop(
            urllib.parse.unquote(action["remove"]["path"]), None)
    elif "metaData" in action:
        _check_metadata(action["metaData"])
        state["meta"] = action["metaData"]
    elif "protocol" in action:
        _check_protocol(action["protocol"])
        state["proto"] = action["protocol"]


def _read_checkpoint_rows(paths: list[str]) -> list[dict]:
    """Action rows of a (possibly multi-part) checkpoint parquet,
    column-pruned to the four read-relevant action columns, as
    plain dicts (map columns — partitionValues, configuration,
    format.options — normalized from arrow's (k, v) pair lists)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Normalize by SCHEMA TYPE, not by value shape: arrow's to_pylist
    # renders map cells as (k, v) pair lists, so an EMPTY map is []
    # — indistinguishable from an empty list by inspection, and the
    # former value-shaped fix left it a list (a .items()/.get() on
    # snap.meta fields would raise only on the checkpoint path — r16
    # ADVICE). Driving the walk from the arrow type makes every map
    # column a dict, empty included. (pyarrow 16's Table.to_pylist
    # has no maps_as_pydicts kwarg yet; this is the version-proof
    # equivalent.)
    def _pyval(val, typ):
        if val is None:
            return None
        if pa.types.is_map(typ):
            return {k: _pyval(v, typ.item_type) for k, v in val}
        if pa.types.is_struct(typ):
            return {f.name: _pyval(val.get(f.name), f.type)
                    for f in typ}
        if pa.types.is_list(typ) or pa.types.is_large_list(typ):
            return [_pyval(x, typ.value_type) for x in val]
        return val

    rows: list[dict] = []
    for path in paths:
        t = pq.read_table(path, columns=[
            c for c in ("protocol", "metaData", "add", "remove")
            if c in pq.read_schema(path).names])
        fields = [(f.name, f.type) for f in t.schema]
        for d in t.to_pylist():
            rows.append({n: _pyval(d[n], ty) for n, ty in fields})
    return rows


def resolve_snapshot(spark: SparkSession, table_path: str,
                     version: int | None = None) -> DeltaSnapshot:
    """Replay the transaction log to the requested (default: latest
    contiguous) version; policy per the module docstring."""
    commits, checkpoints = _log_listing(table_path)
    if not commits and not checkpoints:
        raise ValueError(f"no Delta log at {table_path}")
    latest = max(list(commits) + list(checkpoints))
    target = latest if version is None else version
    if version is not None and version not in commits \
            and version not in checkpoints:
        raise ValueError(f"Delta version {version} not in log")

    state: dict = {"files": {}, "meta": None, "proto": None}
    base = -1
    usable = [v for v in checkpoints if v <= target]
    if usable:
        ckpt_version = max(usable)
        # checkpoint parquet is read DRIVER-SIDE (pyarrow): it is
        # O(active files) of metadata — the same order this function
        # holds in `state` either way — and a Spark job spent ~0.3 s
        # of fixed latency per read on KB-sized checkpoints (r16
        # optimization round); a multi-GB checkpoint reads
        # column-pruned to the four action columns exactly as the
        # former Spark select did
        rows = _read_checkpoint_rows(sorted(checkpoints[ckpt_version]))
        # protocol/metaData gate first: refuse before trusting adds
        for d in rows:
            if d.get("protocol") and d["protocol"].get(
                    "minReaderVersion") is not None:
                _check_protocol(d["protocol"])
                state["proto"] = d["protocol"]
            if d.get("metaData"):
                m = d["metaData"]
                if isinstance(m.get("schemaString"), str):
                    _check_metadata(m)
                    state["meta"] = m
        for d in rows:
            if d.get("add"):
                _apply_action(state, {"add": d["add"]})
            elif d.get("remove"):
                _apply_action(state, {"remove": d["remove"]})
        base = ckpt_version
    reached = base
    for v in range(base + 1, target + 1):
        path = commits.get(v)
        if path is None:
            # checkpoint tip (nothing newer) or a listing gap: stop
            # at the last contiguous version, never mix across a hole
            break
        with open(path, "r", encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    _apply_action(state, json.loads(line))
        reached = v
    if version is not None and reached < target:
        raise ValueError(
            f"Delta log gap: version {target} unreachable "
            f"(contiguous replay stopped at {reached})")
    if state["meta"] is None:
        raise ValueError("Delta log carries no metaData action")
    schema_json = json.loads(state["meta"]["schemaString"])
    mode = (state["meta"].get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    mapping = _column_mapping(schema_json, mode)
    part_cols = list(state["meta"].get("partitionColumns") or [])
    if mapping:
        # partitionColumns may carry logical OR physical names
        # depending on the writer; normalize to LOGICAL (the
        # partitionValues keys stay physical per the protocol's
        # writer requirements and are looked up through the mapping)
        phys_to_log = {p: c for c, p in mapping.items()}
        part_cols = [phys_to_log.get(c, c) for c in part_cols]
    files = []
    dvs = {}
    for rel, (pv, dv) in sorted(state["files"].items()):
        abs_path = os.path.join(table_path, rel)
        files.append((abs_path, pv))
        if dv:
            dvs[abs_path] = dv
    snap = DeltaSnapshot(reached, schema_json, part_cols, files, dvs,
                         mapping)
    snap.protocol = state["proto"]
    snap.meta = state["meta"]
    return snap


def _field_type_ddl(schema_json: dict, name: str) -> str:
    for f in schema_json["fields"]:
        if f["name"] == name:
            t = f["type"]
            if not isinstance(t, str):
                raise ValueError(
                    f"unsupported nested partition column {name}")
            return t
    raise ValueError(f"partition column {name} not in schema")


def _pv_get(pv: dict, col: str, mapping: dict | None):
    """partitionValues lookup for a LOGICAL column: keys are physical
    names under column mapping (the protocol's writer requirement),
    with a logical-keyed fallback for nonconforming writers."""
    if mapping:
        phys = mapping.get(col, col)
        if phys in pv:
            return pv.get(phys)
    return pv.get(col)


def read_delta(spark: SparkSession, table_path: str,
               version: int | None = None,
               partitions: dict | None = None) -> DataFrame:
    """DataFrame over one Delta table's committed state. ``version``
    time-travels; ``partitions`` equality-prunes the file list
    driver-side (file skipping, before any I/O)."""
    from pyspark.sql.types import StructField, StructType

    snap = resolve_snapshot(spark, table_path, version)
    part_cols = snap.partition_columns
    mapping = snap.column_mapping
    files = snap.files
    if partitions:
        unknown = set(partitions) - set(part_cols)
        if unknown:
            raise ValueError(
                f"partitions filter on non-partition column(s) "
                f"{sorted(unknown)}")
        files = [(p, pv) for p, pv in files
                 if all(_pv_get(pv, c, mapping) == str(v)
                        if v is not None
                        else _pv_get(pv, c, mapping) is None
                        for c, v in partitions.items())]

    full = StructType.fromJson(snap.schema_json)
    # under name-mode column mapping the parquet files carry PHYSICAL
    # column names: scan physical, rename to logical right after
    data_schema = StructType(
        [StructField(mapping.get(f.name, f.name) if mapping
                     else f.name, f.dataType, True)
         for f in full.fields if f.name not in part_cols])
    order = [f.name for f in full.fields]

    if not files:
        return local_frame(spark, [], full).select(*order)

    paths = [p for p, _pv in files]
    path_set = set(paths)
    dv_map = {p: d for p, d in snap.dvs.items() if p in path_set}
    basenames = [os.path.basename(p) for p in paths]
    unique_names = len(set(basenames)) == len(basenames)
    if dv_map and not unique_names:
        # the anti-join keys on basename (Delta writer filenames are
        # UUIDs); a colliding hand-built layout with DVs could delete
        # rows of the WRONG file — refuse, never guess
        raise ValueError(
            "deletion vectors over colliding data-file basenames; "
            "refusing")

    df = spark.read.schema(data_schema).parquet(*paths)
    if mapping:
        renames = {mapping[f.name]: f.name
                   for f in full.fields
                   if f.name not in part_cols
                   and mapping.get(f.name, f.name) != f.name}
        if renames:
            df = df.withColumnsRenamed(renames)
    if dv_map or (part_cols and unique_names):
        df = df.withColumn(
            "_delta_file",
            F.element_at(F.split(F.input_file_name(), "/"), -1))
    if dv_map:
        # decode each bitmap driver-side (KBs), expand to (file,
        # row-in-file) pairs, anti-join against the parquet reader's
        # own per-file row index (_metadata.row_index) — all
        # JVM-side, broadcast, zero shuffles
        from distributed_computing_projects_spark.sources import (
            deltadv as DVC,
        )

        dead = [(os.path.basename(p), int(i))
                for p, desc in sorted(dv_map.items())
                for i in DVC.resolve_dv(desc, table_path)]
        dead_df = local_frame(
            spark, dead, "`_delta_file` string, `_dv_row` bigint")
        df = (df.withColumn("_dv_row", F.col("_metadata.row_index"))
              .join(F.broadcast(dead_df),
                    ["_delta_file", "_dv_row"], "left_anti")
              .drop("_dv_row"))
    if not part_cols:
        return df.select(*order)

    part_types = {c: _field_type_ddl(snap.schema_json, c)
                  for c in part_cols}
    if unique_names:
        # one scan + broadcast (basename -> partition values) join:
        # the scale path — a single FileScan over every active file
        rows = [(os.path.basename(p),
                 *[_pv_get(pv, c, mapping) for c in part_cols])
                for p, pv in files]
        # explicit all-string schema: the log serializes partition
        # values as strings and a column may be entirely null
        map_ddl = ", ".join(
            ["`_delta_file` string"]
            + [f"`_pv_{c}` string" for c in part_cols])
        map_df = local_frame(spark, rows, map_ddl)
        joined = df.join(F.broadcast(map_df), "_delta_file", "left")
        for c in part_cols:
            joined = joined.withColumn(
                c, F.col(f"_pv_{c}").cast(part_types[c]))
        return joined.select(*order)

    # basename collision (non-Delta-writer layout): per-group unions
    groups: dict[tuple, list[str]] = {}
    for p, pv in files:
        groups.setdefault(
            tuple(_pv_get(pv, c, mapping) for c in part_cols),
            []).append(p)
    out = None
    for key, gpaths in sorted(groups.items(),
                              key=lambda kv: tuple(
                                  "" if k is None else k
                                  for k in kv[0])):
        g = spark.read.schema(data_schema).parquet(*gpaths)
        for c, val in zip(part_cols, key):
            g = g.withColumn(
                c, F.lit(val).cast(part_types[c]))
        g = g.select(*order)
        out = g if out is None else out.unionByName(g)
    return out


# ----------------------------------------------------- builder twin
# The writer half exists for fixtures and engine exports: the
# PROTOCOL is the contract both sides cite, so a reader bug cannot
# hide in a shared helper (reader parses json/parquet the writer
# never touches once written).


def commit_json(table_path: str, version: int,
                actions: list[dict]) -> str:
    log_dir = os.path.join(table_path, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, f"{version:020d}.json")
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
    os.replace(tmp, path)  # atomic publish, torn commits impossible
    return path


def metadata_action(schema, partition_columns: list[str],
                    table_id: str = "0" * 32) -> dict:
    """A metaData action from a Spark StructType."""
    return {"metaData": {
        "id": table_id,
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema.jsonValue()),
        "partitionColumns": partition_columns,
        "configuration": {},
        "createdTime": 0,
    }}


def protocol_action(min_reader: int = 1, min_writer: int = 2) -> dict:
    return {"protocol": {"minReaderVersion": min_reader,
                         "minWriterVersion": min_writer}}


def add_action(rel_path: str, partition_values: dict,
               size: int, data_change: bool = True,
               deletion_vector: dict | None = None) -> dict:
    a = {"path": urllib.parse.quote(rel_path),
         "partitionValues": partition_values,
         "size": size, "modificationTime": 0,
         "dataChange": data_change}
    if deletion_vector:
        a["deletionVector"] = deletion_vector
    return {"add": a}


def remove_action(rel_path: str, data_change: bool = True) -> dict:
    return {"remove": {"path": urllib.parse.quote(rel_path),
                       "deletionTimestamp": 0,
                       "dataChange": data_change}}


def write_checkpoint(spark: SparkSession, table_path: str,
                     version: int) -> None:
    """Materialize the snapshot at ``version`` as a single-part
    classic checkpoint plus the ``_last_checkpoint`` hint.

    The parquet is written DRIVER-SIDE (pyarrow): a checkpoint is
    O(active files) of metadata the driver already assembled in
    ``snap`` — exactly the artifact a real Delta writer's driver
    emits — and staging it through a Spark job cost ~0.5 s of fixed
    latency per call (r16 optimization round)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = resolve_snapshot(spark, table_path, version)
    commits, _ = _log_listing(table_path)
    # re-read the surviving metaData/protocol verbatim for fidelity
    meta = proto = None
    for v in sorted(c for c in commits if c <= version):
        with open(commits[v], "r", encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                act = json.loads(line)
                if "metaData" in act:
                    meta = act["metaData"]
                if "protocol" in act:
                    proto = act["protocol"]
    smap = pa.map_(pa.string(), pa.string())
    dv_t = pa.struct([
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int64()),
        ("sizeInBytes", pa.int64()),
        ("cardinality", pa.int64()),
    ])
    add_t = pa.struct([
        ("path", pa.string()),
        ("partitionValues", smap),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("deletionVector", dv_t),
    ])
    meta_t = pa.struct([
        ("id", pa.string()),
        ("format", pa.struct([
            ("provider", pa.string()),
            ("options", smap),
        ])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", smap),
        ("createdTime", pa.int64()),
    ])
    proto_t = pa.struct([
        ("minReaderVersion", pa.int64()),
        ("minWriterVersion", pa.int64()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string())),
    ])
    proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}
    protos = [{"minReaderVersion":
               int(proto.get("minReaderVersion", 1)),
               "minWriterVersion":
               int(proto.get("minWriterVersion", 2)),
               "readerFeatures": proto.get("readerFeatures"),
               "writerFeatures": proto.get("writerFeatures")},
              None]
    metas = [None,
             {"id": meta["id"],
              "format": {"provider": meta["format"]["provider"],
                         "options":
                         meta["format"].get("options") or {}},
              "schemaString": meta["schemaString"],
              "partitionColumns":
              meta.get("partitionColumns") or [],
              "configuration": meta.get("configuration") or {},
              "createdTime": int(meta.get("createdTime") or 0)}]
    adds: list[dict | None] = [None, None]
    for abs_path, pv in snap.files:
        rel = os.path.relpath(abs_path, table_path)
        dv = snap.dvs.get(abs_path)
        dv_row = None
        if dv:
            dv_row = {"storageType": dv.get("storageType"),
                      "pathOrInlineDv": dv.get("pathOrInlineDv"),
                      "offset": dv.get("offset"),
                      "sizeInBytes": dv.get("sizeInBytes"),
                      "cardinality": dv.get("cardinality")}
        protos.append(None)
        metas.append(None)
        adds.append({"path": urllib.parse.quote(rel),
                     "partitionValues": pv,
                     "size": os.path.getsize(abs_path),
                     "modificationTime": 0, "dataChange": True,
                     "deletionVector": dv_row})
    table = pa.table({
        "protocol": pa.array(protos, proto_t),
        "metaData": pa.array(metas, meta_t),
        "add": pa.array(adds, add_t),
    })
    log_dir = os.path.join(table_path, "_delta_log")
    final = os.path.join(log_dir,
                         f"{version:020d}.checkpoint.parquet")
    tmp = final + f".tmp-{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, final)  # atomic publish
    hint = os.path.join(log_dir, "_last_checkpoint")
    tmp = hint + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"version": version, "size": len(protos)}, f)
    os.replace(tmp, hint)


def _next_version(table_path: str) -> int:
    try:
        commits, checkpoints = _log_listing(table_path)
    except FileNotFoundError:
        return 0
    versions = list(commits) + list(checkpoints)
    return max(versions) + 1 if versions else 0


def _commit_exclusive(table_path: str, version: int,
                      actions: list[dict]) -> bool:
    """Publish one commit IF AND ONLY IF the version slot is free —
    the protocol's put-if-absent contract (os.link fails on an
    existing target, unlike os.replace), so two racing writers can
    never both claim a version."""
    log_dir = os.path.join(table_path, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, f"{version:020d}.json")
    tmp = path + f".tmp-{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False  # lost the race: caller retries at a new version
    finally:
        os.unlink(tmp)


def delete_where(spark: SparkSession, table_path: str,
                 condition: str) -> int:
    """Row-level DELETE that publishes DELETION VECTORS instead of
    rewriting data files — the modern writer's shape and the write
    symmetry of the DV read path: one scan finds matching
    ``(file, _metadata.row_index)`` positions, each affected file's
    bitmap (merged with any EXISTING DV — a second delete grows the
    vector, never loses the first) lands in ONE shared ``u``-storage
    sidecar, and a single put-if-absent commit publishes the
    remove+re-add pairs. A file whose merged vector covers EVERY
    physical row is dropped outright (a bare ``remove`` — no point
    shipping an all-ones bitmap). ``condition`` is a Spark SQL
    boolean over the table's logical columns (partition columns
    included — they attach before the filter). Returns the committed
    version. Driver memory is O(deleted positions) — the same order
    the read path broadcasts."""
    from pyspark.sql.types import StructField, StructType

    from distributed_computing_projects_spark.sources import (
        deltadv as DVC,
    )

    snap = resolve_snapshot(spark, table_path)
    mapping = snap.column_mapping
    part_cols = snap.partition_columns
    full = StructType.fromJson(snap.schema_json)
    data_schema = StructType(
        [StructField(mapping.get(f.name, f.name) if mapping
                     else f.name, f.dataType, True)
         for f in full.fields if f.name not in part_cols])
    files = snap.files
    if not files:
        raise ValueError("delete_where on an empty table")
    paths = [p for p, _pv in files]
    basenames = [os.path.basename(p) for p in paths]
    if len(set(basenames)) != len(basenames):
        raise ValueError(
            "delete_where over colliding data-file basenames; "
            "refusing")

    df = spark.read.schema(data_schema).parquet(*paths)
    if mapping:
        renames = {mapping[f.name]: f.name
                   for f in full.fields
                   if f.name not in part_cols
                   and mapping.get(f.name, f.name) != f.name}
        if renames:
            df = df.withColumnsRenamed(renames)
    df = (df
          .withColumn(
              "_delta_file",
              F.element_at(F.split(F.input_file_name(), "/"), -1))
          # the hidden _metadata column only resolves against the
          # file source itself — select it BEFORE any join
          .withColumn("_dv_row", F.col("_metadata.row_index")))
    if part_cols:
        part_types = {c: _field_type_ddl(snap.schema_json, c)
                      for c in part_cols}
        rows = [(os.path.basename(p),
                 *[_pv_get(pv, c, mapping) for c in part_cols])
                for p, pv in files]
        map_ddl = ", ".join(
            ["`_delta_file` string"]
            + [f"`_pv_{c}` string" for c in part_cols])
        df = df.join(F.broadcast(
            local_frame(spark, rows, map_ddl)), "_delta_file",
            "left")
        for c in part_cols:
            df = df.withColumn(
                c, F.col(f"_pv_{c}").cast(part_types[c]))
    # one aggregate over the scan: per file, the physical row count
    # AND the matching positions (map-side combined, tiny result)
    agg = (df
           .withColumn("_m", F.expr(condition))
           .groupBy("_delta_file")
           .agg(F.count(F.lit(1)).alias("_n"),
                F.sort_array(F.collect_list(
                    F.when(F.col("_m"), F.col("_dv_row"))))
                .alias("_hits"))
           .collect())
    by_base = {os.path.basename(p): (p, pv) for p, pv in files}
    removes: list[str] = []
    grow: list[tuple[str, dict, list[int]]] = []  # rel, pv, idx
    for r in agg:
        hits = [int(i) for i in r._hits]
        if not hits:
            continue
        path, pv = by_base[r._delta_file]
        old = snap.dvs.get(path)
        merged = sorted(set(hits) | set(
            DVC.resolve_dv(old, table_path) if old else []))
        rel = os.path.relpath(path, table_path)
        if len(merged) >= int(r._n):
            removes.append(rel)
        else:
            grow.append((rel, pv, merged))
    if not removes and not grow:
        raise ValueError(
            f"delete_where matched no rows: {condition!r}")
    actions: list[dict] = []
    if grow:
        # the table now CONTAINS deletion vectors: the protocol must
        # advertise the feature (spec: reader v3 + writer v7) or a
        # conforming reader would wrongly accept-and-resurrect;
        # existing features are preserved, never clobbered
        proto = snap.protocol or {"minReaderVersion": 1,
                                  "minWriterVersion": 2}
        rfeat = set(proto.get("readerFeatures") or [])
        if proto.get("minReaderVersion", 1) < 3 \
                or "deletionVectors" not in rfeat:
            if proto.get("minReaderVersion", 1) == 2:
                rfeat.add("columnMapping")
            rfeat.add("deletionVectors")
            wfeat = set(proto.get("writerFeatures") or [])
            wfeat.add("deletionVectors")
            actions.append({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": sorted(rfeat),
                "writerFeatures": sorted(wfeat)}})
    actions += [remove_action(rel) for rel in removes]
    if grow:
        descs = DVC.file_descriptors(
            table_path, [idx for _rel, _pv, idx in grow],
            prefix="ab")
        for (rel, pv, _idx), desc in zip(grow, descs):
            # dataChange=TRUE: a DELETE changes rows (the spec's
            # rule; optimize's layout-only swaps are the false case)
            actions.append(remove_action(rel))
            actions.append(add_action(
                rel, pv, os.path.getsize(
                    os.path.join(table_path, rel)),
                deletion_vector=desc))
    while True:
        version = _next_version(table_path)
        if _commit_exclusive(table_path, version, actions):
            return version


def read_delta_changes(spark: SparkSession, table_path: str,
                       from_version: int,
                       to_version: int | None = None) -> DataFrame:
    """APPEND-ONLY incremental read: the rows ADDED in commits
    ``(from_version, to_version]`` — how a downstream consumer tails
    a landing table without rescanning it (the 100 TB consumption
    story: each poll reads only the new files, KB of log + the new
    data). Loud refusal when the range contains a DATA-CHANGING
    remove or a deletion-vector add (an update/delete makes
    append-only semantics wrong — a full CDF would need before/after
    images; ``optimize``'s dataChange=false swaps are correctly
    invisible). Partition values attach exactly as in
    :func:`read_delta`; column mapping applies."""
    from pyspark.sql.types import StructField, StructType

    snap = resolve_snapshot(spark, table_path,
                            to_version)  # schema AS OF the range end
    if to_version is None:
        to_version = snap.version
    if from_version >= to_version:
        raise ValueError(
            f"empty incremental range ({from_version}, "
            f"{to_version}]")
    commits, _ckpts = _log_listing(table_path)
    mapping = snap.column_mapping
    part_cols = snap.partition_columns
    added: dict[str, dict] = {}
    for v in range(from_version + 1, to_version + 1):
        path = commits.get(v)
        if path is None:
            raise ValueError(
                f"incremental range needs commit json for version "
                f"{v} (checkpoint-only history cannot attribute "
                f"rows to commits)")
        with open(path, "r", encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                act = json.loads(line)
                if "add" in act:
                    a = act["add"]
                    if a.get("dataChange", True) is False:
                        continue  # compaction re-add: same rows
                    if a.get("deletionVector"):
                        raise ValueError(
                            f"version {v} adds a deletion vector; "
                            f"append-only incremental semantics "
                            f"do not hold — refusing")
                    added[urllib.parse.unquote(a["path"])] = \
                        a.get("partitionValues") or {}
                elif "remove" in act:
                    if act["remove"].get("dataChange", True):
                        raise ValueError(
                            f"version {v} removes data "
                            f"(delete/overwrite); append-only "
                            f"incremental semantics do not hold — "
                            f"refusing")

    full = StructType.fromJson(snap.schema_json)
    data_schema = StructType(
        [StructField(mapping.get(f.name, f.name) if mapping
                     else f.name, f.dataType, True)
         for f in full.fields if f.name not in part_cols])
    order = [f.name for f in full.fields]
    if not added:
        return local_frame(spark, [], full).select(*order)
    files = sorted(
        (os.path.join(table_path, rel), pv)
        for rel, pv in added.items())
    paths = [p for p, _pv in files]
    df = spark.read.schema(data_schema).parquet(*paths)
    if mapping:
        renames = {mapping[f.name]: f.name
                   for f in full.fields
                   if f.name not in part_cols
                   and mapping.get(f.name, f.name) != f.name}
        if renames:
            df = df.withColumnsRenamed(renames)
    if not part_cols:
        return df.select(*order)
    part_types = {c: _field_type_ddl(snap.schema_json, c)
                  for c in part_cols}
    basenames = [os.path.basename(p) for p in paths]
    if len(set(basenames)) != len(basenames):
        raise ValueError(
            "incremental read over colliding basenames; refusing")
    rows = [(os.path.basename(p),
             *[_pv_get(pv, c, mapping) for c in part_cols])
            for p, pv in files]
    map_ddl = ", ".join(
        ["`_delta_file` string"]
        + [f"`_pv_{c}` string" for c in part_cols])
    joined = (
        df.withColumn(
            "_delta_file",
            F.element_at(F.split(F.input_file_name(), "/"), -1))
        .join(F.broadcast(local_frame(spark, rows, map_ddl)),
              "_delta_file", "left"))
    for c in part_cols:
        joined = joined.withColumn(
            c, F.col(f"_pv_{c}").cast(part_types[c]))
    return joined.select(*order)


def optimize(spark: SparkSession, table_path: str,
             target_file_bytes: int = 128 << 20) -> int:
    """Bin-packing COMPACTION (the OPTIMIZE maintenance op): per
    partition, the active files rewrite into ~``target_file_bytes``
    files and one commit swaps them (removes + adds with
    ``dataChange=false`` — a compaction changes LAYOUT, not rows, so
    streaming readers must not re-emit). Deletion vectors are
    MATERIALIZED: the rewrite reads through the DV-applying scan, so
    dead rows leave the data files and the new adds carry no DV —
    compaction is exactly how DV debt gets paid down. Tables with
    column mapping refuse (the rewrite would have to re-emit
    physical names; loud beats a silent logical-name write that
    poisons every later read). Returns the committed version, or -1
    when nothing needed compacting (single-file partitions with no
    DV are left alone — an empty OPTIMIZE commit is noise)."""
    import math
    import shutil
    import uuid as uuidmod

    from pyspark.sql.types import StructField, StructType

    from distributed_computing_projects_spark.sources import (
        deltadv as DVC,
    )

    snap = resolve_snapshot(spark, table_path)
    if snap.column_mapping:
        raise ValueError(
            "optimize over a column-mapped table; refusing (the "
            "rewrite would need physical-name re-emission)")
    part_cols = snap.partition_columns
    full = StructType.fromJson(snap.schema_json)
    data_schema = StructType(
        [StructField(f.name, f.dataType, True)
         for f in full.fields if f.name not in part_cols])
    data_cols = [f.name for f in data_schema.fields]

    groups: dict[tuple, list[tuple[str, dict]]] = {}
    for p, pv in snap.files:
        groups.setdefault(
            tuple(sorted(pv.items())), []).append((p, pv))

    removes: list[str] = []
    adds: list[dict] = []
    n = 0
    for key, members in sorted(groups.items()):
        has_dv = any(p in snap.dvs for p, _pv in members)
        if len(members) < 2 and not has_dv:
            continue  # already compact, nothing dead to drop
        pv = dict(key)
        paths = [p for p, _pv in members]
        g = spark.read.schema(data_schema).parquet(*paths)
        if has_dv:
            dead = [(os.path.basename(p), int(i))
                    for p in paths if p in snap.dvs
                    for i in DVC.resolve_dv(snap.dvs[p],
                                            table_path)]
            dead_df = local_frame(
                spark, dead, "`_delta_file` string, `_dv_row` bigint")
            g = (g.withColumn(
                "_delta_file",
                F.element_at(F.split(F.input_file_name(), "/"), -1))
                .withColumn("_dv_row", F.col("_metadata.row_index"))
                .join(F.broadcast(dead_df),
                      ["_delta_file", "_dv_row"], "left_anti")
                .select(*data_cols))
        total = sum(os.path.getsize(p) for p in paths)
        n_out = max(1, math.ceil(total / target_file_bytes))
        stage = os.path.join(table_path,
                             f"_staging-{uuidmod.uuid4().hex}")
        g.coalesce(n_out).write.mode("overwrite").parquet(stage)
        rel_dir = os.path.dirname(
            os.path.relpath(paths[0], table_path))
        for name in sorted(os.listdir(stage)):
            if not (name.startswith("part-")
                    and name.endswith(".parquet")):
                continue
            uniq = f"part-{uuidmod.uuid4().hex}-{n:05d}.parquet"
            rel = os.path.join(rel_dir, uniq) if rel_dir else uniq
            dest = os.path.join(table_path, rel)
            os.makedirs(os.path.dirname(dest) or table_path,
                        exist_ok=True)
            os.replace(os.path.join(stage, name), dest)
            adds.append(add_action(rel.replace(os.sep, "/"), pv,
                                   os.path.getsize(dest),
                                   data_change=False))
            n += 1
        shutil.rmtree(stage, ignore_errors=True)
        removes += [os.path.relpath(p, table_path) for p in paths]
    if not removes:
        return -1
    actions = [remove_action(r, data_change=False)
               for r in removes] + adds
    while True:
        version = _next_version(table_path)
        if _commit_exclusive(table_path, version, actions):
            return version


def rename_column(spark: SparkSession, table_path: str,
                  old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN — metadata-only, the operation
    column mapping exists FOR: the first rename upgrades the table
    to name mode (protocol reader v2 semantics via v3 + the
    columnMapping feature; every field annotated with its CURRENT
    name as ``physicalName``, so existing data files keep reading
    unchanged), then the logical name flips while the physical name
    stays — no data file is touched, a rename is one KB-sized
    commit however large the table. Partition columns rename too
    (partitionValues keys are physical and unchanged). Returns the
    committed version."""
    snap = resolve_snapshot(spark, table_path)
    if snap.meta is None:
        raise ValueError("rename_column on an empty table")
    schema = json.loads(snap.meta["schemaString"])
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise ValueError(f"no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    fields = []
    for f in schema["fields"]:
        f = dict(f)
        md = dict(f.get("metadata") or {})
        md.setdefault("delta.columnMapping.physicalName", f["name"])
        f["metadata"] = md
        if f["name"] == old:
            f["name"] = new
        fields.append(f)
    meta = dict(snap.meta)
    meta["schemaString"] = json.dumps(
        {"type": "struct", "fields": fields})
    conf = dict(meta.get("configuration") or {})
    conf["delta.columnMapping.mode"] = "name"
    conf.setdefault("delta.columnMapping.maxColumnId",
                    str(len(fields)))
    meta["configuration"] = conf
    # partitionColumns may hold the renamed LOGICAL name: keep the
    # physical form there (resolve_snapshot normalizes either way)
    meta["partitionColumns"] = [
        (c if c != old else
         next(f0["metadata"]["delta.columnMapping.physicalName"]
              for f0 in fields if f0["name"] == new))
        for c in (meta.get("partitionColumns") or [])]
    actions: list[dict] = []
    proto = snap.protocol or {"minReaderVersion": 1,
                              "minWriterVersion": 2}
    rfeat = set(proto.get("readerFeatures") or [])
    if proto.get("minReaderVersion", 1) < 2 \
            or (proto.get("minReaderVersion", 1) == 3
                and "columnMapping" not in rfeat):
        rfeat.add("columnMapping")
        wfeat = set(proto.get("writerFeatures") or [])
        wfeat.add("columnMapping")
        actions.append({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(rfeat),
            "writerFeatures": sorted(wfeat)}})
    actions.append({"metaData": meta})
    while True:
        v = _next_version(table_path)
        if _commit_exclusive(table_path, v, actions):
            return v


def add_column(spark: SparkSession, table_path: str,
               name: str, ddl_type: str) -> int:
    """ALTER TABLE ADD COLUMN — metadata-only: the schema grows one
    nullable field and every file written BEFORE it simply nulls
    the column at scan time (the reader pins the metaData schema,
    so schema drift cannot flip types mid-scan). KB-sized commit,
    no data rewrite. Returns the committed version."""
    from pyspark.sql.types import StructField, _parse_datatype_string

    snap = resolve_snapshot(spark, table_path)
    if snap.meta is None:
        raise ValueError("add_column on an empty table")
    schema = json.loads(snap.meta["schemaString"])
    if name in [f["name"] for f in schema["fields"]]:
        raise ValueError(f"column {name!r} already exists")
    dt = _parse_datatype_string(ddl_type)
    new_field = StructField(name, dt, True).jsonValue()
    if snap.column_mapping:
        max_id = int((snap.meta.get("configuration") or {}).get(
            "delta.columnMapping.maxColumnId", "0")) + 1
        taken = {(f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"])
            for f in schema["fields"]}
        pid = max_id
        while f"col-{pid}" in taken:
            pid += 1  # a collision would brick every later resolve
        new_field["metadata"] = {
            "delta.columnMapping.id": max_id,
            # a FRESH physical name: files written before the add
            # cannot collide with it even after later renames
            "delta.columnMapping.physicalName": f"col-{pid}",
        }
    schema["fields"].append(new_field)
    meta = dict(snap.meta)
    meta["schemaString"] = json.dumps(schema)
    if snap.column_mapping:
        conf = dict(meta.get("configuration") or {})
        conf["delta.columnMapping.maxColumnId"] = str(
            int(conf.get("delta.columnMapping.maxColumnId", "0"))
            + 1)
        meta["configuration"] = conf
    while True:
        v = _next_version(table_path)
        if _commit_exclusive(table_path, v, [{"metaData": meta}]):
            return v


def vacuum(spark: SparkSession, table_path: str,
           dry_run: bool = False) -> list[str]:
    """Delete data files not referenced by the CURRENT snapshot —
    tombstoned old versions, superseded compaction inputs, and
    uncommitted orphans (the torn-writer litter every landing zone
    accrues). DV sidecars referenced by active descriptors are kept;
    unreferenced ``deletion_vector_*.bin`` files go too. Like the
    real VACUUM, this TRADES history for space: time travel to
    versions whose files were reclaimed stops working (RESTORE
    detects the gap loudly — `restore target file vanished`), so
    the op is explicit and supports ``dry_run``. The ``_delta_log``
    itself is never touched. Returns the deleted (or would-delete)
    paths, table-relative."""
    import uuid as uuidmod

    from distributed_computing_projects_spark.sources import (
        deltadv as DVC,
    )

    snap = resolve_snapshot(spark, table_path)
    keep = {os.path.relpath(p, table_path) for p, _pv in snap.files}
    for desc in snap.dvs.values():
        if desc.get("storageType") == "u":
            tok = desc["pathOrInlineDv"]
            uid = uuidmod.UUID(bytes=DVC.z85_decode(tok[-20:]))
            keep.add(DVC.dv_file_name(tok[:-20], uid))
        elif desc.get("storageType") == "p":
            rel = os.path.relpath(desc["pathOrInlineDv"],
                                  table_path)
            if not rel.startswith(".."):
                keep.add(rel)
    doomed = []
    for root, dirs, names in os.walk(table_path):
        rel_root = os.path.relpath(root, table_path)
        if rel_root.split(os.sep)[0] == "_delta_log":
            continue
        dirs[:] = [d for d in dirs if d != "_delta_log"
                   and not d.startswith("_staging-")]
        for name in names:
            if not (name.endswith(".parquet")
                    or name.endswith(".bin")):
                continue
            rel = (os.path.join(rel_root, name)
                   if rel_root != "." else name)
            if rel not in keep:
                doomed.append(rel)
    doomed.sort()
    if not dry_run:
        for rel in doomed:
            os.remove(os.path.join(table_path, rel))
        # prune now-empty partition dirs (cosmetic, bounded)
        for root, dirs, names in os.walk(table_path, topdown=False):
            if root != table_path and not dirs and not names:
                os.rmdir(root)
    return doomed


def restore_version(spark: SparkSession, table_path: str,
                    version: int) -> int:
    """RESTORE the table to its state at ``version`` — as a NEW
    commit (history is append-only; the restored-over commits stay
    time-travelable): files active now but not at the target are
    removed, files active at the target but not now (or carrying a
    DIFFERENT deletion vector now) are re-added with the target's
    partition values and DV, and the target's metaData re-commits
    when it differs (a post-target schema change rolls back too).
    Data files are never touched — a restore is a KB-sized log
    write. Returns the new version."""
    target = resolve_snapshot(spark, table_path, version)
    current = resolve_snapshot(spark, table_path)
    cur_state = {os.path.relpath(p, table_path):
                 (pv, current.dvs.get(p)) for p, pv in current.files}
    tgt_state = {os.path.relpath(p, table_path):
                 (pv, target.dvs.get(p)) for p, pv in target.files}
    actions: list[dict] = []
    if target.meta != current.meta and target.meta is not None:
        actions.append({"metaData": target.meta})
    for rel in sorted(set(cur_state) - set(tgt_state)):
        actions.append(remove_action(rel))
    for rel, (pv, dv) in sorted(tgt_state.items()):
        if cur_state.get(rel) != (pv, dv):
            missing = os.path.join(table_path, rel)
            if not os.path.exists(missing):
                raise ValueError(
                    f"restore target file vanished (vacuumed?): "
                    f"{rel}")
            actions.append(add_action(
                rel, pv, os.path.getsize(missing),
                deletion_vector=dv))
    if not actions:
        return current.version  # already at the target state
    while True:
        v = _next_version(table_path)
        if _commit_exclusive(table_path, v, actions):
            return v


def write_delta(df: DataFrame, table_path: str,
                partition_by: list[str] | None = None,
                mode: str = "append") -> int:
    """Delta SINK: make engine exports TRANSACTIONAL — data files
    stage through Spark's parquet writer, then ONE atomic
    put-if-absent commit publishes them, so a failed or torn export
    is invisible to every reader (the seekable-sink discipline,
    lifted to table level). ``mode='overwrite'`` additionally
    tombstones the previous snapshot's files in the same commit.
    Returns the committed version. Appends verify the schema matches
    the table's metaData (a silent widen would corrupt every later
    read); the first commit writes protocol+metaData."""
    import shutil
    import uuid as uuidmod

    spark = df.sparkSession
    part_cols = list(partition_by or [])
    os.makedirs(table_path, exist_ok=True)
    schema = df.schema
    existing_version = _next_version(table_path)
    if existing_version > 0:
        snap = resolve_snapshot(spark, table_path)
        want = snap.schema_json
        have = schema.jsonValue()
        if want != have:
            raise ValueError(
                "delta append schema mismatch: table "
                f"{json.dumps(want)} vs dataframe "
                f"{json.dumps(have)}")
        if part_cols != snap.partition_columns:
            raise ValueError(
                f"delta append partitioning mismatch: table "
                f"{snap.partition_columns} vs {part_cols}")

    stage = os.path.join(table_path,
                         f"_staging-{uuidmod.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(stage)

    adds = []
    n = 0
    for root, _dirs, names in os.walk(stage):
        for name in sorted(names):
            if not (name.startswith("part-")
                    and name.endswith(".parquet")):
                continue
            rel_dir = os.path.relpath(root, stage)
            pv = {}
            if rel_dir != ".":
                for piece in rel_dir.split(os.sep):
                    col, _, raw = piece.partition("=")
                    pv[col] = (None
                               if raw == "__HIVE_DEFAULT_PARTITION__"
                               else urllib.parse.unquote(raw))
            uniq = f"part-{uuidmod.uuid4().hex}-{n:05d}.parquet"
            rel = os.path.join(rel_dir, uniq) if rel_dir != "." \
                else uniq
            dest = os.path.join(table_path, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.replace(os.path.join(root, name), dest)
            adds.append(add_action(rel.replace(os.sep, "/"), pv,
                                   os.path.getsize(dest)))
            n += 1
    shutil.rmtree(stage, ignore_errors=True)

    while True:
        version = _next_version(table_path)
        actions: list[dict] = []
        if version == 0:
            actions += [protocol_action(),
                        metadata_action(schema, part_cols)]
        if mode == "overwrite" and version > 0:
            snap = resolve_snapshot(spark, table_path)
            actions += [
                remove_action(os.path.relpath(p, table_path))
                for p, _pv in snap.files]
        actions += adds
        if _commit_exclusive(table_path, version, actions):
            return version
