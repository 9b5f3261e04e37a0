"""Apache Hudi Copy-on-Write table reader — from the public storage
layout and timeline documentation (hudi.apache.org/docs/timeline /
file_layouts; the layout is stable across the 0.x line) — the third
lakehouse table format, completing the triad next to Delta
(`sources/deltalake.py`, incremental log replay) and Iceberg
(`sources/iceberg.py`, self-contained snapshot listings). Hudi's
structure is the third distinct shape: a TIMELINE of instants plus
FILE GROUPS, where each commit writes a new VERSION of a file group
and a snapshot read takes the latest committed version of each.

Read path:

- ``.hoodie/hoodie.properties`` gates the read:
  ``hoodie.table.type`` must be ``COPY_ON_WRITE`` (MERGE_ON_READ
  needs log-file merging — refusing is the only correct read), and
  the classic flat timeline layout must be present (a
  ``.hoodie/timeline/`` dir — the 1.x layout — refuses rather than
  silently reading an empty timeline).
- The timeline is files named ``<instant>.<action>[.<state>]``:
  only COMPLETED instants count (``<instant>.commit`` /
  ``.replacecommit`` — a bare action suffix; ``.requested`` and
  ``.inflight`` states are invisible, so a torn writer can never
  publish). ``as_of=`` time travel replays only instants ≤ the
  requested timestamp — Hudi instants are lexicographically ordered
  timestamps, so the replay is a sorted prefix.
- Completed commit JSON (``HoodieCommitMetadata``) carries
  ``partitionToWriteStats``: per partition, the written files'
  ``fileId`` + ``path``. Replaying in instant order keeps, per file
  group (fileId), the LATEST committed base file — an UPDATE
  rewrites the group, and the superseded file stays on disk
  (reading the directory double-counts; the engine never does).
- ``replacecommit`` additionally carries
  ``partitionToReplaceFileIds``: those groups are REMOVED first
  (clustering / insert_overwrite / delete_partition), then its own
  writes apply.

Scan shape (the 100 TB properties): the resolved file list reads in
ONE native parquet FileScan with the caller's DDL pinned; Hudi CoW
base files contain full rows (including Hudi's ``_hoodie_*`` meta
columns, which the DDL simply does not select — column pruning drops
them at the scan). Timeline I/O is a few KB of JSON driver-side;
data I/O is all JVM-side, columnar, predicate-pushdown intact.

Reference: extension surface (the reference stores flat files in
SDFS, mp3/src/sdfsmaster.go; table formats are beyond it).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import local_frame

_COMPLETED_RE = re.compile(r"^(\d+)\.(commit|replacecommit)$")


def _read_properties(path: str) -> dict:
    props = {}
    with open(path, "r", encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            if "=" in line:
                k, v = line.split("=", 1)
                props[k.strip()] = v.strip()
    return props


def resolve_files(table_path: str,
                  as_of: str | None = None) -> list[str]:
    """Active base-file paths for a snapshot (or ``as_of`` instant)
    read of one CoW table; policy per the module docstring."""
    hoodie = os.path.join(table_path, ".hoodie")
    props = _read_properties(os.path.join(hoodie,
                                          "hoodie.properties"))
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype != "COPY_ON_WRITE":
        raise ValueError(
            f"unsupported hudi table type {ttype!r}: MERGE_ON_READ "
            f"needs log-file merging; reading base files alone "
            f"returns stale rows — refusing")
    if os.path.isdir(os.path.join(hoodie, "timeline")):
        raise ValueError(
            "hudi 1.x timeline layout (.hoodie/timeline/) not "
            "supported; refusing rather than reading an empty "
            "classic timeline")

    instants = []
    for name in os.listdir(hoodie):
        m = _COMPLETED_RE.match(name)
        if m:
            instants.append((m.group(1), m.group(2),
                             os.path.join(hoodie, name)))
    instants.sort()  # instant times are lexicographic timestamps
    if as_of is not None:
        kept = [i for i in instants if i[0] <= as_of]
        if not kept and instants:
            raise ValueError(
                f"no hudi instant at or before {as_of!r}")
        instants = kept

    groups: dict[str, tuple[str, str]] = {}  # fileId -> (t, path)
    for t, action, path in instants:
        with open(path, "r", encoding="utf-8") as f:
            try:
                meta = json.load(f)
            except json.JSONDecodeError:
                # some writers leave completed markers empty for
                # no-op actions; an unreadable COMMIT is not safe
                # to skip silently
                raise ValueError(
                    f"unreadable hudi commit metadata {path}")
        if action == "replacecommit":
            for fids in (meta.get("partitionToReplaceFileIds")
                         or {}).values():
                for fid in fids:
                    groups.pop(fid, None)
        for stats in (meta.get("partitionToWriteStats")
                      or {}).values():
            for st in stats:
                fid = st.get("fileId")
                rel = st.get("path")
                if not fid or not rel:
                    raise ValueError(
                        f"hudi write stat without fileId/path in "
                        f"{path}")
                prev = groups.get(fid)
                if prev is None or t >= prev[0]:
                    groups[fid] = (t, os.path.join(table_path, rel))
    return sorted(p for _t, p in groups.values())


def read_hudi(spark: SparkSession, table_path: str, ddl: str,
              as_of: str | None = None) -> DataFrame:
    """DataFrame over one Hudi CoW table's committed snapshot.
    ``ddl`` pins the columns to read (Hudi's ``_hoodie_*`` meta
    columns prune away unless asked for); ``as_of`` time-travels to
    the latest instant at or before the given timestamp string."""
    from pyspark.sql.types import StructType

    files = resolve_files(table_path, as_of)
    schema = StructType.fromDDL(ddl)
    order = [f.name for f in schema.fields]
    if not files:
        return local_frame(spark, [], schema).select(*order)
    return spark.read.schema(schema).parquet(*files).select(*order)


def clean(table_path: str, dry_run: bool = False) -> list[str]:
    """The CLEANER service for CoW tables — Hudi's space-reclaim op,
    completing the maintenance triad with ``deltalake.vacuum`` and
    ``iceberg.expire_snapshots``: parquet files in the partition
    dirs that the CURRENT snapshot does not reference delete from
    disk — superseded file-group versions an UPDATE left behind,
    groups a replacecommit removed, and torn writers' litter (a
    data file whose instant never completed). ``.hoodie/`` is never
    touched, so the timeline itself stays intact; like the real
    cleaner this trades as-of time travel to cleaned instants for
    space (the read refuses loudly when an as-of file is gone —
    Spark's scan raises on the missing path rather than silently
    shrinking). Returns the deleted (or would-delete) paths,
    table-relative."""
    active = {os.path.relpath(p, table_path)
              for p in resolve_files(table_path)}
    doomed = []
    for root, dirs, names in os.walk(table_path):
        rel_root = os.path.relpath(root, table_path)
        if rel_root.split(os.sep)[0] == ".hoodie":
            continue
        dirs[:] = [d for d in dirs if d != ".hoodie"]
        for name in names:
            if not name.endswith(".parquet"):
                continue
            rel = (os.path.join(rel_root, name)
                   if rel_root != "." else name)
            if rel not in active:
                doomed.append(rel)
    doomed.sort()
    if not dry_run:
        for rel in doomed:
            os.remove(os.path.join(table_path, rel))
        for root, dirs, names in os.walk(table_path, topdown=False):
            if root != table_path and not dirs and not names:
                os.rmdir(root)
    return doomed


# ----------------------------------------------------- builder twin
# Spec-shaped writers for fixtures and engine exports; the reader
# parses only what real Hudi writers leave on disk.


def init_table(table_path: str, name: str = "fixture",
               table_type: str = "COPY_ON_WRITE",
               recordkey_fields: str | None = None) -> None:
    hoodie = os.path.join(table_path, ".hoodie")
    os.makedirs(hoodie, exist_ok=True)
    with open(os.path.join(hoodie, "hoodie.properties"), "w",
              encoding="utf-8") as f:
        f.write("#Updated at fixture build\n")
        f.write(f"hoodie.table.name={name}\n")
        f.write(f"hoodie.table.type={table_type}\n")
        f.write("hoodie.table.version=6\n")
        f.write("hoodie.timeline.layout.version=1\n")
        if recordkey_fields:
            f.write(f"hoodie.table.recordkey.fields="
                    f"{recordkey_fields}\n")


def commit_instant(table_path: str, instant: str,
                   write_stats: dict[str, list[dict]],
                   replace_file_ids: dict[str, list[str]]
                   | None = None,
                   action: str | None = None) -> None:
    """One completed instant: requested + inflight markers (the real
    writer's lifecycle) then the completed metadata, atomically.
    ``action`` overrides for MOR fixtures (``deltacommit``)."""
    hoodie = os.path.join(table_path, ".hoodie")
    if action is None:
        action = "replacecommit" if replace_file_ids else "commit"
    for state in ("requested", "inflight"):
        marker = os.path.join(hoodie, f"{instant}.{action}.{state}")
        with open(marker, "w", encoding="utf-8"):
            pass
    meta = {"partitionToWriteStats": write_stats,
            "operationType": "UPSERT"}
    if replace_file_ids:
        meta["partitionToReplaceFileIds"] = replace_file_ids
    final = os.path.join(hoodie, f"{instant}.{action}")
    tmp = final + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    os.replace(tmp, final)
    for state in ("requested", "inflight"):
        os.remove(os.path.join(hoodie, f"{instant}.{action}.{state}"))


def base_file_name(file_id: str, instant: str,
                   write_token: str = "1-0-1") -> str:
    return f"{file_id}_{write_token}_{instant}.parquet"
