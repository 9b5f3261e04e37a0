"""Pipeline / dataset-engineering query family: JSONL ingest, deterministic splits + stratified sampling, sequence packing, token-window chunking, corpus shuffle, and the end-to-end training-corpus summary. Split from extensions.py (round 7); shared fragments in ext_fragments."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from distributed_computing_projects_spark.functions import text as T
from distributed_computing_projects_spark.operators import dedup as D
from distributed_computing_projects_spark.operators import multimodal as M
from distributed_computing_projects_spark.operators import sampling as SP
from distributed_computing_projects_spark.operators import similarity as S
from distributed_computing_projects_spark.operators import textstats as X
from distributed_computing_projects_spark.queries import query
from distributed_computing_projects_spark.sources.registry import load_table
from distributed_computing_projects_spark.queries.ext_fragments import (
    _BAND_SELECTS,
    _BAND_SELECTS_SRC,
    _CHUNK_STEP,
    _ECHO_UNION,
    _HASHES_D,
    _INCR_EPOCHS_ORACLE,
    _INCR_ORACLE,
    _LSH_CTES,
    _N_EQ_D,
    _SH_D,
    _SIG_D,
    _THASHES_D,
    _TOKS_D,
    ANN_K,
    ANN_PROBE_HAMMING,
    ANN_QUERY_VEC,
    CHUNK_OVERLAP,
    CHUNK_TOKENS,
    COSINE_THRESHOLD,
    ECHO_EVERY,
    ECHO_OFFSET,
    EPOCH2_SOURCE,
    GATE_MIN_DISTINCT,
    GATE_MIN_TOKENS,
    INCR_BATCH_SOURCE,
    JACCARD_THRESHOLD,
    MINHASH_THRESHOLD,
    SIMHASH_MAX_HAMMING,
)


_JSONL_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures", "events_jsonl",
)


JSONL_EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


@query(
    "jsonl_events_agg",
    oracle=f"""
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM read_ndjson('{_JSONL_DIR}/*.jsonl',
      columns={{'event_id': 'BIGINT', 'user_id': 'BIGINT',
                'event_type': 'VARCHAR', 'value': 'DOUBLE'}},
      ignore_errors=true)
    WHERE event_id IS NOT NULL
    GROUP BY event_type
    """,
    doc="JSONL source end-to-end over a fixture that interleaves "
        "truncated objects, bare garbage, and non-object JSON: per-line "
        "from_json with malformed-record DROP (sources/json.py, the "
        "CSV-source policy applied to JSONL), then a filter-aggregate. "
        "DuckDB's ignore_errors NULLs whole failed rows instead of "
        "dropping them, so the oracle filters event_id IS NOT NULL — "
        "both engines then see exactly the 11 well-formed records.",
)
def q_jsonl_events_agg(spark, sf_dir):
    from distributed_computing_projects_spark.sources.json import read_jsonl

    ev = read_jsonl(spark, f"{_JSONL_DIR}/*.jsonl", JSONL_EVENTS_SCHEMA)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
        .alias("total_value"),
    )


def _session_scratch(spark, family: str, sf_dir: str) -> str:
    """Per-session scratch dir for roundtrip queries. applicationId
    suffix: two concurrent sessions on one box must not race the
    overwrite of a shared path. The unique path is never overwritten
    again, so siblings left by dead sessions are reaped here (the
    returned DataFrame reads OUR dir lazily, so only siblings are
    candidates; the one-hour age guard keeps a genuinely concurrent
    live session's dir safe)."""
    import shutil
    import tempfile
    import time

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    prefix = f"dcp_{family}_{sf_tag}_"
    path = os.path.join(
        tempfile.gettempdir(), prefix + spark.sparkContext.applicationId
    )
    cutoff = time.time() - 3600
    for name in os.listdir(tempfile.gettempdir()):
        full = os.path.join(tempfile.gettempdir(), name)
        if name.startswith(prefix) and name != os.path.basename(path):
            try:
                if os.path.getmtime(full) < cutoff:
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass
    return path


def _events_roundtrip_facts(back):
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
        .alias("total_value"),
        F.sum("user_id").cast("bigint").alias("sum_user"),
    )


# ------------------------------------------------ pyarrow staging
# Driver-side fixture staging for the lakehouse landing builders
# (r16 optimization round): the staged tables are KBs-to-MBs of an
# events subset, and staging them through Spark write jobs cost
# 0.3-0.5 s of fixed job latency PER FILE SET — the dominant term of
# every lakehouse bench entry after the coalesce(1) fix, none of it
# work a real table's reader pays (measured in round 16 with a
# per-stage attribution script, since replaced by `profile`).
# pyarrow writes the same parquet driver-side in milliseconds, and
# is ALSO the better differential fixture: the engine's Spark-native
# read paths now scan parquet produced by an independent writer
# rather than by Spark itself. The READ side of every query is
# unchanged and stays Spark-native. At the SCALE-stress 100x factor
# the staged subsets are ~10^6 rows — comfortably driver-sized (the
# same bound the builders' own driver-side log/manifest staging
# already assumes).


def _pa_events_subset(sf_dir, mod, rem, cols):
    """events.parquet filtered to ``event_id % mod == rem`` (no
    filter when ``mod`` is None) and projected to ``cols``, as a
    pyarrow Table (driver-side)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"),
                      columns=list(cols))
    if mod is None:
        return t
    eid = t.column("event_id").to_numpy()
    return t.filter(pa.array(eid % mod == rem))


def _pa_col_eq(tbl, col, value):
    """tbl rows where ``col == value`` (pyarrow compute filter)."""
    import pyarrow.compute as pc

    return tbl.filter(pc.equal(tbl.column(col), value))


def _pa_halves(tbl):
    """The fixture's two-files-per-partition split: rows with even /
    odd event_id. (The former ``repartition(2, event_id % 2)`` hash
    split happened to land BOTH parities in one task — Murmur3 of 0
    and 1 agree mod 2 — so the old layout quietly wrote one file per
    partition; this split makes the documented two-files shape real.
    Only the file-level grouping changes — every reader resolves
    files through its log or manifest, and the row SET per partition
    is unchanged.)"""
    import pyarrow as pa

    eid = tbl.column("event_id").to_numpy()
    return [tbl.filter(pa.array(eid % 2 == h)) for h in (0, 1)]


def _pa_write(tbl, dest, field_ids=None):
    """Write one parquet file; returns its size. ``field_ids``
    (name -> int) stamps parquet field ids the way the Spark writer
    does for ``parquet.field.id`` column metadata — required for
    spec-conformant Iceberg data files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if field_ids:
        schema = pa.schema([
            pa.field(f.name, f.type, f.nullable,
                     {b"PARQUET:field_id":
                      str(field_ids[f.name]).encode()})
            for f in tbl.schema])
        tbl = pa.table(tbl.columns, schema=schema)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    pq.write_table(tbl, dest)
    return os.path.getsize(dest)


def _pa_rows(tbl):
    """The table as a list of per-row dicts (fixture log staging)."""
    return tbl.to_pylist()


def _pa_jsonl_shards(sf_dir, mod, rem, cols, n_shards, ts_us=None):
    """The events subset as ``n_shards`` JSONL line lists (bytes),
    sharded by ``event_id % n_shards`` — replaces the former
    write.json Spark job + driver re-read for the container fixture
    builders. None fields are omitted (the Spark json writer's
    convention); numeric round-trip is value-identical either way
    (shortest-repr doubles parse to the same IEEE value). Every
    consumer projects per RECORD, so shard membership cannot affect
    any result hash. Empty shards are dropped (the Spark writer
    skipped empty partitions the same way).

    ``ts_us``: optional output field name for events.ts floored to
    epoch MICROSECONDS — the ``unix_micros(cast(ts as timestamp))``
    the former Spark staging selects computed (events.ts is
    TIMESTAMP(NANOS) in parquet at µs resolution; int64 ns floor-div
    1000 is the identical value, pre-epoch included)."""
    import json as jsonmod

    import pyarrow as pa

    read_cols = list(cols) + (["ts"] if ts_us else [])
    tbl = _pa_events_subset(sf_dir, mod, rem, read_cols)
    ts_vals = None
    if ts_us:
        # normalize whatever unit the file's arrow type carries to µs
        # (floor division — pre-epoch safe, matches unix_micros)
        unit = tbl.column("ts").type.unit
        div = {"s": None, "ms": None, "us": 1, "ns": 1000}[unit]
        raw = tbl.column("ts").cast(pa.int64()).to_numpy()
        if div is None:
            mul = {"s": 1_000_000, "ms": 1_000}[unit]
            ts_vals = raw * mul
        else:
            ts_vals = raw // div
        tbl = tbl.drop_columns(["ts"])
    shards: list[list[bytes]] = [[] for _ in range(n_shards)]
    for i, r in enumerate(tbl.to_pylist()):
        if ts_vals is not None:
            r[ts_us] = int(ts_vals[i])
        line = jsonmod.dumps(
            {k: v for k, v in r.items() if v is not None},
            separators=(",", ":")).encode()
        shards[r["event_id"] % n_shards].append(line)
    return [s for s in shards if s]



@query(
    "orc_events_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(user_id) AS BIGINT) AS sum_user
    FROM events GROUP BY event_type
    """,
    doc="ORC source/sink roundtrip — the other columnar warehouse "
        "format Spark reads natively (vectorized reader, predicate "
        "pushdown, hive-partition pruning — all the parquet machinery; "
        "a user migrating ORC warehouses needs the engine to ingest "
        "them as-is): events write to ORC partitioned by event_type, "
        "read back, and aggregate; ORC is lossless so the facts must "
        "hash-match the parquet-side oracle exactly. Partition-pruned "
        "filtered reads over the same store are plan-asserted in "
        "tests/test_plans.py.",
)
def q_orc_events_roundtrip(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _session_scratch(spark, "orc_events", sf_dir)
    ev.write.mode("overwrite").partitionBy("event_type").orc(path)
    return _events_roundtrip_facts(spark.read.orc(path))


@query(
    "parquet_zstd_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(user_id) AS BIGINT) AS sum_user
    FROM events GROUP BY event_type
    """,
    doc="Zstd-compressed parquet sink/source roundtrip — the default "
        "lake format at warehouse scale today (zstd beats snappy "
        "~1.3-1.5x on size at comparable scan speed, which at 100 TB "
        "is tens of TB of storage and scan IO): events write to "
        "parquet with compression=zstd partitioned by event_type "
        "(JVM-side codec — no Python zstd needed, unlike .warc.zst), "
        "read back, and aggregate; the codec is lossless so the facts "
        "must hash-match the oracle on the uncompressed source "
        "exactly. The companion pytest asserts the written files "
        "really are ZSTD-compressed via the parquet footer, so the "
        "option can never silently fall back.",
)
def q_parquet_zstd_roundtrip(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _session_scratch(spark, "pq_zstd_events", sf_dir)
    (ev.write.mode("overwrite").option("compression", "zstd")
     .partitionBy("event_type").parquet(path))
    return _events_roundtrip_facts(spark.read.parquet(path))


_CJSONL_ORACLE = """
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 3 = 0
    """


_CJSONL_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _build_cjsonl_landing(spark, sf_dir, ext, family):
    """Fixture stage shared by the batch and streaming compressed-
    JSONL queries: stage a deterministic events subset as plain JSONL
    shards (Spark json writer), compress each shard into the target
    container — zstd as CONCATENATED FRAMES (one per 1000 lines, the
    appendable layout corpus tooling produces), xz as two
    concatenated streams — with a syntactically malformed line
    injected at the head and tail of every shard. Returns (work,
    landing)."""
    import shutil

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    # driver-side pyarrow staging — see "pyarrow staging" above
    shard_lines = _pa_jsonl_shards(
        sf_dir, 3, 0, ("event_id", "user_id", "event_type", "value"),
        4)
    os.makedirs(landing)

    if ext == "zst":
        from distributed_computing_projects_spark.sources.warc import (
            zstd_backend,
        )
        backend = zstd_backend()
        if backend is None:
            raise RuntimeError(
                "no zstd backend (sources/warc.zstd_backend)")
        compress = backend[0]

        def pack(lines):
            frames = []
            for i in range(0, len(lines), 1000):
                frames.append(compress(b"\n".join(lines[i:i + 1000])
                                       + b"\n"))
            return b"".join(frames)
    else:
        import lzma

        def pack(lines):
            half = max(1, len(lines) // 2)
            return (lzma.compress(b"\n".join(lines[:half]) + b"\n")
                    + lzma.compress(b"\n".join(lines[half:]) + b"\n"))

    for i, lines in enumerate(shard_lines):
        lines = list(lines)
        lines.insert(0, b'{"event_id": 999999999, "user_id": tru')
        lines.append(b"not json at all")
        with open(os.path.join(landing, f"part-{i}.jsonl.{ext}"),
                  "wb") as f:
            f.write(pack(lines))
    return work, landing


def _compressed_jsonl_scan(spark, sf_dir, ext):
    """Shared body of jsonl_{zst,xz}_scan: build the landing fixture
    (:func:`_build_cjsonl_landing`), read it back through
    read_jsonl_compressed. The result is the per-record projection,
    so shard grouping cannot affect the hash, and the injected
    garbage must be dropped by the malformed policy for the oracle
    (the uncompressed source table) to match."""
    from distributed_computing_projects_spark.sources.json import (
        read_jsonl_compressed,
    )

    _, landing = _build_cjsonl_landing(spark, sf_dir, ext,
                                       f"jsonl_{ext}")
    back = read_jsonl_compressed(
        spark, landing, _CJSONL_SCHEMA, malformed="drop")
    return back.select("event_id", "user_id", "event_type", "value")


@query(
    "jsonl_zst_scan",
    headline=True,
    oracle=_CJSONL_ORACLE,
    doc="Zstd JSONL shard ingest (.jsonl.zst) — the format modern LLM "
        "training corpora actually publish (Dolma, RedPajama-v2, the "
        "Common Crawl text derivatives), and one Spark CANNOT read "
        "natively: this container's Hadoop codec registry raises "
        "CODEC_NOT_AVAILABLE for zstd text (verified; only "
        "gzip/bzip2/deflate/lz4/snappy exist). The engine's own path "
        "(sources/compressed.py): binaryFile scan with per-file "
        "parallelism, incremental bounded decode through the libzstd "
        "ctypes backend's bz2-style contract — concatenated frames "
        "walk seamlessly, a torn stream keeps complete lines before "
        "the tear, an oversize line drops in O(1) memory — then the "
        "SAME from_json parse stage and malformed-drop policy as the "
        "plain JSONL source. The fixture compresses an events subset "
        "frame-per-1000-lines with malformed lines injected per "
        "shard; the per-record result must hash-match the "
        "uncompressed source table, so frame walking, line "
        "reassembly across frame boundaries, AND the drop policy are "
        "all on the hash path.",
)
def q_jsonl_zst_scan(spark, sf_dir):
    return _compressed_jsonl_scan(spark, sf_dir, "zst")


@query(
    "jsonl_xz_scan",
    oracle=_CJSONL_ORACLE,
    doc="XZ JSONL shard ingest (.jsonl.xz) — the other "
        "no-Hadoop-codec shard format (academic corpus dumps ship "
        "xz): the same walker as jsonl_zst_scan through stdlib "
        "lzma's LZMADecompressor (the contract the zstd binding "
        "emulates — one conformance surface, three backends). Each "
        "fixture shard is TWO concatenated xz streams, so the "
        "stream-boundary restart and unused_data handoff are on the "
        "hash path alongside the malformed-line drops.",
)
def q_jsonl_xz_scan(spark, sf_dir):
    return _compressed_jsonl_scan(spark, sf_dir, "xz")


_SEEK_ORACLE = """
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 3 = 2
    """


def _build_seekable_landing(spark, sf_dir, family):
    """Fixture stage for the seekable-zstd query: stage an events
    subset as JSONL, concatenate MOST shards into ONE seekable .zst
    whose frames cut at arbitrary 4 KiB byte positions (deliberately
    mid-line — the split protocol is the thing under test), keep the
    last shard as a plain NON-seekable .zst (the per-file fallback on
    the same hash path), and inject a malformed line at the head and
    tail of each stream. Returns (work, landing)."""
    import shutil

    from distributed_computing_projects_spark.sources import (
        zstdseek as ZS,
    )
    from distributed_computing_projects_spark.sources.warc import (
        zstd_backend,
    )

    backend = zstd_backend()
    if backend is None:
        raise RuntimeError("no zstd backend (sources/warc)")
    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    # driver-side pyarrow staging — see "pyarrow staging" above
    shard_lines = _pa_jsonl_shards(
        sf_dir, 3, 2, ("event_id", "user_id", "event_type", "value"),
        4)
    os.makedirs(landing)
    big = shard_lines[:-1] or shard_lines
    rest = shard_lines[-1] if len(shard_lines) > 1 else []
    big_lines = [b'{"event_id": 999999999, "user_id": tru']
    for chunk in big:
        big_lines.extend(chunk)
    big_lines.append(b"not json at all")
    with open(os.path.join(landing, "big.jsonl.zst"), "wb") as f:
        f.write(ZS.write_seekable(b"\n".join(big_lines) + b"\n",
                                  frame_bytes=1 << 12))
    if rest:
        tail = [b'{"event_id": 999999998, "user_id": fal'] + rest \
            + [b"still not json"]
        with open(os.path.join(landing, "plain.jsonl.zst"), "wb") as f:
            f.write(backend[0](b"\n".join(tail) + b"\n"))
    return work, landing


@query(
    "jsonl_zst_seekable_scan",
    headline=True,
    oracle=_SEEK_ORACLE,
    doc="Zstd SEEKABLE-format splittable ingest (sources/zstdseek.py) "
        "— the answer to the one scale caveat the per-file .zst walk "
        "carries (a single over-large shard is ONE task no matter how "
        "many executors idle): the public seekable format's skippable-"
        "frame seek table lets one huge .jsonl.zst split across tasks "
        "at frame boundaries, with Hadoop's text-split protocol in "
        "decompressed coordinates — a split owns the lines STARTING "
        "in its frame range, skips through its first newline unless "
        "at offset 0, and extends its last line into following frames "
        "until it terminates. The fixture's frames cut every 4 KiB "
        "mid-LINE on purpose, so the skip/extend protocol itself is "
        "on the hash path (any off-by-one duplicates or loses a "
        "boundary line); a plain non-seekable .zst shard rides "
        "alongside through the whole-file fallback, and malformed "
        "head/tail lines exercise the same from_json drop policy as "
        "every JSONL producer. Plan-time cost is one bounded tail "
        "read per file — the Hadoop split-computation shape.",
)
def q_jsonl_zst_seekable_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        zstdseek as ZS,
    )

    _, landing = _build_seekable_landing(spark, sf_dir,
                                         "jsonl_seek")
    back = ZS.read_jsonl_zst_seekable(
        spark, landing, _CJSONL_SCHEMA, malformed="drop")
    return back.select("event_id", "user_id", "event_type", "value")


def _build_bson_landing(spark, sf_dir, family):
    """Fixture stage for the BSON query: stage an events subset as
    JSONL, encode each shard as one mongodump-layout .bson with the
    decoy set — a size-framed document with an UNKNOWN element type
    at the head (record-granular drop, walk continues: the frame is
    still trusted), a writer-only nested field on every document, a
    torn EXTRA document at the tail (complete documents before it
    survive), and one junk non-BSON file. Returns (work, landing)."""
    import json as jsonmod
    import shutil
    import struct as structmod

    from distributed_computing_projects_spark.sources import (
        bsonfile as BS,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    shard_lines = _pa_jsonl_shards(
        sf_dir, 7, 6, ("event_id", "user_id", "event_type", "value"), 4)
    os.makedirs(landing)
    bad_body = bytes([0xEE]) + b"poison\x00"  # unknown element type
    bad_doc = structmod.pack("<i", len(bad_body) + 5) \
        + bad_body + b"\x00"
    for i, lines in enumerate(shard_lines):
        recs = [jsonmod.loads(ln) for ln in lines]
        docs = [{"event_id": r["event_id"], "user_id": r["user_id"],
                 "event_type": r["event_type"],
                 "value": r.get("value"),
                 "meta": {"writer": "only", "n": i}} for r in recs]
        torn = BS.build_bson_doc({"event_id": 999_000_000 + i})[:-3]
        with open(os.path.join(landing, f"part-{i}.bson"), "wb") as f:
            f.write(bad_doc + BS.build_bson_dump(docs) + torn)
    with open(os.path.join(landing, "junk.bson"), "wb") as f:
        f.write(b"this is not bson" * 3)
    return work, landing


@query(
    "bson_events_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 7 = 6
    """,
    doc="BSON dump ingest (sources/bsonfile.py) — the .bson files "
        "mongodump writes (MongoDB archives are a real corpus "
        "source: forum dumps, product catalogs, scraped-site "
        "databases), which nothing in Spark reads: a pure-stdlib "
        "walk of the public BSON 1.1 spec — size-framed documents "
        "concatenated with no container header, elements decoded by "
        "type byte (int32/int64/double/string/bool/null/binary/"
        "ObjectId/datetime/embedded docs/arrays), DDL-by-name "
        "resolution with per-cell nulling adapters. Drop granularity "
        "is frame-derived like TFRecord: a document whose ELEMENTS "
        "are malformed drops record-granularly (the leading size "
        "still locates the next document — the fixture plants an "
        "unknown-type decoy at every shard head), while an absurd "
        "size or torn tail stops the stream keeping complete "
        "documents (a truncated extra document rides every shard "
        "tail). Writer-only nested fields are discarded; BSON "
        "doubles are IEEE 8-byte so value survives bit-exact.",
)
def q_bson_events_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        bsonfile as BS,
    )

    _, landing = _build_bson_landing(spark, sf_dir, "bson_events")
    back = BS.read_bson(
        spark, landing,
        "event_id bigint, user_id bigint, event_type string, "
        "value double")
    return back.select("event_id", "user_id", "event_type", "value")


def _build_xzblocks_landing(spark, sf_dir, family):
    """Fixture stage for the multi-block xz query: most shards into
    ONE multi-block .jsonl.xz (4 KiB blocks cut mid-line, CRC32
    check), the last shard as SINGLE-block plain lzma.compress (the
    whole-file fallback), malformed lines at head and tail of both.
    Returns (work, landing)."""
    import lzma as lzmod
    import shutil

    from distributed_computing_projects_spark.sources import (
        xzseek as XZ,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    shard_lines = _pa_jsonl_shards(
        sf_dir, 7, 5, ("event_id", "user_id", "event_type", "value"), 4)
    os.makedirs(landing)
    big = shard_lines[:-1] or shard_lines
    rest = shard_lines[-1] if len(shard_lines) > 1 else []
    big_lines = [b'{"event_id": 999999999, "user_id": tru']
    for chunk in big:
        big_lines.extend(chunk)
    big_lines.append(b"not json at all")
    with open(os.path.join(landing, "big.jsonl.xz"), "wb") as f:
        f.write(XZ.write_multiblock_xz(b"\n".join(big_lines) + b"\n",
                                       block_bytes=1 << 12))
    if rest:
        tail = [b'{"event_id": 999999998, "user_id": fal'] + rest \
            + [b"still not json"]
        with open(os.path.join(landing, "plain.jsonl.xz"), "wb") as f:
            f.write(lzmod.compress(b"\n".join(tail) + b"\n"))
    return work, landing


@query(
    "jsonl_xz_blocks_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 7 = 5
    """,
    doc="Multi-block XZ splittable ingest (sources/xzseek.py) — the "
        "THIRD splittable container on the one split protocol: "
        "xz -T0 (how anyone compresses a big file on a multi-core "
        "box) writes a multi-BLOCK stream whose tail index records "
        "every block's compressed AND decompressed size, so the big "
        ".jsonl.xz shards in the wild are usually splittable already "
        "— the engine now exploits it. Per-block decode runs "
        "containerless: a _BlockDecompressor parses the block "
        "header, decodes raw LZMA2 through FORMAT_RAW (max_length "
        "honored — the bomb-bound discipline), verifies CRC32/SHA256 "
        "checks (CRC64 parsed, not verified — no stdlib CRC64; "
        "LZMA2's own structure fails corrupt data loudly), and hands "
        "the rest back as unused_data — satisfying the SAME "
        "concatenated-frames contract the seekable-zstd walker "
        "targets, so line ownership reuses zstdseek.split_lines "
        "verbatim. The fixture's 4 KiB blocks cut mid-line; a "
        "SINGLE-block plain-lzma shard rides the whole-file "
        "fallback; malformed head/tail lines exercise the shared "
        "from_json drop policy. The companion pytest proves the xz "
        "CLI decodes the builder's stream byte-exact AND that a real "
        "xz -T4 --block-size CLI file splits and reads exactly.",
)
def q_jsonl_xz_blocks_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        xzseek as XZ,
    )

    _, landing = _build_xzblocks_landing(spark, sf_dir, "jsonl_xzb")
    back = XZ.read_jsonl_xz_blocks(
        spark, landing, _CJSONL_SCHEMA, malformed="drop")
    return back.select("event_id", "user_id", "event_type", "value")


@query(
    "seekable_sink_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 7 = 2
    """,
    doc="SEEKABLE-zstd sink/source roundtrip — the write side of the "
        "splittable loop (sources/zstdseek.write_jsonl_seekable): "
        "every partition streams its JSON lines into ONE seekable "
        ".jsonl.zst shard, frames cut at 4 KiB BYTE positions with "
        "the spec seek table appended, committed by write-to-temp + "
        "atomic os.replace (a task retry can never publish a torn "
        "shard). The shards are then read back through the "
        "SPLITTABLE reader — so the sink's frame framing, the seek "
        "table it writes, AND the reader's ownership protocol over "
        "the sink's mid-line frame cuts all sit on one hash path "
        "against the parquet-side oracle. The 100 TB point: engine "
        "exports stop being one-file-one-task no matter how large a "
        "shard grows.",
)
def q_seekable_sink_roundtrip(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        zstdseek as ZS,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 7 == 2)
        .select("event_id", "user_id", "event_type", "value")
    )
    work = _session_scratch(spark, "seek_sink", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    ZS.write_jsonl_seekable(ev.repartition(4), out,
                            frame_bytes=1 << 12)
    back = ZS.read_jsonl_zst_seekable(spark, out, _CJSONL_SCHEMA)
    return back.select("event_id", "user_id", "event_type", "value")


_BGZF_ORACLE = """
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 5 = 3
    """


def _build_bgzf_landing(spark, sf_dir, family):
    """Fixture stage for the BGZF query: stage an events subset as
    JSONL, concatenate MOST shards into ONE .jsonl.gz whose BGZF
    members cut every 16 KiB at arbitrary byte positions (mid-line on
    purpose), keep the last shard as PLAIN single-stream gzip (the
    whole-file fallback on the same hash path), inject malformed
    lines at head and tail of both. Returns (work, landing)."""
    import gzip as gzmod
    import shutil

    from distributed_computing_projects_spark.sources import bgzf as BG

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    shard_lines = _pa_jsonl_shards(
        sf_dir, 5, 3, ("event_id", "user_id", "event_type", "value"), 4)
    os.makedirs(landing)
    big = shard_lines[:-1] or shard_lines
    rest = shard_lines[-1] if len(shard_lines) > 1 else []
    big_lines = [b'{"event_id": 999999999, "user_id": tru']
    for chunk in big:
        big_lines.extend(chunk)
    big_lines.append(b"not json at all")
    with open(os.path.join(landing, "big.jsonl.gz"), "wb") as f:
        f.write(BG.write_bgzf(b"\n".join(big_lines) + b"\n",
                              member_bytes=1 << 14))
    if rest:
        tail = [b'{"event_id": 999999998, "user_id": fal'] + rest \
            + [b"still not json"]
        with open(os.path.join(landing, "plain.jsonl.gz"), "wb") as f:
            f.write(gzmod.compress(b"\n".join(tail) + b"\n"))
    return work, landing


@query(
    "jsonl_bgzf_scan",
    oracle=_BGZF_ORACLE,
    doc="BGZF splittable gzip ingest (sources/bgzf.py) — the OTHER "
        "standard splittable compressed container next to "
        "seekable-zstd, from the public SAM/BAM spec: every gzip "
        "member's compressed length rides in its own BC extra "
        "subfield, so the member chain IS the seek index (no tail "
        "table) and a bgzip'd .jsonl.gz splits across tasks from a "
        "~18-bytes-per-member driver-side header hop. Line ownership "
        "REUSES the seekable-zstd split walker verbatim — "
        "zlib.decompressobj(wbits=31) satisfies the same bz2-style "
        "contract, one protocol across zstd frames and gzip members "
        "— with the fixture's members cut every 16 KiB mid-LINE so "
        "the skip/extend protocol is on the hash path; a PLAIN "
        "single-stream gzip shard rides alongside through the "
        "whole-file fallback, and malformed head/tail lines exercise "
        "the shared from_json drop policy.",
)
def q_jsonl_bgzf_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import bgzf as BG

    _, landing = _build_bgzf_landing(spark, sf_dir, "jsonl_bgzf")
    back = BG.read_jsonl_bgzf(
        spark, landing, _CJSONL_SCHEMA, malformed="drop")
    return back.select("event_id", "user_id", "event_type", "value")


_AVRO_EVENTS_SCHEMA = {
    "type": "record", "name": "Event", "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": ["null", "double"]},
        {"name": "ts",
         "type": {"type": "long",
                  "logicalType": "local-timestamp-micros"}},
    ]}


@query(
    "avro_events_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           max(ts) AS max_ts
    FROM events GROUP BY event_type
    """,
    doc="Avro Object Container File ingest — the third warehouse "
        "interchange format after parquet/ORC (Kafka archives, Sqoop "
        "exports, older Hive warehouses), which THIS Spark cannot "
        "read natively (the avro module is an external jar: 'Failed "
        "to find data source: avro', verified) and no Python avro "
        "wheel exists here: sources/avro.py implements the public "
        "Avro 1.11 spec from scratch — header/metadata/sync parse, "
        "block walk with block-granular drops and the bomb bound, "
        "zigzag-varint binary decode against the writer schema incl. "
        "a [null,double] union and a local-timestamp-micros logical "
        "field (events.ts is NTZ; the spec-correct mapping). "
        "The fixture stages events as OCF shards cycling FIVE codecs "
        "(deflate, zstandard via the libzstd backend, xz, null, and "
        "snappy via the pure-stdlib raw-format decoder in "
        "functions/snappy.py with the spec's big-endian CRC32 tail), so "
        "every codec branch and the logical-type conversion sit on "
        "the hash path; facts must match the parquet-side oracle "
        "exactly, max(ts) proving microsecond-exact timestamps.",
)
def q_avro_events_roundtrip(spark, sf_dir):
    from distributed_computing_projects_spark.sources import avro as AV

    _, landing = _build_avro_landing(spark, sf_dir, "avro_events")
    back = AV.read_avro(spark, landing, _AVRO_EVENTS_SCHEMA)
    return _avro_events_facts(back)


def _avro_events_facts(back):
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
        .alias("total_value"),
        F.sum("user_id").cast("bigint").alias("sum_user"),
        F.max("ts").alias("max_ts"),
    )


@query(
    "arrow_events_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           max(ts) AS max_ts
    FROM events GROUP BY event_type
    """,
    doc="Arrow IPC / Feather ingest — the in-memory interchange "
        "format (Feather v2 IS the Arrow IPC file format; pandas/"
        "polars to_feather, Flight dumps) that this Spark cannot read "
        "natively (no arrow datasource, verified). Unlike avro, "
        "pyarrow — the reference implementation — is baked into the "
        "workers, so sources/arrowipc.py wraps IT in the engine's "
        "seam discipline instead of re-implementing the wire format: "
        "one walker for BOTH framings (file with ARROW1 magic + "
        "footer, bare stream), the zip-shaped torn policy (the "
        "footer lives at the END like a zip central directory, so a "
        "torn file falls back to walking the embedded message stream "
        "keeping complete batches), batch-granular bomb bounds, and "
        "reader-driven column selection by name. The fixture stages "
        "events as shards ALTERNATING file/stream framing, one shard "
        "carrying a writer-only extra column the reader must "
        "discard, plus a junk non-IPC file that drops whole; facts "
        "must match the parquet-side oracle with microsecond-exact "
        "max(ts).",
)
def q_arrow_events_roundtrip(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        arrowipc as AIPC,
    )

    _, landing = _build_arrow_landing(spark, sf_dir, "arrow_events")
    back = AIPC.read_arrow_ipc(
        spark, landing,
        "event_id bigint, user_id bigint, event_type string, "
        "value double, ts timestamp_ntz")
    return _avro_events_facts(back)


@query(
    "xlsx_events_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           max(date_trunc('second', ts)) AS max_ts
    FROM events GROUP BY event_type
    """,
    doc="XLSX (SpreadsheetML) table ingest — the fourth zip-of-XML "
        "office format (sources/xlsx.py): the tabular format "
        "open-data portals ship alongside CSV, with the three "
        "read-side hazards all on the hash path: VALUE INDIRECTION "
        "(event_type strings alternate deterministically between "
        "shared-strings-table cells — some rich-text split into "
        "runs the reader must concatenate — and inline-string "
        "cells), SPARSE ROWS (null value cells are omitted "
        "entirely, so a reader placing cells by element order "
        "instead of parsed A1 references shifts every later column "
        "— sum_user and max_ts would both corrupt), and SERIAL "
        "DATES (ts rides as fractional 1900-epoch days; Excel's "
        "float serial cannot carry microseconds at modern dates, so "
        "the contract is SECOND precision — fixture floors to the "
        "second, oracle date_truncs, and the reader's "
        "round-after-scale recovers the exact second). Facts must "
        "match the parquet-side oracle; a junk non-zip file in the "
        "landing drops whole.",
)
def q_xlsx_events_roundtrip(spark, sf_dir):
    from distributed_computing_projects_spark.sources import xlsx as XL

    _, landing = _build_xlsx_landing(spark, sf_dir, "xlsx_events")
    back = XL.read_xlsx(
        spark, landing,
        "event_id bigint, user_id bigint, event_type string, "
        "value double, ts timestamp_ntz")
    return _avro_events_facts(back)


_XLSX_ROWS_PER_BOOK = 250_000


def _build_xlsx_landing(spark, sf_dir, family,
                        rows_per_book: int = _XLSX_ROWS_PER_BOOK):
    """Fixture stage for the XLSX query: stage events as JSONL
    shards, write them as .xlsx workbooks PAGINATED at
    ``rows_per_book`` (header row + typed cells, ts as
    floored-second Excel serial), plus one junk file.

    Pagination is not a convenience: Excel itself caps a sheet at
    1,048,576 rows, so real exporters paginate workbooks — and an
    unpaginated multi-million-row sheet's XML exceeds the zip walk's
    256 MiB member bound and (correctly) drops, which the 100x SCALE
    run caught as a silent rows=0 before this fix."""
    import json as jsonmod
    import shutil

    from distributed_computing_projects_spark.sources import xlsx as XL

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    shard_lines = _pa_jsonl_shards(
        sf_dir, None, 0, ("event_id", "user_id", "event_type", "value"),
        4, ts_us="ts")
    os.makedirs(landing)
    i = 0
    for lines in shard_lines:
        recs = [jsonmod.loads(ln) for ln in lines]
        for at in range(0, len(recs), rows_per_book):
            rows = [
                [r["event_id"], r["user_id"], r["event_type"],
                 r.get("value"), XL.ts_to_serial(r["ts"] // 1_000_000)]
                for r in recs[at:at + rows_per_book]
            ]
            with open(os.path.join(landing, f"part-{i}.xlsx"),
                      "wb") as f:
                f.write(XL.build_xlsx(
                    ["event_id", "user_id", "event_type", "value",
                     "ts"], rows))
            i += 1
    with open(os.path.join(landing, "junk.xlsx"), "wb") as f:
        f.write(b"this is not a spreadsheet")
    return work, landing


def _build_arrow_landing(spark, sf_dir, family):
    """Fixture stage for the Arrow IPC query: stage events as JSONL
    shards, encode each as one IPC payload alternating file/stream
    framing (odd shards add a writer-only column the reader
    discards), plus one junk non-IPC file."""
    import json as jsonmod
    import shutil

    import pyarrow as pa

    from distributed_computing_projects_spark.sources import (
        arrowipc as AIPC,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    shard_lines = _pa_jsonl_shards(
        sf_dir, None, 0, ("event_id", "user_id", "event_type", "value"),
        4, ts_us="ts")
    os.makedirs(landing)
    i = 0
    for lines in shard_lines:
        recs = [jsonmod.loads(ln) for ln in lines]
        cols = {
            "event_id": pa.array([r["event_id"] for r in recs],
                                 pa.int64()),
            "user_id": pa.array([r["user_id"] for r in recs],
                                pa.int64()),
            "event_type": pa.array([r["event_type"] for r in recs],
                                   pa.string()),
            "value": pa.array([r.get("value") for r in recs],
                              pa.float64()),
            "ts": pa.array([r["ts"] for r in recs],
                           pa.timestamp("us")),
        }
        if i % 2:
            cols["extra"] = pa.array(["writer-only"] * len(recs),
                                     pa.string())
        framing = "file" if i % 2 == 0 else "stream"
        with open(os.path.join(landing, f"part-{i}.arrow"), "wb") as f:
            f.write(AIPC.build_ipc(cols, framing))
        i += 1
    with open(os.path.join(landing, "junk.arrow"), "wb") as f:
        f.write(b"this is not an arrow ipc payload")
    return work, landing


# (events.parquet path, inode, size, mtime_ns, work dir) -> the
# listing of the TFRecord landing built from it
_TFRECORD_LANDINGS: dict[tuple, tuple] = {}


def _listing(path: str) -> tuple | None:
    """(name, size, mtime_ns, inode) of every entry of directory
    ``path``, sorted; ``None`` when it cannot be listed."""
    try:
        with os.scandir(path) as it:
            stats = [(e.name, e.stat()) for e in it]
    except OSError:
        return None
    return tuple(sorted((n, st.st_size, st.st_mtime_ns, st.st_ino)
                        for n, st in stats))


def _build_tfrecord_landing(spark, sf_dir, family):
    """Fixture stage for the TFRecord queries: stage an events subset
    as JSONL shards, frame each into one .tfrecord shard with the
    full decoy set — a corrupt-PAYLOAD record at the head (data-CRC
    flipped: must drop record-granularly while the walk continues), a
    TORN record at the tail (truncated mid-payload: complete records
    before it survive), a writer-only multi-element Int64List feature
    on every record (reader DDL discards it), and one junk file that
    is not a TFRecord at all (file-granular drop). Returns (work,
    landing).

    A landing is staged once per events file and work dir: a later
    call whose ``events.parquet`` has the same identity (absolute
    path, inode, size, mtime_ns) and whose landing still lists the
    same entries (name, size, mtime_ns, inode) returns it as is,
    starting no Spark job. A rewritten events file, or a landing
    file changed or deleted, stages it again."""
    import shutil

    # The executor tasks below publish shards via plain local-path
    # open()/os.replace(): valid only when driver and executors share
    # a filesystem. True for every local[*] deployment this engine
    # targets; on a real cluster the build would silently produce an
    # empty landing dir — fail loudly instead (r16 ADVICE).
    if not spark.sparkContext.master.startswith("local"):
        raise RuntimeError(
            "_build_tfrecord_landing writes shards from executor "
            "tasks to a driver-local path; it requires a local[*] "
            "master (single-node shared filesystem)")

    work = _session_scratch(spark, family, sf_dir)
    landing = os.path.join(work, "landing")
    events = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    key = None
    if os.path.isfile(events):
        st = os.stat(events)
        key = (events, st.st_ino, st.st_size, st.st_mtime_ns, work)
        built = _TFRECORD_LANDINGS.get(key)
        if built is not None and built == _listing(landing):
            return work, landing
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(landing)

    # Shards are encoded EXECUTOR-SIDE, one task per shard (r16
    # optimization): the former shape staged JSONL through a Spark
    # write, re-parsed it driver-side, and ran the Example encode +
    # CRC framing single-threaded (~2 s of the bench entry at sf0.1);
    # mapInPandas fans the identical encode across the 4 shard tasks
    # and skips the JSON round-trip entirely. Same decoy set per
    # shard (corrupt head / torn tail / junk file), same surviving
    # rows — the oracle hash is unchanged. Atomic tmp+rename publish
    # keeps task retries idempotent (the zstdseek sink discipline).
    def write_shard(batches):
        from pyspark import TaskContext

        from distributed_computing_projects_spark.sources import (
            tfrecord as TFR,
        )

        def decoy(eid):
            return TFR.build_example(
                {"event_id": eid, "user_id": eid,
                 "event_type": "bogus", "value": -1.0,
                 "extra_tokens": [9, 9, 9]})

        tc = TaskContext.get()
        i = tc.partitionId()
        payloads = []
        for pdf in batches:
            vals = pdf["value"].astype(object).where(
                pdf["value"].notna(), None)
            payloads += [TFR.build_example(
                {"event_id": int(e), "user_id": int(u),
                 "event_type": t, "value": v,
                 "extra_tokens": [int(e) % 7, 1, 2]})
                for e, u, t, v in zip(
                    pdf["event_id"], pdf["user_id"],
                    pdf["event_type"], vals)]
        if payloads:
            corrupt = bytearray(
                TFR.frame_record(decoy(999_000_000 + i)))
            corrupt[12] ^= 0xFF  # flip the first payload byte
            torn = TFR.frame_record(decoy(998_000_000 + i))[:-7]
            final = os.path.join(landing, f"part-{i}.tfrecord")
            tmp = f"{final}.tmp-{tc.taskAttemptId()}"
            with open(tmp, "wb") as f:
                f.write(bytes(corrupt)
                        + TFR.build_tfrecord(payloads) + torn)
            os.replace(tmp, final)
        import pandas as pd

        yield pd.DataFrame({"n": [len(payloads)]})

    (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 == 1)
        .select("event_id", "user_id", "event_type", "value")
        .repartition(4)
        .mapInPandas(write_shard, "n bigint")
        .count()
    )
    with open(os.path.join(landing, "junk.tfrecord"), "wb") as f:
        f.write(b"this is not a tfrecord file at all\n" * 4)
    if key is not None:
        _TFRECORD_LANDINGS[key] = _listing(landing)
    return work, landing


@query(
    "tfrecord_scan",
    headline=True,
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(CAST(value AS REAL) AS DOUBLE) AS value
    FROM events WHERE event_id % 3 = 1
    """,
    doc="TFRecord ingest — the training-data container TensorFlow / "
        "JAX pipelines ship (TFDS exports, YouTube-8M; the one major "
        "corpus container the engine could not read), with no "
        "TensorFlow anywhere in this deployment: sources/tfrecord.py "
        "implements the public record framing (uint64 length + "
        "masked CRC-32C of length and data, Castagnoli CRC "
        "table-driven pure stdlib) and a three-level protobuf wire "
        "walk for tf.train.Example (varint / length-delimited fields "
        "only — the avro zigzag-varint discipline applied to plain "
        "two's-complement varints). The fixture stages an events "
        "subset as 4 shards, each carrying a corrupt-payload decoy "
        "record at the HEAD (data-CRC flipped: record-granular drop, "
        "walk continues — the length CRC still validates framing), a "
        "torn record at the TAIL (complete records before it "
        "survive), and a writer-only multi-element Int64List feature "
        "(discarded by the reader DDL); a junk non-TFRecord file "
        "drops whole. FloatList is float32 BY SPEC, so the oracle "
        "applies the same IEEE-754 single rounding "
        "(CAST(value AS REAL)) — both engines round the identical "
        "double, making the precision contract itself hash-checked.",
)
def q_tfrecord_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        tfrecord as TFR,
    )

    _, landing = _build_tfrecord_landing(spark, sf_dir, "tfrecord")
    back = TFR.read_tfrecord(
        spark, landing,
        "event_id bigint, user_id bigint, event_type string, "
        "value float")
    return back.select(
        "event_id", "user_id", "event_type",
        F.col("value").cast("double").alias("value"))


def _build_avro_landing(spark, sf_dir, family):
    """Fixture stage shared by the batch and streaming Avro queries:
    stage events as JSONL shards, encode each into one OCF shard
    cycling the five codecs. Returns (work, landing)."""
    import json as jsonmod
    import shutil

    from distributed_computing_projects_spark.sources import avro as AV

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    shard_lines = _pa_jsonl_shards(
        sf_dir, None, 0, ("event_id", "user_id", "event_type", "value"),
        4, ts_us="ts")
    os.makedirs(landing)
    codecs = ["deflate", "zstandard", "xz", "null", "snappy"]
    for i, lines in enumerate(shard_lines):
        recs = [jsonmod.loads(ln) for ln in lines]
        with open(os.path.join(landing, f"part-{i}.avro"), "wb") as f:
            f.write(AV.write_ocf(recs, _AVRO_EVENTS_SCHEMA,
                                 codec=codecs[i % len(codecs)]))
    return work, landing


SPLIT_WEIGHTS_BP = {"train": 8000, "val": 1000, "test": 1000}


STRAT_RATES_BP = {"en": 2500, "zh": 10000, "es": 5000}


STRAT_DEFAULT_BP = 1000


@query(
    "dataset_split_counts",
    oracle=f"""
    SELECT {SP.split_case_sql('doc_id', SPLIT_WEIGHTS_BP)} AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
    doc="Train/val/test assignment (80/10/10) by content-addressed hash "
        "buckets — per-id stable across runs, engines, partitionings, "
        "and corpus growth, unlike df.sample(). Pure codegen'd "
        "projection; oracle runs the identical md5 bucket arithmetic.",
)
def q_dataset_split_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        SP.split_assign(docs, "doc_id", SPLIT_WEIGHTS_BP)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "stratified_sample_counts",
    oracle=f"""
    SELECT lang, count(*) AS n_kept
    FROM documents
    WHERE {SP.bucket_sql('doc_id', 'strat')} <
          CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 10000
                    WHEN 'es' THEN 5000 ELSE 1000 END
    GROUP BY lang
    """,
    doc="Language-rebalancing stratified sample (downsample en 25%, "
        "keep all zh, es 50%, others 10%) as a pure deterministic "
        "filter — no shuffle, no per-group materialization; the "
        "training-mixture primitive at corpus scale.",
)
def q_stratified_sample_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    kept = SP.stratified_sample(
        docs, "lang", "doc_id", STRAT_RATES_BP, default_bp=STRAT_DEFAULT_BP
    )
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


PACK_BUDGET = 256


PACK_SHARDS = 8


# Shared greedy-packing replay (recursive CTE per shard) — used by both
# the pack assignment oracle and the fill-rate oracle.
_PACKED_CTE = f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id AS id,
             CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard,
             CAST(coalesce(len({_TOKS_D}), 0) AS BIGINT) AS n_tokens,
             row_number() OVER (
               PARTITION BY doc_id % {PACK_SHARDS} ORDER BY doc_id
             ) AS rn
      FROM documents
    ),
    packed AS (
      SELECT shard, rn, id, n_tokens,
             n_tokens AS acc, CAST(0 AS BIGINT) AS pack_id
      FROM docs WHERE rn = 1
      UNION ALL
      -- the previous state p always has >= 1 doc in its current pack
      -- (the doc p itself placed), so "pack non-empty" needs no guard
      -- here: the open-a-new-pack condition is exactly the overflow
      -- test. An `acc > 0` guard would replay the zero-token-doc bug
      -- the Spark side fixed (a 0-token doc opens a pack with acc = 0).
      SELECT d.shard, d.rn, d.id, d.n_tokens,
             CASE WHEN p.acc + d.n_tokens > {PACK_BUDGET}
                  THEN d.n_tokens ELSE p.acc + d.n_tokens END,
             CASE WHEN p.acc + d.n_tokens > {PACK_BUDGET}
                  THEN p.pack_id + 1 ELSE p.pack_id END
      FROM docs d JOIN packed p ON d.shard = p.shard AND d.rn = p.rn + 1
    )
"""


@query(
    "pack_documents",
    oracle=_PACKED_CTE + """
    SELECT id, shard, pack_id, n_tokens FROM packed
    """,
    headline=True,
    doc="Sequence packing: greedy assignment of docs (id order, per "
        "shard) into <=256-token packs — the trainer-side concat step "
        "as a shard-parallel applyInPandas (the sequential scan is the "
        "textbook case for it). Oracle replays the identical greedy "
        "recurrence as a recursive CTE per shard.",
)
def q_pack_documents(spark, sf_dir):
    from distributed_computing_projects_spark.operators.packing import (
        pack_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pack_documents(docs, "doc_id", "text", PACK_BUDGET,
                          n_shards=PACK_SHARDS)


@query(
    "pack_stats",
    oracle=_PACKED_CTE + f"""
    SELECT shard, pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           least(CAST(sum(n_tokens) AS BIGINT), {PACK_BUDGET})
             / CAST({PACK_BUDGET} AS DOUBLE) AS fill_rate
    FROM packed GROUP BY shard, pack_id
    """,
    doc="Pack fill-rate monitoring over the greedy packing output — the "
        "number a training pipeline actually watches (wasted tokens = "
        "wasted accelerator time). fill_rate is a raw IEEE divide "
        "(bit-identical across engines; round() ties are not).",
)
def q_pack_stats(spark, sf_dir):
    from distributed_computing_projects_spark.operators.packing import (
        pack_documents,
        pack_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_documents(docs, "doc_id", "text", PACK_BUDGET,
                            n_shards=PACK_SHARDS)
    return pack_stats(packed, PACK_BUDGET)


@query(
    "chunk_documents",
    headline=True,
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_D} AS t FROM documents
    ),
    nonempty AS (
      SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
    ),
    starts AS (
      SELECT doc_id, t, n,
             unnest(generate_series(0, n - 1, {_CHUNK_STEP})) AS start
      FROM nonempty
    )
    SELECT doc_id,
           CAST(start // {_CHUNK_STEP} AS BIGINT) AS chunk_id,
           CAST(start AS BIGINT) AS start_token,
           CAST(least({CHUNK_TOKENS}, n - start) AS BIGINT) AS n_tokens,
           array_to_string(t[start + 1 : start + {CHUNK_TOKENS}], ' ')
             AS chunk_text
    FROM starts
    """,
    doc="Overlapping fixed-token chunking (64-token windows, 16-token "
        "overlap) — the retrieval/training chunker as a pure narrow "
        "flatMap (sequence + slice + explode, zero shuffle, zero "
        "Python). Oracle replays the same windows via generate_series "
        "+ list slicing.",
)
def q_chunk_documents(spark, sf_dir):
    from distributed_computing_projects_spark.operators.chunking import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", CHUNK_TOKENS,
                           CHUNK_OVERLAP)


@query(
    "corpus_shuffle_head",
    oracle="""
    SELECT doc_id, md5(concat(CAST(doc_id AS VARCHAR), ':42')) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key, doc_id
    LIMIT 50
    """,
    doc="Deterministic corpus shuffle: global pseudo-random but "
        "reproducible ordering by md5(doc_id || seed) — the trainer's "
        "epoch shuffle without rand() (nondeterministic under retries "
        "at scale; a content hash is retry-stable and engine-portable). "
        "Top-50 here so the oracle pins the exact permutation prefix; "
        "at 100 TB the same expression feeds a total-order "
        "repartitionByRange write, not a LIMIT.",
)
def q_corpus_shuffle_head(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
            .alias("shuffle_key"),
        )
        .orderBy("shuffle_key", "doc_id")
        .limit(50)
    )


@query(
    "training_corpus_summary",
    headline=True,
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text, lang, source,
             len({_TOKS_D}) AS n_tokens,
             CAST(len(list_distinct({_TOKS_D})) AS DOUBLE)
               / CAST(len({_TOKS_D}) AS DOUBLE) AS distinct_ratio,
             {X.lang_pred(_TOKS_D, 'duck')} AS pred_lang
      FROM documents),
    gated AS (
      SELECT doc_id, text, source FROM scored
      WHERE n_tokens >= {GATE_MIN_TOKENS}
        AND distinct_ratio >= {GATE_MIN_DISTINCT}
        AND pred_lang = lang),
    survivors AS (
      SELECT doc_id, text, source FROM gated
      QUALIFY doc_id = min(doc_id)
        OVER (PARTITION BY {D.NORM_TEXT_DUCK.format(col='text')})),
    toks AS (
      SELECT doc_id, source, {_TOKS_D} AS t, len({_TOKS_D}) AS n
      FROM survivors WHERE len({_TOKS_D}) > 0),
    starts AS (
      SELECT doc_id, source, n,
             unnest(generate_series(0, n - 1, {_CHUNK_STEP})) AS start
      FROM toks)
    SELECT source,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_chunks,
           CAST(sum(least({CHUNK_TOKENS}, n - start)) AS BIGINT)
             AS total_chunk_tokens
    FROM starts GROUP BY source
    """,
    doc="END-TO-END pipeline composition: quality gate (min tokens / "
        "distinct ratio / language-ID agreement) -> exact-dedup "
        "survivors (window-min over the normalized-text hash, one "
        "shuffle) -> overlapping token chunking (narrow flatMap) -> "
        "per-source training-readiness stats. One query from raw "
        "corpus to chunk counts, all stages the same operators the "
        "standalone queries test.",
)
def q_training_corpus_summary(spark, sf_dir):
    from distributed_computing_projects_spark.operators.chunking import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text", "spark")
    gated = docs.select(
        "doc_id", "text", "source",
        F.expr(f"size({toks})").alias("n_tokens"),
        F.expr(
            f"CAST(size(array_distinct({toks})) AS DOUBLE)"
            f" / CAST(size({toks}) AS DOUBLE)"
        ).alias("distinct_ratio"),
        F.expr(X.lang_pred(toks, "spark")).alias("pred_lang"),
        "lang",
    ).filter(
        (F.col("n_tokens") >= GATE_MIN_TOKENS)
        & (F.col("distinct_ratio") >= GATE_MIN_DISTINCT)
        & (F.col("pred_lang") == F.col("lang"))
    )
    w = Window.partitionBy(
        F.expr(D.NORM_TEXT_SPARK.format(col="text"))
    )
    survivors = (
        gated.withColumn("_keep", F.col("doc_id") == F.min("doc_id").over(w))
        .filter(F.col("_keep"))
        .select("doc_id", "text", "source")
    )
    # source rides through the narrow chunker (carry=), so no join
    # back and the corpus is scanned exactly once
    chunks = chunk_documents(
        survivors, "doc_id", "text", CHUNK_TOKENS, CHUNK_OVERLAP,
        carry=("source",),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").alias("total_chunk_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# training_corpus_v2: the composition extended with the LM tier
# ---------------------------------------------------------------------------

from distributed_computing_projects_spark.operators import (  # noqa: E402
    ngram_lm as LM,
)
from distributed_computing_projects_spark.queries.ext_lm import (  # noqa: E402
    _LM_MODEL_CTES,
    _LM_SCORE_CTES,
)


@query(
    "training_corpus_v2",
    oracle=f"""
    WITH {_LM_MODEL_CTES}, {_LM_SCORE_CTES},
    tiled AS (
      SELECT doc_id,
             ntile(3) OVER (ORDER BY sum_lp / n_bigrams DESC, doc_id)
               AS tile
      FROM perdoc),
    scored AS (
      SELECT doc_id, text, lang, source,
             len({_TOKS_D}) AS n_tokens,
             CAST(len(list_distinct({_TOKS_D})) AS DOUBLE)
               / CAST(len({_TOKS_D}) AS DOUBLE) AS distinct_ratio,
             {X.lang_pred(_TOKS_D, 'duck')} AS pred_lang
      FROM documents),
    gated AS (
      SELECT s.doc_id, s.text, s.source,
             CASE t.tile WHEN 1 THEN 'head' ELSE 'middle' END AS bucket
      FROM scored s JOIN tiled t ON s.doc_id = t.doc_id
      WHERE s.n_tokens >= {GATE_MIN_TOKENS}
        AND s.distinct_ratio >= {GATE_MIN_DISTINCT}
        AND s.pred_lang = s.lang
        AND t.tile <= 2),
    survivors AS (
      SELECT doc_id, text, source, bucket FROM gated
      QUALIFY doc_id = min(doc_id)
        OVER (PARTITION BY {D.NORM_TEXT_DUCK.format(col='text')})),
    toks AS (
      SELECT doc_id, source, bucket, len({_TOKS_D}) AS n
      FROM survivors WHERE len({_TOKS_D}) > 0),
    starts AS (
      SELECT doc_id, source, bucket, n,
             unnest(generate_series(0, n - 1, {_CHUNK_STEP})) AS start
      FROM toks)
    SELECT source, bucket,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_chunks,
           CAST(sum(least({CHUNK_TOKENS}, n - start)) AS BIGINT)
             AS total_chunk_tokens
    FROM starts GROUP BY source, bucket
    """,
    doc="The MODERN pipeline composition (CCNet/DCLM shape): heuristic "
        "quality gate -> bigram-LM perplexity tertiles with the TAIL "
        "dropped (CCNet's release cut) -> exact-dedup survivors -> "
        "overlapping token chunking -> per-(source, LM-bucket) "
        "training-readiness stats. Extends training_corpus_summary "
        "with the trained-model stage; every stage is the same "
        "operator its standalone query tests, and the corpus chunk "
        "totals arrive per fluency bucket so the release decision "
        "(ship head, mix middle, drop tail) reads straight off the "
        "output.",
)
def q_training_corpus_v2(spark, sf_dir):
    from distributed_computing_projects_spark.operators.chunking import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    tiled = LM.score_docs(docs, "doc_id", "text")
    w_lm = Window.orderBy(F.desc("avg_lp"), F.asc("id"))
    tiles = tiled.select(
        F.col("id").alias("doc_id"), F.ntile(3).over(w_lm).alias("tile")
    ).filter(F.col("tile") <= 2)

    toks = T.tokens("text", "spark")
    gated = (
        docs.select(
            "doc_id", "text", "source",
            F.expr(f"size({toks})").alias("n_tokens"),
            F.expr(
                f"CAST(size(array_distinct({toks})) AS DOUBLE)"
                f" / CAST(size({toks}) AS DOUBLE)"
            ).alias("distinct_ratio"),
            F.expr(X.lang_pred(toks, "spark")).alias("pred_lang"),
            "lang",
        )
        .filter(
            (F.col("n_tokens") >= GATE_MIN_TOKENS)
            & (F.col("distinct_ratio") >= GATE_MIN_DISTINCT)
            & (F.col("pred_lang") == F.col("lang"))
        )
        .join(tiles, "doc_id")
        .select(
            "doc_id", "text", "source",
            F.when(F.col("tile") == 1, "head").otherwise("middle")
            .alias("bucket"),
        )
    )
    w = Window.partitionBy(F.expr(D.NORM_TEXT_SPARK.format(col="text")))
    survivors = (
        gated.withColumn("_keep", F.col("doc_id") == F.min("doc_id").over(w))
        .filter(F.col("_keep"))
        .select("doc_id", "text", "source", "bucket")
    )
    chunks = chunk_documents(
        survivors, "doc_id", "text", CHUNK_TOKENS, CHUNK_OVERLAP,
        carry=("source", "bucket"),
    )
    return chunks.groupBy("source", "bucket").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.sum("n_tokens").alias("total_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# training_corpus_wire: the composition starting from the CRAWL WIRE
# FORMAT — content-encoded HTTP bodies inside gzip-member WARC —
# instead of the clean documents table
# ---------------------------------------------------------------------------

from distributed_computing_projects_spark.functions import (  # noqa: E402
    html as H,
)
from distributed_computing_projects_spark.sources import (  # noqa: E402
    warc as W,
)

# lossless HTML body wrap: script/style/attrs exercise the strip
# rules but contribute NO visible text, so strip(wrap(t)) == t and
# the oracle can run on the CLEAN corpus — pinning the whole wire
# layer (CE encode -> WARC -> parse -> CE decode -> HTML strip) as
# exactly lossless
_WIRE_BODY_SPARK = (
    "concat('<html><head><title></title>"
    "<style>p { color: red; }</style></head>',"
    " '<body onload=\"init()\"><script>if (a < b) { go(\"now\"); }"
    "</script><p class=\"main\">', text, '</p></body></html>')"
)


@query(
    "training_corpus_wire",
    headline=True,
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text, source,
             len({_TOKS_D}) AS n_tokens,
             CAST(len(list_distinct({_TOKS_D})) AS DOUBLE)
               / CAST(len({_TOKS_D}) AS DOUBLE) AS distinct_ratio
      FROM documents),
    gated AS (
      SELECT doc_id, text, source FROM scored
      WHERE n_tokens >= {GATE_MIN_TOKENS}
        AND distinct_ratio >= {GATE_MIN_DISTINCT}),
    survivors AS (
      SELECT doc_id, text, source FROM gated
      QUALIFY doc_id = min(doc_id)
        OVER (PARTITION BY {D.NORM_TEXT_DUCK.format(col='text')})),
    toks AS (
      SELECT doc_id, source, len({_TOKS_D}) AS n
      FROM survivors WHERE len({_TOKS_D}) > 0),
    starts AS (
      SELECT doc_id, source, n,
             unnest(generate_series(0, n - 1, {_CHUNK_STEP})) AS start
      FROM toks)
    SELECT source,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_chunks,
           CAST(sum(least({CHUNK_TOKENS}, n - start)) AS BIGINT)
             AS total_chunk_tokens
    FROM starts GROUP BY source
    """,
    doc="WIRE-to-corpus pipeline composition — the shape a real crawl "
        "ingest actually has: each doc's text is wrapped in lossless "
        "HTML (script/style/attrs exercise the strip rules but add no "
        "visible text), the body is HTTP Content-Encoding-compressed "
        "per id%5 (identity/gzip/deflate/br/chained), packed into a "
        "two-record WARC, and only THEN does the pipeline start: "
        "record walk -> CE decode -> UTF-8 body -> HTML->text -> "
        "quality gate (min tokens / distinct ratio; the lang "
        "agreement gate needs the clean table's lang column, which a "
        "wire pipeline does not have — documented difference from "
        "training_corpus_summary) -> exact-dedup survivors -> token "
        "chunking -> per-source stats, with source RE-DERIVED from "
        "the Target-URI host. The oracle runs the same gates on the "
        "CLEAN corpus directly, so any loss anywhere in the wire "
        "layer (a mis-decoded coding, a dropped record, an HTML rule "
        "eating text, a URL mangle) breaks the hash.",
)
def q_training_corpus_wire(spark, sf_dir):
    from distributed_computing_projects_spark.operators.chunking import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    wired = docs.select(
        "doc_id", F.expr(_WIRE_BODY_SPARK).alias("body"), "source"
    )
    payloads = W.warc_ce_payloads(wired, "doc_id", "body", "source")
    bodies = W.extract_response_bodies(payloads)
    recovered = bodies.select(
        F.col("id").alias("doc_id"),
        F.expr(H.strip_html("body", "spark")).alias("text"),
        F.regexp_extract("url", r"https://([^.]+)\.", 1).alias("source"),
    )
    toks = T.tokens("text", "spark")
    gated = recovered.select(
        "doc_id", "text", "source",
        F.expr(f"size({toks})").alias("n_tokens"),
        F.expr(
            f"CAST(size(array_distinct({toks})) AS DOUBLE)"
            f" / CAST(size({toks}) AS DOUBLE)"
        ).alias("distinct_ratio"),
    ).filter(
        (F.col("n_tokens") >= GATE_MIN_TOKENS)
        & (F.col("distinct_ratio") >= GATE_MIN_DISTINCT)
    )
    w = Window.partitionBy(F.expr(D.NORM_TEXT_SPARK.format(col="text")))
    survivors = (
        gated.withColumn("_keep", F.col("doc_id") == F.min("doc_id").over(w))
        .filter(F.col("_keep"))
        .select("doc_id", "text", "source")
    )
    chunks = chunk_documents(
        survivors, "doc_id", "text", CHUNK_TOKENS, CHUNK_OVERLAP,
        carry=("source",),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").alias("total_chunk_tokens"),
        )
    )


def _build_sqlite_landing(spark, sf_dir, family):
    """Fixture stage for the SQLite query: stage an events subset as
    JSONL, write each shard as one .sqlite database THROUGH THE
    FORMAT'S REFERENCE IMPLEMENTATION (stdlib sqlite3 — no builder
    twin: every fixture byte is SQLite's own), with the decoy set —
    a writer-only long-text column FIRST in the column order (so the
    real columns ride behind overflow chains at the 1 KiB page
    geometry), event_id as INTEGER PRIMARY KEY (stored NULL in
    records, its value only recoverable through the rowid-alias
    rule), a decoy index + view + second table with clashing values,
    a WITHOUT ROWID decoy table, one UTF-16 shard, one database
    missing the target table, and one junk non-SQLite file.
    Returns (work, landing)."""
    import shutil
    import sqlite3

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    # driver-side pyarrow staging — see "pyarrow staging" above
    # (sharded by event_id % 4; every consumer projects per record)
    subset = _pa_events_subset(
        sf_dir, 7, 4, ("event_id", "user_id", "event_type", "value"))
    rows = _pa_rows(subset)
    shards = [[r for r in rows if r["event_id"] % 4 == s]
              for s in range(4)]
    os.makedirs(landing)
    for i, recs in enumerate(s for s in shards if s):
        db_path = os.path.join(landing, f"part-{i}.sqlite")
        con = sqlite3.connect(db_path)
        if i == 1:
            con.execute("PRAGMA encoding='UTF-16'")  # enc decoy
        con.execute("PRAGMA page_size=1024")
        con.execute(
            "CREATE TABLE events (note TEXT, event_id INTEGER "
            "PRIMARY KEY, user_id INTEGER, event_type TEXT, "
            "value REAL)")
        con.executemany(
            "INSERT INTO events VALUES (?,?,?,?,?)",
            [("overflow " * 150 if r["event_id"] % 16 == 0
              else "short", r["event_id"], r["user_id"],
              r["event_type"], r["value"]) for r in recs])
        con.execute("CREATE INDEX ix_events ON events(user_id)")
        con.execute("CREATE VIEW events_vw AS SELECT event_id "
                    "FROM events")
        con.execute("CREATE TABLE decoy (event_id INTEGER, "
                    "user_id INTEGER)")
        con.execute("INSERT INTO decoy VALUES (123456789, 1)")
        con.execute("CREATE TABLE wr (k TEXT PRIMARY KEY, "
                    "v INTEGER) WITHOUT ROWID")
        con.execute("INSERT INTO wr VALUES ('poison', 42)")
        con.commit()
        con.close()
    con = sqlite3.connect(os.path.join(landing, "no-table.sqlite"))
    con.execute("CREATE TABLE other (x INTEGER)")
    con.commit()
    con.close()
    with open(os.path.join(landing, "junk.sqlite"), "wb") as f:
        f.write(b"this is not a sqlite file" * 4)
    return work, landing


@query(
    "sqlite_events_scan",
    headline=True,
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 7 = 4
    """,
    doc="SQLite database file ingest (sources/sqlitefile.py) — the "
        ".sqlite/.db container that application exports, research "
        "datasets, and open-data dumps ship, which Spark cannot read "
        "at all (a JDBC hop needs a server a pile of dump files does "
        "not have): a pure-stdlib walk of the public file-format "
        "spec — header geometry, interior/leaf table b-trees via the "
        "cell pointer array, the local-payload formula + overflow "
        "chains, serial-type record decode in all three text "
        "encodings, the INTEGER-PRIMARY-KEY rowid-alias rule "
        "recovered from the stored CREATE TABLE text. The fixture is "
        "written by the format's REFERENCE IMPLEMENTATION (stdlib "
        "sqlite3), so reader and fixture share no code; the decoys "
        "put every hazard on the hash path: a long writer-only "
        "column FIRST pushes real columns into overflow chains, "
        "event_id arrives only through the rowid alias, index/view/"
        "decoy-table/WITHOUT-ROWID neighbours must stay invisible, "
        "one shard is UTF-16, one database lacks the table (TABLE "
        "drop), one file is junk (FILE drop). Drops are "
        "pointer-granular: a malformed cell drops the ROW, the array "
        "locates the rest. REAL doubles are IEEE 8-byte so value "
        "survives bit-exact.",
)
def q_sqlite_events_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        sqlitefile as SQ,
    )

    _, landing = _build_sqlite_landing(spark, sf_dir,
                                       "sqlite_events")
    back = SQ.read_sqlite(
        spark, landing, "events",
        "event_id bigint, user_id bigint, event_type string, "
        "value double")
    return back.select("event_id", "user_id", "event_type", "value")


def _build_delta_landing(spark, sf_dir, family):
    """Fixture stage for the Delta queries: an events subset becomes
    a PARTITIONED Delta table (by event_type; the partition column is
    absent from the data files per the protocol), with the log
    history that puts every replay rule on the hash path —
    v0 adds all five partitions (two files each), v1 DELETEs the
    'error' partition (tombstoned files STAY on disk: reading the
    directory double-counts), v2 deletes 'signup' AND compacts
    'view' (remove two files + re-add one with the same rows — a
    path-reconciliation trap), then a CHECKPOINT parquet at v2, then
    v3 deletes 'purchase' (post-checkpoint JSON replay), plus an
    orphan parquet never committed. Current state = click + view.
    Returns (work, table_path)."""
    import shutil

    import pyarrow as pa

    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    os.makedirs(table)
    # fixture staging is driver-side pyarrow (see "pyarrow staging"
    # above): the former per-build Spark write jobs were the bench
    # entry's dominant term and none of a real reader's cost
    subset = _pa_events_subset(
        sf_dir, 7, 1, ("event_id", "user_id", "value", "event_type"))
    etypes = ["click", "error", "purchase", "signup", "view"]

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
        StructField("event_type", StringType()),
    ])
    v0_acts = [DL.protocol_action(),
               DL.metadata_action(schema, ["event_type"])]
    part_files = {}
    for et in etypes:
        # partition column dropped from the data files — exactly the
        # Delta layout
        sub = _pa_col_eq(subset, "event_type", et).select(
            ["event_id", "user_id", "value"])
        files = []
        for half, piece in enumerate(_pa_halves(sub)):
            if piece.num_rows == 0:
                continue
            rel = f"event_type={et}/part-{et}-{half}.parquet"
            size = _pa_write(piece, os.path.join(table, rel))
            files.append((rel, size))
        part_files[et] = files
        for rel, size in files:
            v0_acts.append(
                DL.add_action(rel, {"event_type": et}, size))
    DL.commit_json(table, 0, v0_acts)
    DL.commit_json(table, 1, [
        DL.remove_action(rel) for rel, _s in part_files["error"]])
    view_all = _pa_col_eq(subset, "event_type", "view").select(
        ["event_id", "user_id", "value"])
    compact_rel = "event_type=view/part-view-compact.parquet"
    compact_size = _pa_write(view_all, os.path.join(table, compact_rel))
    DL.commit_json(table, 2, [
        *[DL.remove_action(rel) for rel, _s in part_files["signup"]],
        *[DL.remove_action(rel) for rel, _s in part_files["view"]],
        DL.add_action(compact_rel, {"event_type": "view"},
                      compact_size),
    ])
    DL.write_checkpoint(spark, table, 2)
    DL.commit_json(table, 3, [
        DL.remove_action(rel)
        for rel, _s in part_files["purchase"]])
    # uncommitted orphan: in the directory, not in the log
    _pa_write(
        pa.table({"event_id": pa.array([999_999_999], pa.int64()),
                  "user_id": pa.array([1], pa.int64()),
                  "value": pa.array([-1.0], pa.float64())}),
        os.path.join(table, "event_type=click", "orphan.parquet"))
    return work, table


@query(
    "delta_table_scan",
    headline=True,
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id % 7 = 1 AND event_type IN ('click', 'view')
    """,
    doc="Delta Lake table read (sources/deltalake.py) — the "
        "lakehouse format large corpora already sit in, read from "
        "the PUBLIC transaction-log protocol with no delta-spark "
        "dependency: a Delta table is a parquet directory plus a "
        "log, and reading just the directory reads WRONG data. The "
        "fixture's log puts every replay rule on the hash path: "
        "tombstoned partition deletes whose files STAY on disk "
        "(directory readers double-count), a compaction that "
        "removes two files and re-adds their rows as one, a "
        "CHECKPOINT parquet seeding the replay with a later JSON "
        "commit applied on top, an uncommitted orphan parquet that "
        "must stay invisible, and partition values that exist ONLY "
        "in the log (data files lack the event_type column — it is "
        "attached by a broadcast map-join on input_file_name and "
        "cast from the log's string serialization). The scan itself "
        "is ONE native parquet FileScan over the active file list "
        "with the metaData schema pinned; unsupported features "
        "(reader v2+, column mapping, deletion vectors) refuse "
        "loudly rather than read wrong.",
)
def q_delta_table_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    _, table = _build_delta_landing(spark, sf_dir, "delta_scan")
    df = DL.read_delta(spark, table)
    return df.select("event_id", "user_id", "event_type", "value")


@query(
    "delta_time_travel_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id % 7 = 1 AND event_type <> 'error'
    """,
    doc="Delta Lake TIME TRAVEL (sources/deltalake.py, version=1) — "
        "the replay stops at the requested commit: the v2 "
        "compaction, the v2 CHECKPOINT (which is NEWER than the "
        "target and must be ignored — a reader that seeds from any "
        "available checkpoint reads the future), and the v3 delete "
        "must all be invisible, so the result is the v1 state: "
        "everything except the 'error' partition deleted at v1. "
        "Same table fixture as delta_table_scan; the two oracles "
        "differ exactly by the post-v1 history.",
)
def q_delta_time_travel_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    _, table = _build_delta_landing(spark, sf_dir, "delta_tt")
    df = DL.read_delta(spark, table, version=1)
    return df.select("event_id", "user_id", "event_type", "value")


def _build_iceberg_landing(spark, sf_dir, family):
    """Fixture stage for the Iceberg queries: an events subset
    becomes an Iceberg v2 table (identity-partitioned by event_type;
    unlike Delta, the data files CONTAIN the partition column per
    the spec). Snapshot history on the hash path — snapshot 1 adds
    all five partitions (two files each); snapshot 2's manifest
    marks the 'error' files DELETED (they stay on disk) and compacts
    'view' (two deleted + one added with the same rows), carries the
    other partitions as EXISTING, and its manifest list includes a
    DEAD delete manifest (content=1, all entries deleted — must be
    skipped, not refused). An orphan parquet is never referenced.
    Manifests and manifest lists are written through the engine's
    own Avro OCF writer and read back through its own decoder.
    Returns (work, table_path)."""
    import shutil

    import pyarrow as pa

    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    mdir = os.path.join(table, "metadata")
    os.makedirs(mdir)
    # parquet.field.id stamped on every data column (_pa_write):
    # spec-conformant data files, and the reader's field-ID
    # resolution applies to them; staging is driver-side pyarrow —
    # see "pyarrow staging" above
    _ids = {"event_id": 1, "user_id": 2, "value": 3,
            "event_type": 4}
    subset = _pa_events_subset(
        sf_dir, 7, 0, ("event_id", "user_id", "value", "event_type"))
    etypes = ["click", "error", "purchase", "signup", "view"]
    pfields = [("event_type", "string")]

    def _entry(status, path, etype):
        return {"status": status, "snapshot_id": 1,
                "data_file": {"content": 0, "file_path": path,
                              "file_format": "PARQUET",
                              "partition": {"event_type": etype},
                              "record_count": 1,
                              "file_size_in_bytes":
                                  os.path.getsize(path)}}

    part_files = {}
    for et in etypes:
        # the data files CONTAIN event_type, as the Iceberg spec
        # requires for identity partitions (the Delta contrast)
        sub = _pa_col_eq(subset, "event_type", et)
        part_files[et] = []
        for half, piece in enumerate(_pa_halves(sub)):
            if piece.num_rows == 0:
                continue
            dest = os.path.join(table, "data", f"event_type={et}",
                                f"f-{et}-{half}.parquet")
            _pa_write(piece, dest, field_ids=_ids)
            part_files[et].append(dest)
    compacted = [os.path.join(table, "data", "event_type=view",
                              "f-view-compact.parquet")]
    _pa_write(_pa_col_eq(subset, "event_type", "view"), compacted[0],
              field_ids=_ids)
    _pa_write(
        pa.table({"event_id": pa.array([999_999_999], pa.int64()),
                  "user_id": pa.array([1], pa.int64()),
                  "value": pa.array([-1.0], pa.float64()),
                  "event_type": pa.array(["click"], pa.string())}),
        os.path.join(table, "data", "event_type=click",
                     "orphan.parquet"))

    m1 = os.path.join(mdir, "m1.avro")
    s1 = IC.write_manifest(
        m1, [_entry(1, p, et) for et in etypes
             for p in part_files[et]], pfields)
    ml1 = os.path.join(mdir, "snap-1.avro")
    IC.write_manifest_list(ml1, [
        {"manifest_path": m1, "manifest_length": s1,
         "partition_spec_id": 0, "content": 0,
         "sequence_number": 1, "min_sequence_number": 1,
         "added_snapshot_id": 1}])
    m2 = os.path.join(mdir, "m2.avro")
    entries2 = []
    for et in etypes:
        if et == "error":
            status = 2
        elif et == "view":
            status = 2
        else:
            status = 0
        entries2.extend(_entry(status, p, et)
                        for p in part_files[et])
    entries2.append(_entry(1, compacted[0], "view"))
    s2 = IC.write_manifest(m2, entries2, pfields)
    dead = os.path.join(mdir, "dead-deletes.avro")
    sd = IC.write_manifest(
        dead, [{"status": 2, "snapshot_id": 2,
                "data_file": {"content": 1,
                              "file_path": os.path.join(
                                  table, "gone.parquet"),
                              "file_format": "PARQUET",
                              "partition": {"event_type": "view"},
                              "record_count": 0,
                              "file_size_in_bytes": 0}}], pfields)
    ml2 = os.path.join(mdir, "snap-2.avro")
    IC.write_manifest_list(ml2, [
        {"manifest_path": m2, "manifest_length": s2,
         "partition_spec_id": 0, "content": 0,
         "sequence_number": 2, "min_sequence_number": 1,
         "added_snapshot_id": 2},
        {"manifest_path": dead, "manifest_length": sd,
         "partition_spec_id": 0, "content": 1,
         "sequence_number": 2, "min_sequence_number": 2,
         "added_snapshot_id": 2}])
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "event_id", "required": False,
         "type": "long"},
        {"id": 2, "name": "user_id", "required": False,
         "type": "long"},
        {"id": 3, "name": "value", "required": False,
         "type": "double"},
        {"id": 4, "name": "event_type", "required": False,
         "type": "string"}]}
    meta = {
        "format-version": 2, "table-uuid":
            "00000000-0000-0000-0000-000000000015",
        "location": f"file://{table}", "last-sequence-number": 2,
        "last-updated-ms": 0, "last-column-id": 4,
        "current-schema-id": 0, "schemas": [schema],
        "default-spec-id": 0, "partition-specs": [
            {"spec-id": 0, "fields": [
                {"name": "event_type", "transform": "identity",
                 "source-id": 4, "field-id": 1000}]}],
        "last-partition-id": 1000, "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 2,
        "snapshots": [
            {"snapshot-id": 1, "sequence-number": 1,
             "timestamp-ms": 0, "manifest-list": ml1,
             "schema-id": 0, "summary": {"operation": "append"}},
            {"snapshot-id": 2, "sequence-number": 2,
             "timestamp-ms": 1, "manifest-list": ml2,
             "schema-id": 0, "summary": {"operation": "replace"}}],
        "snapshot-log": [], "metadata-log": [],
    }
    import json as jsonmod

    with open(os.path.join(mdir, "v2.metadata.json"), "w",
              encoding="utf-8") as f:
        jsonmod.dump(meta, f)
    return work, table


@query(
    "iceberg_table_scan",
    headline=True,
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id % 7 = 0 AND event_type <> 'error'
    """,
    doc="Apache Iceberg table read (sources/iceberg.py) — the "
        "second lakehouse format, read from the public table spec "
        "with no iceberg-spark runtime by COMPOSING the engine's own "
        "layers: the metadata->manifest-list->manifest chain is Avro "
        "and the engine's from-scratch OCF decoder (sources/avro.py) "
        "reads it (OCF is self-describing, so real writers' richer "
        "schemas read unchanged); the data files are parquet and "
        "Spark's native FileScan reads those in ONE scan with the "
        "converted schema pinned. The fixture's snapshot history "
        "puts the spec's rules on the hash path: status=DELETED "
        "entries whose files stay on disk (the 'error' partition "
        "and the pre-compaction 'view' files double-count if "
        "read), a compaction re-adding the same rows through one "
        "file, a DEAD delete manifest (content=1, all entries "
        "deleted) that must be skipped while live EQUALITY deletes "
        "refuse loudly (position deletes APPLY — "
        "iceberg_pos_delete_scan), an unreferenced orphan parquet, "
        "and FIELD-ID column resolution (data files carry "
        "parquet.field.id per the spec; the scan resolves by id, so "
        "renamed tables read correctly — iceberg_rename_scan). "
        "Unlike Delta, data files CONTAIN identity partition "
        "columns, so no value injection happens; partitions= prunes "
        "at the MANIFEST layer before any data I/O.",
)
def q_iceberg_table_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )

    _, table = _build_iceberg_landing(spark, sf_dir, "iceberg_scan")
    df = IC.read_iceberg(spark, table)
    return df.select("event_id", "user_id", "event_type", "value")


@query(
    "iceberg_snapshot_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 7 = 0
    """,
    doc="Iceberg SNAPSHOT time travel (sources/iceberg.py, "
        "snapshot_id=1) — Iceberg snapshots are self-contained file "
        "listings (the structural contrast to Delta's incremental "
        "log replay, which the engine also implements): reading "
        "snapshot 1 must see the pre-delete, pre-compaction state — "
        "all five partitions including 'error' — while the CURRENT "
        "metadata file already points at snapshot 2. Same table "
        "fixture as iceberg_table_scan; the two oracles differ "
        "exactly by the snapshot-2 delete.",
)
def q_iceberg_snapshot_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )

    _, table = _build_iceberg_landing(spark, sf_dir, "iceberg_tt")
    df = IC.read_iceberg(spark, table, snapshot_id=1)
    return df.select("event_id", "user_id", "event_type", "value")


def _build_iceberg_posdel_landing(spark, sf_dir, family):
    """Snapshot 3 on top of the Iceberg landing: a LIVE position-
    delete manifest (seq 3) whose parquet kills every
    ``event_id % 11 == 0`` row in the click/purchase/signup files,
    plus one row referencing a path outside the snapshot (ignored
    per spec), plus a DECOY delete manifest at seq 1 targeting the
    compacted view file (data seq 2) — the v2 sequence rule says an
    older delete cannot touch a newer rewrite, so applying it is a
    catchable wrong answer. Returns (work, table_path)."""
    import json as jsonmod

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )

    work, table = _build_iceberg_landing(spark, sf_dir, family)
    mdir = os.path.join(table, "metadata")
    snap = IC.resolve_snapshot(table)
    by_et: dict = {}
    for p, pv in snap.files:
        by_et.setdefault(pv["event_type"], []).append(p)
    targets = (by_et["click"] + by_et["purchase"]
               + by_et["signup"])

    def _stage_del(dest, rows):
        # driver-side pyarrow write — see "pyarrow staging" above
        _pa_write(pa.table(
            {"file_path": pa.array([r[0] for r in rows],
                                   pa.string()),
             "pos": pa.array([r[1] for r in rows], pa.int64())}),
            dest)

    # dead positions per target file, driver-side: a row's index in
    # its file is its write-order position — the same per-file index
    # the reader's _metadata.row_index addresses (file column reads
    # are KB-sized; no probe scan job)
    del_rows = []
    for p in targets:
        eids = pq.read_table(p, columns=["event_id"]) \
            .column("event_id").to_pylist()
        del_rows += [(p, i) for i, e in enumerate(eids)
                     if e % 11 == 0]
    del_rows.append((os.path.join(table, "data", "ghost.parquet"),
                     3))
    live = os.path.join(table, "data", "pdel-live.parquet")
    _stage_del(live, del_rows)
    decoy = os.path.join(table, "data", "pdel-decoy.parquet")
    _stage_del(decoy, [(by_et["view"][0], 0),
                       (by_et["view"][0], 1)])

    pfields = [("event_type", "string")]

    def _del_entry(path):
        return {"status": 1, "snapshot_id": 3,
                "data_file": {"content": 1, "file_path": path,
                              "file_format": "PARQUET",
                              "partition": {"event_type": None},
                              "record_count": 1,
                              "file_size_in_bytes":
                                  os.path.getsize(path)}}

    m2 = os.path.join(mdir, "m2.avro")
    dm_live = os.path.join(mdir, "del-live.avro")
    s_live = IC.write_manifest(dm_live, [_del_entry(live)], pfields)
    dm_decoy = os.path.join(mdir, "del-decoy.avro")
    s_decoy = IC.write_manifest(dm_decoy, [_del_entry(decoy)],
                                pfields)
    ml3 = os.path.join(mdir, "snap-3.avro")
    IC.write_manifest_list(ml3, [
        {"manifest_path": m2,
         "manifest_length": os.path.getsize(m2),
         "partition_spec_id": 0, "content": 0,
         "sequence_number": 2, "min_sequence_number": 1,
         "added_snapshot_id": 2},
        {"manifest_path": dm_live, "manifest_length": s_live,
         "partition_spec_id": 0, "content": 1,
         "sequence_number": 3, "min_sequence_number": 3,
         "added_snapshot_id": 3},
        {"manifest_path": dm_decoy, "manifest_length": s_decoy,
         "partition_spec_id": 0, "content": 1,
         "sequence_number": 1, "min_sequence_number": 1,
         "added_snapshot_id": 3},
    ])
    with open(os.path.join(mdir, "v2.metadata.json"), "r",
              encoding="utf-8") as f:
        meta = jsonmod.load(f)
    meta["last-sequence-number"] = 3
    meta["snapshots"].append(
        {"snapshot-id": 3, "sequence-number": 3, "timestamp-ms": 2,
         "manifest-list": ml3, "schema-id": 0,
         "summary": {"operation": "delete"}})
    meta["current-snapshot-id"] = 3
    with open(os.path.join(mdir, "v3.metadata.json"), "w",
              encoding="utf-8") as f:
        jsonmod.dump(meta, f)
    return work, table


@query(
    "iceberg_pos_delete_scan",
    headline=True,
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id % 7 = 0 AND event_type <> 'error'
      AND NOT (event_id % 11 = 0
               AND event_type IN ('click', 'purchase', 'signup'))
    """,
    doc="Iceberg v2 POSITION-DELETE read (sources/iceberg.py) — the "
        "row-level-delete half of the lakehouse tier's modern-table "
        "story next to Delta's deletion vectors: a v2 delete "
        "manifest lists parquet files of (file_path, pos) and a "
        "reader that skips them RESURRECTS deleted rows. The scan "
        "reads the delete parquet through Spark, matches data files "
        "by verified-unique basename (a delete row referencing a "
        "path outside the snapshot drops in the join — ignored per "
        "spec, never a crash), enforces the SEQUENCE rule (a delete "
        "applies only to data files with data seq <= the delete's — "
        "the fixture plants a seq-1 DECOY targeting the seq-2 "
        "compacted file, so applying old deletes to newer rewrites "
        "is a catchable wrong answer), and anti-joins dead (file, "
        "_metadata.row_index) pairs via broadcasts over the same "
        "single data FileScan — zero shuffles. Equality deletes "
        "refuse loudly.",
)
def q_iceberg_pos_delete_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )

    _, table = _build_iceberg_posdel_landing(spark, sf_dir,
                                             "iceberg_pd")
    df = IC.read_iceberg(spark, table)
    return df.select("event_id", "user_id", "event_type", "value")


def _build_iceberg_orc_landing(spark, sf_dir, family):
    """A small Iceberg table MIXING data-file formats: the click/
    purchase/signup rows land in one parquet file, the view/error
    rows in one ORC file (file_format=ORC in its manifest entry),
    single snapshot. Returns (work, table_path)."""
    import json as jsonmod
    import shutil

    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    mdir = os.path.join(table, "metadata")
    os.makedirs(mdir)
    _ids = {"event_id": 1, "user_id": 2, "value": 3,
            "event_type": 4}
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 3)
        # parquet side carries spec-required field ids; the ORC
        # writer ignores the metadata (ORC resolves by name)
        .select(*[F.col(c).alias(c,
                                 metadata={"parquet.field.id": i})
                  for c, i in _ids.items()])
    )

    def _stage_one(df_part, rel, fmt):
        stage = os.path.join(work, "stage")
        w = df_part.coalesce(1).write.mode("overwrite")
        (w.orc(stage) if fmt == "ORC" else w.parquet(stage))
        ext = ".orc" if fmt == "ORC" else ".parquet"
        part = next(n for n in sorted(os.listdir(stage))
                    if n.startswith("part-") and n.endswith(ext))
        dest = os.path.join(table, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(os.path.join(stage, part), dest)
        shutil.rmtree(stage, ignore_errors=True)
        return dest

    grp_a = F.col("event_type").isin("click", "purchase", "signup")
    pq = _stage_one(subset.filter(grp_a), "data/g=a/f-a.parquet",
                    "PARQUET")
    orc = _stage_one(subset.filter(~grp_a), "data/g=b/f-b.orc",
                     "ORC")

    def _entry(path, grp, fmt):
        return {"status": 1, "snapshot_id": 1,
                "data_file": {"content": 0, "file_path": path,
                              "file_format": fmt,
                              "partition": {"g": grp},
                              "record_count": 1,
                              "file_size_in_bytes":
                                  os.path.getsize(path)}}

    m1 = os.path.join(mdir, "m1.avro")
    s1 = IC.write_manifest(
        m1, [_entry(pq, "a", "PARQUET"), _entry(orc, "b", "ORC")],
        [("g", "string")])
    ml1 = os.path.join(mdir, "snap-1.avro")
    IC.write_manifest_list(ml1, [
        {"manifest_path": m1, "manifest_length": s1,
         "partition_spec_id": 0, "content": 0,
         "sequence_number": 1, "min_sequence_number": 1,
         "added_snapshot_id": 1}])
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "event_id", "required": False,
         "type": "long"},
        {"id": 2, "name": "user_id", "required": False,
         "type": "long"},
        {"id": 3, "name": "value", "required": False,
         "type": "double"},
        {"id": 4, "name": "event_type", "required": False,
         "type": "string"}]}
    meta = {
        "format-version": 2, "table-uuid":
            "00000000-0000-0000-0000-000000000016",
        "location": f"file://{table}", "last-sequence-number": 1,
        "last-updated-ms": 0, "last-column-id": 4,
        "current-schema-id": 0, "schemas": [schema],
        "default-spec-id": 0, "partition-specs": [
            {"spec-id": 0, "fields": []}],
        "last-partition-id": 999, "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 1,
        "snapshots": [
            {"snapshot-id": 1, "sequence-number": 1,
             "timestamp-ms": 0, "manifest-list": ml1,
             "schema-id": 0, "summary": {"operation": "append"}}],
        "snapshot-log": [], "metadata-log": [],
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w",
              encoding="utf-8") as f:
        jsonmod.dump(meta, f)
    return work, table


@query(
    "iceberg_orc_mixed_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 11 = 3
    """,
    doc="Iceberg MIXED-FORMAT read (sources/iceberg.py) — tables in "
        "the wild carry both parquet and ORC data files (a format "
        "migration, or engines with different defaults appending to "
        "one table); refusing the ORC entries would refuse the "
        "table. The reader routes each manifest entry by its "
        "file_format to Spark's NATIVE parquet or ORC scan — both "
        "vectorized, both pruned, schema pinned on each — and "
        "unions by name; manifest-layer partition pruning applies "
        "before either scan. Position deletes over ORC files refuse "
        "loudly (the anti-join key _metadata.row_index is a "
        "parquet-reader feature).",
)
def q_iceberg_orc_mixed_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )

    _, table = _build_iceberg_orc_landing(spark, sf_dir,
                                          "iceberg_orc")
    df = IC.read_iceberg(spark, table)
    return df.select("event_id", "user_id", "event_type", "value")


def _build_hudi_landing(spark, sf_dir, family):
    """Fixture stage for the Hudi queries: an events subset becomes
    a Hudi COPY_ON_WRITE table (one file group per (event_type,
    half) — ten groups), with the timeline that puts the reader's
    rules on the hash path: instant 001 writes all groups; instant
    002 UPDATES the 'click' groups (value doubled — the superseded
    base files STAY on disk, so latest-slice selection is the only
    correct read); instant 003 is a REPLACECOMMIT removing the
    'error' groups (delete_partition); a torn instant 004 exists
    only as requested+inflight markers with its data file on disk
    (must stay invisible). Returns (work, table_path)."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc

    from distributed_computing_projects_spark.sources import (
        hudi as HU,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    HU.init_table(table)
    # driver-side pyarrow staging — see "pyarrow staging" above;
    # the data files keep event_type (Hudi partition dirs carry it
    # too, but the files are self-contained)
    subset = _pa_events_subset(
        sf_dir, 7, 3, ("event_id", "user_id", "event_type", "value"))
    etypes = ["click", "error", "purchase", "signup", "view"]

    def _stage_instant(tbl, instant, stats):
        """One file group per (event_type, half) of one instant."""
        for et in etypes:
            sub = _pa_col_eq(tbl, "event_type", et)
            if sub.num_rows == 0:
                continue
            stats.setdefault(f"p={et}", [])
            for half, piece in enumerate(_pa_halves(sub)):
                if piece.num_rows == 0:
                    continue
                fid = f"g-{et}-{half}"
                rel = f"p={et}/{HU.base_file_name(fid, instant)}"
                _pa_write(piece, os.path.join(table, rel))
                stats[f"p={et}"].append(
                    {"fileId": fid, "path": rel, "numWrites": 1})

    stats1: dict = {}
    _stage_instant(subset, "001", stats1)
    HU.commit_instant(table, "001", stats1)
    stats2: dict = {}
    clicks = _pa_col_eq(subset, "event_type", "click")
    # value doubled — IEEE-exact whichever engine computes it
    clicks = clicks.set_column(
        clicks.schema.get_field_index("value"), "value",
        pc.multiply(clicks.column("value"), pa.scalar(2.0)))
    _stage_instant(clicks, "002", stats2)
    HU.commit_instant(table, "002", stats2)
    HU.commit_instant(
        table, "003", {},
        replace_file_ids={"p=error": ["g-error-0", "g-error-1"]})
    # torn instant 004: markers only, its data file on disk
    hoodie = os.path.join(table, ".hoodie")
    for state in ("requested", "inflight"):
        with open(os.path.join(hoodie, f"004.commit.{state}"),
                  "w", encoding="utf-8"):
            pass
    rel = f"p=view/{HU.base_file_name('g-view-0', '004')}"
    _pa_write(
        pa.table({"event_id": pa.array([999_999_999], pa.int64()),
                  "user_id": pa.array([1], pa.int64()),
                  "event_type": pa.array(["view"], pa.string()),
                  "value": pa.array([-1.0], pa.float64())}),
        os.path.join(table, rel))
    return work, table


_HUDI_DDL = ("event_id bigint, user_id bigint, event_type string, "
             "value double")


@query(
    "hudi_table_scan",
    headline=True,
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(CASE WHEN event_type = 'click' THEN value * 2
                ELSE value END AS DOUBLE) AS value
    FROM events
    WHERE event_id % 7 = 3 AND event_type <> 'error'
    """,
    doc="Apache Hudi Copy-on-Write table read (sources/hudi.py) — "
        "the THIRD lakehouse format, completing the triad next to "
        "Delta (incremental log replay) and Iceberg (self-contained "
        "snapshot listings): Hudi is the third distinct structure, "
        "a TIMELINE of instants over FILE GROUPS where each commit "
        "writes a new version of a group and a snapshot read takes "
        "the latest committed version of each. The fixture's "
        "timeline puts the rules on the hash path: an UPDATE "
        "rewrites the 'click' groups with doubled values while the "
        "superseded base files STAY on disk (a directory reader "
        "returns both versions), a REPLACECOMMIT removes the "
        "'error' groups (delete_partition), and a TORN instant "
        "(requested+inflight markers, data file present, no "
        "completed metadata) must stay invisible — the timeline's "
        "atomicity contract. MERGE_ON_READ tables and the 1.x "
        "timeline layout refuse loudly. The resolved list reads in "
        "ONE native parquet FileScan with the DDL pinned (Hudi's "
        "_hoodie_* meta columns prune away at the scan); doubling "
        "is IEEE-exact so the value oracle is bit-exact.",
)
def q_hudi_table_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        hudi as HU,
    )

    _, table = _build_hudi_landing(spark, sf_dir, "hudi_scan")
    df = HU.read_hudi(spark, table, _HUDI_DDL)
    return df.select("event_id", "user_id", "event_type", "value")


@query(
    "hudi_time_travel_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(CASE WHEN event_type = 'click' THEN value * 2
                ELSE value END AS DOUBLE) AS value
    FROM events WHERE event_id % 7 = 3
    """,
    doc="Hudi AS-OF time travel (sources/hudi.py, as_of='002') — "
        "the timeline replay stops at the requested instant: the "
        "002 state carries the click UPDATE but still has the "
        "'error' partition the 003 replacecommit later removed, and "
        "the torn 004 instant stays invisible at every point. "
        "Hudi's instants are lexicographic timestamps, so as-of is "
        "a sorted prefix of the timeline — the third time-travel "
        "semantic in the lakehouse triad (Delta: version replay; "
        "Iceberg: snapshot id; Hudi: instant prefix). Same table "
        "fixture as hudi_table_scan; the two oracles differ exactly "
        "by the 003 delete.",
)
def q_hudi_time_travel_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        hudi as HU,
    )

    _, table = _build_hudi_landing(spark, sf_dir, "hudi_tt")
    df = HU.read_hudi(spark, table, _HUDI_DDL, as_of="002")
    return df.select("event_id", "user_id", "event_type", "value")


def _build_hudi_mor_landing(spark, sf_dir, family):
    """Fixture stage for the MERGE_ON_READ query: an events subset
    becomes a MOR table — instant 001 (commit) writes one base file
    group per event_type; deltacommit 002 appends log blocks
    UPSERTING every click row at value*3; deltacommit 003 layers a
    second upsert (value*5 for even user_ids — last-wins over 002)
    and DELETES (_hoodie_is_deleted) every view row with
    event_id % 13 == 0; the click log also carries a block at 004
    with NO completed deltacommit (torn append — invisible) plus a
    rollback command for it (both invisibility mechanisms on the
    hash path). Returns (work, table_path)."""
    import shutil

    import pyarrow as pa

    from distributed_computing_projects_spark.sources import (
        hudi as HU,
    )
    from distributed_computing_projects_spark.sources import (
        hudimor as HM,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    HU.init_table(table, table_type="MERGE_ON_READ",
                  recordkey_fields="event_id")
    # driver-side pyarrow staging — see "pyarrow staging" above
    subset = _pa_events_subset(
        sf_dir, 7, 6, ("event_id", "user_id", "event_type", "value"))
    avsc = {"type": "record", "name": "ev", "fields": [
        {"name": "event_id", "type": ["null", "long"]},
        {"name": "user_id", "type": ["null", "long"]},
        {"name": "event_type", "type": ["null", "string"]},
        {"name": "value", "type": ["null", "double"]},
        {"name": "_hoodie_is_deleted", "type": ["null", "boolean"]},
    ]}

    # 001: ONE base file group per event_type (the log blocks below
    # target a group by fileId, and every record key of a partition
    # must live in the group its log rides — Hudi's upsert routing
    # invariant; compaction folds per group, so a cross-group delete
    # would resurrect rows there while the global snapshot window
    # still masked it)
    stats1: dict = {}
    etypes = sorted(set(subset.column("event_type").to_pylist()))
    for et in etypes:
        sub = _pa_col_eq(subset, "event_type", et)
        if sub.num_rows == 0:
            continue
        fid = f"g-{et}-0"
        rel = f"p={et}/{HU.base_file_name(fid, '001')}"
        _pa_write(sub, os.path.join(table, rel))
        stats1[f"p={et}"] = [{"fileId": fid, "path": rel,
                              "numWrites": 1}]
    HU.commit_instant(table, "001", stats1)

    class _R:
        __slots__ = ("event_id", "user_id", "event_type", "value")

        def __init__(self, d):
            for k in self.__slots__:
                setattr(self, k, d[k])

    def _row(r, mult=None, deleted=False):
        v = r.value
        if mult is not None and v is not None:
            v = v * mult
        return {"event_id": r.event_id, "user_id": r.user_id,
                "event_type": r.event_type, "value": v,
                "_hoodie_is_deleted": True if deleted else None}

    # driver-side log staging over the affected subset only — the
    # same bounded budget every landing builder pays
    clicks = [_R(d) for d in _pa_rows(
        _pa_col_eq(subset, "event_type", "click"))]
    views = _pa_col_eq(subset, "event_type", "view")
    dead_views = [_R(d) for d in _pa_rows(views)
                  if d["event_id"] % 13 == 0]
    click_fid = stats1["p=click"][0]["fileId"]
    view_fid = stats1["p=view"][0]["fileId"]
    click_log = f"p=click/{HM.log_file_name(click_fid, '001')}"
    view_log = f"p=view/{HM.log_file_name(view_fid, '001')}"
    HM.append_log_blocks(table, click_log, [
        HM.data_block("002", avsc, [_row(r, 3) for r in clicks]),
        HM.data_block("003", avsc,
                      [_row(r, 5) for r in clicks
                       if r.user_id % 2 == 0]),
        HM.data_block("004", avsc,
                      [{"event_id": 999_999_999,
                        "user_id": 1, "event_type": "click",
                        "value": -1.0,
                        "_hoodie_is_deleted": None}]),
        HM.rollback_block("005", "004"),
    ])
    HM.append_log_blocks(table, view_log, [
        HM.data_block("003", avsc,
                      [_row(r, deleted=True)
                       for r in dead_views])])
    HU.commit_instant(table, "002",
                      {"p=click": [{"fileId": click_fid,
                                    "path": click_log}]},
                      action="deltacommit")
    HU.commit_instant(table, "003",
                      {"p=click": [{"fileId": click_fid,
                                    "path": click_log}],
                       "p=view": [{"fileId": view_fid,
                                   "path": view_log}]},
                      action="deltacommit")
    return work, table


_HUDI_MOR_DDL = ("event_id bigint, user_id bigint, "
                 "event_type string, value double")


@query(
    "hudi_mor_snapshot_scan",
    headline=True,
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(CASE WHEN event_type = 'click' AND user_id % 2 = 0
                         THEN value * 5
                     WHEN event_type = 'click' THEN value * 3
                     ELSE value END AS DOUBLE) AS value
    FROM events
    WHERE event_id % 7 = 6
      AND NOT (event_id % 13 = 0 AND event_type = 'view')
    """,
    doc="Hudi MERGE_ON_READ snapshot read (sources/hudimor.py) — "
        "the log-file half of the Hudi layout and the lakehouse "
        "triad's last refusal closed: MOR writes land as deltacommit "
        "log blocks appended next to the base files, so reading the "
        "base alone returns STALE rows and reading the directory "
        "double-counts. The log-block framing is from the public "
        "tech spec (#HUDI# magic, big-endian frames, ordinal-keyed "
        "header maps, avro data blocks decoded by the engine's OWN "
        "avro datum codec — a genuine composition like the Iceberg "
        "manifest chain). Visibility is the timeline's: blocks of "
        "uncommitted instants are INVISIBLE (the fixture plants a "
        "torn 004 block AND its rollback command — both mechanisms "
        "on the hash path), upserts LAYER (002's value*3 beaten by "
        "003's value*5 for even user_ids — last-wins), deletes ride "
        "the documented _hoodie_is_deleted sentinel, and delete/"
        "hfile/parquet blocks refuse loudly. The scan: base files "
        "in ONE native parquet FileScan, log decode executor-side "
        "via Arrow over the distributed path list, then ONE window "
        "over the record key — the single shuffle a MOR merge "
        "inherently pays (folding it away is what compaction does).",
)
def q_hudi_mor_snapshot_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        hudimor as HM,
    )

    _, table = _build_hudi_mor_landing(spark, sf_dir, "hudi_mor")
    df = HM.read_hudi_mor(spark, table, _HUDI_MOR_DDL)
    return df.select("event_id", "user_id", "event_type", "value")


@query(
    "hudi_clean_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(CASE WHEN event_type = 'click' THEN value * 2
                ELSE value END AS DOUBLE) AS value
    FROM events
    WHERE event_id % 7 = 3 AND event_type <> 'error'
    """,
    doc="Hudi CLEANER roundtrip (sources/hudi.clean) — the third "
        "leg of the lakehouse maintenance triad next to "
        "delta_vacuum_roundtrip and iceberg_expire_roundtrip: "
        "parquet files the CURRENT snapshot does not reference "
        "delete from disk — the superseded pre-UPDATE click bases, "
        "the replacecommit-removed error groups, and the torn "
        "instant's litter — while the timeline itself stays intact "
        "under .hoodie/. The query cleans the same "
        "update+replace+torn fixture as hudi_table_scan and reads "
        "back with the IDENTICAL oracle: a cleaner that reclaimed a "
        "live file-slice hashes red, and as-of reads to cleaned "
        "instants fail loudly rather than silently shrinking.",
)
def q_hudi_clean_roundtrip(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        hudi as HU,
    )

    _, table = _build_hudi_landing(spark, sf_dir, "hudi_clean")
    HU.clean(table)
    df = HU.read_hudi(spark, table, _HUDI_DDL)
    return df.select("event_id", "user_id", "event_type", "value")


@query(
    "hudi_mor_compact_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(CASE WHEN event_type = 'click' AND user_id % 2 = 0
                         THEN value * 5
                     WHEN event_type = 'click' THEN value * 3
                     ELSE value END AS DOUBLE) AS value
    FROM events
    WHERE event_id % 7 = 6
      AND NOT (event_id % 13 = 0 AND event_type = 'view')
    """,
    doc="Hudi MOR COMPACTION roundtrip (sources/hudimor.compact) — "
        "the maintenance op that pays down log debt: each file "
        "group's blocks fold into a fresh base file published as a "
        "commit instant (exactly what a real compactor writes), "
        "after which the group's older logs no longer apply and "
        "snapshot reads become pure FileScans again; deletes "
        "MATERIALIZE (_hoodie_is_deleted keys physically leave the "
        "data). The query compacts the same upsert+delete+torn-"
        "block fixture as hudi_mor_snapshot_scan and reads back "
        "through the MOR reader — the oracle is IDENTICAL to the "
        "uncompacted scan's, so a compaction that loses an upsert "
        "layer, resurrects a deleted key, or replays a stale log "
        "hashes red.",
)
def q_hudi_mor_compact_roundtrip(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        hudimor as HM,
    )

    _, table = _build_hudi_mor_landing(spark, sf_dir,
                                       "hudi_mor_compact")
    HM.compact(spark, table, _HUDI_MOR_DDL, "900")
    df = HM.read_hudi_mor(spark, table, _HUDI_MOR_DDL)
    return df.select("event_id", "user_id", "event_type", "value")


@query(
    "delta_sink_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 5 = 1
    """,
    doc="Delta SINK roundtrip (sources/deltalake.write_delta) — the "
        "write side of the lakehouse tier: engine exports become "
        "TRANSACTIONAL tables instead of bare parquet directories. "
        "Data files stage through Spark's parquet writer "
        "(partitioned by event_type — the partition column leaves "
        "the data files and rides the log per the protocol), then "
        "ONE atomic put-if-absent commit (os.link, not os.replace: "
        "two racing writers can never both claim a version) "
        "publishes them, so a torn export is invisible to every "
        "reader. The query appends in TWO commits split by user_id "
        "parity and reads the table back through the log-replay "
        "reader — sink partition-value extraction (incl. the "
        "__HIVE_DEFAULT_PARTITION__ null convention), the schema-"
        "match append gate, and the reader's broadcast partition "
        "attach all sit on one hash path against the parquet-side "
        "oracle. The 100 TB point: exports gain snapshot isolation "
        "and time travel for the cost of one KB-sized log write.",
)
def q_delta_sink_roundtrip(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    work = _session_scratch(spark, "delta_sink", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 1)
        .select("event_id", "user_id", "value", "event_type")
    )
    DL.write_delta(subset.filter(F.col("user_id") % 2 == 0),
                   table, partition_by=["event_type"])
    DL.write_delta(subset.filter(F.col("user_id") % 2 == 1),
                   table, partition_by=["event_type"])
    back = DL.read_delta(spark, table)
    return back.select("event_id", "user_id", "event_type", "value")


def _build_delta_dv_landing(spark, sf_dir, family):
    """Fixture stage for the deletion-vector query: an events subset
    becomes a PARTITIONED Delta table whose v1 commit attaches
    deletion vectors killing every ``event_id % 3 == 0`` row in the
    click/view/purchase partitions — one partition per DV STORAGE
    TYPE (click: inline ``i``; view: both files' bitmaps at
    different offsets of ONE shared ``u`` sidecar under a random
    prefix dir; purchase: an absolute-path ``p`` sidecar), while
    signup/error keep their % 3 rows (scope stays on the hash
    path). A checkpoint at v1 carries the descriptors; v2 then
    deletes 'error' post-checkpoint; an uncommitted orphan parquet
    sits in the directory. Returns (work, table_path)."""
    import shutil

    import pyarrow as pa

    from distributed_computing_projects_spark.sources import (
        deltadv as DVC,
    )
    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    os.makedirs(table)
    # driver-side pyarrow staging — see "pyarrow staging" above
    subset = _pa_events_subset(
        sf_dir, 7, 4, ("event_id", "user_id", "value", "event_type"))
    etypes = ["click", "error", "purchase", "signup", "view"]
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
        StructField("event_type", StringType()),
    ])
    v0_acts = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        DL.metadata_action(schema, ["event_type"]),
    ]
    part_files = {}
    sizes = {}
    # dead positions per file: the row's index within its data file
    # IS its write-order position (the same per-file index the
    # reader's _metadata.row_index addresses), so the staging loop
    # records event_id % 3 == 0 positions directly — no probe scan
    dead: dict = {}
    for et in etypes:
        sub = _pa_col_eq(subset, "event_type", et).select(
            ["event_id", "user_id", "value"])
        part_files[et] = []
        for half, piece in enumerate(_pa_halves(sub)):
            if piece.num_rows == 0:
                continue
            rel = f"event_type={et}/part-{et}-{half}.parquet"
            sizes[rel] = _pa_write(piece, os.path.join(table, rel))
            part_files[et].append(rel)
            v0_acts.append(
                DL.add_action(rel, {"event_type": et}, sizes[rel]))
            if et in ("click", "view", "purchase"):
                idx = [i for i, e in enumerate(
                    piece.column("event_id").to_pylist())
                    if e % 3 == 0]
                if idx:
                    dead[os.path.basename(rel)] = idx
    DL.commit_json(table, 0, v0_acts)

    def _dv_adds(rel, desc):
        return [DL.remove_action(rel),
                DL.add_action(rel, {"event_type":
                                    rel.split("/")[0].split("=")[1]},
                              sizes[rel], deletion_vector=desc)]

    v1_acts = []
    for rel in part_files["click"]:
        idx = dead.get(os.path.basename(rel))
        if idx:
            v1_acts += _dv_adds(rel, DVC.inline_descriptor(idx))
    view_rels = [rel for rel in part_files["view"]
                 if dead.get(os.path.basename(rel))]
    if view_rels:
        descs = DVC.file_descriptors(
            table, [dead[os.path.basename(r)] for r in view_rels],
            prefix="ab")
        for rel, desc in zip(view_rels, descs):
            v1_acts += _dv_adds(rel, desc)
    purch = [rel for rel in part_files["purchase"]
             if dead.get(os.path.basename(rel))]
    if purch:
        sidecar = os.path.join(work, "external-dv.bin")
        payloads = [DVC.encode_bitmap(dead[os.path.basename(r)])
                    for r in purch]
        offsets = DVC.write_dv_file(sidecar, payloads)
        for rel, off, data in zip(purch, offsets, payloads):
            v1_acts += _dv_adds(rel, {
                "storageType": "p", "pathOrInlineDv": sidecar,
                "offset": off, "sizeInBytes": len(data),
                "cardinality": len(dead[os.path.basename(rel)])})
    DL.commit_json(table, 1, v1_acts)
    DL.write_checkpoint(spark, table, 1)
    DL.commit_json(table, 2, [
        DL.remove_action(rel) for rel in part_files["error"]])
    _pa_write(
        pa.table({"event_id": pa.array([999_999_999], pa.int64()),
                  "user_id": pa.array([1], pa.int64()),
                  "value": pa.array([-1.0], pa.float64())}),
        os.path.join(table, "event_type=view", "orphan.parquet"))
    return work, table


@query(
    "delta_dv_table_scan",
    headline=True,
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id % 7 = 4 AND event_type <> 'error'
      AND NOT (event_id % 3 = 0
               AND event_type IN ('click', 'view', 'purchase'))
    """,
    doc="Delta Lake DELETION-VECTOR read (sources/deltadv.py + "
        "deltalake.py) — deletion vectors are ON BY DEFAULT in "
        "modern Delta writers: a DELETE no longer rewrites the data "
        "file, it publishes a KB-sized roaring bitmap of dead row "
        "indexes beside it, so a reader without DV support either "
        "refuses the table or silently RESURRECTS deleted rows. "
        "The codec chain is pure stdlib from the public PROTOCOL: "
        "z85 payloads, the portable RoaringBitmapArray form (magic "
        "+ keyed 32-bit bitmaps; array/bitmap/run containers all "
        "parse), and the sidecar .bin layout with size + CRC-32 "
        "verified against the descriptor (cardinality too — a "
        "swapped bitmap must never delete the wrong rows). The "
        "fixture covers all three storage types in one table "
        "(inline 'i'; two bitmaps at different OFFSETS of one "
        "shared 'u' sidecar under a random prefix; absolute-path "
        "'p'), DV descriptors riding a CHECKPOINT, the remove+"
        "re-add DV update shape, and a post-checkpoint partition "
        "delete. The scan stays one native parquet FileScan: "
        "bitmaps decode driver-side and dead (file, row) pairs "
        "anti-join against _metadata.row_index via ONE broadcast — "
        "zero shuffles, column pruning intact.",
)
def q_delta_dv_table_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    _, table = _build_delta_dv_landing(spark, sf_dir, "delta_dv")
    df = DL.read_delta(spark, table)
    return df.select("event_id", "user_id", "event_type", "value")


@query(
    "delta_dv_delete_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id % 5 = 2
      AND NOT (event_type = 'error' OR event_id % 3 = 0)
    """,
    doc="Delta deletion-vector WRITE side "
        "(sources/deltalake.delete_where) — the modern writer's "
        "DELETE shape, completing the DV read path's symmetry: one "
        "scan finds matching (file, _metadata.row_index) positions, "
        "each affected file's roaring bitmap lands in ONE shared "
        "u-storage sidecar, and a single put-if-absent commit "
        "publishes the remove+re-add pairs — NO data file is "
        "rewritten, a delete costs KBs of bitmap however large the "
        "files. The same commit upgrades the protocol to advertise "
        "deletionVectors (reader v3 / writer v7, existing features "
        "preserved) so conforming readers cannot resurrect. Files "
        "whose merged vector covers every physical row are dropped "
        "outright (the 'error' partition here — a bare remove, no "
        "all-ones bitmap). The query stages an events subset "
        "through write_delta, DELETEs a predicate spanning a whole "
        "partition AND scattered rows, and reads the table back "
        "through the DV-applying reader against the parquet-side "
        "oracle.",
)
def q_delta_dv_delete_roundtrip(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    work = _session_scratch(spark, "delta_dv_del", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 2)
        .select("event_id", "user_id", "value", "event_type")
    )
    DL.write_delta(subset, table, partition_by=["event_type"])
    DL.delete_where(
        spark, table,
        "event_type = 'error' OR event_id % 3 = 0")
    back = DL.read_delta(spark, table)
    return back.select("event_id", "user_id", "event_type", "value")


@query(
    "delta_optimize_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id % 11 = 4 AND NOT event_id % 3 = 0
    """,
    doc="Delta OPTIMIZE — bin-packing compaction that MATERIALIZES "
        "deletion vectors (sources/deltalake.optimize): per "
        "partition the active files rewrite into target-size files "
        "and ONE commit swaps them with dataChange=false (layout "
        "changed, rows did not — streaming readers must not "
        "re-emit); the rewrite reads through the DV-applying scan, "
        "so dead rows physically leave the data files and the new "
        "adds carry no vector — compaction is how DV debt gets paid "
        "down, the small-files AND the dead-rows problem in one "
        "maintenance op. The query stages two appends (several "
        "small files per partition), DELETEs via deletion vectors, "
        "OPTIMIZEs, and reads back through the log-replay reader — "
        "the pre-OPTIMIZE history stays time-travelable because the "
        "swap is append-only log work.",
)
def q_delta_optimize_roundtrip(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    work = _session_scratch(spark, "delta_opt", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 4)
        .select("event_id", "user_id", "value", "event_type")
    )
    DL.write_delta(subset.filter(F.col("user_id") % 2 == 0),
                   table, partition_by=["event_type"])
    DL.write_delta(subset.filter(F.col("user_id") % 2 == 1),
                   table, partition_by=["event_type"])
    DL.delete_where(spark, table, "event_id % 3 = 0")
    DL.optimize(spark, table)
    back = DL.read_delta(spark, table)
    return back.select("event_id", "user_id", "event_type", "value")


@query(
    "delta_restore_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 11 = 6
    """,
    doc="Delta RESTORE — roll the table back to an earlier version "
        "as a NEW commit (sources/deltalake.restore_version): files "
        "active now but not at the target remove, files active at "
        "the target but not now (or carrying a different deletion "
        "vector) re-add with the target's partition values and DV, "
        "and the target metaData re-commits when it differs. "
        "History stays append-only — the restored-over delete is "
        "still time-travelable — and no data file is touched: a "
        "restore is a KB-sized log write however large the table "
        "(the 100 TB property). The query appends in two commits, "
        "DELETEs a third of the rows via deletion vectors, RESTOREs "
        "to the pre-delete version, and reads back the FULL subset "
        "through the log-replay reader — the oracle is exactly the "
        "undeleted state, so a restore that missed a tombstone or "
        "kept a vector hashes red.",
)
def q_delta_restore_roundtrip(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    work = _session_scratch(spark, "delta_restore", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 6)
        .select("event_id", "user_id", "value", "event_type")
    )
    DL.write_delta(subset.filter(F.col("user_id") % 2 == 0),
                   table, partition_by=["event_type"])
    pre_delete = DL.write_delta(
        subset.filter(F.col("user_id") % 2 == 1),
        table, partition_by=["event_type"])
    DL.delete_where(spark, table, "event_id % 3 = 0")
    DL.restore_version(spark, table, pre_delete)
    back = DL.read_delta(spark, table)
    return back.select("event_id", "user_id", "event_type", "value")


@query(
    "delta_vacuum_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id % 11 = 8 AND NOT event_id % 3 = 0
    """,
    doc="Delta VACUUM roundtrip (sources/deltalake.vacuum) — the "
        "space-reclaim maintenance op: data files not referenced by "
        "the CURRENT snapshot (an overwritten first append's files, "
        "uncommitted orphans, stray DV sidecars) delete from disk "
        "while live files AND the sidecars active deletion-vector "
        "descriptors point at survive — the op that keeps a "
        "continuously-rewritten landing zone from accreting forever. "
        "The query overwrites an initial append, DELETEs a third of "
        "the rows via deletion vectors (so a LIVE sidecar is in "
        "play), VACUUMs, and reads back through the log-replay "
        "reader: a vacuum that reclaimed a live data file or a live "
        "sidecar hashes red, and the reclaimed-history boundary is "
        "loud (restore to vacuumed versions raises).",
)
def q_delta_vacuum_roundtrip(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    work = _session_scratch(spark, "delta_vacuum", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 8)
        .select("event_id", "user_id", "value", "event_type")
    )
    DL.write_delta(subset.filter(F.col("user_id") % 2 == 0),
                   table, partition_by=["event_type"])
    DL.write_delta(subset, table, partition_by=["event_type"],
                   mode="overwrite")
    DL.delete_where(spark, table, "event_id % 3 = 0")
    DL.vacuum(spark, table)
    back = DL.read_delta(spark, table)
    return back.select("event_id", "user_id", "event_type", "value")


@query(
    "delta_incremental_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id % 11 = 1 AND user_id % 3 <> 0
    """,
    doc="Delta INCREMENTAL read "
        "(sources/deltalake.read_delta_changes) — the tail-"
        "consumption story a 100 TB landing table needs: a "
        "downstream consumer polls commits (from, to] and reads "
        "ONLY the files those commits added — KBs of log plus the "
        "new data, never a rescan of the table. The fixture appends "
        "in THREE commits split by user_id % 3 and reads the "
        "changes AFTER the first — exactly the rows of commits 2 "
        "and 3, with partition values attached from the log like "
        "the full scan. Semantics are honest: dataChange=false "
        "actions (OPTIMIZE's layout swaps) are invisible to "
        "consumers, while a range containing a data-changing remove "
        "or a deletion-vector add refuses loudly (append-only "
        "semantics do not hold across a DELETE — a full change "
        "feed would need before/after images).",
)
def q_delta_incremental_scan(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    work = _session_scratch(spark, "delta_incr", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 1)
        .select("event_id", "user_id", "value", "event_type")
    )
    first = DL.write_delta(subset.filter(F.col("user_id") % 3 == 0),
                           table, partition_by=["event_type"])
    DL.write_delta(subset.filter(F.col("user_id") % 3 == 1),
                   table, partition_by=["event_type"])
    DL.write_delta(subset.filter(F.col("user_id") % 3 == 2),
                   table, partition_by=["event_type"])
    back = DL.read_delta_changes(spark, table, first)
    return back.select("event_id", "user_id", "event_type", "value")


@query(
    "delta_schema_evolution_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS amount,
           CAST(NULL AS VARCHAR) AS note
    FROM events WHERE event_id % 11 = 5
    """,
    doc="Delta SCHEMA EVOLUTION scan "
        "(sources/deltalake.rename_column + add_column) — the ALTER "
        "TABLE tier, both metadata-only: RENAME upgrades the table "
        "to name-mode column mapping on first use (every field "
        "annotated with its current name as physicalName, so "
        "existing files keep reading unchanged) then flips the "
        "LOGICAL name while the physical stays; ADD COLUMN grows "
        "the schema with a nullable field that pre-existing files "
        "null at scan time (the reader pins the metaData schema, "
        "so drift cannot flip types mid-scan). Neither touches a "
        "data file — each is one KB-sized commit however large the "
        "table, and time travel to before the rename still shows "
        "the OLD logical name. The query writes events through the "
        "sink, renames value -> amount, adds a note column, and "
        "reads back through the mapping-aware reader against the "
        "parquet-side oracle.",
)
def q_delta_schema_evolution_scan(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    work = _session_scratch(spark, "delta_evolve", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 5)
        .select("event_id", "user_id", "value", "event_type")
    )
    DL.write_delta(subset, table, partition_by=["event_type"])
    DL.rename_column(spark, table, "value", "amount")
    DL.add_column(spark, table, "note", "string")
    back = DL.read_delta(spark, table)
    return back.select("event_id", "user_id", "event_type",
                       "amount", "note")


def _build_delta_cm_landing(spark, sf_dir, family):
    """Fixture stage for the column-mapping query: an events subset
    becomes a name-mode Delta table whose parquet files carry
    PHYSICAL column names (col-eid/col-uid/col-val) and whose value
    column was RENAMED mid-history — v0 writes the even-user half
    under logical name 'val', v1 renames it to 'value' (physical
    name unchanged: the whole point of name mode) and adds the odd
    half. partitionColumns and partitionValues are keyed by the
    PHYSICAL partition name col-et per the protocol's writer
    requirements. Returns (work, table_path)."""
    import json as jsonmod
    import shutil

    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    os.makedirs(table)
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 7 == 2)
        .select("event_id", "user_id", "event_type", "value")
    )

    def _cm_meta(logical_val):
        fields = [
            {"name": "event_id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName":
                              "col-eid"}},
            {"name": "user_id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName":
                              "col-uid"}},
            {"name": logical_val, "type": "double",
             "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName":
                              "col-val"}},
            {"name": "event_type", "type": "string",
             "nullable": True,
             "metadata": {"delta.columnMapping.id": 4,
                          "delta.columnMapping.physicalName":
                              "col-et"}},
        ]
        return {"metaData": {
            "id": "0" * 32,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": jsonmod.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": ["col-et"],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "4"},
            "createdTime": 0}}

    def _stage_half(df_half, tag):
        """Physical-named data files, one per partition; returns
        [(rel, size, event_type)]."""
        stage = os.path.join(work, f"stage-{tag}")
        (df_half.select(F.col("event_id").alias("col-eid"),
                        F.col("user_id").alias("col-uid"),
                        F.col("value").alias("col-val"),
                        "event_type")
         .coalesce(1).write.partitionBy("event_type")
         .parquet(stage))
        out = []
        for name in sorted(os.listdir(stage)):
            if not name.startswith("event_type="):
                continue
            et = name.split("=", 1)[1]
            sdir = os.path.join(stage, name)
            parts = [n for n in sorted(os.listdir(sdir))
                     if n.startswith("part-")
                     and n.endswith(".parquet")]
            os.makedirs(os.path.join(table, f"col-et={et}"),
                        exist_ok=True)
            for i, src in enumerate(parts):
                rel = f"col-et={et}/part-{tag}-{et}-{i}.parquet"
                os.replace(os.path.join(sdir, src),
                           os.path.join(table, rel))
                out.append((rel, os.path.getsize(
                    os.path.join(table, rel)), et))
        shutil.rmtree(stage, ignore_errors=True)
        return out

    even = _stage_half(subset.filter(F.col("user_id") % 2 == 0),
                       "v0")
    odd = _stage_half(subset.filter(F.col("user_id") % 2 == 1),
                      "v1")
    DL.commit_json(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _cm_meta("val"),
        *[DL.add_action(rel, {"col-et": et}, size)
          for rel, size, et in even],
    ])
    DL.commit_json(table, 1, [
        _cm_meta("value"),
        *[DL.add_action(rel, {"col-et": et}, size)
          for rel, size, et in odd],
    ])
    return work, table


@query(
    "delta_column_mapping_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 7 = 2
    """,
    doc="Delta COLUMN MAPPING read, name mode (sources/deltalake.py "
        "_column_mapping) — any table that ever renamed a column "
        "has delta.columnMapping.mode=name, so the old refusal "
        "locked those out. The parquet files carry PHYSICAL column "
        "names (col-eid/col-uid/col-val here) annotated in the "
        "metaData schema's delta.columnMapping.physicalName; the "
        "scan pins the PHYSICAL schema and renames to logical right "
        "after, so Catalyst's pruning/pushdown see one consistent "
        "scan. The fixture's history RENAMES the value column (v0 "
        "logical 'val', v1 'value' — physical name unchanged, the "
        "whole point of name mode) with data files added both "
        "before and after the rename; partition values are keyed by "
        "the physical partition name per the protocol's writer "
        "requirements and looked up through the mapping. Id-mode "
        "and nested-field renames refuse loudly.",
)
def q_delta_column_mapping_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )

    _, table = _build_delta_cm_landing(spark, sf_dir, "delta_cm")
    df = DL.read_delta(spark, table)
    return df.select("event_id", "user_id", "event_type", "value")


def _build_msgpack_landing(spark, sf_dir, family):
    """Fixture stage for the MessagePack query: stage an events
    subset as JSONL, encode each shard as one concatenated .msgpack
    stream with the decoy set — a non-map top-level value and an
    int-keyed map at every shard head (ROW drops: the walk
    continues, boundaries stay trusted), a writer-only nested field
    on every row, ts as the spec's TIMESTAMP EXTENSION (the 64-bit
    nanos+secs form), a structurally TORN value at the tail (stream
    stop keeps completed rows), and one junk file leading with the
    reserved 0xc1 byte. Returns (work, landing)."""
    import json as jsonmod
    import shutil

    from distributed_computing_projects_spark.sources import (
        msgpackfile as MP,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    # ts stages as epoch MICROS (the timestamp extension must
    # round-trip the parquet column's full precision)
    shard_lines = _pa_jsonl_shards(
        sf_dir, 11, 5, ("event_id", "user_id", "event_type", "value"),
        4, ts_us="ts_us")
    os.makedirs(landing)
    i = 0
    for lines in shard_lines:
        recs = [jsonmod.loads(ln) for ln in lines]
        vals = []
        for r in recs:
            us = r["ts_us"]
            sec, rem = divmod(us, 1_000_000)  # floor: pre-epoch safe
            nsec = rem * 1000
            vals.append({"event_id": r["event_id"],
                         "ts": MP.timestamp(sec, nsec),
                         "user_id": r["user_id"],
                         "event_type": r["event_type"],
                         "value": r.get("value"),
                         "meta": {"writer": "only", "n": i}})
        torn = MP.encode({"event_id": 999_000_000 + i})[:-2]
        with open(os.path.join(landing, f"part-{i}.msgpack"),
                  "wb") as f:
            f.write(MP.encode("not a row") + MP.encode({7: "int"})
                    + MP.build_msgpack_dump(vals) + torn)
        i += 1
    with open(os.path.join(landing, "junk.msgpack"), "wb") as f:
        f.write(b"\xc1" + b"reserved byte leads" * 2)
    return work, landing


@query(
    "msgpack_events_scan",
    oracle="""
    SELECT event_id, ts, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 11 = 5
    """,
    doc="MessagePack stream ingest (sources/msgpackfile.py) — the "
        ".msgpack dumps scraped-data pipelines and key-value exports "
        "ship, pure-stdlib from the public spec: a concatenation of "
        "SELF-FRAMING values (the BSON shape with the length "
        "implicit in the type bytes instead of a leading size), "
        "decoded across the full type table incl. the three-width "
        "TIMESTAMP extension (ts rides the 64-bit nanos+secs form "
        "on the hash path, emitted tz-aware — the avro lesson). The "
        "drop granularity is type-derived and honestly ASYMMETRIC: "
        "a value that decodes but is not a str-keyed map drops the "
        "ROW (the walk continues — the fixture plants a string and "
        "an int-keyed map at every shard head), while a STRUCTURAL "
        "failure stops the stream (no resync marker exists — a torn "
        "value rides every tail, and the junk file leads with the "
        "reserved 0xc1 byte). Writer-only nested fields discard; "
        "float64 is IEEE 8-byte so value survives bit-exact.",
)
def q_msgpack_events_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        msgpackfile as MP,
    )

    _, landing = _build_msgpack_landing(spark, sf_dir,
                                        "msgpack_events")
    back = MP.read_msgpack(
        spark, landing,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double")
    return back.select("event_id", "ts", "user_id", "event_type",
                       "value")


@query(
    "iceberg_sink_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 11 = 7
    """,
    doc="Iceberg SINK roundtrip (sources/iceberg.write_iceberg) — "
        "the write symmetry of the lakehouse tier: with write_delta, "
        "engine exports now publish as EITHER table format. Data "
        "files stage through Spark's parquet writer (a duplicated "
        "staging column keeps the partition column IN the files per "
        "the spec), the ADDED-entries manifest and a manifest list "
        "REUSING the prior snapshot's manifests (the spec's fast-"
        "append: appending costs one manifest, not a listing "
        "rewrite) are written through the engine's own Avro OCF "
        "writer, and the new metadata file publishes via exclusive "
        "os.link — racing writers can never both claim a version. "
        "The query appends in TWO snapshots split by user_id parity "
        "and reads the table back through the manifest-chain "
        "reader, so the sink's manifests, the fast-append reuse, "
        "and the reader's snapshot resolution all sit on one hash "
        "path against the parquet-side oracle.",
)
def q_iceberg_sink_roundtrip(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )

    work = _session_scratch(spark, "iceberg_sink", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 7)
        .select("event_id", "user_id", "value", "event_type")
    )
    IC.write_iceberg(subset.filter(F.col("user_id") % 2 == 0),
                     table, partition_by=["event_type"])
    IC.write_iceberg(subset.filter(F.col("user_id") % 2 == 1),
                     table, partition_by=["event_type"])
    back = IC.read_iceberg(spark, table)
    return back.select("event_id", "user_id", "event_type", "value")


@query(
    "iceberg_pos_delete_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id % 5 = 3
      AND NOT (event_type = 'error' OR event_id % 3 = 0)
    """,
    doc="Iceberg position-delete WRITE side "
        "(sources/iceberg.delete_where) — the Iceberg twin of "
        "delta_dv_delete_roundtrip, completing the row-level-delete "
        "symmetry on the second lakehouse format: one scan finds "
        "matching (file, _metadata.row_index) positions, they land "
        "in ONE v2 position-delete parquet of (file_path, pos) rows "
        "(file-then-position sorted, the spec's order), and a new "
        "snapshot publishes a delete manifest at the next sequence "
        "number alongside the prior snapshot's manifests — no data "
        "file rewritten, prior snapshots still read their own state. "
        "The query stages an events subset through write_iceberg, "
        "DELETEs a predicate spanning a whole partition and "
        "scattered rows, and reads back through the sequence-rule-"
        "enforcing position-delete reader against the parquet-side "
        "oracle.",
)
def q_iceberg_pos_delete_roundtrip(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )

    work = _session_scratch(spark, "iceberg_pd_sink", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 3)
        .select("event_id", "user_id", "value", "event_type")
    )
    IC.write_iceberg(subset, table, partition_by=["event_type"])
    IC.delete_where(
        spark, table,
        "event_type = 'error' OR event_id % 3 = 0")
    back = IC.read_iceberg(spark, table)
    return back.select("event_id", "user_id", "event_type", "value")


@query(
    "iceberg_expire_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 11 = 2
    """,
    doc="Iceberg EXPIRE-SNAPSHOTS roundtrip "
        "(sources/iceberg.expire_snapshots) — the Iceberg space-"
        "reclaim twin of delta_vacuum_roundtrip: all but the newest "
        "snapshot expire from the metadata (published as a NEW "
        "metadata version via the exclusive-link loop), and files "
        "reachable ONLY from expired snapshots — their manifest "
        "lists, manifests, and data files — delete from disk, while "
        "any path MENTIONED by a retained manifest chain survives "
        "whatever its entry status (the conservative rule: reclaim "
        "follows the manifest that references a file, never "
        "precedes it). The query appends, OVERWRITES (so the first "
        "snapshot's whole chain becomes expired-only), expires to "
        "keep=1, and reads back through the manifest chain: an "
        "expire that reclaimed a live file hashes red, and the "
        "expired snapshot id refuses loudly.",
)
def q_iceberg_expire_roundtrip(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )

    work = _session_scratch(spark, "iceberg_expire", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 2)
        .select("event_id", "user_id", "value", "event_type")
    )
    IC.write_iceberg(subset.filter(F.col("user_id") % 2 == 0),
                     table, partition_by=["event_type"])
    IC.write_iceberg(subset, table, partition_by=["event_type"],
                     mode="overwrite")
    IC.expire_snapshots(table, keep=1)
    back = IC.read_iceberg(spark, table)
    return back.select("event_id", "user_id", "event_type", "value")


@query(
    "iceberg_rename_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS amount
    FROM events WHERE event_id % 11 = 0
    """,
    doc="Iceberg RENAME COLUMN scan (sources/iceberg.rename_column "
        "+ field-ID resolution) — the round-16 upgrade of the old "
        "rename REFUSAL into the spec's own rule: Iceberg schemas "
        "are keyed by FIELD ID and data files carry those ids in "
        "their parquet footers, so a rename is a metadata-only new "
        "schema (same ids, one new name) and the scan resolves "
        "columns by id (spark.sql.parquet.fieldId.read), reading "
        "files whose parquet column still carries the OLD name "
        "correctly — while a NON-conformant id-less file now fails "
        "loudly instead of silently matching names. The sink stamps "
        "parquet.field.id on every data file it writes (the spec "
        "requires ids), historical names keep manifest-layer "
        "pruning working after partition-column renames, and the "
        "ORC path — name-resolved — still refuses renamed "
        "histories. The query writes events through the sink, "
        "renames value -> amount, and reads back against the "
        "aliased oracle.",
)
def q_iceberg_rename_scan(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )

    work = _session_scratch(spark, "iceberg_rename", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    table = os.path.join(work, "table")
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 0)
        .select("event_id", "user_id", "value", "event_type")
    )
    IC.write_iceberg(subset, table, partition_by=["event_type"])
    IC.rename_column(table, "value", "amount")
    back = IC.read_iceberg(spark, table)
    return back.select("event_id", "user_id", "event_type",
                       "amount")


def _build_cbor_landing(spark, sf_dir, family):
    """Fixture stage for the CBOR query: stage an events subset as
    JSONL, encode each shard as one RFC 8742 sequence with the decoy
    set — every FOURTH item in INDEFINITE framing (maps and strings
    open-ended until break — the format's distinguishing hazard), a
    duplicate-key map and a non-map value at every shard head (ROW
    drops), ts as tag-1 integer epoch seconds, a torn tail whose
    truncated HEAD must stop the stream (int.from_bytes of a short
    slice silently yields a smaller value — the reader checks length
    first), and a junk file leading with reserved additional-info
    0x1C. Returns (work, landing)."""
    import json as jsonmod
    import shutil

    from distributed_computing_projects_spark.sources import (
        cborfile as CBOR,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    shard_lines = _pa_jsonl_shards(
        sf_dir, 11, 3, ("event_id", "user_id", "event_type", "value"),
        4, ts_us="ts_us")
    os.makedirs(landing)
    i = 0
    for lines in shard_lines:
        recs = [jsonmod.loads(ln) for ln in lines]
        vals = []
        for r in recs:
            # tag-1 epoch carries whole seconds; the oracle truncates
            # to second precision to match (binary-fraction float
            # epochs cannot carry exact microseconds — documented)
            vals.append({"event_id": r["event_id"],
                         "ts": CBOR.timestamp(
                             r["ts_us"] // 1_000_000),
                         "user_id": r["user_id"],
                         "event_type": r["event_type"],
                         "value": r.get("value"),
                         "writer_only": [1, {"deep": i}]})
        dup = (b"\xa2" + CBOR.encode("k") + CBOR.encode(1)
               + CBOR.encode("k") + CBOR.encode(2))
        torn = CBOR.encode({"event_id": 999_000_000 + i})[:-1]
        with open(os.path.join(landing, f"part-{i}.cbor"),
                  "wb") as f:
            f.write(CBOR.encode("not a row") + dup
                    + CBOR.build_cbor_sequence(vals,
                                               indefinite_every=4)
                    + torn)
        i += 1
    with open(os.path.join(landing, "junk.cbor"), "wb") as f:
        f.write(bytes([0x1C]) + b"reserved additional info leads")
    return work, landing


@query(
    "cbor_events_scan",
    oracle="""
    SELECT event_id, date_trunc('second', ts) AS ts, user_id,
           event_type, CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 11 = 3
    """,
    doc="CBOR sequence ingest (sources/cborfile.py) — RFC 8949/8742 "
        "pure-stdlib: the serialization COSE/WebAuthn tooling and "
        "IoT collectors dump, the msgpack shape with the two twists "
        "this reader makes first-class and the fixture puts on the "
        "hash path: INDEFINITE-length containers and strings (every "
        "fourth item frames open-ended until break — chunked text "
        "reassembles, nested indefinite forms recurse) and the TAG "
        "system (ts rides tag-1 integer epoch seconds; unknown tags "
        "stay opaque, never silently unwrapped). Drops are the "
        "msgpack asymmetry plus the RFC's validity layer: a "
        "WELL-FORMED-BUT-INVALID item (duplicate map keys) drops "
        "the ROW while the walk continues; structural failures — "
        "including a torn HEAD, where int.from_bytes of a short "
        "slice would silently decode a smaller value if length were "
        "not checked first (a real bug this fixture caught "
        "in-round) — stop the stream. Float16/32/64 all decode; "
        "the junk file leads with reserved additional-info 0x1C.",
)
def q_cbor_events_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        cborfile as CBOR,
    )

    _, landing = _build_cbor_landing(spark, sf_dir, "cbor_events")
    back = CBOR.read_cbor(
        spark, landing,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double")
    return back.select("event_id", "ts", "user_id", "event_type",
                       "value")


def _build_pbstream_landing(spark, sf_dir, family):
    """Fixture stage for the protobuf-stream query: stage an events
    subset as JSONL, encode each shard as one varint-delimited
    stream with the decoy set — a record whose wire walk fails (a
    deprecated GROUP wire type) at every shard head (RECORD drop:
    the leading length still locates the next record), user_id as a
    SINT zigzag field, a writer-only extension field on every
    message (skipped by the wire grammar), a torn length varint at
    the tail (stream stop), and one junk file whose leading varint
    runs past end. Returns (work, landing)."""
    import json as jsonmod
    import shutil

    from distributed_computing_projects_spark.sources import (
        pbstream as PB,
    )

    work = _session_scratch(spark, family, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    shard_lines = _pa_jsonl_shards(
        sf_dir, 11, 2, ("event_id", "user_id", "event_type", "value"), 4)
    os.makedirs(landing)
    i = 0
    for lines in shard_lines:
        recs = [jsonmod.loads(ln) for ln in lines]
        msgs = []
        for r in recs:
            parts = [(1, "int", r["event_id"]),
                     (2, "sint", r["user_id"]),
                     (3, "string", r["event_type"]),
                     (9, "string", "writer-only extension")]
            if r.get("value") is not None:
                parts.insert(3, (4, "double", r["value"]))
            msgs.append(PB.encode_message(parts))
        bad = PB._enc_uvarint(1 << 3 | 3)  # group wire type
        with open(os.path.join(landing, f"part-{i}.pb"), "wb") as f:
            f.write(PB.build_pbstream([bad] + msgs)
                    + PB._enc_uvarint(99))
        i += 1
    with open(os.path.join(landing, "junk.pb"), "wb") as f:
        f.write(b"\xff" * 24)
    return work, landing


@query(
    "pbstream_events_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events WHERE event_id % 11 = 2
    """,
    doc="Varint-delimited protobuf stream ingest "
        "(sources/pbstream.py) — the writeDelimitedTo container of "
        "protobuf log pipelines, the CRC-less sibling of TFRecord "
        "that takes ANY message instead of tf.train.Example: a "
        "schema-free wire walk (varint/fixed64/length-delimited/"
        "fixed32) collects occurrences per field number, and the "
        "caller's field map + DDL types give them meaning — "
        "event_id as a plain int64 varint, user_id through the "
        "SINT ZIGZAG form, value as fixed64, absent values nulling. "
        "Drops are length-frame-derived like BSON: a record whose "
        "wire walk fails (the fixture plants a deprecated GROUP "
        "wire type at every shard head) drops record-granularly, "
        "while a torn length varint stops the stream; writer-only "
        "extension fields are skipped BY THE WIRE GRAMMAR — the "
        "protobuf compatibility story inherited for free. Fixed64 "
        "doubles are IEEE 8-byte so value survives bit-exact.",
)
def q_pbstream_events_scan(spark, sf_dir):
    from distributed_computing_projects_spark.sources import (
        pbstream as PB,
    )

    _, landing = _build_pbstream_landing(spark, sf_dir,
                                         "pbstream_events")
    back = PB.read_pbstream(
        spark, landing,
        "event_id bigint, user_id bigint, event_type string, "
        "value double",
        {"event_id": 1, "user_id": (2, "sint"), "event_type": 3,
         "value": 4})
    return back.select("event_id", "user_id", "event_type", "value")
