"""Zstd SEEKABLE-format splittable ingest — one huge ``.jsonl.zst``
shard split across many Spark tasks, from the public zstd seekable
format spec (``zstd/contrib/seekable_format/
zstd_seekable_compression_format.md``).

Why: the engine's ``.zst`` line scan (``sources/compressed.py``) is
per-FILE parallel — correct for the many-shards layout corpora
usually publish, but the documented caveat (SCALE.md) is a single
over-large shard: one 500 GB ``.zst`` file is ONE task no matter how
many executors idle. The seekable format exists exactly for this — a
standard zstd file (every frame is a normal frame, any zstd reader
decodes it whole) whose tail carries a SEEK TABLE in a skippable
frame, letting a reader start at any frame boundary:

    frame 0 | frame 1 | ... | frame N-1 | skippable seek table

Seek table layout (spec): skippable magic ``0x184D2A5E`` (LE) +
content size (4 LE); content = per-frame entries (compressed size
4 LE, decompressed size 4 LE, [xxh64-low checksum 4 LE if flagged])
+ a 9-byte footer (frame count 4 LE, descriptor byte — bit 7 =
checksum flag — and the seekable magic ``0x8F92EAB1`` LE).

Split semantics are Hadoop's text-split protocol, applied in
DECOMPRESSED coordinates: a split owns the lines that START inside
its frame range — it skips through the first newline when it does
not begin at decompressed offset 0 (the previous split owns that
spanning line) and reads PAST its end, decompressing subsequent
frames one at a time, until the last owned line terminates. Frames
therefore need NOT align with line boundaries (the fixture cuts them
mid-line on purpose). Tail policy matches ``compressed.iter_lines``:
a clean file EOF emits the final unterminated line (POSIX tail
tolerance); a frame that fails to decode mid-split keeps the
complete lines before it and stops THAT split (finer-grained than
the whole-file walker — other splits still extract).

Planning cost: one bounded TAIL read per file (the seek table), done
once at plan time — the same metadata-scan shape as Hadoop split
computation; the frames themselves are only read by tasks. A file
WITHOUT a valid seek table falls back to one whole-file split through
the standard streaming walk, so mixed directories degrade per-file,
never fail.

Checksum entries are parsed (they move the entry stride) but not
verified — they are xxhash64 lows and no xxh64 implementation exists
in this container's stdlib; zstd frames carry their own optional
content checksums underneath, and a corrupt frame already fails the
decoder. Documented trade, not an oversight.

Reference: extension surface (the reference's only record format is
the plain text line, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import glob as globmod
import os
import struct

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import flat_map_rows
from distributed_computing_projects_spark.sources.warc import zstd_backend

SEEKABLE_MAGIC = 0x8F92EAB1
SKIPPABLE_MAGIC = 0x184D2A5E
_FOOTER = 9  # frame count (4) + descriptor (1) + seekable magic (4)
MAX_LINE_BYTES = 1 << 26  # the compressed.py line bound
_OUT_CHUNK = 1 << 20


# ------------------------------------------------------- seek table


def parse_seek_table(tail: bytes, file_size: int):
    """Frame entries ``[(c_off, c_size, d_size), ...]`` from a file
    TAIL (any suffix of the file that contains the whole seek table),
    or ``None`` when the file carries no valid table. Validation is
    strict — a malformed table must fall back to the whole-file walk,
    never mis-slice frames: magic, sizes, and the requirement that
    the frame region exactly fills the bytes before the table."""
    if len(tail) < _FOOTER + 8:
        return None
    n_frames, desc, magic = struct.unpack_from("<IBI", tail,
                                               len(tail) - _FOOTER)
    if magic != SEEKABLE_MAGIC:
        return None
    entry = 12 if desc & 0x80 else 8
    content = n_frames * entry + _FOOTER
    table = content + 8  # + skippable frame header
    if table > file_size or table > len(tail):
        return None
    base = len(tail) - table
    skip_magic, skip_size = struct.unpack_from("<II", tail, base)
    if skip_magic != SKIPPABLE_MAGIC or skip_size != content:
        return None
    entries = []
    c_off = 0
    pos = base + 8
    for _ in range(n_frames):
        c_size, d_size = struct.unpack_from("<II", tail, pos)
        entries.append((c_off, c_size, d_size))
        c_off += c_size
        pos += entry
    if c_off != file_size - table:
        return None  # frames must exactly fill the pre-table bytes
    return entries


def read_seek_table(path: str):
    """Seek-table entries for one local file, or ``None`` (bounded
    tail read — the plan-time cost per file)."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        # 1 MiB tail covers ~87k frames (12 B/entry); re-read exactly
        # when a pathological table is larger
        want = min(size, 1 << 20)
        f.seek(size - want)
        tail = f.read(want)
        if len(tail) >= _FOOTER:
            n_frames, desc, magic = struct.unpack_from(
                "<IBI", tail, len(tail) - _FOOTER)
            entry = 12 if desc & 0x80 else 8
            need = n_frames * entry + _FOOTER + 8
            if magic == SEEKABLE_MAGIC and need > want and need <= size:
                f.seek(size - need)
                tail = f.read(need)
    return parse_seek_table(tail, size)


def plan_splits(paths, target_bytes: int = 1 << 27, tables=None):
    """Split rows over seekable files: consecutive frames grouped
    until ``target_bytes`` DECOMPRESSED bytes (the executor-memory
    coordinate). Non-seekable files become one streaming whole-file
    split each. Returns dict rows for ``createDataFrame``."""
    splits = []
    for path in paths:
        entries = tables[path] if tables is not None \
            else read_seek_table(path)
        if not entries:
            splits.append(dict(
                path=path, c_off=0,
                c_len=os.path.getsize(path), d_off=0, d_len=-1,
                cont_end=0, streaming=True))
            continue
        frames_end = entries[-1][0] + entries[-1][1]
        i = 0
        d_off = 0
        while i < len(entries):
            j = i
            d_len = 0
            while j < len(entries) and (j == i or d_len < target_bytes):
                d_len += entries[j][2]
                j += 1
            c_off = entries[i][0]
            c_len = entries[j - 1][0] + entries[j - 1][1] - c_off
            splits.append(dict(
                path=path, c_off=c_off, c_len=c_len,
                d_off=d_off, d_len=d_len,
                cont_end=frames_end, streaming=False))
            d_off += d_len
            i = j
    return splits


# ------------------------------------------------------ split decode


def _decode_region(f, c_off: int, c_len: int, d_cap: int,
                   new_d) -> tuple[bytes, bool]:
    """Decompress the concatenated frames in ``[c_off, c_off+c_len)``
    with the bounded incremental contract. Returns ``(bytes, clean)``
    — ``clean`` False when a frame tears or output exceeds ``d_cap``
    (the seek table IS the contract: overflow means corruption)."""
    f.seek(c_off)
    data = f.read(c_len)
    out = []
    total = 0
    pos = 0
    while pos < len(data):
        d = new_d()
        try:
            chunk = d.decompress(data[pos:], _OUT_CHUNK)
        except TypeError:
            try:
                chunk = d.decompress(data[pos:])
            except Exception:
                return b"".join(out), False
        except Exception:
            return b"".join(out), False
        while True:
            if chunk:
                total += len(chunk)
                if total > d_cap:
                    return b"".join(out), False
                out.append(chunk)
            if getattr(d, "eof", True):
                break
            try:
                chunk = d.decompress(b"", _OUT_CHUNK)
            except TypeError:
                try:
                    chunk = d.decompress(b"")
                except Exception:
                    return b"".join(out), False
            except Exception:
                return b"".join(out), False
            if not chunk and not getattr(d, "eof", True):
                return b"".join(out), False  # torn mid-frame
        unused = getattr(d, "unused_data", b"")
        consumed = len(data) - pos - len(unused)
        if consumed <= 0:
            return b"".join(out), False
        pos += consumed
    return b"".join(out), True


def _continuation(f, c_start: int, c_end: int, new_d):
    """``(extra, terminated, clean)``: the bytes CONTINUING a partial
    line into the frames at ``[c_start, c_end)``, decoded one bounded
    chunk at a time with a persistent decompressor (a compressed read
    window cutting a frame in half must NOT read as a tear — more
    input is fed, the bz2-contract way). ``terminated`` True when a
    newline was found; ``clean`` False on a genuinely torn frame or
    an over-bound line (the caller drops the partial)."""
    if c_start >= c_end:
        return b"", False, True  # at file EOF already: clean
    f.seek(c_start)
    remaining = c_end - c_start
    extra = bytearray()
    d = new_d()
    fresh = True  # d has not consumed input (no frame in flight)
    pending = b""  # compressed bytes handed back by a finished frame
    while True:
        if pending:
            feed, pending = pending, b""
        elif remaining > 0:
            feed = f.read(min(_OUT_CHUNK, remaining))
            remaining -= len(feed)
            if not feed:
                remaining = 0
                feed = None
        else:
            feed = None
        if feed is None:
            # nothing left to read: clean EOF only at a frame
            # boundary — a frame in flight means a torn tail
            return bytes(extra), False, fresh or getattr(d, "eof", True)
        fresh = False
        try:
            chunk = d.decompress(feed, _OUT_CHUNK)
        except TypeError:
            try:
                chunk = d.decompress(feed)
            except Exception:
                return bytes(extra), False, False
        except Exception:
            return bytes(extra), False, False
        while True:
            if chunk:
                nl = chunk.find(b"\n")
                if nl >= 0:
                    extra += chunk[:nl]
                    return bytes(extra), True, True
                extra += chunk
                if len(extra) > MAX_LINE_BYTES:
                    return b"", False, False  # over-bound line drops
            if getattr(d, "eof", True):
                pending = getattr(d, "unused_data", b"")
                d = new_d()
                fresh = True
                break  # next frame (or outer EOF check)
            try:
                chunk = d.decompress(b"", _OUT_CHUNK)
            except TypeError:
                break  # degraded one-shot backend: outer loop feeds
            except Exception:
                return bytes(extra), False, False
            if not chunk and not getattr(d, "eof", True):
                break  # needs more compressed input: outer loop reads


def split_lines(f, sp: dict, new_d):
    """Complete lines OWNED by one split: a split owns the lines
    starting at decompressed positions in ``(D_i, D_j]`` (``[0, D_j]``
    for the first split) — Hadoop's LineRecordReader ownership rule.
    So it skips through the first newline unless at offset 0 (that
    prefix belongs to a line starting at or before ``D_i``), extends
    a partial last line into following frames until it terminates,
    and when its block ends EXACTLY at a newline it still reads the
    one line starting at ``D_j`` (the read-one-past-the-end rule —
    the next split unconditionally discards it). Yields bytes lines,
    newline stripped."""
    block, clean = _decode_region(
        f, sp["c_off"], sp["c_len"],
        sp["d_len"] + 1 if sp["d_len"] >= 0 else 1 << 62, new_d)
    start = 0
    if sp["d_off"] > 0:
        nl = block.find(b"\n")
        if nl < 0:
            return  # the whole split is the middle of one owned-
            # elsewhere line (or torn); nothing starts here
        start = nl + 1
    body = block[start:]
    lines = body.split(b"\n") if body else [b""]
    partial = lines.pop()  # b"" when the block ends at a newline
    for ln in lines:
        if len(ln) <= MAX_LINE_BYTES:
            yield ln
    if not clean:
        return  # torn split region: the partial tail drops
    extra, terminated, cclean = _continuation(
        f, sp["c_off"] + sp["c_len"], sp["cont_end"], new_d)
    if partial:
        # the split's last line spans the boundary: finish it
        if terminated or cclean:
            # found its newline, or clean file EOF (POSIX tail
            # tolerance — the compressed.iter_lines policy)
            last = partial + extra
            if len(last) <= MAX_LINE_BYTES:
                yield last
    else:
        # block ended exactly at the boundary: the line STARTING at
        # D_j is owned HERE — possibly empty (terminated at once)
        if terminated:
            if len(extra) <= MAX_LINE_BYTES:
                yield extra
        elif cclean and extra:
            if len(extra) <= MAX_LINE_BYTES:
                yield extra  # file-final unterminated line


# ------------------------------------------------------- Spark stage


def _resolve(path: str):
    if os.path.isdir(path):
        path = os.path.join(path, "*.zst")
    files = sorted(globmod.glob(path))
    if not files and os.path.isfile(path.rstrip("*")):
        files = [path]
    return files


def seekable_lines(spark: SparkSession, path: str,
                   target_bytes: int | None = None) -> DataFrame:
    """``value: string`` lines over seekable ``.zst`` files with
    INTRA-file parallelism: plan-time tail reads build the split
    table, one task decodes one frame range. Non-UTF-8 lines drop
    (the compressed_lines policy); non-seekable files degrade to one
    whole-file split through ``compressed.iter_lines``.

    ``target_bytes=None`` sizes splits ADAPTIVELY — total decompressed
    bytes over ``2 x defaultParallelism``, clamped to [64 KiB,
    128 MiB] (Spark's own maxPartitionBytes/minPartitionNum shape):
    small fixtures still exercise >1 split, huge shards neither
    fragment into thousand-task confetti nor under-parallelize."""
    files = _resolve(path)
    tables = {p: read_seek_table(p) for p in files}
    if target_bytes is None:
        total = sum(
            sum(d for _, _, d in t) if t else os.path.getsize(p)
            for p, t in tables.items())
        par = max(spark.sparkContext.defaultParallelism, 1)
        target_bytes = min(max(total // (par * 2), 1 << 16), 1 << 27)

    def decompressors(sp):
        backend = zstd_backend()
        # dormant path: no zstd backend, the split yields nothing
        return None if backend is None else (backend[1], backend[1])

    return lines_from_splits(
        spark, plan_splits(files, target_bytes, tables=tables),
        decompressors)


_SPLIT_COLUMNS = ("path string, c_off bigint, c_len bigint, d_off bigint, "
                  "d_len bigint, cont_end bigint, streaming boolean, "
                  "check_id int")


def lines_from_splits(spark: SparkSession, splits: list,
                      decompressors) -> DataFrame:
    """``value: string`` lines from a split plan, one task per split —
    the decode stage the seekable zstd, BGZF and multi-block xz readers
    share. ``decompressors(sp)`` gives one split's (whole-file
    streaming, split-walk) decompressor factories, or ``None`` to skip
    the split. Lines keep the compressed_lines policy
    (``compressed.line_rows``)."""
    from distributed_computing_projects_spark.sources.compressed import (
        iter_lines, line_rows,
    )

    if not splits:
        return spark.createDataFrame([], "value string")
    keys = [c.split()[0] for c in _SPLIT_COLUMNS.split(", ")]
    sdf = spark.createDataFrame(
        [tuple(s.get(k) for k in keys) for s in splits], _SPLIT_COLUMNS,
    ).repartition(len(splits))

    def lines(*row):
        sp = dict(zip(keys, row))
        factories = decompressors(sp)
        if factories is None:
            return
        with open(sp["path"], "rb") as f:
            if sp["streaming"]:
                f.seek(sp["c_off"])
                it = iter_lines(f.read(sp["c_len"]), factories[0])
            else:
                it = split_lines(f, sp, factories[1])
            yield from line_rows(it)

    return flat_map_rows(sdf, lines, "value string")


def read_jsonl_zst_seekable(spark: SparkSession, path: str, schema,
                            malformed: str = "drop",
                            target_bytes: int | None = None
                            ) -> DataFrame:
    """``read_jsonl`` over seekable ``.jsonl.zst`` with intra-file
    splits — the same ``parse_jsonl_lines`` stage and malformed
    policy as every other JSONL producer."""
    from distributed_computing_projects_spark.sources.json import (
        parse_jsonl_lines,
    )

    return parse_jsonl_lines(
        seekable_lines(spark, path, target_bytes), schema, malformed)


# ---------------------------------------------------------- sink


def write_jsonl_seekable(df, path: str, frame_bytes: int = 1 << 22,
                         level: int = 3) -> int:
    """Distributed SEEKABLE-zstd sink: every partition writes ONE
    ``part-NNNNN.jsonl.zst`` shard — JSON lines cut into
    ``frame_bytes`` frames with the spec seek table appended — via
    write-to-temp + atomic ``os.replace`` (the catalog commit
    discipline: a task retry can never leave a torn shard visible).
    Returns the number of shards written.

    This closes the loop the reader opened: an engine EXPORT is
    re-readable with intra-file parallelism no matter how large one
    shard grows, so downstream jobs never hit the one-file-one-task
    wall that plain ``.jsonl.zst`` exports carry. Frames cut at byte
    positions (not line boundaries) — the reader's ownership
    protocol owns that case by construction."""
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    backend = zstd_backend()
    if backend is None:
        raise RuntimeError("no zstd backend (sources/warc)")
    os.makedirs(path, exist_ok=True)
    lines = df.select(
        F.to_json(F.struct(*df.columns)).alias("value"))

    compress = backend[0]

    def write_partition(rows):
        # frames stream to the temp file as they fill — task memory
        # is O(frame_bytes), never O(partition)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        final = os.path.join(path, f"part-{pid:05d}.jsonl.zst")
        tmp = final + f".tmp-{ctx.taskAttemptId() if ctx else 0}"
        entries = []
        buf = bytearray()
        f = None
        try:
            for row in rows:
                if f is None:
                    f = open(tmp, "wb")
                buf += row.value.encode("utf-8") + b"\n"
                while len(buf) >= frame_bytes:
                    plain = bytes(buf[:frame_bytes])
                    del buf[:frame_bytes]
                    frame = compress(plain, level)
                    entries.append((len(frame), len(plain)))
                    f.write(frame)
            if f is None:
                return iter(())  # empty partition: no shard
            if buf:
                frame = compress(bytes(buf), level)
                entries.append((len(frame), len(buf)))
                f.write(frame)
            content = b"".join(struct.pack("<II", c, d)
                               for c, d in entries)
            content += struct.pack("<IBI", len(entries), 0,
                                   SEEKABLE_MAGIC)
            f.write(struct.pack("<II", SKIPPABLE_MAGIC, len(content))
                    + content)
            f.close()
            f = None
            os.replace(tmp, final)  # atomic publish (retry-safe)
            return iter((1,))
        finally:
            if f is not None:
                f.close()
                try:
                    os.remove(tmp)
                except OSError:
                    pass

    # foreachPartition-shaped sink; the tiny count() drives execution
    # and returns the shard tally (one element per non-empty part)
    return lines.rdd.mapPartitions(write_partition).count()


# ------------------------------------------------------ fixture twin


def write_seekable(data: bytes, frame_bytes: int = 1 << 16,
                   level: int = 3) -> bytes:
    """One seekable ``.zst`` byte string: ``data`` cut into
    ``frame_bytes`` frames at ARBITRARY byte positions (deliberately
    not line-aligned — the split protocol is the thing under test),
    plus the spec seek table (no checksums, descriptor 0)."""
    backend = zstd_backend()
    if backend is None:
        raise RuntimeError("no zstd backend for seekable fixture")
    compress = backend[0]
    frames = []
    entries = []
    for i in range(0, len(data), frame_bytes):
        plain = data[i:i + frame_bytes]
        frame = compress(plain, level)
        frames.append(frame)
        entries.append((len(frame), len(plain)))
    content = b"".join(struct.pack("<II", c, d) for c, d in entries)
    content += struct.pack("<IBI", len(entries), 0, SEEKABLE_MAGIC)
    table = struct.pack("<II", SKIPPABLE_MAGIC, len(content)) + content
    return b"".join(frames) + table
