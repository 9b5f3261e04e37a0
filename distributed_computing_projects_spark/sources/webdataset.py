"""WebDataset tar-shard source — the de-facto container for
multimodal training data (image/text/label files grouped per sample
inside plain ``.tar`` shards; public convention documented at
github.com/webdataset/webdataset and used by OpenCLIP/LAION tooling).

A sample is the group of consecutive tar members sharing a KEY — the
member path up to the FIRST dot of its basename; everything after
that first dot is the part name (``00042.jpg`` + ``00042.meta.json``
-> key ``00042``, parts ``jpg`` and ``meta.json``). Shards are plain
POSIX tar (no compression inside; the outer file may ride any
transport), so stdlib ``tarfile`` is the whole codec.

Engine policies (the codec-seam discipline):

- **Per-file parallelism** via the binaryFile scan — exactly the
  WebDataset deployment model: thousands of ~100 MB-1 GB shards, the
  shard IS the unit of work (their own loaders shard-shuffle too).
- **Sample-granular drops**: a member larger than
  ``MAX_MEMBER_BYTES`` drops THAT SAMPLE (a sample with a missing
  part is worse than no sample); a tar torn mid-member keeps every
  complete sample before the tear and drops the in-progress group; a
  non-tar payload yields nothing. The walk never raises on hostile
  bytes.
- Directories/links/devices are skipped (only regular members carry
  sample parts); order of parts within a sample is preserved by
  last-wins on duplicate part names (the upstream convention).

Reference: extension surface (the reference's only record format is
the text line, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import io
import os
import tarfile
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import flat_map_rows

MAX_MEMBER_BYTES = 1 << 28  # 256 MiB per part, the codec-walk bound


def split_key(name: str) -> tuple[str, str]:
    """(key, part) per the WebDataset rule: the basename splits at its
    FIRST dot; the directory prefix stays in the key so shards with
    internal directories cannot collide keys."""
    d, b = os.path.split(name)
    if "." in b:
        stem, part = b.split(".", 1)
    else:
        stem, part = b, ""
    return (os.path.join(d, stem) if d else stem), part


def iter_samples(data: bytes) -> Iterator[tuple[str, dict]]:
    """(key, {part: bytes}) groups from one tar shard, in shard
    order. Policies per the module docstring."""
    try:
        tf = tarfile.open(fileobj=io.BytesIO(data), mode="r:")
    except Exception:
        return  # not a tar: the whole-payload drop
    cur_key = None
    cur: dict = {}
    cur_poisoned = False
    while True:
        try:
            member = tf.next()
        except Exception:
            # torn mid-header/member: complete samples already
            # yielded; the in-progress group is dropped
            return
        if member is None:
            break  # clean EOF
        if not member.isfile():
            continue
        key, part = split_key(member.name)
        if key != cur_key:
            if cur_key is not None and cur and not cur_poisoned:
                yield cur_key, cur
            cur_key, cur, cur_poisoned = key, {}, False
        if member.size > MAX_MEMBER_BYTES:
            cur_poisoned = True  # bomb part: the sample drops whole
            continue
        try:
            f = tf.extractfile(member)
            body = f.read() if f is not None else b""
            if len(body) != member.size:
                return  # torn mid-body: drop the in-progress group
        except Exception:
            return
        cur[part] = body
    if cur_key is not None and cur and not cur_poisoned:
        yield cur_key, cur


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """DataFrame of (key string, parts map<string,binary>) over a
    directory/glob of ``.tar`` shards — the generic form; pipelines
    select/decode the parts they need (e.g. ``parts['jpg']`` through
    the multimodal decode tier, ``parts['txt']`` through the text
    tier)."""
    return flat_map_rows(
        spark.read.format("binaryFile").load(path).select("content"),
        iter_samples, "key string, parts map<string,binary>")


def build_shard(samples, mtime: int = 0) -> bytes:
    """One deterministic tar shard from (key, {part: bytes}) groups —
    the fixture twin of :func:`iter_samples` (fixed mtime/uid/gid and
    USTAR format, so shard bytes are reproducible)."""
    out = io.BytesIO()
    with tarfile.open(fileobj=out, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for key, group in samples:
            for part, body in group.items():
                name = f"{key}.{part}" if part else key
                info = tarfile.TarInfo(name=name)
                info.size = len(body)
                info.mtime = mtime
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tf.addfile(info, io.BytesIO(body))
    return out.getvalue()
