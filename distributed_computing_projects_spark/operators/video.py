"""MJPEG-in-AVI video decode: a pure-stdlib RIFF demuxer over the
pure-numpy JPEG codec (operators/jpeg.py) — closing the "video needs
an external codec" gap for the one video container whose frames ARE
JPEGs. Motion-JPEG AVI is what cheap cameras, capture cards, and
OpenCV's default writer emit, and it is the video format a
library-free engine can decode for real: the container is a chunk
walk (RIFF lists, '00dc' frame chunks, an idx1 index) and every frame
is an independent baseline JPEG.

Scale story (the part that matters at 100 TB): frame SAMPLING happens
between demux and decode. The demuxer is a byte-offset walk (tens of
microseconds per file, no entropy decode), so ``decode_video(...,
every_k=k)`` pays full JPEG decode cost only for 1/k of the frames —
the shape a training-data pipeline needs when it wants 1 frame/sec
out of 30 fps corpora. The selection happens executor-side inside the
same Arrow batch; no second pass over the payload bytes.

Malformed-record policy (sources/csv.py, applied to media): a payload
that is not a RIFF/AVI drops the whole row; a frame chunk that is not
a decodable baseline/progressive JPEG drops that FRAME (the record at
frame granularity), keeping the rest of the clip — a real corpus has
torn tails from truncated uploads.

Reference parity: the reference (karthiksharma98/
distributed-computing-projects) has no media decode; this is
LLM-pipeline scale-extension surface (SURVEY.md §2 extensions), same
family as operators/jpeg.py and operators/gif.py.

The muxer is a deterministic fixture builder (like jpeg.py's
encoder): it writes a spec-complete AVI (hdrl with avih/strh/strf,
movi, idx1 with keyframe flags) so the demuxer is exercised against
real container structure, but takes pre-encoded JPEG frames.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from distributed_computing_projects_spark.operators.spread import (
    flat_map_rows, prefix_payloads)

_U32 = struct.Struct("<I")


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    # RIFF chunks are word-aligned: odd-sized bodies get a pad byte
    # that is NOT counted in the size field
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + _U32.pack(len(body)) + body + pad


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def mux_avi_mjpeg(frames: list, w: int, h: int, fps: int = 10) -> bytes:
    """Serialize JPEG frame byte strings as a Motion-JPEG AVI:
    RIFF('AVI ') { LIST hdrl { avih, LIST strl { strh('vids'/'MJPG'),
    strf(BITMAPINFOHEADER biCompression='MJPG') } }, LIST movi
    { '00dc'... }, idx1 }. Every frame is a keyframe (MJPEG has no
    inter frames), flagged AVIIF_KEYFRAME in idx1 with offsets
    relative to the 'movi' fourcc — the layout players expect."""
    n = len(frames)
    avih = _chunk(b"avih", struct.pack(
        "<14I",
        1_000_000 // max(fps, 1),  # dwMicroSecPerFrame
        0, 0,
        0x10,                      # dwFlags: AVIF_HASINDEX
        n, 0, 1, 0, w, h, 0, 0, 0, 0,
    ))
    strh = _chunk(b"strh", struct.pack(
        "<4s4sIHHIIIIIIII4H", b"vids", b"MJPG",
        0, 0, 0, 0,                # dwFlags, wPriority, wLanguage, dwInit
        1, fps,                    # dwScale / dwRate
        0, n,                      # dwStart / dwLength (frames)
        0, 0, 0,                   # dwSuggestedBufferSize/Quality/SampleSize
        0, 0, w, h,                # rcFrame
    ))
    strf = _chunk(b"strf", struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3,
        0, 0, 0, 0,
    ))
    hdrl = _list(b"hdrl", avih + _list(b"strl", strh + strf))
    movi_body = b"movi"
    idx = b""
    for fb in frames:
        # idx1 offsets point at the chunk fourcc, measured from the
        # 'movi' fourcc itself (offset 4 = first chunk)
        idx += struct.pack("<4sIII", b"00dc", 0x10,
                           len(movi_body), len(fb))
        movi_body += _chunk(b"00dc", fb)
    movi = _chunk(b"LIST", movi_body)
    idx1 = _chunk(b"idx1", idx)
    return _chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def demux_avi(b: bytes):
    """Parse an AVI byte string into ``(width, height, [frame bytes])``
    where frames are the video-stream chunk payloads ('00dc'/'00db')
    in movi order. GENERAL over the container (walks whatever chunk
    layout the file declares, skipping unknown chunks and nested
    lists); returns ``None`` for non-AVI or structurally truncated
    input — the malformed-record drop."""
    try:
        if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
            return None
        end = min(8 + _U32.unpack_from(b, 4)[0], len(b))
        w = h = None
        frames: list = []

        def walk(pos: int, stop: int, in_movi: bool,
                 depth: int = 0) -> None:
            nonlocal w, h
            if depth > 16:
                # real AVIs nest 2-3 deep; a deeper tree is a
                # malformed payload, not a stack to recurse down
                raise ValueError("list nesting too deep")
            while pos + 8 <= stop:
                fourcc = b[pos:pos + 4]
                size = _U32.unpack_from(b, pos + 4)[0]
                body0, body1 = pos + 8, pos + 8 + size
                if body1 > stop:
                    raise ValueError("chunk overruns container")
                if fourcc == b"LIST":
                    ltype = b[body0:body0 + 4]
                    walk(body0 + 4, body1, ltype == b"movi", depth + 1)
                elif fourcc == b"avih":
                    if size < 40:
                        raise ValueError("short avih")
                    w = _U32.unpack_from(b, body0 + 32)[0]
                    h = _U32.unpack_from(b, body0 + 36)[0]
                elif in_movi and fourcc[2:4] in (b"dc", b"db"):
                    frames.append(b[body0:body1])
                pos = body1 + (size % 2)  # skip the pad byte

        walk(12, end, False)
        if w is None:
            return None
        return w, h, frames
    except (ValueError, struct.error, IndexError):
        return None


# fixture geometry: one flat 8x8 color tile per frame — the flat-tile
# determinism contract (jpeg.py module doc) extended along the time
# axis, so a SQL oracle recomputes every frame's pixels from character
# codes
VID_W = VID_H = 8
VID_FRAMES = 8
VID_EVERY = 3  # the frame_sample query decodes frames 0, 3, 6
VID_BYTES = 3 * VID_FRAMES


def avi_payloads(df: DataFrame, id_col: str, text_col: str,
                 n_frames: int = VID_FRAMES) -> DataFrame:
    """(id, payload): a deterministic ``n_frames``-frame MJPEG AVI per
    row. Frame f is a single flat 8x8 tile whose (Y, Cb, Cr) are text
    bytes (3f, 3f+1, 3f+2) — quantized DC = byte - 128 against DC
    step 8, so the full Huffman -> dequant -> IDCT -> YCbCr->RGB
    pipeline reconstructs the byte exactly per the jpeg.py determinism
    contract. Callers pre-filter to rows with >= ``3 * n_frames`` text
    bytes (JVM-side, before this Python stage)."""
    from distributed_computing_projects_spark.operators import jpeg as J
    from distributed_computing_projects_spark.operators.multimodal import (
        flat_tile_comps,
    )

    qtable = [8] + [16] * 63

    def build(i, raw):
        # frame f is the flat-tile fixture over text bytes 3f..3f+2
        frames = [flat_tile_comps(raw[3 * f:3 * f + 3], VID_W, VID_H)
                  for f in range(n_frames)]
        return mux_avi_mjpeg(
            [J.encode_baseline(c, VID_W, VID_H, qtable) for c in frames],
            VID_W, VID_H)

    return prefix_payloads(df, id_col, text_col, 3 * n_frames, build)


FRAME_SCHEMA = (
    "id bigint, frame_idx int, width int, height int,"
    " sum_r bigint, sum_g bigint, sum_b bigint"
)


def decode_video(payloads: DataFrame, every_k: int = 1) -> DataFrame:
    """Demux + per-frame JPEG decode inside one Arrow row stage;
    emits a row per DECODED frame: (id, frame_idx,
    width, height, per-channel pixel SUMS) — integer outputs, means
    are the caller's divide (same contract as multimodal.decode_image,
    plus the time axis).

    ``every_k`` is the sample-before-decode knob: the demux walk finds
    every frame chunk, but only indices with ``idx % every_k == 0``
    pay JPEG entropy+IDCT cost — at 30 fps corpora and every_k=30,
    97% of the decode work never runs. Non-AVI payloads drop the row;
    an undecodable frame chunk drops that frame only."""
    if every_k < 1:
        # validate at the API boundary: range(0, n, 0) would raise an
        # opaque ValueError inside the Arrow worker, failing the task
        raise ValueError(f"every_k must be >= 1, got {every_k}")
    import numpy as np

    from distributed_computing_projects_spark.operators import jpeg as J

    def decode(i, payload):
        demuxed = demux_avi(payload)
        frames = demuxed[2] if demuxed is not None else []
        for idx in range(0, len(frames), every_k):
            decoded = J.decode_pixels(frames[idx])
            if decoded is not None:
                w, h, px = decoded
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                yield (i, idx, w, h, *sums.tolist())

    return flat_map_rows(payloads.select("id", "payload"), decode,
                         FRAME_SCHEMA)
