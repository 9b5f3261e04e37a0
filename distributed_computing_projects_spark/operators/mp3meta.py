"""MP3 stream METADATA scan in pure stdlib — the honest library-free
slice of lossy audio: the frame-header layer (ISO/IEC 11172-3 §2.4.1)
is integer end-to-end, so frame counts, bitrate, sample rate, and
duration are exactly recomputable, while the decode proper (Huffman
spectral data -> requantization -> IMDCT -> polyphase synthesis) has
float stages no two engines reproduce bit-for-bit and stays the
documented external-codec integration point (multimodal.decode_audio
covers WAV and lossless FLAC).

Why it earns its place in a 100 TB pipeline: audio ingest triages on
exactly this metadata — duration/bitrate filters, corrupt-stream
drops, CBR/VBR routing — BEFORE paying decode cost for the survivors,
the same sample-before-decode discipline as operators/video.py.

Scope: MPEG-1/2/2.5 Layers I/II/III frame headers (sync walk,
bitrate/sample-rate tables, padding, CRC-16 skip), leading ID3v2 tags
(syncsafe size skip) and trailing ID3v1 tags. "Free format"
(bitrate index 0) and reserved indices are outside the subset. A
non-MP3 payload returns ``None`` (drops the row); a stream torn
mid-frame keeps the complete frames before it (frame-granular
malformed-record policy, like flac.py/gif.py).

The fixture builder emits headers + deterministic filler bytes — no
encoder pretense; the scanner is what is under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from distributed_computing_projects_spark.operators.spread import (
    flat_map_rows, prefix_payloads)

# bitrate tables in kbps, indexed [1..14] (0 = free format: outside
# subset; 15 = reserved). Keyed by (version_group, layer) where
# version_group is "1" for MPEG-1 and "2" for MPEG-2/2.5.
_BITRATES = {
    ("1", 1): [32, 64, 96, 128, 160, 192, 224, 256,
               288, 320, 352, 384, 416, 448],
    ("1", 2): [32, 48, 56, 64, 80, 96, 112, 128,
               160, 192, 224, 256, 320, 384],
    ("1", 3): [32, 40, 48, 56, 64, 80, 96, 112,
               128, 160, 192, 224, 256, 320],
    ("2", 1): [32, 48, 56, 64, 80, 96, 112, 128,
               144, 160, 176, 192, 224, 256],
    ("2", 2): [8, 16, 24, 32, 40, 48, 56, 64,
               80, 96, 112, 128, 144, 160],
    ("2", 3): [8, 16, 24, 32, 40, 48, 56, 64,
               80, 96, 112, 128, 144, 160],
}

# sample rates indexed [0..2], by version bits (3=MPEG1, 2=MPEG2,
# 0=MPEG2.5); index 3 is reserved
_SAMPLE_RATES = {3: [44100, 48000, 32000],
                 2: [22050, 24000, 16000],
                 0: [11025, 12000, 8000]}

# samples per frame by (version_group, layer)
_SAMPLES = {("1", 1): 384, ("1", 2): 1152, ("1", 3): 1152,
            ("2", 1): 384, ("2", 2): 1152, ("2", 3): 576}


def _frame_at(b: bytes, pos: int):
    """Parse a frame header at ``pos``; returns (frame_size_bytes,
    bitrate_kbps, sample_rate, samples_per_frame) or None if the
    four bytes there are not a valid in-subset header."""
    if pos + 4 > len(b) or b[pos] != 0xFF or (b[pos + 1] & 0xE0) != 0xE0:
        return None
    version = (b[pos + 1] >> 3) & 0x3     # 3=MPEG1 2=MPEG2 0=MPEG2.5
    layer_bits = (b[pos + 1] >> 1) & 0x3  # 3=I 2=II 1=III
    if version == 1 or layer_bits == 0:
        return None
    layer = 4 - layer_bits
    vgroup = "1" if version == 3 else "2"
    br_idx = (b[pos + 2] >> 4) & 0xF
    sr_idx = (b[pos + 2] >> 2) & 0x3
    padding = (b[pos + 2] >> 1) & 0x1
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free format / reserved: outside subset
    bitrate = _BITRATES[(vgroup, layer)][br_idx - 1]
    sr = _SAMPLE_RATES[version][sr_idx]
    if layer == 1:
        size = (12 * bitrate * 1000 // sr + padding) * 4
    else:
        per = _SAMPLES[(vgroup, layer)]
        size = per // 8 * bitrate * 1000 // sr + padding
    return size, bitrate, sr, _SAMPLES[(vgroup, layer)]


def parse_mp3_frames(b: bytes):
    """Walk an MP3 stream: skip a leading ID3v2 tag (syncsafe size),
    parse consecutive frame headers, stop at a trailing ID3v1 tag or
    the first byte run that is not a valid frame (keeping the frames
    before it). Returns ``(n_frames, bitrate_kbps, sample_rate,
    duration_ms)`` — bitrate is the constant CBR rate, or -1 when
    frames disagree (VBR) — or ``None`` when no frame parses (the
    row-level malformed drop)."""
    pos = _id3v2_end(b)
    n = 0
    bitrate = None
    vbr = False
    sr = None
    samples = 0
    while pos < len(b):
        if b[pos:pos + 3] == b"TAG":  # ID3v1 trailer
            break
        hdr = _frame_at(b, pos)
        if hdr is None:
            break
        size, br, rate, per = hdr
        if pos + size > len(b):
            break  # torn final frame: keep the complete ones
        if sr is None:
            sr = rate
        elif rate != sr:
            break  # sample-rate switch: not one stream
        if bitrate is None:
            bitrate = br
        elif br != bitrate:
            vbr = True
        n += 1
        samples += per
        pos += size
    if n == 0 or sr is None:
        return None
    return n, (-1 if vbr else bitrate), sr, samples * 1000 // sr


def _id3v2_end(b: bytes) -> int:
    """Offset just past a leading ID3v2 tag (0 if none)."""
    if b[:3] == b"ID3" and len(b) >= 10:
        return 10 + (((b[6] & 0x7F) << 21) | ((b[7] & 0x7F) << 14)
                     | ((b[8] & 0x7F) << 7) | (b[9] & 0x7F))
    return 0


def parse_vbr_tag(b: bytes):
    """Parse a Xing/Info or VBRI VBR header out of the FIRST frame —
    the frame-table metadata VBR encoders write so players can report
    duration without walking the whole stream (the 100 TB triage
    point: one frame read instead of a full-file scan).

    Layouts (both public, shipped by every VBR encoder since the 90s):

    - **Xing/Info** (Xing/LAME): inside the first frame's body after
      the layer-III side info (MPEG-1: 32 bytes stereo/joint/dual, 17
      mono; MPEG-2/2.5: 17/9), the tag fourcc then a u32 flags word
      (bit0 FRAMES, bit1 BYTES, bit2 TOC=100 bytes, bit3 QUALITY) and
      the present fields in that order, big-endian.
    - **VBRI** (Fraunhofer): at the fixed offset 32 bytes after the
      4-byte frame header: fourcc, version u16, delay u16, quality
      u16, BYTES u32, FRAMES u32, then TOC geometry.

    Returns ``(tag, frames, stream_bytes, sample_rate,
    samples_per_frame)`` with ``tag`` in {'xing', 'info', 'vbri'} and
    ``frames``/``stream_bytes`` None when the flag bit is absent — or
    ``None`` when the first frame carries neither tag. FRAMES here
    counts the AUDIO frames after the tag frame (this module's
    fixture convention; real encoders vary on off-by-the-tag-frame,
    which is why duration consumers should prefer the tag only for
    streams they trust — both durations are emitted side by side in
    :func:`mp3_vbr_stats`)."""
    import struct

    pos = _id3v2_end(b)
    hdr = _frame_at(b, pos)
    if hdr is None:
        return None
    size, _br, sr, per = hdr
    version = (b[pos + 1] >> 3) & 0x3
    mode = (b[pos + 3] >> 6) & 0x3
    if version == 3:  # MPEG-1
        side = 17 if mode == 3 else 32
    else:
        side = 9 if mode == 3 else 17
    frames = stream_bytes = None
    try:
        xo = pos + 4 + side
        fourcc = b[xo:xo + 4]
        if fourcc in (b"Xing", b"Info") and xo + 8 <= pos + size:
            flags = struct.unpack_from(">I", b, xo + 4)[0]
            p = xo + 8
            if flags & 1:
                frames = struct.unpack_from(">I", b, p)[0]
                p += 4
            if flags & 2:
                stream_bytes = struct.unpack_from(">I", b, p)[0]
                p += 4
            return ("xing" if fourcc == b"Xing" else "info",
                    frames, stream_bytes, sr, per)
        vo = pos + 4 + 32
        if b[vo:vo + 4] == b"VBRI" and vo + 18 <= pos + size:
            stream_bytes = struct.unpack_from(">I", b, vo + 10)[0]
            frames = struct.unpack_from(">I", b, vo + 14)[0]
            return ("vbri", frames, stream_bytes, sr, per)
    except struct.error:
        return None  # tag torn mid-field
    return None


# fixture geometry: byte0 picks the bitrate index, byte1 the frame
# count, byte2 the sample-rate index, byte3 the padding bit — enough
# text bytes to pin all four header dimensions from character codes
MP3_META_BYTES = 4


def mp3_payloads(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, payload): a deterministic MPEG-1 Layer III CBR stream per
    row — ``1 + byte1 % 7`` frames at bitrate index ``1 + byte0 % 14``
    and sample-rate index ``byte2 % 3``, padding bit ``byte3 % 2`` on
    every frame, wrapped in an ID3v2 tag (13 syncsafe body bytes) and
    an ID3v1 trailer so both skip paths always run. Frame bodies are
    0xAA filler — the scanner never reads them, which is the point."""

    def build(i, raw):
        br_idx = 1 + raw[0] % 14
        n_frames = 1 + raw[1] % 7
        sr_idx = raw[2] % 3
        padding = raw[3] % 2
        hdr = bytes([
            0xFF,
            0xE0 | (3 << 3) | (1 << 1) | 1,  # MPEG1, L3, no CRC
            (br_idx << 4) | (sr_idx << 2) | (padding << 1),
            0x00,
        ])
        size, _br, _sr, _per = _frame_at(hdr, 0)
        frame = hdr + b"\xaa" * (size - 4)
        return (b"ID3\x04\x00\x00" + b"\x00\x00\x00\x0d"
                + b"\x00" * 13
                + frame * n_frames
                + b"TAG" + b"\x00" * 125)

    return prefix_payloads(df, id_col, text_col, MP3_META_BYTES, build)


MP3_META_SCHEMA = (
    "id bigint, n_frames int, bitrate_kbps int, sample_rate int,"
    " duration_ms bigint"
)


def mp3_stream_stats(payloads: DataFrame) -> DataFrame:
    """Per-payload MP3 stream metadata via :func:`parse_mp3_frames`
    inside one Arrow row stage — the decode-free triage stage.
    Undecodable payloads drop the row."""

    def scan(i, payload):
        parsed = parse_mp3_frames(payload)
        if parsed is not None:
            yield (i, *parsed)

    return flat_map_rows(payloads.select("id", "payload"), scan,
                         MP3_META_SCHEMA)


def mp3_vbr_payloads(df: DataFrame, id_col: str,
                     text_col: str) -> DataFrame:
    """(id, payload): a deterministic VBR MPEG-1 Layer III stream per
    row — ONE tag frame (bitrate index 9, mono, carrying a Xing header
    when ``byte3`` is even, VBRI when odd) followed by ``1 + byte1 %
    7`` audio frames whose bitrate index cycles ``1 + (byte0 + f) %
    14`` (genuinely variable), all at sample-rate index ``byte2 % 3``,
    no padding. The tag's FRAMES field counts the audio frames, BYTES
    the full frame-section length — both recomputable from character
    codes, so the tag parse is differentially checkable."""
    import struct

    def _frame(br_idx: int, sr_idx: int, body: bytes = b"") -> bytes:
        hdr = bytes([
            0xFF,
            0xE0 | (3 << 3) | (1 << 1) | 1,  # MPEG1, L3, no CRC
            (br_idx << 4) | (sr_idx << 2),
            0xC0,  # mono (mode 3): 17 side-info bytes
        ])
        size = _frame_at(hdr, 0)[0]
        pad = b"\xaa" * (size - 4 - len(body))
        return hdr + body + pad

    def build(i, raw):
        n_audio = 1 + raw[1] % 7
        sr_idx = raw[2] % 3
        audio = b"".join(
            _frame(1 + (raw[0] + f) % 14, sr_idx)
            for f in range(n_audio)
        )
        tag_hdr_size = _frame_at(_frame(9, sr_idx)[:4], 0)[0]
        total = tag_hdr_size + len(audio)
        if raw[3] % 2 == 0:
            body = (b"\x00" * 17 + b"Xing"
                    + struct.pack(">I", 3)      # FRAMES|BYTES
                    + struct.pack(">I", n_audio)
                    + struct.pack(">I", total))
        else:
            body = (b"\x00" * 32 + b"VBRI"
                    + struct.pack(">HHH", 1, 0, 0)
                    + struct.pack(">I", total)
                    + struct.pack(">I", n_audio)
                    + struct.pack(">HHHH", 0, 1, 2, 1))
        return _frame(9, sr_idx, body) + audio

    return prefix_payloads(df, id_col, text_col, MP3_META_BYTES, build)


MP3_VBR_SCHEMA = (
    "id bigint, tag string, vbr_frames int, vbr_bytes bigint,"
    " n_frames_walk int, duration_ms_tag bigint, duration_ms_walk bigint"
)


def mp3_vbr_stats(payloads: DataFrame) -> DataFrame:
    """Per-payload VBR metadata: the Xing/VBRI tag parse
    (:func:`parse_vbr_tag` — frame-table duration from ONE frame, the
    at-scale triage read) side by side with the full frame walk
    (:func:`parse_mp3_frames` — ground truth), in one Arrow row
    stage. Streams with no VBR tag or no parsable frames
    drop the row."""

    def scan(i, b):
        tag = parse_vbr_tag(b)
        walk = parse_mp3_frames(b)
        if tag is not None and walk is not None:
            kind, frames, nbytes, sr, per = tag
            n_walk, _br, _sr, ms_walk = walk
            yield (i, kind, frames, nbytes, n_walk,
                   None if frames is None else frames * per * 1000 // sr,
                   ms_walk)

    return flat_map_rows(payloads.select("id", "payload"), scan,
                         MP3_VBR_SCHEMA)
