"""Multimodal column convention + decode/feature plumbing.

Convention (SURVEY.md §1.3 / BASELINE.json): an opaque ``binary``
payload column plus a typed metadata struct
(mime/width/height/duration). The decode / feature-extraction step is
the one place Python enters: the Arrow row stage
(``spread.flat_map_rows``) whose batch shape, schema, and partitioning
are real and tested.
``decode_features`` computes deterministic byte-level features;
``decode_image`` REALLY decodes the formats a library-free container
can (binary PPM / uncompressed 24-bit BMP with pure numpy; 8-bit
truecolor PNG through stdlib zlib inflate + numpy unfiltering;
baseline AND progressive JPEG — incl. 4:2:0/4:2:2 subsampling —
through the pure-numpy Huffman+IDCT codec in operators/jpeg.py;
GIF87a/89a through the pure-stdlib LZW codec in operators/gif.py) and
drops the rest — codecs that genuinely need external libraries
(MP3/AAC/video containers) remain the documented integration point.

At scale the payloads dominate: keep them in their own parquet column
(never in shuffle keys), size ``spark.sql.files.maxPartitionBytes`` to
the payload size, and push metadata filters down BEFORE the Python
stage so the Arrow transfer only carries surviving rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from distributed_computing_projects_spark.operators.spread import (
    flat_map_rows, prefix_payloads, spread)

PAYLOAD_SCHEMA = (
    "id bigint, payload binary,"
    " meta struct<mime: string, width: int, height: int, duration_s: double>"
)

FEATURE_SCHEMA = (
    "id bigint, n_bytes int, first_byte int, byte_checksum bigint, mime string"
)

MAX_DECODE_BYTES = 1 << 28  # zip-bomb guard (sources/warc.py
# discipline): a compressed image stream expanding past this drops the
# payload instead of ballooning one hostile row into an executor OOM


def _inflate_bounded(raw: bytes) -> bytes | None:
    """zlib inflate with the bomb bound; None on torn (no stream end),
    corrupt, or over-bound input — the payload drop."""
    import zlib

    d = zlib.decompressobj()
    try:
        out = d.decompress(raw, MAX_DECODE_BYTES + 1)
    except zlib.error:
        return None
    if len(out) > MAX_DECODE_BYTES or not d.eof:
        return None
    return out


def attach_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Demo payload table: UTF-8 bytes of the text as the opaque binary
    column (stands in for image/audio bytes), with typed metadata."""
    return df.select(
        F.col(id_col).alias("id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )


def payload_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Pure-SQL metadata over payloads (no Python): byte length + mime.
    This is the filter stage that runs BEFORE any decode at scale."""
    p = attach_payload(df, id_col, text_col)
    return p.select(
        "id",
        F.octet_length("payload").alias("n_bytes"),
        F.col("meta.mime").alias("mime"),
    )


def decode_features(payloads: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The features are deterministic byte-level stand-ins (length, first
    byte, additive checksum) so the full plumbing — schema in/out,
    Arrow batches, per-partition iteration — is exercised and testable
    without media libraries. Swap ``featurize`` for a real decoder
    (PIL/torchaudio/ffmpeg) keeping the same signature.
    """

    def featurize(i, payload, mime):
        yield (i, len(payload), payload[0] if payload else -1,
               sum(payload) % 2_147_483_647, mime)

    cols = payloads.select(
        "id", "payload", F.col("meta.mime").alias("mime")
    )
    return flat_map_rows(spread(cols), featurize, FEATURE_SCHEMA)


IMAGE_SCHEMA = (
    "id bigint, width int, height int, n_px bigint,"
    " sum_r bigint, sum_g bigint, sum_b bigint"
)


def _decode_ppm(b: bytes):
    """Binary PPM (P6): 'P6' <ws> width <ws> height <ws> maxval <ws-1>
    raw RGB. Handles arbitrary whitespace and '#' comments in the
    header. Returns (w, h, HxWx3 uint8 array) or None."""
    import numpy as np

    if not b.startswith(b"P6"):
        return None
    i, tokens = 2, []
    while len(tokens) < 3 and i < len(b):
        while i < len(b) and b[i : i + 1].isspace():
            i += 1
        if b[i : i + 1] == b"#":
            while i < len(b) and b[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(b) and not b[j : j + 1].isspace():
            j += 1
        tokens.append(b[i:j])
        i = j
    i += 1  # the single whitespace byte after maxval
    try:
        w, h, maxval = (int(t) for t in tokens)
    except ValueError:
        return None
    if maxval != 255 or w <= 0 or h <= 0 or len(b) < i + w * h * 3:
        return None
    px = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=i)
    return w, h, px.reshape(h, w, 3)


def _decode_bmp(b: bytes):
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up rows,
    4-byte row padding, BGR order). Returns (w, h, HxWx3 RGB uint8
    array) or None."""
    import struct

    import numpy as np

    if len(b) < 54 or not b.startswith(b"BM"):
        return None
    off = struct.unpack_from("<I", b, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", b, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", b, 26)
    if hdr_size < 40 or bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    flipped = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    if len(b) < off + row_bytes * h:
        return None
    rows = np.frombuffer(b, dtype=np.uint8, count=row_bytes * h,
                         offset=off).reshape(h, row_bytes)
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    if flipped:
        bgr = bgr[::-1]
    return w, h, bgr[..., ::-1]  # BGR -> RGB


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int,
                  stride: int | None = None):
    """Reverse PNG scanline filtering (spec §9: None/Sub/Up/Average/
    Paeth). Returns an (h, stride) uint8 array or None on a bad filter
    byte. None/Up are whole-row vectorized; Sub is fully vectorized as
    a per-lane running sum (``cumsum mod 256`` — mod distributes over
    the prefix sums). Average/Paeth carry a computed-left-neighbour
    dependency that defeats whole-row vectorization, so they walk the
    row over plain Python LISTS — numpy scalar indexing (the replaced
    code) costs ~4x a list index per element, and per-pixel numpy lane
    ops cost more still (measured 12x slower than the list walk at
    bpp=3: the 3-element array op overhead exceeds 3 scalar steps).

    ``stride`` (scanline bytes, default ``w*bpp``) diverges from
    ``w*bpp`` for sub-byte depths (palette/grayscale 1/2/4): packed
    rows filter BYTE-wise with bpp=1 per the spec ("filters operate
    on bytes"), so callers pass ``stride=ceil(w*depth/8), bpp=1``."""
    import numpy as np

    if stride is None:
        stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        ftype = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 1:  # Sub: per-lane prefix sum mod 256
            cur = (
                np.cumsum(line.reshape(-1, bpp), axis=0, dtype=np.int64)
                % 256
            ).astype(np.int32).reshape(stride)
        elif ftype in (3, 4):  # Average / Paeth: list-walk the row
            ll = line.tolist()
            pl = prev.tolist()
            lst = [0] * stride
            if ftype == 3:
                for i in range(stride):
                    a = lst[i - bpp] if i >= bpp else 0
                    lst[i] = (ll[i] + ((a + pl[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    a = lst[i - bpp] if i >= bpp else 0
                    b_ = pl[i]
                    c = pl[i - bpp] if i >= bpp else 0
                    p = a + b_ - c
                    pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b_
                    else:
                        pred = c
                    lst[i] = (ll[i] + pred) & 0xFF
            cur = np.array(lst, dtype=np.int32)
        else:
            return None
        out[r] = cur.astype(np.uint8)
        prev = cur
    return out


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# Adam7 pass origins and strides: (x0, y0, dx, dy) per reduced image
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unpack_depth(rows, w: int, depth: int):
    """(h, stride) packed row bytes -> (h, w) per-pixel values for
    depth 1/2/4/8 (PNG packs sub-byte samples high-bit-first; row
    padding bits are discarded by the ``[:, :w]`` crop)."""
    import numpy as np

    if depth == 8:
        return rows[:, :w]
    bits = np.unpackbits(rows, axis=1)
    npix = bits.shape[1] // depth
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    vals = (
        bits[:, : npix * depth]
        .reshape(rows.shape[0], npix, depth)
        .astype(np.uint16)
        * weights
    ).sum(axis=2)
    return vals[:, :w].astype(np.uint8)


def _decode_png(b: bytes):
    """PNG decode with stdlib ``zlib`` + numpy unfiltering — no
    imaging library. Color types: 2/6 (8-bit truecolor RGB/RGBA,
    alpha dropped), 3 (PLTE palette, bit depths 1/2/4/8 — the
    dominant web-PNG layout), 0 (grayscale, depths 1/2/4/8,
    replicated to RGB with the exact 255/(2^d-1) scale); each
    non-interlaced or Adam7-interlaced. Walks the chunk list
    (IHDR -> PLTE? -> IDAT* -> IEND), inflates the concatenated IDAT
    stream, reverses per-row byte filtering (sub-byte depths filter
    with bpp=1 on the PACKED bytes per spec §9), unpacks
    high-bit-first samples, and resolves palette indices with one
    numpy take. Returns (w, h, HxWx3 RGB uint8 array) or None
    (16-bit, gray+alpha, out-of-range palette indices, or truncated
    payloads DROP per the malformed-record policy)."""
    import struct

    import numpy as np

    if not b.startswith(_PNG_SIG):
        return None
    pos, ihdr, idat, plte = len(_PNG_SIG), None, [], None
    while pos + 8 <= len(b):
        size, cid = struct.unpack_from(">I4s", b, pos)
        body = b[pos + 8 : pos + 8 + size]
        if len(body) < size:
            return None  # truncated chunk
        if cid == b"IHDR":
            ihdr = struct.unpack_from(">IIBBBBB", body, 0)
        elif cid == b"PLTE":
            if size % 3 or size == 0:
                return None
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif cid == b"IDAT":
            idat.append(body)
        elif cid == b"IEND":
            break
        pos += 8 + size + 4  # header + body + CRC
    if ihdr is None or not idat:
        return None
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if (comp != 0 or filt != 0 or interlace not in (0, 1)
            or w <= 0 or h <= 0):
        return None
    if ctype in (2, 6):
        if depth != 8:
            return None
        packed = False
        bpp = 3 if ctype == 2 else 4
    elif ctype in (0, 3):
        if depth not in (1, 2, 4, 8):
            return None
        if ctype == 3 and plte is None:
            return None
        packed = True
        bpp = 1
    else:
        return None  # gray+alpha (4) / unknown
    raw = _inflate_bounded(b"".join(idat))
    if raw is None:
        return None

    def _stride(pw: int) -> int:
        return (pw * depth + 7) // 8 if packed else pw * bpp

    def _to_rgb(rows, pw: int):
        """Unfiltered (ph, stride) bytes -> (ph, pw, 3) RGB."""
        if not packed:
            return rows.reshape(rows.shape[0], pw, bpp)[..., :3]
        vals = _unpack_depth(rows, pw, depth)
        if ctype == 3:
            if int(vals.max(initial=0)) >= len(plte):
                return None  # libpng errors here too
            return plte[vals]
        scale = 255 // ((1 << depth) - 1)  # exact for 1/2/4/8
        g = (vals.astype(np.uint16) * scale).astype(np.uint8)
        return np.repeat(g[..., None], 3, axis=2)

    if interlace == 0:
        if len(raw) != h * (_stride(w) + 1):
            return None
        rows = _png_unfilter(raw, w, h, bpp, stride=_stride(w))
        if rows is None:
            return None
        rgb = _to_rgb(rows, w)
        if rgb is None:
            return None
        return w, h, rgb
    # Adam7 (spec §8.2): seven reduced images, each filtered
    # independently; empty passes contribute zero bytes
    out = np.zeros((h, w, 3), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        seg_len = ph * (_stride(pw) + 1)
        seg = raw[pos : pos + seg_len]
        if len(seg) < seg_len:
            return None
        pos += seg_len
        rows = _png_unfilter(seg, pw, ph, bpp, stride=_stride(pw))
        if rows is None:
            return None
        rgb = _to_rgb(rows, pw)
        if rgb is None:
            return None
        out[y0::dy, x0::dx] = rgb
    if pos != len(raw):
        return None
    return w, h, out


def _png_filter_row(cur, prev, bpp: int, ftype: int):
    """FORWARD-filter one scanline (encode side) — the exact inverse
    of :func:`_png_unfilter`'s reconstruction, per the PNG spec."""
    import numpy as np

    cur = cur.astype(np.int32)
    left = np.zeros_like(cur)
    left[bpp:] = cur[:-bpp]
    up = prev.astype(np.int32)
    upleft = np.zeros_like(up)
    upleft[bpp:] = up[:-bpp]
    if ftype == 0:
        out = cur
    elif ftype == 1:
        out = cur - left
    elif ftype == 2:
        out = cur - up
    elif ftype == 3:
        out = cur - ((left + up) >> 1)
    else:  # Paeth
        p = left + up - upleft
        pa, pb, pc = (np.abs(p - left), np.abs(p - up), np.abs(p - upleft))
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, upleft))
        out = cur - pred
    return (out & 0xFF).astype(np.uint8)


def encode_png(rgb, filters=None, alpha: bool = False,
               interlace: bool = False) -> bytes:
    """Minimal deterministic PNG encoder (driver-side/UDF-side fixture
    builder): 8-bit RGB/RGBA, one IDAT, ``filters`` = per-row filter
    types (default all-0). Exists so the decode path can be exercised
    end-to-end through REAL zlib DEFLATE with every filter type, not
    to compete with an imaging library."""
    import struct
    import zlib

    import numpy as np

    rgb = np.asarray(rgb, dtype=np.uint8)
    h, w, _ = rgb.shape
    if alpha:
        rgba = np.full((h, w, 4), 255, dtype=np.uint8)
        rgba[..., :3] = rgb
        rgb = rgba
    bpp = rgb.shape[2]

    def _filter_image(img, ftypes):
        ih, iw = img.shape[:2]
        stride = iw * bpp
        flat = img.reshape(ih, stride)
        part = bytearray()
        prev = np.zeros(stride, dtype=np.uint8)
        for r in range(ih):
            ft = ftypes[r % len(ftypes)]
            part.append(ft)
            part += _png_filter_row(flat[r], prev, bpp, ft).tobytes()
            prev = flat[r]
        return part

    filters = [0] * h if filters is None else filters
    if not interlace:
        raw = _filter_image(rgb, filters)
    else:
        # Adam7: each reduced image filtered independently (its first
        # row's Up/Paeth neighbours are zero, per the spec)
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = rgb[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                raw += _filter_image(sub, filters)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6 if bpp == 4 else 2, 0, 0,
                       1 if interlace else 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + chunk(b"IEND", b""))


def _pack_depth(vals, depth: int):
    """(h, w) per-pixel values -> (h, stride) packed row bytes,
    high-bit-first with zero row-padding bits — the exact inverse of
    :func:`_unpack_depth`."""
    import numpy as np

    if depth == 8:
        return vals.astype(np.uint8)
    h, w = vals.shape
    bits = (
        (vals[..., None].astype(np.uint16)
         >> np.arange(depth - 1, -1, -1)) & 1
    ).reshape(h, w * depth).astype(np.uint8)
    return np.packbits(bits, axis=1)  # pads the row tail with zeros


def encode_png_indexed(indices, palette, depth: int, filters=None,
                       interlace: bool = False) -> bytes:
    """Minimal deterministic INDEXED PNG encoder (color type 3, bit
    depth 1/2/4/8): PLTE from ``palette`` (n x 3 uint8), samples
    packed high-bit-first, each scanline byte-filtered with bpp=1 per
    spec §9. The fixture builder that lets the palette decode path be
    exercised end-to-end through REAL zlib DEFLATE across all four
    depths and all five filters."""
    import struct
    import zlib

    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = idx.shape
    if int(idx.max(initial=0)) >= len(pal) or len(pal) > (1 << depth):
        raise ValueError("index out of palette range")

    def _filter_image(img2d, ftypes):
        packed = _pack_depth(img2d, depth)
        part = bytearray()
        prev = np.zeros(packed.shape[1], dtype=np.uint8)
        for r in range(packed.shape[0]):
            ft = ftypes[r % len(ftypes)]
            part.append(ft)
            part += _png_filter_row(packed[r], prev, 1, ft).tobytes()
            prev = packed[r]
        return part

    filters = [0] * h if filters is None else filters
    if not interlace:
        raw = _filter_image(idx, filters)
    else:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = idx[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                raw += _filter_image(sub, filters)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0,
                       1 if interlace else 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", pal.tobytes())
            + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + chunk(b"IEND", b""))


def _packbits_decode(data: bytes) -> bytes | None:
    """Apple PackBits (TIFF compression 32773): n in 0..127 copies n+1
    literal bytes, n in -127..-1 repeats the next byte 1-n times,
    -128 is a no-op. Returns None on a torn stream or when the output
    exceeds the zip-bomb bound (PackBits expands up to 128× per input
    pair, so one hostile strip could otherwise balloon)."""
    out = bytearray()
    i = 0
    while i < len(data):
        if len(out) > MAX_DECODE_BYTES:
            return None
        n = data[i] - 256 if data[i] >= 128 else data[i]
        i += 1
        if n == -128:
            continue
        if n >= 0:
            if i + n + 1 > len(data):
                return None
            out += data[i : i + n + 1]
            i += n + 1
        else:
            if i >= len(data):
                return None
            out += bytes([data[i]]) * (1 - n)
            i += 1
    return bytes(out)


def _tiff_lzw_decode(data: bytes) -> bytes | None:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing (GIF's
    is LSB-first), fixed 8-bit roots with ClearCode=256/EOI=257, and
    the spec's "EarlyChange" quirk — the code width bumps one code
    EARLIER than the dictionary actually fills (at 510/1022/2046).
    Returns None on a torn or ill-formed stream, or when the output
    exceeds the zip-bomb bound (LZW output can grow quadratically in
    the input). The codec itself is shared with PDF LZWDecode
    (``functions/lzw.py``); TIFF is always EarlyChange."""
    from distributed_computing_projects_spark.functions.lzw import lzw_decode

    return lzw_decode(data, early_change=1, max_out=MAX_DECODE_BYTES)


def _decode_tiff(b: bytes):
    """Baseline TIFF (TIFF 6.0 §2-§9): both byte orders, 8-bit
    grayscale (photometric 0/1) or RGB (photometric 2), strip-based,
    compression 1 (none), 5 (LZW, MSB-first with EarlyChange), 8
    (Deflate/zlib), or 32773 (PackBits). Returns (w, h, pixel
    array with 3 channels — grayscale replicated) matching
    :func:`_decode_ppm`'s contract, or None outside the subset /
    on torn input."""
    import struct

    import numpy as np

    if len(b) < 8 or b[:2] not in (b"II", b"MM"):
        return None
    end = "<" if b[:2] == b"II" else ">"
    try:
        magic, ifd_off = struct.unpack_from(end + "HI", b, 2)
        if magic != 42:
            return None
        n_entries = struct.unpack_from(end + "H", b, ifd_off)[0]
        tags: dict[int, list[int]] = {}
        for e in range(n_entries):
            off = ifd_off + 2 + 12 * e
            tag, typ, cnt = struct.unpack_from(end + "HHI", b, off)
            size = {3: 2, 4: 4}.get(typ)
            if size is None:
                continue  # unneeded tag types (RATIONAL etc.) skipped
            fmt = "H" if typ == 3 else "I"
            if size * cnt <= 4:
                vals = list(struct.unpack_from(end + fmt * cnt, b, off + 8))
            else:
                voff = struct.unpack_from(end + "I", b, off + 8)[0]
                vals = list(struct.unpack_from(end + fmt * cnt, b, voff))
            tags[tag] = vals
        w = tags.get(256, [0])[0]
        h = tags.get(257, [0])[0]
        bits = tags.get(258, [8])
        comp = tags.get(259, [1])[0]
        photo = tags.get(262, [1])[0]
        offsets = tags.get(273)
        counts = tags.get(279)
        spp = tags.get(277, [1])[0]
        pred = tags.get(317, [1])[0]
        if (
            not w or not h or offsets is None or counts is None
            or len(offsets) != len(counts)
            or comp not in (1, 5, 8, 32773)
            or pred not in (1, 2)
            or photo not in (0, 1, 2)
            or spp not in (1, 3)
            or (photo == 2) != (spp == 3)
            or any(v != 8 for v in bits)
            or len(bits) != spp
        ):
            return None
        raw = bytearray()
        for o, c in zip(offsets, counts):
            strip = b[o : o + c]
            if len(strip) < c:
                return None
            if comp == 32773:
                dec = _packbits_decode(strip)
            elif comp == 5:
                dec = _tiff_lzw_decode(strip)
            elif comp == 8:
                dec = _inflate_bounded(strip)
            else:
                dec = strip
            if dec is None:
                return None
            raw += dec
            if len(raw) > MAX_DECODE_BYTES:
                return None  # bomb guard across the strip walk
        if len(raw) != w * h * spp:
            return None
        px = np.frombuffer(bytes(raw), dtype=np.uint8)
        if pred == 2:
            # horizontal differencing (TIFF 6.0 §14, tag 317): each
            # sample stores the delta to the previous pixel's same
            # channel, resetting per row — undo with a per-row,
            # per-channel cumulative sum mod 256. Silently skipping
            # the tag would decode deltas as pixels: wrong, not torn.
            px = (px.reshape(h, w, spp).astype(np.uint32)
                  .cumsum(axis=1) % 256).astype(np.uint8).reshape(-1)
        if spp == 1:
            if photo == 0:  # WhiteIsZero: invert to BlackIsZero values
                px = 255 - px
            px = np.repeat(px, 3)
        return w, h, px
    except struct.error:
        return None


def _decode_webp(b: bytes):
    """WebP via the system libwebp ctypes binding
    (functions/webplib.py) — C-speed decode, RIFF magic gated, bomb
    bound checked against header dims BEFORE pixel allocation. None
    (the row drop) when the library is absent, the payload is torn,
    or the canvas exceeds the bound."""
    if b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        return None
    from distributed_computing_projects_spark.functions import (
        webplib as WP,
    )

    out = WP.decode_rgb(b, MAX_DECODE_BYTES)
    if out is None:
        return None
    import numpy as np

    w, h, px = out
    return w, h, np.frombuffer(px, dtype=np.uint8)


def _decode_heif(b: bytes):
    """HEIC/AVIF via the system libheif ctypes binding
    (functions/heiflib.py) — the iPhone default format and the AV1
    web format, gated on the ISO BMFF ftyp box brand, bomb bound
    checked against container dims BEFORE pixel decode. None (the
    row drop) when the library is absent, the payload is torn, or
    the canvas exceeds the bound."""
    if len(b) < 12 or b[4:8] != b"ftyp":
        return None
    from distributed_computing_projects_spark.functions import (
        heiflib as HL,
    )

    if b[8:12] not in HL.HEIF_BRANDS:
        return None
    out = HL.decode_rgb(b, MAX_DECODE_BYTES)
    if out is None:
        return None
    import numpy as np

    w, h, px = out
    return w, h, np.frombuffer(px, dtype=np.uint8)


def heif_payloads(
    df: DataFrame, id_col: str, text_col: str, w: int, h: int,
    codec: str = "avif",
) -> DataFrame:
    """(id, payload): a deterministic LOSSLESS AVIF or HEIC per row,
    pixels = the first ``w*h*3`` UTF-8 bytes of ``text_col`` as RGB —
    the png/webp_payloads geometry through the reference C encoder's
    identity-matrix lossless path (functions/heiflib.py), so the
    decode round-trip is byte-exact and oracle-checkable. Callers
    pre-filter to rows with enough text bytes."""
    from distributed_computing_projects_spark.functions import (
        heiflib as HL,
    )

    comp = (HL.COMPRESSION_AV1 if codec == "avif"
            else HL.COMPRESSION_HEVC)
    if not HL.encoder_available(comp):
        raise RuntimeError(
            f"heif_payloads needs a libheif {codec} encoder "
            "(functions/heiflib.py)")
    return prefix_payloads(
        df, id_col, text_col, w * h * 3,
        lambda i, raw: HL.encode_lossless_rgb(raw, w, h, comp))


def webp_payloads(
    df: DataFrame, id_col: str, text_col: str, w: int, h: int,
) -> DataFrame:
    """(id, payload): a deterministic LOSSLESS WebP per row, pixels =
    the first ``w*h*3`` UTF-8 bytes of ``text_col`` as RGB — the
    png_payloads geometry through the reference C encoder, so the
    decode round-trip is byte-exact and oracle-checkable. Callers
    pre-filter to rows with enough text bytes."""
    from distributed_computing_projects_spark.functions import (
        webplib as WP,
    )

    if not WP.available():
        raise RuntimeError(
            "webp_payloads needs libwebp (functions/webplib.py)")
    return prefix_payloads(
        df, id_col, text_col, w * h * 3,
        lambda i, raw: WP.encode_lossless_rgb(raw, w, h))


def decode_image(payloads: DataFrame) -> DataFrame:
    """REAL image decode for the formats a library-free container can
    decode: binary PPM (P6), uncompressed 24-bit BMP, and 8-bit
    truecolor PNG (stdlib zlib inflate + numpy unfiltering), parsed
    inside the Arrow row stage (same contract as
    ``decode_features``: binary in, fixed-schema batches out). Emits
    (id, width, height, n_px, per-channel byte SUMS) — integer outputs,
    so a differential oracle can check the decode exactly; means are
    the caller's divide.

    Undecodable payloads (wrong magic, truncated, unsupported
    sub-formats) are DROPPED — the engine's malformed-record policy
    (sources/csv.py) applied to media. Baseline JPEG — including
    4:2:0/4:2:2 chroma subsampling — decodes via the pure-numpy codec
    (operators/jpeg.py); MP3/video need external codecs (PIL/ffmpeg —
    absent here); plug one in by extending the per-format dispatch
    below, keeping the schema.
    """
    import numpy as np

    def decode(i, b):
        decoded = _decode_ppm(b) or _decode_bmp(b) or _decode_png(b) \
            or _decode_jpeg(b) or _decode_gif(b) or _decode_tiff(b) \
            or _decode_webp(b) or _decode_heif(b)
        if decoded is not None:
            w, h, px = decoded
            sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
            yield (i, w, h, w * h, *sums.tolist())

    return flat_map_rows(payloads.select("id", "payload"), decode,
                         IMAGE_SCHEMA)


RESIZED_SCHEMA = (
    "id bigint, width int, height int, n_px bigint,"
    " sum_r bigint, sum_g bigint, sum_b bigint"
)


def resize_image(payloads: DataFrame, factor: int) -> DataFrame:
    """Integer box-downsample by ``factor`` — the resize stage of an
    image-ingest pipeline, over the same decode dispatch as
    :func:`decode_image` (PPM/BMP/PNG). Pixels group into
    ``factor x factor`` blocks (edges floor-cropped, a real resizer's
    policy); each output pixel is the block sum floor-divided by
    ``factor^2`` — INTEGER arithmetic end to end, so the resample is
    exactly mirrorable in a SQL oracle (float interpolation kernels
    would be engine-ulp territory). Emits the resized dimensions and
    per-channel byte sums of the RESIZED image; payloads whose decode
    fails or whose dimensions are below ``factor`` drop.
    """
    import numpy as np

    if factor <= 0:
        raise ValueError("factor must be positive")

    def resize(i, b):
        decoded = _decode_ppm(b) or _decode_bmp(b) or _decode_png(b) \
            or _decode_jpeg(b) or _decode_gif(b)
        if decoded is None:
            return
        w, h, px = decoded
        w2, h2 = w // factor, h // factor
        if w2 == 0 or h2 == 0:
            return
        crop = px[: h2 * factor, : w2 * factor].astype(np.int64)
        blocks = crop.reshape(h2, factor, w2, factor, 3)
        resized = blocks.sum(axis=(1, 3)) // (factor * factor)
        sums = resized.reshape(-1, 3).sum(axis=0)
        yield (i, w2, h2, w2 * h2, *sums.tolist())

    return flat_map_rows(payloads.select("id", "payload"), resize,
                         RESIZED_SCHEMA)


def png_payloads(
    df: DataFrame, id_col: str, text_col: str, w: int, h: int,
    interlace: bool = False,
) -> DataFrame:
    """(id, payload): a deterministic PNG per row, pixels = the first
    ``w*h*3`` UTF-8 bytes of ``text_col`` as RGB. Row filter types
    cycle ``(id + row) % 5`` so all five PNG filters (None/Sub/Up/
    Average/Paeth) are exercised across the corpus, and every other id
    encodes as RGBA (alpha=255) so both truecolor color types decode.
    Runs in the same Arrow row-stage contract as the decoders —
    this is the fixture-building stage that lets the PNG decode be
    differentially checked end-to-end through REAL zlib DEFLATE.
    Callers pre-filter to rows with enough text bytes."""
    import numpy as np

    def build(i, raw):
        rgb = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
        filters = [(i + r) % 5 for r in range(h)]
        return encode_png(rgb, filters, alpha=bool(i % 2),
                          interlace=interlace)

    return prefix_payloads(df, id_col, text_col, w * h * 3, build)


PNG_PALETTE_DEPTHS = (1, 2, 4, 8)


def png_palette_payloads(
    df: DataFrame, id_col: str, text_col: str, w: int, h: int,
) -> DataFrame:
    """(id, payload): a deterministic INDEXED PNG per row — bit depth
    cycles ``(1,2,4,8)[id % 4]``, index ``p`` = the p-th UTF-8 text
    byte mod 2^depth, palette entry ``j`` = ((j*7)%256, (j*13)%256,
    (j*29)%256) — so the oracle can recompute every decoded pixel
    from character codes alone. Row filters cycle ``(id + row) % 5``
    (all five filter types across the corpus, over PACKED bytes).
    Callers pre-filter to rows with at least ``w*h`` text bytes."""
    import numpy as np

    def build(i, raw):
        depth = PNG_PALETTE_DEPTHS[i % 4]
        n = 1 << depth
        j = np.arange(n)
        pal = np.stack(
            [(j * 7) % 256, (j * 13) % 256, (j * 29) % 256],
            axis=1,
        ).astype(np.uint8)
        idx = (np.frombuffer(raw, dtype=np.uint8) % n).reshape(h, w)
        filters = [(i + r) % 5 for r in range(h)]
        return encode_png_indexed(idx, pal, depth, filters)

    return prefix_payloads(df, id_col, text_col, w * h, build)


def _decode_jpeg(b: bytes):
    """Baseline or progressive JPEG -> (w, h, HxWx3 RGB) via the
    pure-numpy codec (operators/jpeg.py): Huffman entropy decode
    (multi-scan reassembly for SOF2), dequant, 8x8 IDCT, 16.16
    fixed-point YCbCr->RGB. Supports grayscale and 1..2-factor chroma
    sampling (4:4:4, 4:2:0, 4:2:2); returns None for malformed or
    outside-subset payloads (malformed-record drop policy)."""
    from distributed_computing_projects_spark.operators import jpeg as J

    return J.decode_pixels(b)


def _decode_gif(b: bytes):
    """GIF87a/89a first frame -> (w, h, HxWx3 RGB) via the pure-stdlib
    LZW codec (operators/gif.py): variable-width LZW, global/local
    palettes, interlace, extension skip. Integer-exact end to end;
    returns None for malformed payloads."""
    import numpy as np

    from distributed_computing_projects_spark.operators import gif as G

    decoded = G.decode_gif(b)
    if decoded is None:
        return None
    w, h, rows = decoded
    return w, h, np.asarray(rows, dtype=np.int64)


def jpeg_payloads(
    df: DataFrame, id_col: str, text_col: str, w: int, h: int
) -> DataFrame:
    """(id, payload): a deterministic baseline color JPEG per row.
    Each 8x8 tile is FLAT: tile t's (Y, Cb, Cr) are text bytes
    (3t, 3t+1, 3t+2), stored as quantized DC = byte - 128 against a
    DC quant step of 8, so dequant gives 8*(byte-128) and the flat
    IDCT reconstructs byte exactly (jpeg.py module doc) — the whole
    Huffman -> dequant -> IDCT -> YCbCr->RGB pipeline round-trips
    bit-exactly and a SQL oracle can recompute the pixel sums from
    character codes. ``restart_interval=2`` puts real RSTn markers in
    every payload, so the driver-graded path exercises restart sync
    too. Callers pre-filter to rows with enough text bytes."""
    from distributed_computing_projects_spark.operators import jpeg as J

    if w % 8 or h % 8:
        raise ValueError("flat-tile fixtures need multiple-of-8 dims")
    qtable = [8] + [16] * 63
    return prefix_payloads(
        df, id_col, text_col, (w // 8) * (h // 8) * 3,
        lambda i, raw: J.encode_baseline(
            flat_tile_comps(raw, w, h), w, h, qtable, restart_interval=2))


def flat_tile_comps(raw: bytes, w: int, h: int) -> list:
    """The flat-tile color fixture's quantized components: tile t's
    (Y, Cb, Cr) DC = text bytes (3t, 3t+1, 3t+2) - 128, no ACs."""
    import numpy as np

    bx, by = w // 8, h // 8
    comps = []
    for ci in range(3):
        c = np.zeros((by, bx, 64), dtype=np.int64)
        for t in range(by * bx):
            c[t // bx, t % bx, 0] = raw[3 * t + ci] - 128
        comps.append(c)
    return comps


def jpeg420_payloads(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, payload): a deterministic 4:2:0 SUBSAMPLED baseline JPEG
    per row — one 16x16 MCU: four flat 8x8 luma quadrants from text
    bytes 0-3 and flat 8x8 Cb/Cr from bytes 4-5 (chroma covers the
    whole macroblock at half resolution, the layout real photo
    corpora actually use). Flat planes make every stage exact: the
    IDCT reconstructs each flat block bit-exactly and the
    nearest-neighbour chroma upsample of a constant plane is the
    constant, so the SQL oracle recomputes the pixel sums per
    quadrant through the same fixed-point color formula."""
    import numpy as np

    from distributed_computing_projects_spark.operators import jpeg as J

    qtable = [8] + [16] * 63
    sampling = [(2, 2), (1, 1), (1, 1)]

    def build(i, raw):
        y = np.zeros((2, 2, 64), dtype=np.int64)
        for q in range(4):
            y[q // 2, q % 2, 0] = raw[q] - 128
        cb = np.zeros((1, 1, 64), dtype=np.int64)
        cb[0, 0, 0] = raw[4] - 128
        cr = np.zeros((1, 1, 64), dtype=np.int64)
        cr[0, 0, 0] = raw[5] - 128
        return J.encode_baseline([y, cb, cr], 16, 16, qtable,
                                 sampling=sampling)

    return prefix_payloads(df, id_col, text_col, 6, build)
JPEG_COEF_BLOCKS = 4
_JC_Q0, _JC_Q1, _JC_Q7, _JC_Q30 = 8, 2, 3, 5


def _jc_acs(b0: int, b1: int, b2: int) -> tuple[int, int, int]:
    """The three per-block AC values as a deterministic function of
    the block's text bytes — forced non-zero so run lengths are fixed.
    Mirrored literally in the multimodal_jpeg_coeffs oracle SQL."""
    a1 = (b1 % 31) - 15
    if a1 == 0:
        a1 = 7
    a2 = (b2 % 21) - 10
    if a2 == 0:
        a2 = -3
    a3 = (b0 % 11) - 5
    if a3 == 0:
        a3 = 2
    return a1, a2, a3


_JC_QTABLE = [16] * 64
_JC_QTABLE[0], _JC_QTABLE[1], _JC_QTABLE[7], _JC_QTABLE[30] = (
    _JC_Q0, _JC_Q1, _JC_Q7, _JC_Q30
)


def _jc_blocks(raw: bytes):
    """The coefficient fixture's one component: block t carries
    DC = byte(3t) - 128 and the :func:`_jc_acs` ACs at zigzag
    positions 1, 7 and 30."""
    import numpy as np

    c = np.zeros((1, JPEG_COEF_BLOCKS, 64), dtype=np.int64)
    for t in range(JPEG_COEF_BLOCKS):
        b0, b1, b2 = raw[3 * t], raw[3 * t + 1], raw[3 * t + 2]
        c[0, t, 0] = b0 - 128
        c[0, t, 1], c[0, t, 7], c[0, t, 30] = _jc_acs(b0, b1, b2)
    return c


def jpeg_coeff_payloads(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, payload): a grayscale baseline JPEG whose QUANTIZED
    coefficients are a deterministic function of the text bytes —
    block t carries DC = byte(3t) - 128 plus three ACs (:func:`_jc_acs`)
    at zigzag positions 1, 7 and 30, i.e. zero-runs of 5 and 22 (the
    latter forcing a ZRL escape) and an EOB tail, so the entropy
    decoder's run-length, ZRL, EOB and negative-magnitude paths are
    all exercised under the oracle. Layout: 1 block row x
    ``JPEG_COEF_BLOCKS`` columns (w = 8*blocks, h = 8)."""
    from distributed_computing_projects_spark.operators import jpeg as J

    nb = JPEG_COEF_BLOCKS
    return prefix_payloads(
        df, id_col, text_col, nb * 3,
        lambda i, raw: J.encode_baseline(
            [_jc_blocks(raw)], nb * 8, 8, _JC_QTABLE))


def jpeg_progressive_payloads(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, payload): the SAME quantized coefficient content as
    :func:`jpeg_coeff_payloads`, serialized as a PROGRESSIVE (SOF2)
    stream instead — DC successive approximation 2 bits deep (first
    scan at Al=2 plus two refinement scans), spectral selection into a
    1..7 band (carrying the zigzag-1 and -7 ACs, first-coded at Al=1
    with one AC refinement scan) and an 8..63 band (the zigzag-30 AC
    behind a 22-zero run, forcing ZRL; per-block EOB tails chain into
    EOB runs). Because the logical coefficients are identical, the
    ``multimodal_jpeg_coeffs`` oracle SQL applies VERBATIM — the
    differential check proves Annex-G scan reassembly equals the
    single-scan baseline bit-for-bit."""
    from distributed_computing_projects_spark.operators import jpeg as J

    nb = JPEG_COEF_BLOCKS
    return prefix_payloads(
        df, id_col, text_col, nb * 3,
        lambda i, raw: J.encode_progressive(
            [_jc_blocks(raw)], nb * 8, 8, _JC_QTABLE, dc_al=2,
            ac_bands=((1, 7, 1), (8, 63, 0))))


def jpeg_progressive_pixel_payloads(
    df: DataFrame, id_col: str, text_col: str, w: int, h: int
) -> DataFrame:
    """(id, payload): the flat-tile color fixture of
    :func:`jpeg_payloads` as a PROGRESSIVE stream (DC-only content, so
    the AC scans are pure multi-block EOB runs with extension bits;
    DC delivered by successive approximation 2 bits deep). Flat tiles
    keep the pixel pipeline bit-exact, so the ``multimodal_jpeg_decode``
    oracle SQL applies VERBATIM to the decoded output."""
    from distributed_computing_projects_spark.operators import jpeg as J

    if w % 8 or h % 8:
        raise ValueError("flat-tile fixtures need multiple-of-8 dims")
    qtable = [8] + [16] * 63
    return prefix_payloads(
        df, id_col, text_col, (w // 8) * (h // 8) * 3,
        lambda i, raw: J.encode_progressive(
            flat_tile_comps(raw, w, h), w, h, qtable, dc_al=2))
GIF_W, GIF_H, GIF_NPAL = 6, 4, 64


def _gif_palette() -> list:
    return [((7 * i + 13) % 256, (11 * i + 101) % 256, (5 * i + 29) % 256)
            for i in range(GIF_NPAL)]


def gif_payloads(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, payload): a deterministic GIF89a per row — a
    ``GIF_W x GIF_H`` indexed raster whose pixel t is palette entry
    ``byte(t) % GIF_NPAL`` (text bytes), 64-color affine palette,
    INTERLACED for even ids (same pixels, different row storage
    order), plus a trailing 1x1 dummy frame and a graphic-control
    extension so the first-frame/extension-skip paths are always
    exercised. GIF is integer end-to-end (LZW + palette lookup — no
    float stage anywhere), so the oracle recomputes full per-channel
    pixel sums from character codes, with no flat-tile restriction."""
    from distributed_computing_projects_spark.operators import gif as G

    pal = _gif_palette()

    def build(i, raw):
        idx = [
            [raw[y * GIF_W + x] % GIF_NPAL for x in range(GIF_W)]
            for y in range(GIF_H)
        ]
        return G.encode_gif(idx, GIF_W, GIF_H, pal,
                            interlace=(i % 2 == 0), animated_tail=1)

    return prefix_payloads(df, id_col, text_col, GIF_W * GIF_H, build)


GIF_ANIM_FRAMES = 3


def gif_anim_payloads(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, payload): a deterministic ANIMATED GIF89a per row —
    ``GIF_ANIM_FRAMES`` full-size ``GIF_W x GIF_H`` frames where frame
    f's pixel t indexes the 64-color affine palette with text byte
    ``f*W*H + t`` (gif.encode_gif_anim: NETSCAPE loop extension +
    per-frame graphic-control extensions). Callers pre-filter to rows
    with >= ``GIF_ANIM_FRAMES * GIF_W * GIF_H`` text bytes."""
    from distributed_computing_projects_spark.operators import gif as G

    n_px = GIF_W * GIF_H
    pal = _gif_palette()

    def build(i, raw):
        frames = [
            [raw[f * n_px + t] % GIF_NPAL for t in range(n_px)]
            for f in range(GIF_ANIM_FRAMES)
        ]
        return G.encode_gif_anim(frames, GIF_W, GIF_H, pal)

    return prefix_payloads(df, id_col, text_col, GIF_ANIM_FRAMES * n_px,
                           build)
from distributed_computing_projects_spark.operators.video import (  # noqa: E402,E501
    FRAME_SCHEMA as GIF_FRAMES_SCHEMA,
)


def gif_frames(payloads: DataFrame) -> DataFrame:
    """Animated-GIF frame extraction: every frame of each payload
    decoded library-free (gif.decode_gif_frames) inside one Arrow
    row stage; a row per frame with per-channel pixel sums —
    the video-family contract (operators/video.py:FRAME_SCHEMA) for
    the animation format documents actually embed. Non-GIF payloads
    drop the row; a stream torn past complete frames keeps those
    frames."""
    import numpy as np

    from distributed_computing_projects_spark.operators import gif as G

    def decode(i, payload):
        for idx, (w, h, rows) in enumerate(
                G.decode_gif_frames(payload) or ()):
            sums = np.array(rows, dtype=np.int64).reshape(-1, 3).sum(axis=0)
            yield (i, idx, w, h, *sums.tolist())

    return flat_map_rows(payloads.select("id", "payload"), decode,
                         GIF_FRAMES_SCHEMA)


JPEG_COEFFS_SCHEMA = (
    "id bigint, width int, height int, n_blocks bigint,"
    " sum_dc bigint, sum_ac bigint, n_nonzero_ac bigint"
)


def decode_jpeg_coeffs(payloads: DataFrame) -> DataFrame:
    """Coefficient-level JPEG decode: Huffman + DC prediction +
    run-length + DEQUANT, stopping before the IDCT — the integer
    bit-exact layer (jpeg.decode_coeffs), summed per image. Emits
    (id, width, height, n_blocks, sum_dc, sum_ac, n_nonzero_ac);
    undecodable payloads drop. Same Arrow row-stage contract as
    :func:`decode_image`."""
    from distributed_computing_projects_spark.operators import jpeg as J

    def decode(i, payload):
        decoded = J.decode_coeffs(payload)
        if decoded is not None:
            w, h, comps, _sampling = decoded
            yield (i, w, h,
                   sum(c.shape[0] * c.shape[1] for c in comps),
                   sum(int(c[..., 0].sum()) for c in comps),
                   sum(int(c[..., 1:].sum()) for c in comps),
                   sum(int((c[..., 1:] != 0).sum()) for c in comps))

    return flat_map_rows(payloads.select("id", "payload"), decode,
                         JPEG_COEFFS_SCHEMA)


FRAME_BYTES = 16


def frame_sample(
    payloads: DataFrame, frame_bytes: int = FRAME_BYTES, stride: int = 4
) -> DataFrame:
    """Frame sampling over binary payloads: (id, frame_no, frame) for
    every ``stride``-th fixed-size frame — the video-ingest sampling
    step's Spark-side plumbing, entirely JVM-side (sequence + explode +
    binary substring; NO Python — sampling needs only byte offsets, so
    the expensive Arrow hop is reserved for actual decode, which then
    runs on the sampled frames only, stride-times cheaper).

    Payload layout is the demo convention (contiguous fixed-size
    frames); a real container format would first demux via a
    decode_features-style row stage and keep this sampling shape.
    Partial trailing frames are dropped (a real sampler's behavior).
    """
    if frame_bytes <= 0 or stride <= 0:
        raise ValueError("frame_bytes and stride must be positive")
    n_frames = F.floor(F.octet_length("payload") / frame_bytes)
    return (
        payloads.select("id", "payload")
        .withColumn("_n", n_frames)
        .filter(F.col("_n") > 0)
        .select(
            "id",
            "payload",
            F.explode(F.expr(f"sequence(0, _n - 1, {stride})"))
            .alias("frame_no"),
        )
        .select(
            "id",
            F.col("frame_no").cast("bigint").alias("frame_no"),
            F.expr(
                f"substring(payload, frame_no * {frame_bytes} + 1,"
                f" {frame_bytes})"
            ).alias("frame"),
        )
    )


AUDIO_SCHEMA = (
    "id bigint, sample_rate int, channels int, n_samples bigint,"
    " sum_amplitude bigint, peak_amplitude int"
)


def _g711_tables():
    """(alaw, mulaw) 256-entry int16 expansion tables, the closed-form
    G.711 decode (ITU-T G.711; the reference C routines are the
    classic alaw2linear/ulaw2linear). Built once per process."""
    import numpy as np

    global _G711
    if "_G711" in globals() and _G711 is not None:
        return _G711
    u = 255 - np.arange(256)  # mu-law: bitwise NOT of the code byte
    t = ((u % 16) * 8 + 0x84) << ((u // 16) % 8)
    mulaw = np.where(u >= 128, 0x84 - t, t - 0x84).astype(np.int16)
    a = np.arange(256) ^ 0x55
    seg = (a // 16) % 8
    m16 = (a % 16) * 16
    ta = np.where(seg == 0, m16 + 8, (m16 + 0x108) << np.maximum(seg - 1, 0))
    alaw = np.where(a >= 128, ta, -ta).astype(np.int16)
    _G711 = (alaw, mulaw)
    return _G711


_G711 = None


def _decode_wav(b: bytes):
    """PCM WAV (RIFF/WAVE): fmt tag 1 at 16 or 24 bits, fmt tag 3
    (IEEE float32, scaled to int16 range), plus the G.711
    companded telephony formats — tag 6 (A-law) and tag 7 (mu-law) at
    8 bits, expanded through the closed-form ITU tables. Returns
    (sample_rate, channels, int16 sample array) or None. Walks the
    chunk list, so extra chunks (LIST/fact) before data are fine."""
    import struct

    import numpy as np

    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + size]
        if len(body) < size:
            # truncated chunk: reject, matching the image decoders'
            # truncation handling (drop-malformed policy)
            return None
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_fmt, channels, rate, _br, _ba, bits = fmt
    if channels <= 0:
        return None
    if audio_fmt == 1 and bits == 16:
        n = len(data) // 2
        if n == 0:
            return None
        return rate, channels, np.frombuffer(data, dtype="<i2", count=n)
    if audio_fmt == 1 and bits == 24:
        # 24-bit PCM: 3 LE bytes per sample, sign-extended to int32
        n = len(data) // 3
        if n == 0:
            return None
        b3 = np.frombuffer(data, dtype=np.uint8, count=n * 3)
        b3 = b3.reshape(n, 3).astype(np.int64)
        v = b3[:, 0] | (b3[:, 1] << 8) | (b3[:, 2] << 16)
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        return rate, channels, v.astype(np.int32)
    if audio_fmt == 3 and bits == 32:
        # IEEE float PCM: scaled to int32 so the integer-aggregate
        # output contract holds; NaN/inf payloads drop (malformed)
        n = len(data) // 4
        if n == 0:
            return None
        f = np.frombuffer(data, dtype="<f4", count=n)
        if not np.isfinite(f).all():
            return None
        return rate, channels, np.clip(
            np.rint(f.astype(np.float64) * 32767), -32768, 32767
        ).astype(np.int32)
    if audio_fmt in (6, 7) and bits == 8:
        if not data:
            return None
        alaw, mulaw = _g711_tables()
        codes = np.frombuffer(data, dtype=np.uint8)
        return rate, channels, (alaw if audio_fmt == 6 else mulaw)[codes]
    if audio_fmt == 17 and bits == 4 and channels == 1:
        # block-structured: every block_align bytes restarts the
        # quantizer from that block's own 4-byte header (predictor,
        # step index) — real multi-block files decode per block, never
        # with state running across a boundary
        block = _ba if _ba >= 8 else len(data)
        parts = []
        for off in range(0, len(data), block):
            decoded = _ima_decode_block(data[off : off + block])
            if decoded is None:
                return None
            parts.append(decoded)
        if not parts:
            return None
        return rate, channels, np.concatenate(parts)
    return None


# IMA ADPCM tables (IMA Digital Audio Focus Group, "Recommended
# Practices for Enhancing Digital Audio Compatibility", 1992 — the
# classic public tables every IMA/DVI decoder ships).
IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_decode_block(data: bytes):
    """One mono IMA-ADPCM block: 4-byte header (initial predictor
    int16 LE, initial step index, reserved) + packed nibbles (low
    nibble first). Returns the int16 sample array — header predictor
    included as sample 0, per the WAV IMA block layout — or None.
    Sequential by nature (each step's quantizer state feeds the
    next); per-payload loops are fine because blocks are small and
    the Python stage is already Arrow-batched."""
    import struct

    import numpy as np

    if len(data) < 4:
        return None
    pred = struct.unpack_from("<h", data, 0)[0]
    idx = data[2]
    if idx > 88 or data[3] != 0:
        return None
    out = [pred]
    for byte in data[4:]:
        for nib in (byte & 0x0F, byte >> 4):
            step = IMA_STEP_TABLE[idx]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + IMA_INDEX_TABLE[nib & 7]))
            out.append(pred)
    return np.array(out, dtype=np.int16)


FLAC_SAMPLES = 32  # per-doc fixture length (two 16-sample frames)


def flac_payloads(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, payload): a deterministic native-FLAC stream per row —
    ``FLAC_SAMPLES`` mono 16-bit samples that are the doc's first text
    bytes, encoded as two FIXED-order-1 Rice-coded frames
    (operators/flac.py:encode_flac). FLAC is lossless, so decode
    returns the bytes exactly and a SQL oracle recomputes sample
    aggregates from character codes. Callers pre-filter to rows with
    enough text bytes (JVM-side, before this Python stage)."""
    from distributed_computing_projects_spark.operators import flac as FL

    return prefix_payloads(
        df, id_col, text_col, FLAC_SAMPLES,
        lambda i, raw: FL.encode_flac(list(raw), order=1))


def _decode_flac(b: bytes):
    """Native FLAC (lossless) via the pure-stdlib codec in
    operators/flac.py: returns (sample_rate, channels, channel-
    interleaved int32 sample array) matching :func:`_decode_wav`'s
    contract, or None for non-FLAC/torn input."""
    import numpy as np

    from distributed_computing_projects_spark.operators import flac as FL

    decoded = FL.decode_flac(b)
    if decoded is None:
        return None
    rate, channels, chans = decoded
    if not chans or not chans[0]:
        return None
    n = min(len(c) for c in chans)
    stacked = np.array([c[:n] for c in chans], dtype=np.int64)
    return rate, channels, stacked.T.reshape(-1)


AUDIO_FEATURES_SCHEMA = (
    "id bigint, n_samples bigint, n_zero_crossings bigint,"
    " sum_abs_amplitude bigint, peak_amplitude int"
)


def audio_features(payloads: DataFrame) -> DataFrame:
    """Audio feature extraction over decoded WAV/FLAC payloads: sample
    count, ZERO-CROSSING count (adjacent samples with strictly
    opposite signs — the classic cheap voicing/noisiness feature),
    absolute-amplitude sum, and peak. All integers, so the feature
    math is exactly recomputable by a SQL oracle (spectral features
    would need an FFT no SQL engine reproduces bit-for-bit — the
    integer time-domain features are the honest differential
    surface). Same Arrow row-stage contract and drop-malformed
    policy as :func:`decode_audio`."""
    import numpy as np

    def features(i, raw):
        decoded = _decode_wav(raw) or _decode_flac(raw)
        if decoded is not None:
            s = decoded[2].astype(np.int32)
            yield (i, len(s), int(np.count_nonzero(s[:-1] * s[1:] < 0)),
                   int(np.abs(s).sum()), int(np.abs(s).max()))

    return flat_map_rows(payloads.select("id", "payload"), features,
                         AUDIO_FEATURES_SCHEMA)


def decode_audio(payloads: DataFrame) -> DataFrame:
    """REAL audio decode for the format a library-free container can
    decode: uncompressed 16-bit PCM WAV, G.711 A-law/mu-law (fmt tags
    6/7), mono IMA-ADPCM (fmt tag 17), and native FLAC (lossless —
    pure-stdlib Rice/predictor codec, operators/flac.py), parsed
    inside the same Arrow row-stage contract as
    :func:`decode_image`. Emits integer aggregates (sample count,
    amplitude sum, peak |amp|) so the decode is differentially
    checkable; undecodable payloads (other codecs, truncated,
    non-PCM) DROP. Lossy audio (MP3/AAC/Opus) needs external codecs —
    the documented integration point."""
    import numpy as np

    def decode(i, raw):
        decoded = _decode_wav(raw) or _decode_flac(raw)
        if decoded is not None:
            rate, channels, samples = decoded
            yield (i, rate, channels, len(samples),
                   int(samples.sum(dtype=np.int64)),
                   int(np.abs(samples.astype(np.int32)).max()))

    return flat_map_rows(payloads.select("id", "payload"), decode,
                         AUDIO_SCHEMA)
