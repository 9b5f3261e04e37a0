"""Baseline-sequential JPEG codec in pure numpy + stdlib — the last
"needs an external codec" claim that didn't: Huffman entropy coding,
dequantization, 8x8 IDCT and YCbCr->RGB are all expressible without an
imaging library. This powers ``multimodal.decode_image``'s JPEG path
and the ``multimodal_jpeg_*`` driver queries.

Scope (documented subset of ITU-T T.81): baseline sequential DCT
AND progressive DCT (Annex G: spectral selection, successive
approximation with DC/AC refinement scans, EOB runs), 8-bit
precision, 1-component grayscale or 3-component color with
per-component sampling factors in 1..2 — 4:4:4 AND the 4:2:0 /
4:2:2 subsampled layouts real corpora contain, via the interleaved
MCU order (T.81 A.2.3) with nearest-neighbour chroma upsample;
restart markers supported in both modes, arithmetic coding and
hierarchical mode NOT (payloads outside the subset return ``None``
— the engine's malformed-record drop policy, sources/csv.py).

Determinism contract (what makes the driver oracles exact):

- the ENTROPY layer (Huffman + DC prediction + run-length + dequant)
  is integer end-to-end, so coefficient-level outputs are bit-exact;
- the IDCT is float, but a FLAT block (only the DC coefficient
  non-zero) reconstructs as ``DC/8`` computed exactly in binary
  floating point, so flat-tile fixtures round-trip bit-exactly
  through the full pixel pipeline;
- YCbCr->RGB uses 16.16 fixed-point integer arithmetic
  (``floor((65536*Y + k*(C-128) + 32768) / 65536)``), mirrorable in
  ANSI SQL — no float rounding ambiguity between engines.

The decoder is GENERAL over the subset (it reads whatever canonical
Huffman tables and quant tables the file declares); the encoder is a
deterministic fixture builder that takes already-quantized
coefficient blocks — no forward DCT, because its job is to exercise
the decode path differentially, not to compete with libjpeg.

Per-bit Python Huffman decode is the deliberate simple choice: the
per-image cost at fixture scale is dominated by header parsing, and
inside the Arrow row stage each image stays within one Arrow batch.
Reference parity note: the reference has no media decode at all; this
is BASELINE.json scale-extension surface (SURVEY.md LLM-pipeline
operators).
"""

from __future__ import annotations

import math
import struct

# zigzag index -> (row, col): diagonals of constant r+c, direction
# alternating (odd sums walk row-ascending), per T.81 Figure A.6
ZIGZAG = sorted(
    ((r, c) for r in range(8) for c in range(8)),
    key=lambda p: (p[0] + p[1], p[0] if (p[0] + p[1]) % 2 else -p[0]),
)


def _idct_basis():
    import numpy as np

    m = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = (cu / 2.0) * math.cos((2 * x + 1) * u * math.pi / 16)
    return m


_BASIS = None


def _basis():
    global _BASIS
    if _BASIS is None:
        _BASIS = _idct_basis()
    return _BASIS


# ---------------------------------------------------------------- bits


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                    self.buf.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


class _MarkerHit(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


class _BitReader:
    """Entropy-segment reader built for the 16-bit-peek Huffman LUT:
    maintains a bit accumulator refilled a byte at a time (unstuffing
    FF00, stopping at real markers), with VIRTUAL 1-bit padding past
    the segment end so a peek near the end never fails — but any
    CONSUMED pad bit means the stream was truncated mid-symbol
    (a well-formed stream's final pad byte is real data the encoder
    wrote), which raises ValueError and drops the payload."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.d = data
        self.p = pos
        self.acc = 0
        self.n = 0       # bits buffered (real + virtual pad)
        self.real = 0    # how many of them came from the data
        self.hit = False  # reached a real marker / end of data

    def _refill(self, need: int) -> None:
        while self.n < need:
            if not self.hit and self.p < len(self.d):
                b = self.d[self.p]
                if b == 0xFF:
                    nxt = (self.d[self.p + 1]
                           if self.p + 1 < len(self.d) else None)
                    if nxt == 0x00:
                        self.p += 2
                        self.acc = (self.acc << 8) | 0xFF
                        self.n += 8
                        self.real += 8
                        continue
                    self.hit = True
                    continue
                self.p += 1
                self.acc = (self.acc << 8) | b
                self.n += 8
                self.real += 8
            else:
                self.hit = True
                self.acc = (self.acc << 8) | 0xFF  # virtual pad
                self.n += 8

    def _consume(self, nbits: int) -> int:
        if nbits > self.real:
            raise ValueError("entropy stream truncated mid-symbol")
        self.n -= nbits
        self.real -= nbits
        v = (self.acc >> self.n) & ((1 << nbits) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def receive(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        self._refill(nbits)
        return self._consume(nbits)

    def align_and_consume_marker(self) -> int:
        """Byte-align (discarding the previous interval's pad bits)
        and consume the next marker (restart sync)."""
        self.acc = 0
        self.n = 0
        self.real = 0
        self.hit = False
        while self.p + 1 < len(self.d):
            if self.d[self.p] == 0xFF and self.d[self.p + 1] != 0x00:
                marker = self.d[self.p + 1]
                self.p += 2
                return marker
            self.p += 1
        return 0xD9


# ------------------------------------------------------------- huffman


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 Annex C canonical rule."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


import functools


@functools.lru_cache(maxsize=64)
def _decode_table_cached(bits: tuple, vals: tuple) -> list:
    lut: list = [None] * 65536
    for sym, (code, ln) in _canonical_codes(list(bits), list(vals)).items():
        start = code << (16 - ln)
        lut[start:start + (1 << (16 - ln))] = \
            [(sym, ln)] * (1 << (16 - ln))
    return lut


def _decode_table(bits: list[int], vals: list[int]) -> list:
    """16-bit peek LUT: entry i = (symbol, code length) for every
    16-bit window whose prefix is that code, None for non-codes. One
    table lookup decodes a symbol of any length — ~20x the per-bit
    tree walk this replaced, the standard libjpeg-style technique.
    LRU-cached on the table definition: a corpus of same-encoder
    images shares Huffman tables, and the 65k-entry build would
    otherwise dominate small-image decode (measured ~70ms CPU per
    16x16 fixture before the cache)."""
    return _decode_table_cached(tuple(bits), tuple(vals))


def _read_symbol(br: _BitReader, lut: list) -> int:
    br._refill(16)
    entry = lut[(br.acc >> (br.n - 16)) & 0xFFFF]
    if entry is None:
        raise ValueError("invalid Huffman code")
    sym, ln = entry
    br._consume(ln)
    return sym


def _flat_table(symbols: set[int]) -> tuple[list[int], list[int]]:
    """Minimal legal DHT for a symbol set: all codes one length
    ``L = ceil(log2(n+1))`` so the all-ones code stays unassigned
    (the spec reserves it as a prefix)."""
    vals = sorted(symbols)
    ln = max(1, math.ceil(math.log2(len(vals) + 1)))
    bits = [0] * 16
    bits[ln - 1] = len(vals)
    return bits, vals


def _category(v: int) -> int:
    return abs(v).bit_length()


def _magnitude_bits(v: int, cat: int) -> int:
    return v if v >= 0 else v + (1 << cat) - 1


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


# ------------------------------------------------------------- encoder


def _mcu_geometry(w: int, h: int, sampling) -> tuple[int, int, int, int]:
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    return hmax, vmax, -(-w // (8 * hmax)), -(-h // (8 * vmax))


def encode_baseline(components, w: int, h: int, qtable,
                    restart_interval: int = 0, sampling=None) -> bytes:
    """Serialize already-QUANTIZED coefficient blocks as a baseline
    JFIF byte stream. ``components``: list of 1 (grayscale) or 3
    (YCbCr) arrays shaped (blocks_y, blocks_x, 64) in ZIGZAG order;
    ``sampling``: per-component (h, v) factors in 1..2 (default all
    (1,1) = 4:4:4; [(2,2),(1,1),(1,1)] = 4:2:0) — component ci's grid
    must be (mcus_y*v, mcus_x*h). ``qtable``: 64 ints in zigzag order,
    shared by all components. Huffman tables are built from the
    symbols actually used (flat canonical codes — legal,
    deterministic); all components share DC/AC table 0 and quant
    table 0. The interleaved MCU order (T.81 A.2.3) is produced by
    ONE generator shared by the symbol-collection and emission passes,
    so the two passes cannot diverge (a first-cut restart-reset bug
    motivated this)."""
    ncomp = len(components)
    if ncomp not in (1, 3):
        raise ValueError("1 or 3 components")
    sampling = list(sampling) if sampling else [(1, 1)] * ncomp
    if len(sampling) != ncomp:
        raise ValueError("one (h, v) sampling pair per component")
    for hs, vs in sampling:
        if not (1 <= hs <= 2 and 1 <= vs <= 2):
            raise ValueError("sampling factors must be in 1..2")
    hmax, vmax, mcus_x, mcus_y = _mcu_geometry(w, h, sampling)
    for ci, ((hs, vs), comp) in enumerate(zip(sampling, components)):
        if tuple(comp.shape[:2]) != (mcus_y * vs, mcus_x * hs):
            raise ValueError(
                f"component {ci}: expected block grid "
                f"{(mcus_y * vs, mcus_x * hs)}, got {comp.shape[:2]}"
            )

    def mcu_stream():
        # yields ("rst", None) at restart boundaries, else (ci, block)
        mcu = 0
        for ym in range(mcus_y):
            for xm in range(mcus_x):
                if restart_interval and mcu and \
                        mcu % restart_interval == 0:
                    yield ("rst", None)
                for ci in range(ncomp):
                    hs, vs = sampling[ci]
                    for v in range(vs):
                        for hh in range(hs):
                            yield (ci, components[ci][ym * vs + v]
                                   [xm * hs + hh])
                mcu += 1

    # pass 1: collect symbols over the exact emission order
    dc_syms: set[int] = set()
    ac_syms: set[int] = set()
    preds = [0] * ncomp
    for ci, blk in mcu_stream():
        if ci == "rst":
            preds = [0] * ncomp
            continue
        diff = int(blk[0]) - preds[ci]
        preds[ci] = int(blk[0])
        dc_syms.add(_category(diff))
        run = 0
        for k in range(1, 64):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_syms.add(0xF0)
                run -= 16
            ac_syms.add((run << 4) | _category(v))
            run = 0
        if run:
            ac_syms.add(0x00)
    dc_bits, dc_vals = _flat_table(dc_syms)
    ac_bits, ac_vals = _flat_table(ac_syms) if ac_syms else ([0] * 16, [])
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body)

    seg(0xDB, bytes([0x00]) + bytes(int(q) & 0xFF for q in qtable))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        hs, vs = sampling[cid - 1]
        sof += struct.pack(">BBB", cid, (hs << 4) | vs, 0)
    seg(0xC0, sof)
    seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
    if ac_vals:
        seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = struct.pack(">B", ncomp)
    for cid in range(1, ncomp + 1):
        sos += struct.pack(">BB", cid, 0x00)
    sos += struct.pack(">BBB", 0, 63, 0)
    seg(0xDA, sos)

    bw = _BitWriter()
    preds = [0] * ncomp
    rst = 0
    for ci, blk in mcu_stream():
        if ci == "rst":
            bw.flush()
            bw.buf.extend((0xFF, 0xD0 + rst))
            rst = (rst + 1) % 8
            preds = [0] * ncomp
            continue
        diff = int(blk[0]) - preds[ci]
        preds[ci] = int(blk[0])
        cat = _category(diff)
        code, ln = dc_codes[cat]
        bw.write(code, ln)
        if cat:
            bw.write(_magnitude_bits(diff, cat), cat)
        run = 0
        for k in range(1, 64):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]
                bw.write(code, ln)
                run -= 16
            cat = _category(v)
            code, ln = ac_codes[(run << 4) | cat]
            bw.write(code, ln)
            bw.write(_magnitude_bits(v, cat), cat)
            run = 0
        if run:
            code, ln = ac_codes[0x00]
            bw.write(code, ln)
    bw.flush()
    out.extend(bw.buf)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


def encode_progressive(components, w: int, h: int, qtable,
                       sampling=None, dc_al: int = 1,
                       ac_bands=((1, 63, 0),)) -> bytes:
    """Serialize already-QUANTIZED coefficient blocks as a PROGRESSIVE
    (SOF2) byte stream — the fixture builder for the Annex-G decode
    path, same contract as :func:`encode_baseline` otherwise.

    Scan script: one interleaved DC first scan at ``Al=dc_al``
    followed by ``dc_al`` one-bit DC refinement scans down to Al=0
    (successive approximation), then per component, per ``(ss, se,
    al)`` band in ``ac_bands`` (spectral selection), an AC first scan
    at that ``al`` followed by AC refinement scans down to Al=0 —
    i.e. every coefficient bit is eventually delivered, so decoding
    the full stream reproduces the input coefficients exactly (the
    round-trip property the tests pin). EOB-run, ZRL and
    correction-bit buffering follow T.81 G.1.2.2/G.1.2.3 (the
    libjpeg-compatible semantics). Huffman tables are rebuilt and
    re-declared (table id 0) before each scan from the symbols that
    scan actually uses."""
    ncomp = len(components)
    if ncomp not in (1, 3):
        raise ValueError("1 or 3 components")
    sampling = list(sampling) if sampling else [(1, 1)] * ncomp
    if len(sampling) != ncomp:
        raise ValueError("one (h, v) sampling pair per component")
    for hs, vs in sampling:
        if not (1 <= hs <= 2 and 1 <= vs <= 2):
            raise ValueError("sampling factors must be in 1..2")
    if not (0 <= dc_al <= 13):
        raise ValueError("dc_al in 0..13")
    for ss, se, al in ac_bands:
        if not (1 <= ss <= se <= 63 and 0 <= al <= 13):
            raise ValueError(f"bad AC band {(ss, se, al)}")
    hmax, vmax, mcus_x, mcus_y = _mcu_geometry(w, h, sampling)
    for ci, ((hs, vs), comp) in enumerate(zip(sampling, components)):
        if tuple(comp.shape[:2]) != (mcus_y * vs, mcus_x * hs):
            raise ValueError(
                f"component {ci}: expected block grid "
                f"{(mcus_y * vs, mcus_x * hs)}, got {comp.shape[:2]}"
            )
        # Progressive AC scans are NON-interleaved (T.81 G.1): they
        # visit only the _ni_dims grid, while the interleaved DC
        # scans cover the full MCU grid. Nonzero AC in an MCU-padding
        # block would be encoded never, decoded as 0, and silently
        # break the docstring's exact-round-trip contract — reject it
        # up front (padding blocks carry DC only).
        nb_y, nb_x = _ni_dims(w, h, hs, vs, hmax, vmax)
        for by in range(mcus_y * vs):
            for bx in range(mcus_x * hs):
                if by < nb_y and bx < nb_x:
                    continue
                blk = comp[by][bx]
                if any(int(blk[k]) != 0 for k in range(1, 64)):
                    raise ValueError(
                        f"component {ci}: nonzero AC in MCU-padding "
                        f"block ({by}, {bx}) outside the "
                        f"non-interleaved grid {(nb_y, nb_x)} — AC "
                        "scans never code it"
                    )

    def interleaved_blocks():
        for ym in range(mcus_y):
            for xm in range(mcus_x):
                for ci in range(ncomp):
                    hs, vs = sampling[ci]
                    for v in range(vs):
                        for hh in range(hs):
                            yield ci, components[ci][ym * vs + v][
                                xm * hs + hh]

    def ni_blocks(ci):
        hs, vs = sampling[ci]
        nb_y, nb_x = _ni_dims(w, h, hs, vs, hmax, vmax)
        for by in range(nb_y):
            for bx in range(nb_x):
                yield components[ci][by][bx]

    # ---- per-scan event generation: ("dc"|"ac", sym) Huffman symbols
    # and ("bits", value, nbits) raw appends, consumed once to build
    # the scan's tables and once to emit — a single stream, so the
    # passes cannot diverge
    def dc_first_events(al):
        ev = []
        preds = [0] * ncomp
        for ci, blk in interleaved_blocks():
            v = int(blk[0]) >> al  # DC point transform (T.81 A.4)
            diff = v - preds[ci]
            preds[ci] = v
            cat = _category(diff)
            ev.append(("dc", cat))
            if cat:
                ev.append(("bits", _magnitude_bits(diff, cat), cat))
        return ev

    def dc_refine_events(al):
        return [("bits", (int(blk[0]) >> al) & 1, 1)
                for _ci, blk in interleaved_blocks()]

    def _flush_eobrun(ev, eobrun, pending):
        while eobrun > 0:
            run = min(eobrun, 32767)
            r = run.bit_length() - 1
            ev.append(("ac", r << 4))
            if r:
                ev.append(("bits", run - (1 << r), r))
            for bit in pending:
                ev.append(("bits", bit, 1))
            pending.clear()
            eobrun -= run
        return eobrun

    def ac_first_events(ci, ss, se, al):
        ev = []
        eobrun = 0
        for blk in ni_blocks(ci):
            vals = []
            for k in range(ss, se + 1):
                v = int(blk[k])
                av = abs(v) >> al  # AC point transform: magnitude shift
                vals.append(av if v >= 0 else -av)
            nz = [i for i, v in enumerate(vals) if v]
            if not nz:
                eobrun += 1
                if eobrun == 32767:
                    eobrun = _flush_eobrun(ev, eobrun, [])
                continue
            eobrun = _flush_eobrun(ev, eobrun, [])
            r = 0
            for i in range(nz[-1] + 1):
                v = vals[i]
                if v == 0:
                    r += 1
                    continue
                while r > 15:
                    ev.append(("ac", 0xF0))  # ZRL
                    r -= 16
                cat = _category(v)
                ev.append(("ac", (r << 4) | cat))
                ev.append(("bits", _magnitude_bits(v, cat), cat))
                r = 0
            if nz[-1] < se - ss:
                eobrun += 1  # trailing zeros: this block ends in EOB
        _flush_eobrun(ev, eobrun, [])
        return ev

    def ac_refine_events(ci, ss, se, al):
        # T.81 G.1.2.3 (libjpeg encode_mcu_AC_refine): newly
        # significant coefficients (|v|>>al == 1) emit (run,1)+sign;
        # already-nonzero ones emit a correction bit, buffered until
        # the next emitted symbol or carried with the EOB run
        ev = []
        eobrun = 0
        pending: list[int] = []
        for blk in ni_blocks(ci):
            absv = []
            for k in range(ss, se + 1):
                absv.append(abs(int(blk[k])) >> al)
            eob = 0  # band index AFTER the last newly-significant coef
            for i, v in enumerate(absv):
                if v == 1:
                    eob = i + 1
            r = 0
            block_bits: list[int] = []
            for i, v in enumerate(absv):
                if v == 0:
                    r += 1
                    continue
                while r > 15 and i < eob:
                    eobrun = _flush_eobrun(ev, eobrun, pending)
                    ev.append(("ac", 0xF0))
                    r -= 16
                    for bit in block_bits:
                        ev.append(("bits", bit, 1))
                    block_bits = []
                if v > 1:
                    block_bits.append(v & 1)
                    continue
                eobrun = _flush_eobrun(ev, eobrun, pending)
                ev.append(("ac", (r << 4) | 1))
                ev.append(("bits", 0 if int(blk[ss + i]) < 0 else 1, 1))
                for bit in block_bits:
                    ev.append(("bits", bit, 1))
                block_bits = []
                r = 0
            if r > 0 or block_bits:
                eobrun += 1
                pending.extend(block_bits)
                if eobrun == 32767:
                    eobrun = _flush_eobrun(ev, eobrun, pending)
        _flush_eobrun(ev, eobrun, pending)
        return ev

    # ---- scan script
    scans = [("dc_first", None, 0, 0, 0, dc_al)]
    for a in range(dc_al - 1, -1, -1):
        scans.append(("dc_refine", None, 0, 0, a + 1, a))
    for ci in range(ncomp):
        for ss, se, al0 in ac_bands:
            scans.append(("ac_first", ci, ss, se, 0, al0))
            for a in range(al0 - 1, -1, -1):
                scans.append(("ac_refine", ci, ss, se, a + 1, a))

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body)

    seg(0xDB, bytes([0x00]) + bytes(int(q) & 0xFF for q in qtable))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        hs, vs = sampling[cid - 1]
        sof += struct.pack(">BBB", cid, (hs << 4) | vs, 0)
    seg(0xC2, sof)  # SOF2: progressive DCT

    for kind, ci, ss, se, ah, al in scans:
        ev = {
            "dc_first": lambda: dc_first_events(al),
            "dc_refine": lambda: dc_refine_events(al),
            "ac_first": lambda: ac_first_events(ci, ss, se, al),
            "ac_refine": lambda: ac_refine_events(ci, ss, se, al),
        }[kind]()
        dc_syms = {e[1] for e in ev if e[0] == "dc"}
        ac_syms = {e[1] for e in ev if e[0] == "ac"}
        dc_codes = ac_codes = None
        if dc_syms:
            bits, vals = _flat_table(dc_syms)
            seg(0xC4, bytes([0x00]) + bytes(bits) + bytes(vals))
            dc_codes = _canonical_codes(bits, vals)
        if ac_syms:
            bits, vals = _flat_table(ac_syms)
            seg(0xC4, bytes([0x10]) + bytes(bits) + bytes(vals))
            ac_codes = _canonical_codes(bits, vals)
        if kind.startswith("dc"):
            sos = struct.pack(">B", ncomp)
            for cid in range(1, ncomp + 1):
                sos += struct.pack(">BB", cid, 0x00)
        else:
            sos = struct.pack(">BBB", 1, ci + 1, 0x00)
        sos += struct.pack(">BBB", ss, se, (ah << 4) | al)
        seg(0xDA, sos)
        bw = _BitWriter()
        for e in ev:
            if e[0] == "dc":
                code, ln = dc_codes[e[1]]
                bw.write(code, ln)
            elif e[0] == "ac":
                code, ln = ac_codes[e[1]]
                bw.write(code, ln)
            else:
                bw.write(e[1], e[2])
        bw.flush()
        out.extend(bw.buf)
    out.extend(b"\xff\xd9")
    return bytes(out)


# ------------------------------------------------------------- decoder


def decode_coeffs(b: bytes):
    """Parse + entropy-decode + DEQUANTIZE a baseline OR progressive
    JPEG. Returns ``(w, h, comps, sampling)`` where ``comps`` is a
    list of int64 arrays shaped (blocks_y, blocks_x, 64) in zigzag
    order and ``sampling`` the per-component (h, v) factors (supports
    4:4:4, 4:2:0 and the other 1..2-factor layouts via the interleaved
    MCU order, T.81 A.2.3), or ``None`` for malformed / outside-subset
    payloads. Progressive frames (SOF2) accumulate coefficients across
    every scan — spectral selection bands, DC/AC successive-
    approximation first and refinement scans, EOB runs (T.81 Annex G)
    — and dequantize at EOI. Integer end-to-end — this is the
    bit-exact layer the ``multimodal_jpeg_coeffs`` /
    ``multimodal_jpeg_progressive`` oracles check."""
    import numpy as np

    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return None
    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    frame = None
    progressive = False
    prog_coef = None
    scans_done = 0
    restart_interval = 0
    pos = 2
    try:
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker == 0xD9:
                break  # EOI: progressive finalizes below; baseline
                # would have returned at its (single) SOS already
            size = struct.unpack_from(">H", b, pos + 2)[0]
            body = b[pos + 4: pos + 2 + size]
            if len(body) != size - 2:
                return None
            pos += 2 + size
            if marker == 0xDB:
                p = 0
                while p < len(body):
                    pq, tq = body[p] >> 4, body[p] & 0x0F
                    if pq != 0:
                        return None  # 16-bit tables: outside subset
                    qtables[tq] = list(body[p + 1: p + 65])
                    p += 65
            elif marker == 0xC4:
                p = 0
                while p < len(body):
                    tc, th = body[p] >> 4, body[p] & 0x0F
                    bits = list(body[p + 1: p + 17])
                    n = sum(bits)
                    vals = list(body[p + 17: p + 17 + n])
                    table = _decode_table(bits, vals)
                    (dc_tables if tc == 0 else ac_tables)[th] = table
                    p += 17 + n
            elif marker in (0xC0, 0xC2):
                prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
                if prec != 8 or ncomp not in (1, 3):
                    return None
                comps = []
                for ci in range(ncomp):
                    cid, samp, tq = struct.unpack_from(
                        ">BBB", body, 6 + 3 * ci
                    )
                    hs, vs = samp >> 4, samp & 0x0F
                    if not (1 <= hs <= 2 and 1 <= vs <= 2):
                        return None  # beyond-2x sampling: outside subset
                    comps.append({"id": cid, "tq": tq, "h": hs, "v": vs})
                frame = (w, h, comps)
                progressive = marker == 0xC2
            elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # lossless/arithmetic/hierarchical frames
            elif marker == 0xDD:
                restart_interval = struct.unpack_from(">H", body, 0)[0]
            elif marker == 0xDA:
                if frame is None:
                    return None
                w, h, comps = frame
                if progressive:
                    if prog_coef is None:
                        sampling = [(c["h"], c["v"]) for c in comps]
                        _, _, mx, my = _mcu_geometry(w, h, sampling)
                        prog_coef = [
                            np.zeros((my * c["v"], mx * c["h"], 64),
                                     dtype=np.int64)
                            for c in comps
                        ]
                    pos = _progressive_scan(
                        b, pos, body, frame, prog_coef,
                        dc_tables, ac_tables, restart_interval
                    )
                    if pos is None:
                        return None
                    scans_done += 1
                    continue
                ns = body[0]
                if ns != len(comps):
                    return None
                sel = {}
                for i in range(ns):
                    cs, tda = body[1 + 2 * i], body[2 + 2 * i]
                    sel[cs] = (tda >> 4, tda & 0x0F)
                if any(c["id"] not in sel for c in comps):
                    return None  # SOS selectors don't cover SOF ids
                sampling = [(c["h"], c["v"]) for c in comps]
                hmax, vmax, mcus_x, mcus_y = _mcu_geometry(
                    w, h, sampling
                )
                out = [
                    np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64),
                             dtype=np.int64)
                    for c in comps
                ]
                br = _BitReader(b, pos)
                preds = [0] * len(comps)
                mcu = 0
                for ym in range(mcus_y):
                    for xm in range(mcus_x):
                        if restart_interval and mcu and \
                                mcu % restart_interval == 0:
                            m = br.align_and_consume_marker()
                            if not (0xD0 <= m <= 0xD7):
                                return None
                            preds = [0] * len(comps)
                        for ci, comp in enumerate(comps):
                            td, ta = sel[comp["id"]]
                            q = qtables.get(comp["tq"])
                            dct = dc_tables.get(td)
                            act = ac_tables.get(ta)
                            if q is None or dct is None or act is None:
                                return None
                            for v in range(comp["v"]):
                                for hh in range(comp["h"]):
                                    cat = _read_symbol(br, dct)
                                    diff = (_extend(br.receive(cat), cat)
                                            if cat else 0)
                                    preds[ci] += diff
                                    blk = out[ci][ym * comp["v"] + v][
                                        xm * comp["h"] + hh]
                                    blk[0] = preds[ci] * q[0]
                                    k = 1
                                    while k < 64:
                                        sym = _read_symbol(br, act)
                                        if sym == 0x00:  # EOB
                                            break
                                        run, cat = sym >> 4, sym & 0x0F
                                        if cat == 0:
                                            if run != 15:
                                                return None
                                            k += 16  # ZRL
                                            continue
                                        k += run
                                        if k > 63:
                                            return None
                                        blk[k] = _extend(
                                            br.receive(cat), cat) * q[k]
                                        k += 1
                        mcu += 1
                return w, h, out, sampling
            # other markers (APPn, COM): skipped via the length field
        if progressive and scans_done and frame is not None:
            # finalize: dequantize the accumulated approximation
            w, h, comps = frame
            out = []
            for ci, c in enumerate(comps):
                q = qtables.get(c["tq"])
                if q is None:
                    return None
                out.append(prog_coef[ci] * np.asarray(q, dtype=np.int64))
            return w, h, out, [(c["h"], c["v"]) for c in comps]
        return None  # no SOS reached
    except (_MarkerHit, ValueError, struct.error, IndexError, KeyError):
        return None


def _ni_dims(w: int, h: int, hs: int, vs: int,
             hmax: int, vmax: int) -> tuple[int, int]:
    """Non-interleaved block dims of a component (T.81 A.2.2): blocks
    covering its OWN sample grid ceil(w*hs/hmax) x ceil(h*vs/vmax) —
    smaller than the interleaved MCU grid when the image size is not
    an MCU multiple."""
    cw = -(-(w * hs) // hmax)
    ch = -(-(h * vs) // vmax)
    return -(-ch // 8), -(-cw // 8)


def _progressive_scan(b, pos, body, frame, coef, dc_tables, ac_tables,
                      restart_interval):
    """Entropy-decode ONE progressive scan (T.81 G.2), accumulating
    into ``coef`` (raw quantized successive-approximation state, per
    component, zigzag order). Returns the byte offset of the next
    marker, or ``None`` for malformed / outside-subset scans."""
    w, h, comps = frame
    sampling = [(c["h"], c["v"]) for c in comps]
    hmax, vmax, mcus_x, mcus_y = _mcu_geometry(w, h, sampling)
    ns = body[0]
    scomp = []
    for i in range(ns):
        cs, tda = body[1 + 2 * i], body[2 + 2 * i]
        ci = next(
            (j for j, c in enumerate(comps) if c["id"] == cs), None
        )
        if ci is None:
            return None
        scomp.append((ci, tda >> 4, tda & 0x0F))
    ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    if not (0 <= ss <= se <= 63) or al > 13:
        return None
    if ah != 0 and ah != al + 1:
        return None  # successive approximation refines one bit at a time
    br = _BitReader(b, pos)

    if ss == 0:
        # DC scan — interleaved over all frame components, or a single
        # component non-interleaved (the two layouts real encoders
        # emit; partial-subset interleaves are outside the subset)
        if se != 0:
            return None
        if ns != len(comps) and ns != 1:
            return None
        luts = []
        if ah == 0:
            for _, td, _ta in scomp:
                t = dc_tables.get(td)
                if t is None:
                    return None
                luts.append(t)
        preds = [0] * ns

        def dc_block(si, blk):
            if ah == 0:
                cat = _read_symbol(br, luts[si])
                diff = _extend(br.receive(cat), cat) if cat else 0
                preds[si] += diff
                blk[0] = preds[si] << al
            else:
                if br.receive(1):
                    blk[0] |= 1 << al  # approximation gains one bit

        if ns == len(comps):
            mcu = 0
            for ym in range(mcus_y):
                for xm in range(mcus_x):
                    if restart_interval and mcu and \
                            mcu % restart_interval == 0:
                        m = br.align_and_consume_marker()
                        if not (0xD0 <= m <= 0xD7):
                            return None
                        preds = [0] * ns
                    for si, (ci, _td, _ta) in enumerate(scomp):
                        hs, vs = sampling[ci]
                        for v in range(vs):
                            for hh in range(hs):
                                dc_block(
                                    si,
                                    coef[ci][ym * vs + v][xm * hs + hh],
                                )
                    mcu += 1
        else:
            ci = scomp[0][0]
            hs, vs = sampling[ci]
            nb_y, nb_x = _ni_dims(w, h, hs, vs, hmax, vmax)
            n = 0
            for by in range(nb_y):
                for bx in range(nb_x):
                    if restart_interval and n and \
                            n % restart_interval == 0:
                        m = br.align_and_consume_marker()
                        if not (0xD0 <= m <= 0xD7):
                            return None
                        preds = [0] * ns
                    dc_block(0, coef[ci][by][bx])
                    n += 1
    else:
        # AC scan — always single-component non-interleaved (T.81
        # G.1.1.1.1 mandates ns = 1 for progressive AC scans)
        if ns != 1:
            return None
        ci, _td, ta = scomp[0]
        act = ac_tables.get(ta)
        if act is None:
            return None
        hs, vs = sampling[ci]
        nb_y, nb_x = _ni_dims(w, h, hs, vs, hmax, vmax)
        eobrun = 0
        n = 0
        for by in range(nb_y):
            for bx in range(nb_x):
                if restart_interval and n and n % restart_interval == 0:
                    m = br.align_and_consume_marker()
                    if not (0xD0 <= m <= 0xD7):
                        return None
                    eobrun = 0
                n += 1
                blk = coef[ci][by][bx]
                if ah == 0:
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        sym = _read_symbol(br, act)
                        r, s = sym >> 4, sym & 0x0F
                        if s == 0:
                            if r == 15:
                                k += 16  # ZRL
                                continue
                            eobrun = (1 << r) + br.receive(r) - 1
                            break
                        k += r
                        if k > se:
                            return None
                        blk[k] = _extend(br.receive(s), s) << al
                        k += 1
                else:
                    eobrun = _ac_refine_block(
                        br, act, blk, ss, se, al, eobrun
                    )
    # the scan's entropy segment ends at the next real marker: _refill
    # never advances past a marker's 0xFF, so br.p is already there
    return br.p


def _ac_refine_block(br, act, blk, ss, se, al, eobrun):
    """AC successive-approximation refinement for one block (T.81
    G.1.2.3 / libjpeg decode_mcu_AC_refine semantics): newly
    significant coefficients arrive as ±1<<Al; every already-nonzero
    coefficient passed over — including all of them during an EOB run
    — carries one correction bit that, when set, grows its magnitude
    by 1<<Al (once per level, guarded by the bit test)."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _read_symbol(br, act)
            r, s = sym >> 4, sym & 0x0F
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = (1 << r) + br.receive(r)
                    break  # this block's tail is corrected below
                # ZRL: r stays 15 => skip 16 zero-history positions
            elif s == 1:
                newval = p1 if br.receive(1) else -p1
            else:
                raise ValueError("refinement magnitude must be 1")
            while k <= se:
                v = int(blk[k])
                if v != 0:
                    if br.receive(1) and (abs(v) & p1) == 0:
                        blk[k] = v + (p1 if v > 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            v = int(blk[k])
            if v != 0:
                if br.receive(1) and (abs(v) & p1) == 0:
                    blk[k] = v + (p1 if v > 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


# 16.16 fixed-point YCbCr->RGB (ITU-R BT.601 coefficients), integer
# floor-divide — exactly mirrorable in SQL (see module doc)
_CR_R, _CB_G, _CR_G, _CB_B = 91881, 22554, 46802, 116130


def _ycbcr_to_rgb(y, cb, cr):
    import numpy as np

    y64 = y.astype(np.int64) << 16
    cb_ = cb.astype(np.int64) - 128
    cr_ = cr.astype(np.int64) - 128
    half = 1 << 15
    r = (y64 + _CR_R * cr_ + half) >> 16
    g = (y64 - _CB_G * cb_ - _CR_G * cr_ + half) >> 16
    bch = (y64 + _CB_B * cb_ + half) >> 16
    return np.clip(np.stack([r, g, bch], axis=-1), 0, 255).astype(np.uint8)


def decode_pixels(b: bytes):
    """Full pixel decode: :func:`decode_coeffs` -> de-zigzag -> 8x8
    IDCT (float basis product, round-half-up, +128 level shift,
    clamp) -> nearest-neighbour chroma upsample to the luma grid
    (integer replication — exact for flat chroma, which is what the
    4:2:0 oracle fixtures use) -> crop -> YCbCr->RGB (grayscale
    replicates). Returns ``(w, h, HxWx3 uint8)`` or ``None``."""
    import numpy as np

    decoded = decode_coeffs(b)
    if decoded is None:
        return None
    w, h, comps, sampling = decoded
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    m = _basis()
    # de-zigzag index: natural position r*8+c -> zigzag index
    inv = np.empty(64, dtype=np.int64)
    for i, (r, c) in enumerate(ZIGZAG):
        inv[r * 8 + c] = i
    planes = []
    for coeffs, (hs, vs) in zip(comps, sampling):
        by, bx = coeffs.shape[0], coeffs.shape[1]
        # all blocks at once: de-zigzag via fancy index, IDCT as one
        # einsum (px[x,y] = sum_uv M[u,x] F[u,v] M[v,y]), block grid
        # stitched back by transpose+reshape — no per-block Python
        # loop, which dominated at real image sizes (a 1024x1024
        # luma plane is 16k blocks). Flat blocks stay bit-exact: the
        # einsum reduces to the single F00 term, no summation-order
        # ambiguity.
        f = coeffs[..., inv].reshape(by, bx, 8, 8).astype(np.float64)
        # fixed contraction path: per-call path optimization costs more
        # than the contraction itself on small fixture grids
        px = np.einsum("ux,ABuv,vy->ABxy", m, f, m,
                       optimize=["einsum_path", (0, 1), (0, 1)])
        vals = np.floor(px + 0.5).astype(np.int64) + 128
        plane = vals.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        if vmax // vs > 1:
            plane = np.repeat(plane, vmax // vs, axis=0)
        if hmax // hs > 1:
            plane = np.repeat(plane, hmax // hs, axis=1)
        planes.append(np.clip(plane[:h, :w], 0, 255))
    if len(planes) == 1:
        g = planes[0].astype(np.uint8)
        return w, h, np.stack([g, g, g], axis=-1)
    return w, h, _ycbcr_to_rgb(planes[0], planes[1], planes[2])
