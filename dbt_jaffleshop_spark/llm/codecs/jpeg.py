"""Dependency-free JPEG codec (ITU-T T.81 / ISO 10918-1), every
Huffman-coded non-hierarchical shape: canonical Huffman tables,
dequantization, an 8x8 IDCT and a level shift, all in numpy.

Supported: baseline sequential and SOF2 progressive frames, 8-bit,
grayscale and interleaved YCbCr color at any T.81 sampling factors
1..4 (4:4:4, 4:2:2, 4:2:0, ...), DRI restart intervals (RST markers
with byte realignment and predictor resets, also inside progressive
scans), spectral selection with EOB-run coding, and successive
approximation with refinement correction bits.

Encoder and decoder are independent forward and backward paths that
meet only at the byte stream. The encoders write quantized coefficient
blocks (canonical codes from BITS/HUFFVAL, DC prediction, AC run-length
with ZRL/EOB, 0xFF byte stuffing, DQT/SOF/DHT/DRI/SOS markers). The
decoder is a general marker parser and entropy decoder (tables read
from the file's own DHT segments, de-stuffing, EXTEND sign recovery)
feeding dequant → de-zigzag → float IDCT → level shift → round → clamp
→ crop, then fixed-point BT.601 to RGB for color.
"""

from __future__ import annotations

import struct

import numpy as np


def _jpeg_zigzag() -> list[tuple[int, int]]:
    """T.81 Figure 5 zigzag order: k -> (row, col) of the 8x8 block
    (row = vertical frequency v, col = horizontal frequency u). Built by
    the diagonal walk rather than a 64-literal table so the encoder,
    decoder and oracle constants all derive from one definition."""
    order, r, c = [], 0, 0
    for _ in range(64):
        order.append((r, c))
        if (r + c) % 2 == 0:  # heading up-right
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r, c = r - 1, c + 1
        else:  # heading down-left
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r, c = r + 1, c - 1
    return order


# Quantization table in zigzag order: every entry a multiple of 8 so
# dequantized coefficients at the test frequencies divide exactly by the
# IDCT's 1/8 (see multimodal_jpeg_pixels) — values vary per position so
# the dequant indexing is genuinely exercised.
JPEG_QUANT_ZZ = [8 * (2 + (7 * k) % 9) for k in range(64)]

# T.81 Annex K-style luminance Huffman specs: (BITS[1..16], HUFFVAL).
JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
JPEG_DC_VALS = list(range(12))
JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
JPEG_AC_VALS = (
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA]
)


# Chroma quantization table (tq=1), again every entry a multiple of 8
# so the exactly-representable subspace stays integer; a DIFFERENT
# progression from the luma table so per-component dequant routing is
# genuinely exercised (a luma/chroma table swap breaks oracle parity).
JPEG_QUANT_CHROMA_ZZ = [8 * (3 + (5 * k) % 7) for k in range(64)]

# T.81 Annex K.3.3.1 chroma DC Huffman spec: different code-length
# histogram from the luma table, so the color scan routes through a
# structurally different canonical tree per component class.
JPEG_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
JPEG_DC_CHROMA_VALS = list(range(12))

# Progressive-scan AC Huffman spec (r7d): spectral-selection AC scans
# code EOBn run symbols (RRRR<<4, RRRR=0..14) the Annex-K sequential
# table lacks. A flat 9-bit canonical table over every symbol the
# encoder may emit (EOBn, ZRL, (run, size) for size 1..10) keeps the
# spec trivially valid (Kraft sum 176/512); the decoder reads it from
# the file's own DHT, so nothing is shared out-of-band.
JPEG_PROG_AC_VALS = sorted(
    [r << 4 for r in range(15)]                      # EOB0..EOB14
    + [0xF0]                                         # ZRL
    + [(r << 4) | sz for r in range(16) for sz in range(1, 11)]
)
JPEG_PROG_AC_BITS = [0] * 8 + [len(JPEG_PROG_AC_VALS)] + [0] * 7

# Fixed-point BT.601 YCbCr->RGB constants (libjpeg-style FIX(x) =
# round(x * 65536)): 1.40200, 0.34414, 0.71414, 1.77200. The >> 16 is a
# FLOOR shift — the DuckDB oracle replays it as floor(a / 65536.0)
# (its integer `//` truncates toward zero, which differs on negatives).
JPEG_FIX_RCR = 91881
JPEG_FIX_GCB = 22554
JPEG_FIX_GCR = 46802
JPEG_FIX_BCB = 116130


ZZ = _jpeg_zigzag()


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _marker(tag: int, payload: bytes) -> bytes:
    return struct.pack(">HH", tag, len(payload) + 2) + payload


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(byte)
            if byte == 0xFF:  # entropy-stream byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)

    def restart_marker(self, m: int) -> None:
        """Byte-align (1-bit padding) and emit RSTm verbatim —
        restart markers are real markers, never byte-stuffed."""
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)
        self.out.append(0xFF)
        self.out.append(0xD0 + (m % 8))


def _put_coef(w: _BitWriter, table, run: int, value: int) -> None:
    size = int(value).bit_length() if value else 0
    w.put(*table[(run << 4) | size])
    if size:
        v = value if value >= 0 else value + (1 << size) - 1
        w.put(v, size)


def jpeg_encode_gray_coefs(coefs, width: int, height: int) -> bytes:
    """Quantized coefficient blocks (nby, nbx, 8, 8) natural [v][u]
    order -> complete baseline JFIF-less JPEG byte stream."""
    coefs = np.asarray(coefs, dtype=np.int32)
    nby, nbx = coefs.shape[:2]
    dc_tab = _canonical_codes(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_tab = _canonical_codes(JPEG_AC_BITS, JPEG_AC_VALS)
    w = _BitWriter()
    prev_dc = 0
    for by in range(nby):
        for bx in range(nbx):
            prev_dc = _encode_block(
                w, coefs[by, bx], prev_dc, dc_tab, ac_tab
            )
    dqt = bytes([0]) + bytes(JPEG_QUANT_ZZ[k] & 0xFF for k in range(64))
    # 8-bit multiples-of-8 table entries: cap at 255 would corrupt —
    # JPEG_QUANT_ZZ maxes at 8*(2+8)=80, well inside one byte
    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    dht = (
        bytes([0x00]) + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS)
        + bytes([0x10]) + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS)
    )
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + _marker(0xFFDB, dqt)
        + _marker(0xFFC0, sof)
        + _marker(0xFFC4, dht)
        + _marker(0xFFDA, sos)
        + w.flush()
        + b"\xff\xd9"
    )


def _encode_block(w, blk, prev_dc, dc_tab, ac_tab) -> int:
    """Write one 8x8 natural-order block; returns its DC for the
    caller's per-component predictor chain."""
    zz = [int(blk[r][c]) for r, c in ZZ]
    diff = zz[0] - prev_dc
    size = abs(diff).bit_length()
    w.put(*dc_tab[size])
    if size:
        v = diff if diff >= 0 else diff + (1 << size) - 1
        w.put(v, size)
    run = 0
    for k in range(1, 64):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            w.put(*ac_tab[0xF0])  # ZRL: 16 zeros
            run -= 16
        _put_coef(w, ac_tab, run, zz[k])
        run = 0
    if run:
        w.put(*ac_tab[0x00])  # EOB
    return zz[0]


def jpeg_encode_color_coefs(coefs, width: int, height: int) -> bytes:
    """Quantized coefficient blocks (3, nby, nbx, 8, 8) natural
    order (Y, Cb, Cr) -> complete interleaved baseline YCbCr 4:4:4
    JPEG: two DQT tables (luma tq=0, chroma tq=1), four DHT tables
    (chroma DC uses the Annex-K chroma histogram), MCU order
    Y,Cb,Cr with independent DC predictors — the 1x1 instance of
    :func:`jpeg_encode_sampled_coefs`."""
    coefs = np.asarray(coefs, dtype=np.int32)
    assert coefs.shape[0] == 3
    return jpeg_encode_sampled_coefs(coefs[0], coefs[1:], width, height, 1, 1)


def jpeg_encode_sampled_coefs(
    coefs_y,
    coefs_c,
    width: int,
    height: int,
    hy: int = 2,
    vy: int = 2,
    restart_interval: int = 0,
) -> bytes:
    """Chroma-subsampled encoder, luma sampling (hy, vy) vs 1x1
    chroma: luma blocks (vy*nmy, hy*nmx, 8, 8), chroma blocks
    (2, nmy, nmx, 8, 8) — each MCU writes hy*vy raster-order Y
    blocks then one Cb and one Cr, per T.81 A.2.3. (2,2) is 4:2:0,
    (2,1) is 4:2:2, (1,1) is 4:4:4. With
    restart_interval > 0, a DRI segment declares the interval and
    RST0..RST7 markers (cycling) separate every `restart_interval`
    MCUs: byte-aligned, DC predictors reset, per T.81
    B.2.4.4/E.2.4."""
    coefs_y = np.asarray(coefs_y, dtype=np.int32)
    coefs_c = np.asarray(coefs_c, dtype=np.int32)
    nmy, nmx = coefs_c.shape[1:3]
    assert coefs_y.shape[:2] == (vy * nmy, hy * nmx)
    luma = (
        _canonical_codes(JPEG_DC_BITS, JPEG_DC_VALS),
        _canonical_codes(JPEG_AC_BITS, JPEG_AC_VALS),
    )
    chroma = (
        _canonical_codes(JPEG_DC_CHROMA_BITS, JPEG_DC_CHROMA_VALS),
        _canonical_codes(JPEG_AC_BITS, JPEG_AC_VALS),
    )
    w = _BitWriter()
    prev = [0, 0, 0]
    mcu_count, rst_seq = 0, 0
    for my in range(nmy):
        for mx in range(nmx):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                w.restart_marker(rst_seq)
                rst_seq += 1
                prev = [0, 0, 0]
            mcu_count += 1
            for byi in range(vy):
                for bxi in range(hy):
                    prev[0] = _encode_block(
                        w,
                        coefs_y[my * vy + byi, mx * hy + bxi],
                        prev[0],
                        *luma,
                    )
            for ci in range(2):
                prev[1 + ci] = _encode_block(
                    w, coefs_c[ci, my, mx], prev[1 + ci], *chroma
                )
    dqt = (
        bytes([0]) + bytes(JPEG_QUANT_ZZ[k] & 0xFF for k in range(64))
        + bytes([1])
        + bytes(JPEG_QUANT_CHROMA_ZZ[k] & 0xFF for k in range(64))
    )
    sof = struct.pack(">BHHB", 8, height, width, 3) + bytes(
        [1, (hy << 4) | vy, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht = (
        bytes([0x00]) + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS)
        + bytes([0x10]) + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS)
        + bytes([0x01])
        + bytes(JPEG_DC_CHROMA_BITS) + bytes(JPEG_DC_CHROMA_VALS)
        + bytes([0x11]) + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS)
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    dri = (
        _marker(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + _marker(0xFFDB, dqt)
        + _marker(0xFFC0, sof)
        + _marker(0xFFC4, dht)
        + dri
        + _marker(0xFFDA, sos)
        + w.flush()
        + b"\xff\xd9"
    )


def jpeg_encode_420_coefs(
    coefs_y, coefs_c, width: int, height: int, restart_interval: int = 0
) -> bytes:
    """The 4:2:0 instance of :func:`jpeg_encode_sampled_coefs`."""
    return jpeg_encode_sampled_coefs(
        coefs_y, coefs_c, width, height, 2, 2, restart_interval
    )


def _zzb(comp) -> list:
    """One component's (nby, nbx, 8, 8) natural-order blocks as
    nested zigzag lists for the progressive scan writers."""
    nby, nbx = comp.shape[:2]
    return [
        [
            [int(comp[by, bx][r][c]) for r, c in ZZ]
            for bx in range(nbx)
        ]
        for by in range(nby)
    ]


def _pt(v: int, lvl: int) -> int:
    """AC point transform: sign-magnitude shift (T.81 G.1.2.2; DC
    uses a plain arithmetic shift instead)."""
    return (abs(v) >> lvl) * (1 if v >= 0 else -1)


def _prog_dc_first(
    comp_list, samplings, nmy: int, nmx: int, lvl: int, ri: int = 0
) -> bytes:
    """Interleaved DC first scan in MCU order: hi*vi raster blocks per
    component per MCU — dummy blocks past a component's edge are
    encoded too (T.81 A.2.3); each component codes the diff of its
    arithmetic-shifted DC against its own predictor with its own table.
    With all-1x1 sampling one block position is one MCU, the restart
    unit."""
    w = _BitWriter()
    prev = [0] * len(comp_list)
    n_units, rst_seq = 0, 0
    for my in range(nmy):
        for mx in range(nmx):
            if ri and n_units and n_units % ri == 0:
                w.restart_marker(rst_seq)
                rst_seq += 1
                prev = [0] * len(comp_list)
            n_units += 1
            for si, ((zzb, dc_tab), (hi, vi)) in enumerate(
                zip(comp_list, samplings)
            ):
                for byi in range(vi):
                    for bxi in range(hi):
                        cur = zzb[my * vi + byi][mx * hi + bxi][0] >> lvl
                        diff = cur - prev[si]
                        prev[si] = cur
                        size = abs(diff).bit_length()
                        w.put(*dc_tab[size])
                        if size:
                            v = (
                                diff
                                if diff >= 0
                                else diff + (1 << size) - 1
                            )
                            w.put(v, size)
    return w.flush()


def _prog_dc_refine(
    comp_list, samplings, nmy: int, nmx: int, lvl: int, ri: int = 0
) -> bytes:
    w = _BitWriter()
    n_units, rst_seq = 0, 0
    for my in range(nmy):
        for mx in range(nmx):
            if ri and n_units and n_units % ri == 0:
                w.restart_marker(rst_seq)
                rst_seq += 1
            n_units += 1
            for (zzb, _dc_tab), (hi, vi) in zip(comp_list, samplings):
                for byi in range(vi):
                    for bxi in range(hi):
                        w.put(
                            (zzb[my * vi + byi][mx * hi + bxi][0] >> lvl)
                            & 1,
                            1,
                        )
    return w.flush()


def _prog_ac_first(
    zzb, ac_tab, ss: int, se: int, lvl: int, ri: int = 0
) -> bytes:
    w = _BitWriter()
    nby, nbx = len(zzb), len(zzb[0])

    def flush_eob(run: int) -> None:
        while run:
            chunk = min(run, (1 << 15) - 1)
            r = chunk.bit_length() - 1
            w.put(*ac_tab[r << 4])
            if r:
                w.put(chunk - (1 << r), r)
            run -= chunk

    eob_run = 0
    n_units, rst_seq = 0, 0  # restart units = blocks (Ns=1 scan)
    for by in range(nby):
        for bx in range(nbx):
            if ri and n_units and n_units % ri == 0:
                # T.81 E.2.4: the EOB run may not cross a restart
                flush_eob(eob_run)
                eob_run = 0
                w.restart_marker(rst_seq)
                rst_seq += 1
            n_units += 1
            band = [_pt(v, lvl) for v in zzb[by][bx][ss : se + 1]]
            nz = [i for i, v in enumerate(band) if v]
            if not nz:
                eob_run += 1
                continue
            flush_eob(eob_run)
            eob_run = 0
            run = 0
            for i in range(nz[-1] + 1):
                v = band[i]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    w.put(*ac_tab[0xF0])
                    run -= 16
                size = abs(v).bit_length()
                w.put(*ac_tab[(run << 4) | size])
                vv = v if v >= 0 else v + (1 << size) - 1
                w.put(vv, size)
                run = 0
            if nz[-1] < se - ss:  # trailing zeros -> EOB
                eob_run += 1
    flush_eob(eob_run)
    return w.flush()


def _prog_ac_refine(
    zzb, ac_tab, ss: int, se: int, lvl: int, ri: int = 0
) -> bytes:
    """T.81 G.1.2.3 / the jcphuff structure: per block, walk the
    band; zero-history positions accumulate the run, already-
    nonzero positions buffer a correction bit, newly-nonzero
    (|v| >> lvl == 1) positions flush the pending EOB run, emit
    (run, 1) + sign + the buffered bits. Blocks ending in zeros/
    corrections join the EOB run, whose correction bits ride
    behind the eventual EOBn."""
    w = _BitWriter()
    nby, nbx = len(zzb), len(zzb[0])
    eob_run = 0
    be_bits: list = []  # corrections owned by the EOB run

    def flush_run() -> None:
        nonlocal eob_run, be_bits
        if eob_run:
            r = eob_run.bit_length() - 1
            w.put(*ac_tab[r << 4])
            if r:
                w.put(eob_run - (1 << r), r)
            eob_run = 0
            for b in be_bits:
                w.put(b, 1)
            be_bits = []

    n_units, rst_seq = 0, 0  # restart units = blocks (Ns=1 scan)
    for by in range(nby):
        for bx in range(nbx):
            if ri and n_units and n_units % ri == 0:
                flush_run()  # EOB run + its bits end at the marker
                w.restart_marker(rst_seq)
                rst_seq += 1
            n_units += 1
            full = zzb[by][bx][ss : se + 1]
            absv = [abs(v) >> lvl for v in full]
            eob_k = -1
            for i, t in enumerate(absv):
                if t == 1:
                    eob_k = i
            run = 0
            br: list = []  # this block's pending bits
            for i, t in enumerate(absv):
                if t == 0:
                    run += 1
                    continue
                while run > 15 and i <= eob_k:
                    flush_run()
                    w.put(*ac_tab[0xF0])
                    run -= 16
                    for b in br:
                        w.put(b, 1)
                    br = []
                if t > 1:  # history: correction bit only
                    br.append(t & 1)
                    continue
                # newly nonzero at this level
                flush_run()
                w.put(*ac_tab[(run << 4) | 1])
                w.put(1 if full[i] >= 0 else 0, 1)
                for b in br:
                    w.put(b, 1)
                br = []
                run = 0
            if run > 0 or br:
                eob_run += 1
                be_bits.extend(br)
                if eob_run == 0x7FFF:
                    flush_run()
    flush_run()
    return w.flush()


def jpeg_encode_progressive_coefs(
    coefs,
    width: int,
    height: int,
    bands: tuple = ((1, 5), (6, 63)),
    al: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """Progressive encoder (grayscale): spectral selection — one DC
    scan (Ss=Se=0, differential predictors) followed by one AC scan
    per band, each band coded with EOB-run symbols (T.81 G.1.2.2)
    across blocks — and, with ``al > 0``, full SUCCESSIVE
    APPROXIMATION (r7e): point-transformed first scans, then DC/AC
    refinement scans walking al-1..0 with ±1<<lvl insertions and
    correction bits (T.81 G.1.2.3 structure). Same
    quantized-coefficient contract as the sequential encoder — any
    scan script of the same blocks decodes to the same pixels."""
    coefs = np.asarray(coefs, dtype=np.int32)
    dc_tab = _canonical_codes(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_tab = _canonical_codes(JPEG_PROG_AC_BITS, JPEG_PROG_AC_VALS)
    zzb = _zzb(coefs)
    comp_list = [(zzb, dc_tab)]
    nby, nbx = coefs.shape[:2]
    dqt = bytes([0]) + bytes(JPEG_QUANT_ZZ[k] & 0xFF for k in range(64))
    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    dht = (
        bytes([0x00]) + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS)
        + bytes([0x10])
        + bytes(JPEG_PROG_AC_BITS) + bytes(JPEG_PROG_AC_VALS)
    )

    def sos(ss: int, se: int, ah: int, a_low: int) -> bytes:
        return _marker(
            0xFFDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | a_low])
        )

    ri = restart_interval
    dri = _marker(0xFFDD, struct.pack(">H", ri)) if ri else b""
    out = (
        b"\xff\xd8"
        + _marker(0xFFDB, dqt)
        + _marker(0xFFC2, sof)
        + _marker(0xFFC4, dht)
        + dri
        + sos(0, 0, 0, al)
        + _prog_dc_first(comp_list, [(1, 1)], nby, nbx, al, ri)
    )
    for lvl in range(al - 1, -1, -1):
        out += sos(0, 0, lvl + 1, lvl) + _prog_dc_refine(
            comp_list, [(1, 1)], nby, nbx, lvl, ri
        )
    for ss, se in bands:
        out += sos(ss, se, 0, al) + _prog_ac_first(
            zzb, ac_tab, ss, se, al, ri
        )
    for lvl in range(al - 1, -1, -1):
        for ss, se in bands:
            out += sos(ss, se, lvl + 1, lvl) + _prog_ac_refine(
                zzb, ac_tab, ss, se, lvl, ri
            )
    return out + b"\xff\xd9"


def jpeg_encode_progressive3_coefs(
    coefs,
    width: int,
    height: int,
    bands: tuple = ((1, 5), (6, 63)),
    al: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """Progressive COLOR encoder (YCbCr 4:4:4), coefficient blocks
    (3, nby, nbx, 8, 8): the 1x1 instance of
    :func:`jpeg_encode_progressive_sampled_coefs`."""
    coefs = np.asarray(coefs, dtype=np.int32)
    assert coefs.shape[0] == 3
    return jpeg_encode_progressive_sampled_coefs(
        coefs[0], coefs[1:], width, height, 1, 1, bands, al, restart_interval
    )


def jpeg_encode_progressive_sampled_coefs(
    coefs_y,
    coefs_c,
    width: int,
    height: int,
    hy: int = 2,
    vy: int = 2,
    bands: tuple = ((1, 5), (6, 63)),
    al: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """Progressive CHROMA-SUBSAMPLED encoder (r8): luma sampled
    (hy, vy) vs 1x1 chroma, same coefficient contract as
    :func:`jpeg_encode_sampled_coefs` — luma blocks (vy*nmy, hy*nmx, 8, 8)
    covering the full MCU grid (dummy blocks included), chroma
    (2, nmy, nmx, 8, 8). Scan script: one INTERLEAVED DC scan in
    MCU order (dummy luma blocks encoded, per T.81 A.2.3), DC
    refinements in the same interleave when al > 0, then
    per-component AC band scans + refinements over each
    component's REAL block grid only (T.81 restricts progressive
    AC scans to one component; non-interleaved scans carry no
    dummies)."""
    coefs_y = np.asarray(coefs_y, dtype=np.int32)
    coefs_c = np.asarray(coefs_c, dtype=np.int32)
    nmy, nmx = coefs_c.shape[1:3]
    assert coefs_y.shape[:2] == (vy * nmy, hy * nmx)
    dc_luma = _canonical_codes(JPEG_DC_BITS, JPEG_DC_VALS)
    dc_chroma = _canonical_codes(
        JPEG_DC_CHROMA_BITS, JPEG_DC_CHROMA_VALS
    )
    ac_tab = _canonical_codes(JPEG_PROG_AC_BITS, JPEG_PROG_AC_VALS)
    zzbs = [_zzb(coefs_y), _zzb(coefs_c[0]), _zzb(coefs_c[1])]
    # real (non-dummy) per-component AC grids: luma ceil(h/8) x
    # ceil(w/8); chroma's ceil-of-scaled size IS its full grid
    nby_y, nbx_y = (height + 7) // 8, (width + 7) // 8
    zz_ac = [
        [row[:nbx_y] for row in zzbs[0][:nby_y]],
        zzbs[1],
        zzbs[2],
    ]
    comp_list = [
        (zzbs[0], dc_luma),
        (zzbs[1], dc_chroma),
        (zzbs[2], dc_chroma),
    ]
    samplings = [(hy, vy), (1, 1), (1, 1)]
    dqt = (
        bytes([0]) + bytes(JPEG_QUANT_ZZ[k] & 0xFF for k in range(64))
        + bytes([1])
        + bytes(JPEG_QUANT_CHROMA_ZZ[k] & 0xFF for k in range(64))
    )
    sof = struct.pack(">BHHB", 8, height, width, 3) + bytes(
        [1, (hy << 4) | vy, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht = (
        bytes([0x00]) + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS)
        + bytes([0x01])
        + bytes(JPEG_DC_CHROMA_BITS) + bytes(JPEG_DC_CHROMA_VALS)
        + bytes([0x10])
        + bytes(JPEG_PROG_AC_BITS) + bytes(JPEG_PROG_AC_VALS)
        + bytes([0x11])
        + bytes(JPEG_PROG_AC_BITS) + bytes(JPEG_PROG_AC_VALS)
    )

    def sos_dc(ah: int, a_low: int) -> bytes:
        return _marker(
            0xFFDA,
            bytes(
                [3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, (ah << 4) | a_low]
            ),
        )

    def sos_ac(cid: int, ta: int, ss: int, se: int, ah: int, a_low: int) -> bytes:
        return _marker(
            0xFFDA, bytes([1, cid, ta, ss, se, (ah << 4) | a_low])
        )

    ri = restart_interval
    dri = _marker(0xFFDD, struct.pack(">H", ri)) if ri else b""
    out = (
        b"\xff\xd8"
        + _marker(0xFFDB, dqt)
        + _marker(0xFFC2, sof)
        + _marker(0xFFC4, dht)
        + dri
        + sos_dc(0, al)
        + _prog_dc_first(comp_list, samplings, nmy, nmx, al, ri)
    )
    for lvl in range(al - 1, -1, -1):
        out += sos_dc(lvl + 1, lvl) + _prog_dc_refine(
            comp_list, samplings, nmy, nmx, lvl, ri
        )
    for ci in range(3):
        ta = 0 if ci == 0 else 1
        for ss, se in bands:
            out += sos_ac(ci + 1, ta, ss, se, 0, al) + _prog_ac_first(
                zz_ac[ci], ac_tab, ss, se, al, ri
            )
    for lvl in range(al - 1, -1, -1):
        for ci in range(3):
            ta = 0 if ci == 0 else 1
            for ss, se in bands:
                out += sos_ac(
                    ci + 1, ta, ss, se, lvl + 1, lvl
                ) + _prog_ac_refine(zz_ac[ci], ac_tab, ss, se, lvl, ri)
    return out + b"\xff\xd9"


class _BitReader:
    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if not self.nbits:
            if self.pos >= len(self.buf):
                raise ValueError("JPEG entropy stream truncated")
            b = self.buf[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.buf[self.pos] if self.pos < len(self.buf) else None
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError("JPEG marker inside entropy data")
            self.acc, self.nbits = b, 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self, expected: int) -> None:
        """Consume one RSTm marker at an MCU-restart boundary:
        discard the 1-bit padding of the current partial byte
        (T.81 E.2.4 — the encoder pads the byte the last code
        ended in, so those bits are already in `acc` iff nbits>0),
        then require the marker with the expected cycling
        sequence number."""
        self.nbits = 0
        if (
            self.pos + 1 >= len(self.buf)
            or self.buf[self.pos] != 0xFF
            or not 0xD0 <= self.buf[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected JPEG restart marker")
        if self.buf[self.pos + 1] - 0xD0 != expected % 8:
            raise ValueError("JPEG restart marker out of sequence")
        self.pos += 2


def _decode_huff(reader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 17:
        code = (code << 1) | reader.bit()
        length += 1
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def jpeg_parse_any(payload: bytes):
    """Marker walk + entropy decode, 1 or 3 interleaved components
    (all 1x1 sampling). Returns (width, height, quants, blocks):
    `quants` a per-component list of 64-entry zigzag tables,
    `blocks` (ncomp, nby, nbx, 64) QUANTIZED zigzag ints — the
    lossless layer, split out so tests can pin exact coefficient
    recovery independently of the IDCT. Components decode MCU-
    interleaved in scan order with per-component DC predictors and
    per-component Huffman table selectors, exactly as T.81 A.2
    specifies for Hi=Vi=1."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quant: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    ri = 0  # DRI restart interval in MCUs; 0 = no restarts
    progressive = False
    prog_blocks = None  # per-component zigzag accumulators (SOF2)
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        tag = payload[pos + 1]
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        seg = payload[pos + 4 : pos + 2 + seglen]
        if tag == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                quant[tq] = list(seg[p + 1 : p + 65])
                p += 65
        elif tag == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                codes = _canonical_codes(bits, vals)
                huff[(tc, th)] = {
                    (code, ln): sym for sym, (code, ln) in codes.items()
                }
                p += 17 + n
        elif tag in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog.
            progressive = tag == 0xC2
            depth, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if depth != 8 or ncomp not in (1, 3):
                raise NotImplementedError(
                    f"jpeg decode supports 8-bit 1- or 3-component; "
                    f"got depth={depth} ncomp={ncomp}"
                )
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                hi, vi = hv >> 4, hv & 0xF
                # T.81 B.2.2: Hi/Vi in 1..4 (r8: was 1..2 — the MCU
                # walk, per-component planes, and the replication
                # upsampler are all generic in the factors)
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(
                        f"sampling factors {hi}x{vi} outside T.81's 1..4"
                    )
                comps.append((cid, hi, vi, tq))
            sof = (w, h, comps)
        elif tag in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                     0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "hierarchical/arithmetic/lossless JPEG"
            )
        elif tag == 0xDD:  # DRI: restart interval in MCUs (r7c)
            (ri,) = struct.unpack(">H", seg[:2])
        elif tag == 0xDA:  # SOS: entropy data follows the header
            if sof is None:
                raise ValueError("JPEG SOS before SOF")
            w_px, h_px, comps = sof
            ns = seg[0]
            if progressive:
                # Progressive (r7d/r7e; r8 adds chroma-subsampled
                # frames): spectral selection AND successive
                # approximation, 1 or 3 components at any T.81
                # sampling. Scan kinds (T.81 G.1.2):
                # DC first (Ss=Se=0, Ah=0, point transform Al —
                # may interleave all components, per-component
                # predictors/tables), DC refinement (Ah>0, one bit
                # per block in the same order), AC-band first
                # (single component, Ah=0, sign-magnitude >> Al
                # with EOB-run coding), AC-band refinement
                # (Ah=Al+1: ±1<<Al insertions plus inline
                # correction bits on every nonzero-history
                # coefficient passed, including through EOB-run
                # skips). With DRI (r8), every `ri` restart units
                # (MCUs in interleaved scans, blocks in single-
                # component scans — T.81 E.2.4) an RSTm marker
                # byte-realigns the reader and resets the scan's
                # entropy state: DC predictors, and the EOB run
                # (which may not cross a restart).
                ss_, se_, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
                ah, al = ahal >> 4, ahal & 0xF
                if (ss_ == 0) != (se_ == 0):
                    raise ValueError(
                        "progressive DC scan must have Ss=Se=0"
                    )
                if ss_ != 0 and ns != 1:
                    raise ValueError(
                        "progressive AC scans are single-component"
                    )
                if not 0 <= ss_ <= se_ <= 63:
                    raise ValueError("bad spectral band")
                if ah and ah != al + 1:
                    raise ValueError("refinement needs Ah = Al + 1")
                cids = [cid for cid, _hi, _vi, _tq in comps]
                scan_ci, scan_tt = [], []
                for si in range(ns):
                    cs, tt = seg[1 + 2 * si], seg[2 + 2 * si]
                    if cs not in cids:
                        raise ValueError("SOS names unknown component")
                    scan_ci.append(cids.index(cs))
                    scan_tt.append(tt)
                # Geometry (T.81 A.2): per-component storage covers
                # the FULL interleaved-MCU grid (hi*nmx_f, vi*nmy_f
                # blocks — interleaved DC scans encode the dummy
                # blocks past the component edge too); single-
                # component scans (all AC scans, and non-interleaved
                # DC) walk only the component's REAL ceil-grid.
                # At 4:4:4 (all 1x1) the grids coincide — the r7
                # case is the degenerate instance of this walk.
                hmax_f = max(hi for _c, hi, _v, _t in comps)
                vmax_f = max(vi for _c, _h, vi, _t in comps)
                nmx_f = (w_px + 8 * hmax_f - 1) // (8 * hmax_f)
                nmy_f = (h_px + 8 * vmax_f - 1) // (8 * vmax_f)
                if prog_blocks is None:
                    prog_blocks = [
                        np.zeros(
                            (vi * nmy_f, hi * nmx_f, 64),
                            dtype=np.int32,
                        )
                        for _c, hi, vi, _t in comps
                    ]

                def _real_grid(ci: int) -> tuple[int, int]:
                    _c, hi, vi, _t = comps[ci]
                    cw = (w_px * hi + hmax_f - 1) // hmax_f
                    ch = (h_px * vi + vmax_f - 1) // vmax_f
                    return (ch + 7) // 8, (cw + 7) // 8

                reader = _BitReader(payload, pos + 2 + seglen)
                # DRI restart bookkeeping (r8): n counts restart
                # units consumed so far in THIS scan, seq the
                # cycling RSTm number; _at_restart() is called at
                # the top of every unit and consumes the marker
                # when one is due, telling the caller to reset the
                # scan's entropy state.
                rst = {"n": 0, "seq": 0}

                def _at_restart() -> bool:
                    due = bool(ri) and rst["n"] > 0 and rst["n"] % ri == 0
                    if due:
                        reader.restart(rst["seq"])
                        rst["seq"] = (rst["seq"] + 1) % 8
                    rst["n"] += 1
                    return due

                if ss_ == 0 and ah == 0:  # DC first, predictors
                    dc_ts = [huff[(0, tt >> 4)] for tt in scan_tt]
                    prev = [0] * ns

                    def _dc_first(si: int, by: int, bx: int) -> None:
                        size = _decode_huff(reader, dc_ts[si])
                        diff = (
                            _extend(reader.bits(size), size)
                            if size
                            else 0
                        )
                        prev[si] += diff
                        prog_blocks[scan_ci[si]][by, bx, 0] = (
                            prev[si] << al
                        )

                    if ns == 1:  # non-interleaved: real grid only
                        nby_c, nbx_c = _real_grid(scan_ci[0])
                        for by in range(nby_c):
                            for bx in range(nbx_c):
                                if _at_restart():
                                    prev = [0] * ns
                                _dc_first(0, by, bx)
                    else:  # interleaved MCU walk, dummies included
                        for my in range(nmy_f):
                            for mx in range(nmx_f):
                                if _at_restart():
                                    prev = [0] * ns
                                for si in range(ns):
                                    _c, hi, vi, _t = comps[scan_ci[si]]
                                    for byi in range(vi):
                                        for bxi in range(hi):
                                            _dc_first(
                                                si,
                                                my * vi + byi,
                                                mx * hi + bxi,
                                            )
                elif ss_ == 0:  # DC refinement: one bit per block
                    if ns == 1:
                        nby_c, nbx_c = _real_grid(scan_ci[0])
                        blk_c = prog_blocks[scan_ci[0]]
                        for by in range(nby_c):
                            for bx in range(nbx_c):
                                _at_restart()  # realign only
                                if reader.bit():
                                    blk_c[by, bx, 0] |= 1 << al
                    else:
                        for my in range(nmy_f):
                            for mx in range(nmx_f):
                                _at_restart()  # realign only
                                for si in range(ns):
                                    _c, hi, vi, _t = comps[scan_ci[si]]
                                    for byi in range(vi):
                                        for bxi in range(hi):
                                            if reader.bit():
                                                prog_blocks[
                                                    scan_ci[si]
                                                ][
                                                    my * vi + byi,
                                                    mx * hi + bxi,
                                                    0,
                                                ] |= 1 << al
                elif ah == 0:  # AC first (G.1.2.2, EOB-run coded)
                    ac_t = huff[(1, scan_tt[0] & 0xF)]
                    blocks_c = prog_blocks[scan_ci[0]]
                    nby_c, nbx_c = _real_grid(scan_ci[0])
                    eobrun = 0
                    for by in range(nby_c):
                        for bx in range(nbx_c):
                            if _at_restart():
                                eobrun = 0  # may not cross RSTm
                            if eobrun:
                                eobrun -= 1
                                continue
                            k = ss_
                            while k <= se_:
                                sym = _decode_huff(reader, ac_t)
                                r, size = sym >> 4, sym & 0xF
                                if size == 0:
                                    if r == 15:
                                        k += 16  # ZRL
                                        continue
                                    eobrun = (1 << r) - 1 + (
                                        reader.bits(r) if r else 0
                                    )
                                    break  # current band ends here
                                k += r
                                if k > se_:
                                    raise ValueError(
                                        "AC run past band end"
                                    )
                                blocks_c[by, bx, k] = (
                                    _extend(reader.bits(size), size)
                                    << al
                                )
                                k += 1
                else:  # AC refinement (G.1.2.3 shape)
                    ac_t = huff[(1, scan_tt[0] & 0xF)]
                    blocks_c = prog_blocks[scan_ci[0]]
                    nby_c, nbx_c = _real_grid(scan_ci[0])
                    p1, m1 = 1 << al, -1 << al

                    def _correct(blk, k: int) -> None:
                        """Append this scan's bit to an already-
                        nonzero coefficient: move it one step away
                        from zero iff the bit is set and the bit
                        position is still clear."""
                        if reader.bit() and not (abs(int(blk[k])) & p1):
                            blk[k] += p1 if blk[k] > 0 else m1

                    eobrun = 0
                    for by in range(nby_c):
                        for bx in range(nbx_c):
                            if _at_restart():
                                eobrun = 0  # may not cross RSTm
                            blk = blocks_c[by, bx]
                            k = ss_
                            if eobrun:
                                # EOB-run block: only correction
                                # bits for nonzero history
                                eobrun -= 1
                                for kk in range(ss_, se_ + 1):
                                    if blk[kk]:
                                        _correct(blk, kk)
                                continue
                            while k <= se_:
                                sym = _decode_huff(reader, ac_t)
                                r, size = sym >> 4, sym & 0xF
                                newval = 0
                                if size == 0:
                                    if r != 15:  # EOBn
                                        eobrun = (1 << r) - 1 + (
                                            reader.bits(r) if r else 0
                                        )
                                        break
                                    # ZRL: r=15 zero-history slots
                                    # decrement below, the 16th
                                    # (r==0) breaks with newval=0
                                else:
                                    if size != 1:
                                        raise ValueError(
                                            "refinement size must"
                                            " be 1"
                                        )
                                    newval = (
                                        p1 if reader.bit() else m1
                                    )
                                # advance past r zero-history slots
                                # (correcting nonzero history on
                                # the way), then place newval
                                while k <= se_:
                                    if blk[k]:
                                        _correct(blk, k)
                                    else:
                                        if r == 0:
                                            if newval:
                                                blk[k] = newval
                                            k += 1
                                            break
                                        r -= 1
                                    k += 1
                            # EOBn terminated the block early:
                            # its remaining nonzero-history
                            # positions still take correction bits
                            # (eobrun counts SUBSEQUENT blocks)
                            if k <= se_:
                                for kk in range(k, se_ + 1):
                                    if blk[kk]:
                                        _correct(blk, kk)
                pos = reader.pos
                continue
            if ns != len(comps):
                raise ValueError("scan/frame component mismatch")
            scan = []
            for si in range(ns):
                cs, tt = seg[1 + 2 * si], seg[2 + 2 * si]
                match = [
                    (hi, vi, tq)
                    for cid, hi, vi, tq in comps
                    if cid == cs
                ]
                if len(match) != 1:
                    raise ValueError("SOS names unknown component")
                hi, vi, tq = match[0]
                scan.append(
                    (hi, vi, tq, huff[(0, tt >> 4)], huff[(1, tt & 0xF)])
                )
            # T.81 A.2: interleaved MCUs tile the frame at
            # (8*Hmax, 8*Vmax); each MCU carries hi*vi raster-order
            # blocks per component. A single-component scan (our
            # gray subset, hi=vi=1) degenerates to one block per
            # MCU on the plain ceil/8 grid.
            hmax = max(hi for hi, _, _, _, _ in scan)
            vmax = max(vi for _, vi, _, _, _ in scan)
            nmx = (w_px + 8 * hmax - 1) // (8 * hmax)
            nmy = (h_px + 8 * vmax - 1) // (8 * vmax)
            reader = _BitReader(payload, pos + 2 + seglen)
            blocks = [
                np.zeros((vi * nmy, hi * nmx, 64), dtype=np.int32)
                for hi, vi, _, _, _ in scan
            ]
            prev_dc = [0] * ns

            def _one_block(ci, by, bx) -> None:
                _hi, _vi, _tq, dc_t, ac_t = scan[ci]
                size = _decode_huff(reader, dc_t)
                diff = _extend(reader.bits(size), size) if size else 0
                prev_dc[ci] += diff
                blocks[ci][by, bx, 0] = prev_dc[ci]
                k = 1
                while k < 64:
                    sym = _decode_huff(reader, ac_t)
                    if sym == 0x00:  # EOB
                        break
                    run, size = sym >> 4, sym & 0xF
                    if size == 0:
                        if run != 15:
                            raise ValueError("bad AC symbol")
                        k += 16  # ZRL
                        continue
                    k += run
                    if k > 63:
                        raise ValueError("AC run past block end")
                    blocks[ci][by, bx, k] = _extend(
                        reader.bits(size), size
                    )
                    k += 1

            mcu_count, rst_seq = 0, 0
            for my in range(nmy):
                for mx in range(nmx):
                    if ri and mcu_count and mcu_count % ri == 0:
                        reader.restart(rst_seq)
                        rst_seq += 1
                        for ci in range(ns):
                            prev_dc[ci] = 0
                    mcu_count += 1
                    for ci, (hi, vi, _tq, _d, _a) in enumerate(scan):
                        for byi in range(vi):
                            for bxi in range(hi):
                                _one_block(
                                    ci, my * vi + byi, mx * hi + bxi
                                )
            samplings = [(hi, vi) for hi, vi, _, _, _ in scan]
            return (
                w_px,
                h_px,
                [quant[tq] for _, _, tq, _, _ in scan],
                blocks,
                samplings,
            )
        pos += 2 + seglen
    if progressive and prog_blocks is not None:
        w_px, h_px, comps = sof
        return (
            w_px,
            h_px,
            [quant[tq] for _cid, _hi, _vi, tq in comps],
            prog_blocks,
            [(hi, vi) for _cid, hi, vi, _tq in comps],
        )
    raise ValueError("JPEG missing SOS")


def jpeg_parse_gray(payload: bytes):
    """Single-component adapter preserving the r7 gray contract:
    (width, height, quant_zz, blocks) with blocks (nby, nbx, 64)."""
    w_px, h_px, quants, blocks, _samplings = jpeg_parse_any(payload)
    if len(blocks) != 1:
        raise NotImplementedError("gray parse on multi-component scan")
    return w_px, h_px, quants[0], blocks[0]


# IDCT basis: A[u][x] = C(u)/2 * cos((2x+1) u pi / 16); spatial
# block = A.T @ F @ A for F in natural [v][u] order
_A = np.array(
    [
        [
            (0.5 / np.sqrt(2.0) if u == 0 else 0.5)
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _plane(quant_zz, blocks, w_px: int, h_px: int):
    """One component's blocks -> cropped (h, w) uint8 sample plane:
    dequant -> de-zigzag -> IDCT -> +128 level shift -> round ->
    clamp (T.81 clamps each component's output samples) -> crop."""
    nby, nbx = blocks.shape[:2]
    q = np.asarray(quant_zz, dtype=np.int64)
    deq = blocks.astype(np.int64) * q  # (nby, nbx, 64), zigzag
    nat = np.zeros((nby, nbx, 8, 8), dtype=np.float64)
    for k, (r, c) in enumerate(ZZ):
        nat[:, :, r, c] = deq[:, :, k]
    spatial = np.einsum("vy,bnvu,ux->bnyx", _A, nat, _A)
    px = np.clip(np.round(spatial + 128.0), 0, 255).astype(np.uint8)
    full = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
    return full[:h_px, :w_px]


def jpeg_decode_gray(payload: bytes):
    """Full grayscale pixel decode. Returns (h, w) uint8."""
    w_px, h_px, quant_zz, blocks = jpeg_parse_gray(payload)
    return _plane(quant_zz, blocks, w_px, h_px)


def jpeg_decode_color(payload: bytes):
    """Full color pixel decode: per-component entropy + IDCT planes
    (Y, Cb, Cr) at each component's own sampling resolution,
    sample-replication upsampling to frame resolution (the
    non-fancy libjpeg mode — chroma sample (y, x) comes from plane
    position (y*vi//Vmax, x*hi//Hmax), exactly replayable), then
    the fixed-point BT.601 conversion (JPEG_FIX_* constants, floor
    shifts) to RGB. Returns (h, w, 3) uint8."""
    w_px, h_px, quants, blocks, samplings = jpeg_parse_any(payload)
    if len(blocks) != 3:
        raise ValueError("color decode needs a 3-component scan")
    hmax = max(hi for hi, _ in samplings)
    vmax = max(vi for _, vi in samplings)
    planes = []
    yi, xi = np.mgrid[0:h_px, 0:w_px]
    for ci in range(3):
        hi, vi = samplings[ci]
        cw = (w_px * hi + hmax - 1) // hmax
        ch = (h_px * vi + vmax - 1) // vmax
        p = _plane(quants[ci], blocks[ci], cw, ch).astype(np.int64)
        planes.append(p[yi * vi // vmax, xi * hi // hmax])
    y, cb, cr = planes[0], planes[1] - 128, planes[2] - 128
    r = y + ((JPEG_FIX_RCR * cr + 32768) >> 16)
    g = y - ((JPEG_FIX_GCB * cb + JPEG_FIX_GCR * cr + 32768) >> 16)
    b = y + ((JPEG_FIX_BCB * cb + 32768) >> 16)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(rgb, 0, 255).astype(np.uint8)
