"""Dependency-free FLAC codec (RFC 9639).

FLAC compresses with fixed/LPC linear prediction plus Rice-coded
residuals: pure integer arithmetic and bit I/O, no DSP library. It is
lossless, so a synth → encode → decode roundtrip is value-verifiable
bit for bit, which MP3/AAC are not.

Encoder: STREAMINFO (with the MD5 of the unencoded audio), frames at a
fixed blocksize, per-subframe choice of CONSTANT / best FIXED predictor
(order 0-4, Rice-coded residual, VERBATIM when prediction loses),
independent or decorrelated stereo (left/side, right/side, mid/side),
CRC-8 frame headers and CRC-16 frame footers.

Decoder: the full subframe surface (CONSTANT, VERBATIM, FIXED 0-4, LPC
of any order, wasted bits, both Rice methods with partition orders and
escape codes, every blocksize / sample-rate / bit-depth header code,
all four channel assignments) with CRC verification, so it reads files
from real encoders, not just its own.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from .wav import pcm_features


# ---- CRCs, tables derived from the polynomials at build time
def _mk_crc8():
    tbl = []
    for b in range(256):
        c = b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        tbl.append(c)
    return tbl


def _mk_crc16():
    tbl = []
    for b in range(256):
        c = b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        tbl.append(c)
    return tbl


_CRC8 = _mk_crc8()
_CRC16 = _mk_crc16()


def _crc8(data: bytes) -> int:
    c = 0
    for byte in data:
        c = _CRC8[c ^ byte]
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for byte in data:
        c = _CRC16[((c >> 8) ^ byte) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


# ---- bit I/O (MSB-first, as the format requires)
class _W:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def w(self, value: int, bits: int):
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def ws(self, value: int, bits: int):  # signed two's complement
        self.w(value & ((1 << bits) - 1), bits)

    def unary(self, q: int):  # q zeros then a one
        while q >= 32:
            self.w(0, 32)
            q -= 32
        self.w(1, q + 1)

    def align(self):
        if self.nbits:
            self.w(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _R:
    def __init__(self, data: bytes, pos_bits: int = 0):
        self.d = data
        self.p = pos_bits

    def r(self, bits: int) -> int:
        v = 0
        p, d = self.p, self.d
        end = p + bits
        if end > len(d) * 8:
            raise ValueError("FLAC bitstream truncated")
        while bits:
            byte = d[p >> 3]
            avail = 8 - (p & 7)
            take = avail if avail < bits else bits
            v = (v << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
            p += take
            bits -= take
        self.p = p
        return v

    def rs(self, bits: int) -> int:
        v = self.r(bits)
        return v - (1 << bits) if v >= (1 << (bits - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.r(1) == 0:
            q += 1
        return q

    def align(self):
        self.p = (self.p + 7) & ~7


def _utf8_num(w: _W, n: int):
    """FLAC's UTF-8-style coded number (frame index)."""
    if n < 0x80:
        w.w(n, 8)
        return
    for nbytes, prefix in ((2, 0xC0), (3, 0xE0), (4, 0xF0), (5, 0xF8),
                           (6, 0xFC), (7, 0xFE)):
        if n < (1 << (nbytes * 5 + 1)) or nbytes == 7:
            w.w(prefix | (n >> (6 * (nbytes - 1))), 8)
            for i in range(nbytes - 2, -1, -1):
                w.w(0x80 | ((n >> (6 * i)) & 0x3F), 8)
            return


def _utf8_num_read(r: _R) -> int:
    b0 = r.r(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    for mask, val, nb in ((0xE0, 0xC0, 2), (0xF0, 0xE0, 3), (0xF8, 0xF0, 4),
                          (0xFC, 0xF8, 5), (0xFE, 0xFC, 6), (0xFF, 0xFE, 7)):
        if b0 & mask == val:
            nbytes = nb
            break
    if not nbytes:
        raise ValueError("FLAC bad coded number")
    n = b0 & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        c = r.r(8)
        if c & 0xC0 != 0x80:
            raise ValueError("FLAC bad coded-number continuation")
        n = (n << 6) | (c & 0x3F)
    return n


# ---- fixed predictors (orders 0-4): residual r[i] = s[i] - pred
def _fixed_residual(s, order: int):
    r = s.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _fixed_restore(res, warm, order: int):
    # invert `order` rounds of diff by cumulative summation
    out = res.astype(np.int64)
    for k in range(order, 0, -1):
        w = np.asarray(warm, dtype=np.int64)
        for _ in range(k - 1):
            w = np.diff(w)
        seed = w[-1] if len(w) else 0
        out = seed + np.cumsum(out)
    return np.concatenate([np.asarray(warm, dtype=np.int64), out])


def _rice_cost(u, k: int) -> int:
    return int(u.size * (k + 1) + (u >> k).sum())


def _zigzag(res):
    return np.where(res >= 0, res.astype(np.int64) << 1,
                     ((-res.astype(np.int64)) << 1) - 1)


def _write_residual(w: _W, res):
    """Method 00 (4-bit Rice params), partition order 0, escape to
    raw when even the best parameter loses (high-entropy input)."""
    u = _zigzag(res)
    best_k, best_c = 0, None
    for k in range(15):
        c = _rice_cost(u, k)
        if best_c is None or c < best_c:
            best_k, best_c = k, c
    raw_bits = 1
    if res.size:
        m = int(np.abs(res).max())
        raw_bits = max(m.bit_length() + 1, 1)
    w.w(0, 2)  # method 00
    w.w(0, 4)  # partition order 0
    if best_c > res.size * raw_bits + 5 and raw_bits <= 31:
        w.w(0xF, 4)  # escape
        w.w(raw_bits, 5)
        for v in res:
            w.ws(int(v), raw_bits)
        return
    w.w(best_k, 4)
    for uv in u:
        uv = int(uv)
        w.unary(uv >> best_k)
        if best_k:
            w.w(uv & ((1 << best_k) - 1), best_k)


def _read_residual(r: _R, blocksize: int, order: int):
    method = r.r(2)
    if method > 1:
        raise ValueError("FLAC reserved residual method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = r.r(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("FLAC partition order does not divide blocksize")
    out = []
    for part in range(nparts):
        count = blocksize // nparts - (order if part == 0 else 0)
        if count < 0:
            raise ValueError("FLAC predictor order exceeds partition")
        param = r.r(pbits)
        if param == escape:
            bits = r.r(5)
            vals = [r.rs(bits) if bits else 0 for _ in range(count)]
        else:
            vals = []
            for _ in range(count):
                u = (r.unary() << param) | (r.r(param) if param else 0)
                vals.append((u >> 1) ^ -(u & 1))
        out.extend(vals)
    return np.asarray(out, dtype=np.int64)


def _write_subframe(w: _W, s, bps: int):
    s = np.asarray(s, dtype=np.int64)
    n = s.size
    w.w(0, 1)  # zero pad
    if n and (s == s[0]).all():
        w.w(0, 6)  # CONSTANT
        w.w(0, 1)  # no wasted bits
        w.ws(int(s[0]), bps)
        return
    # best fixed order by absolute residual sum
    best_o, best_sum = 0, None
    for o in range(min(5, n)):
        tot = int(np.abs(_fixed_residual(s, o)).sum())
        if best_sum is None or tot < best_sum:
            best_o, best_sum = o, tot
    res = _fixed_residual(s, best_o)
    u = _zigzag(res)
    est = min(_rice_cost(u, k) for k in range(15)) + best_o * bps
    if est >= n * bps:  # prediction loses: VERBATIM
        w.w(1, 6)
        w.w(0, 1)
        for v in s:
            w.ws(int(v), bps)
        return
    w.w(0b001000 | best_o, 6)  # FIXED
    w.w(0, 1)
    for v in s[:best_o]:
        w.ws(int(v), bps)
    _write_residual(w, res)


def _read_subframe(r: _R, blocksize: int, bps: int):
    if r.r(1):
        raise ValueError("FLAC subframe padding bit set")
    t = r.r(6)
    wasted = 0
    if r.r(1):
        wasted = r.unary() + 1
    eff = bps - wasted
    if t == 0:  # CONSTANT
        s = np.full(blocksize, r.rs(eff), dtype=np.int64)
    elif t == 1:  # VERBATIM
        s = np.asarray([r.rs(eff) for _ in range(blocksize)], dtype=np.int64)
    elif 0b001000 <= t <= 0b001100:  # FIXED 0-4
        order = t & 0x07
        warm = [r.rs(eff) for _ in range(order)]
        res = _read_residual(r, blocksize, order)
        s = _fixed_restore(res, warm, order)
    elif t >= 0b100000:  # LPC
        order = (t & 0x1F) + 1
        warm = [r.rs(eff) for _ in range(order)]
        prec = r.r(4) + 1
        if prec == 16:
            raise ValueError("FLAC invalid LPC precision")
        shift = r.rs(5)
        if shift < 0:
            raise ValueError("FLAC negative LPC shift")
        coefs = [r.rs(prec) for _ in range(order)]
        res = _read_residual(r, blocksize, order)
        s = np.empty(blocksize, dtype=np.int64)
        s[:order] = warm
        for i in range(order, blocksize):
            pred = 0
            for j in range(order):
                pred += coefs[j] * int(s[i - 1 - j])
            s[i] = int(res[i - order]) + (pred >> shift)
    else:
        raise ValueError("FLAC reserved subframe type")
    return s << wasted


_BPS_CODE = {8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110}
_BPS_FROM = {v: k for k, v in _BPS_CODE.items()}


def flac_encode(samples, sample_rate: int, bps: int = 16,
                blocksize: int = 4096, stereo: str = "independent") -> bytes:
    """(n, channels) int samples → complete FLAC stream. ``stereo``
    picks the channel assignment for 2-channel input: independent /
    left_side / right_side / mid_side (decorrelation is lossless
    either way — the decoder undoes it exactly)."""
    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if bps not in _BPS_CODE:
        raise ValueError(f"unsupported bits-per-sample {bps}")
    if ch != 2 and stereo != "independent":
        raise ValueError("decorrelated stereo needs exactly 2 channels")
    # RFC 9639 §9.1.1: MD5 input packs each sample into the SMALLEST
    # whole number of bytes — ceil(bps/8), so 12-bit samples take 2
    # bytes and 20-bit take 3 (bps//8 truncates both to widths that
    # overflow int.to_bytes).
    width = (bps + 7) // 8
    md5 = hashlib.md5()
    # MD5 covers the unencoded interleaved little-endian signed stream
    inter = s.reshape(-1)
    raw = bytearray()
    for v in inter:
        raw += int(v).to_bytes(width, "little", signed=True)
    md5.update(bytes(raw))

    frames = bytearray()
    nframes = (n + blocksize - 1) // blocksize or 1
    assign = {"independent": ch - 1, "left_side": 8,
              "right_side": 9, "mid_side": 10}[stereo]
    for fi in range(nframes):
        blk = s[fi * blocksize:(fi + 1) * blocksize]
        bs = blk.shape[0] if blk.shape[0] else 0
        if bs == 0:
            break
        hw = _W()
        hw.w(0b11111111111110, 14)
        hw.w(0, 1)  # reserved
        hw.w(0, 1)  # fixed-blocksize stream
        hw.w(0b0111, 4)  # 16-bit blocksize-1 at header end
        hw.w(0, 4)  # rate from STREAMINFO
        hw.w(assign, 4)
        hw.w(_BPS_CODE[bps], 3)
        hw.w(0, 1)  # reserved
        _utf8_num(hw, fi)
        hw.w(bs - 1, 16)
        hw.align()
        header = hw.bytes()
        body = _W()
        if stereo == "independent":
            subs = [(blk[:, c], bps) for c in range(ch)]
        else:
            left = blk[:, 0]
            right = blk[:, 1]
            side = left - right
            if stereo == "left_side":
                subs = [(left, bps), (side, bps + 1)]
            elif stereo == "right_side":
                subs = [(side, bps + 1), (right, bps)]
            else:  # mid_side
                mid = (left + right) >> 1
                subs = [(mid, bps), (side, bps + 1)]
        for vals, sbps in subs:
            _write_subframe(body, vals, sbps)
        body.align()
        frame = header + bytes([_crc8(header)]) + body.bytes()
        frames += frame + struct.pack(">H", _crc16(frame))

    si = _W()
    si.w(blocksize, 16)  # min blocksize
    si.w(blocksize, 16)  # max blocksize
    si.w(0, 24)  # min framesize unknown
    si.w(0, 24)  # max framesize unknown
    si.w(sample_rate, 20)
    si.w(ch - 1, 3)
    si.w(bps - 1, 5)
    si.w(n, 36)
    info = si.bytes() + md5.digest()
    return (b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big")
            + info + bytes(frames))


_BLOCKSIZE_FIXED = {
    0b0001: 192,
    **{c: 576 << (c - 0b0010) for c in range(0b0010, 0b0110)},
    **{c: 256 << (c - 0b1000) for c in range(0b1000, 0b10000)},
}
_RATE_FIXED = {0b0001: 88200, 0b0010: 176400, 0b0011: 192000,
               0b0100: 8000, 0b0101: 16000, 0b0110: 22050,
               0b0111: 24000, 0b1000: 32000, 0b1001: 44100,
               0b1010: 48000, 0b1011: 96000}


def flac_decode(payload: bytes, verify_md5: bool = False):
    """FLAC stream → dict(sample_rate, n_channels, bps, samples
    (n, ch) int64). Returns None when the payload is not FLAC;
    raises ValueError on a corrupt stream (bad CRC, reserved
    codes, truncation)."""
    if len(payload) < 42 or payload[:4] != b"fLaC":
        return None
    pos = 4
    info = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("FLAC truncated in metadata")
        hdr = payload[pos]
        length = int.from_bytes(payload[pos + 1:pos + 4], "big")
        body = payload[pos + 4:pos + 4 + length]
        if hdr & 0x7F == 0:
            info = body
        pos += 4 + length
        if hdr & 0x80:
            break
    if info is None or len(info) < 34:
        raise ValueError("FLAC missing STREAMINFO")
    ir = _R(info)
    ir.r(16)
    ir.r(16)
    ir.r(24)
    ir.r(24)
    rate = ir.r(20)
    ch = ir.r(3) + 1
    bps = ir.r(5) + 1
    total = ir.r(36)
    md5_expect = info[18:34]

    chans = [[] for _ in range(ch)]
    got = 0
    while got < total and pos < len(payload):
        frame_start = pos
        r = _R(payload, pos * 8)
        if r.r(14) != 0b11111111111110:
            raise ValueError("FLAC lost frame sync")
        r.r(1)
        r.r(1)  # blocking strategy (number semantics only)
        bs_code = r.r(4)
        rate_code = r.r(4)
        assign = r.r(4)
        bps_code = r.r(3)
        r.r(1)
        _utf8_num_read(r)
        if bs_code == 0b0110:
            bs = r.r(8) + 1
        elif bs_code == 0b0111:
            bs = r.r(16) + 1
        elif bs_code in _BLOCKSIZE_FIXED:
            bs = _BLOCKSIZE_FIXED[bs_code]
        else:
            raise ValueError("FLAC reserved blocksize code")
        if rate_code == 0b1100:
            r.r(8)
        elif rate_code in (0b1101, 0b1110):
            r.r(16)
        elif rate_code == 0b1111:
            raise ValueError("FLAC invalid sample-rate code")
        fbps = bps if bps_code == 0 else _BPS_FROM.get(bps_code)
        if fbps is None:
            raise ValueError("FLAC reserved sample-size code")
        r.align()
        hdr_len = r.p // 8 - frame_start
        if _crc8(payload[frame_start:frame_start + hdr_len]) != r.r(8):
            raise ValueError("FLAC frame-header CRC mismatch")
        if assign <= 7:
            nsub = assign + 1
            extra = [0] * nsub
        elif assign in (8, 9, 10):
            nsub = 2
            extra = [0, 1] if assign in (8, 10) else [1, 0]
        else:
            raise ValueError("FLAC reserved channel assignment")
        subs = [_read_subframe(r, bs, fbps + extra[i]) for i in range(nsub)]
        r.align()
        end = r.p // 8
        if _crc16(payload[frame_start:end]) != r.r(16):
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = end + 2
        if assign <= 7:
            out = subs
        elif assign == 8:  # left/side
            out = [subs[0], subs[0] - subs[1]]
        elif assign == 9:  # right/side
            out = [subs[1] + subs[0], subs[1]]
        else:  # mid/side
            mid2 = (subs[0] << 1) | (subs[1] & 1)
            left = (mid2 + subs[1]) >> 1
            out = [left, left - subs[1]]
        keep = min(bs, total - got)
        for c in range(len(out)):
            chans[c].extend(out[c][:keep].tolist())
        got += keep
    if got != total:
        raise ValueError("FLAC stream ended before total samples")
    samples = np.asarray(chans, dtype=np.int64).T if ch else np.empty((0, 0))
    if verify_md5:
        width = (bps + 7) // 8  # ceil — must mirror encode's packing
        raw = bytearray()
        for v in samples.reshape(-1):
            raw += int(v).to_bytes(width, "little", signed=True)
        if hashlib.md5(bytes(raw)).digest() != md5_expect:
            raise ValueError("FLAC decoded audio MD5 mismatch")
    return {
        "sample_rate": rate,
        "n_channels": ch,
        "bps": bps,
        "samples": samples,
    }


def parse_flac(payload: bytes) -> dict | None:
    """FLAC to the shared audio-feature contract (:func:`.wav.pcm_features`),
    rms_q in 16-bit-equivalent units so the feature is comparable across
    codecs and bit depths. None when the payload is not FLAC."""
    meta = flac_decode(payload)
    if meta is None:
        return None
    s = meta["samples"].astype("int64")
    shift = meta["bps"] - 16
    s16 = (s >> shift) if shift >= 0 else (s << -shift)
    return pcm_features(s16, meta["n_channels"], meta["sample_rate"])
