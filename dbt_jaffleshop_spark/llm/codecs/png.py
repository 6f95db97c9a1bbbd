"""Dependency-free PNG codec (RFC 2083): stdlib zlib handles DEFLATE,
numpy the scanline filters, so PNG pixels need no codec library.

Every IHDR color-type / bit-depth combination the spec defines
decodes: grayscale 1/2/4/8/16, truecolor 8/16, palette 1/2/4/8,
gray+alpha and RGBA 8/16, sequential or Adam7-interlaced. An invalid
combination is corrupt input (ValueError).

The encoder (the synthesis side) applies a per-scanline filter
``y % 5`` so every filter type the spec defines (None/Sub/Up/Average/
Paeth) appears and the decoder's unfilterer is genuinely exercised; it
writes CRC-correct IHDR/PLTE/IDAT/IEND chunks. The decoder verifies
chunk CRCs, inflates the IDAT stream and reverses the filters.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(left: int, up: int, ul: int) -> int:
    pa = abs(up - ul)
    pb = abs(left - ul)
    pc = abs(left + up - 2 * ul)
    if pa <= pb and pa <= pc:
        return left
    return up if pb <= pc else ul


# Adam7: (x0, y0, dx, dy) per pass, spec order
PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _filter_rows(raw, bpp: int) -> bytes:
    """Filter (nrows, nb) int32 scanline BYTES with the y%5 cycle —
    every spec filter appears. PNG filters are BYTEWISE with "left"
    meaning `bpp` bytes earlier (RFC 2083 §6.2), so every color
    type/depth runs the same code; only the stride differs."""
    nrows, nb = raw.shape
    lines = []
    for y in range(nrows):
        ft = y % 5
        row = raw[y]
        prior = raw[y - 1] if y else np.zeros(nb, np.int32)
        left = np.concatenate((np.zeros(bpp, np.int32), row[:-bpp]))
        ul = np.concatenate((np.zeros(bpp, np.int32), prior[:-bpp]))
        if ft == 0:
            filt = row
        elif ft == 1:  # Sub
            filt = row - left
        elif ft == 2:  # Up
            filt = row - prior
        elif ft == 3:  # Average
            filt = row - (left + prior) // 2
        else:  # Paeth
            filt = row - np.array(
                [_paeth(int(left[x]), int(prior[x]), int(ul[x]))
                 for x in range(nb)],
                dtype=np.int32,
            )
        lines.append(bytes([ft]) + (filt % 256).astype(np.uint8).tobytes())
    return b"".join(lines)


def _pack_bits(samples, depth: int):
    """(h, w) sub-byte samples -> (h, ceil(w·depth/8)) packed byte
    matrix, MSB-first within each byte (RFC 2083 §2.3); scanlines
    pad to a byte boundary with zero bits."""
    h, w = samples.shape
    spb = 8 // depth  # samples per byte
    pad = (-w) % spb
    padded = np.pad(samples.astype(np.uint8), ((0, 0), (0, pad)))
    grouped = padded.reshape(h, -1, spb).astype(np.int32)
    out = np.zeros((h, grouped.shape[1]), dtype=np.int32)
    for i in range(spb):
        out |= grouped[:, :, i] << (depth * (spb - 1 - i))
    return out


def _to_bytes(px, depth: int):
    """(h, w[, ch]) samples -> (h, rowbytes) byte matrix (big-endian
    for 16-bit, MSB-first packed for sub-byte) + filter bpp."""
    h, w = px.shape[:2]
    ch = 1 if px.ndim == 2 else px.shape[2]
    if depth in (1, 2, 4):
        # sub-byte is single-channel only (gray / palette indices);
        # the filter's "left" distance is one byte regardless
        return _pack_bits(px, depth), 1
    if depth == 8:
        b = px.astype(np.uint8).reshape(h, w * ch)
        return b.astype(np.int32), ch
    hi = (px.astype(np.uint16) >> 8).astype(np.uint8)
    lo = (px.astype(np.uint16) & 0xFF).astype(np.uint8)
    inter = np.stack([hi, lo], axis=-1).reshape(h, w * ch * 2)
    return inter.astype(np.int32), ch * 2


def _scan_stream(px, depth: int, interlace: int) -> bytes:
    """Full filtered scanline stream, sequential or Adam7 (each
    pass filtered independently; empty passes emit nothing)."""
    if not interlace:
        raw, bpp = _to_bytes(px, depth)
        return _filter_rows(raw, bpp)
    out = []
    for x0, y0, dx, dy in PASSES:
        sub = px[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        raw, bpp = _to_bytes(sub, depth)
        out.append(_filter_rows(raw, bpp))
    return b"".join(out)


def png_encode(pixels, interlace: bool = False, depth: int | None = None) -> bytes:
    """Pixels to a complete filtered+deflated PNG, sequential or
    Adam7-interlaced. Channel count picks the color type: (h, w) →
    grayscale 0, (h, w, 2) → gray+alpha 4, (h, w, 3) → truecolor 2,
    (h, w, 4) → RGBA 6 (r9). Depth defaults from dtype (uint16 →
    16, else 8); pass depth 1/2/4 for sub-byte grayscale (samples
    must fit the depth)."""
    px = np.asarray(pixels)
    if depth is None:
        depth = 16 if px.dtype == np.uint16 else 8
    if depth in (1, 2, 4):
        if px.ndim != 2:
            raise ValueError("sub-byte PNG depths are grayscale-only")
        if int(px.max(initial=0)) >= (1 << depth):
            raise ValueError(f"sample out of range for depth {depth}")
        px = px.astype(np.uint8)
        color_type = 0
    else:
        px = px.astype(np.uint16 if depth == 16 else np.uint8)
        ch = 1 if px.ndim == 2 else px.shape[2]
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
        if ch == 1 and px.ndim == 3:
            px = px[..., 0]
    h, w = px.shape[:2]
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color_type, 0, 0, int(interlace)
    )
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(_scan_stream(px, depth, interlace)))
        + _chunk(b"IEND", b"")
    )


def png_encode_palette(
    indices, palette, interlace: bool = False, depth: int = 8
) -> bytes:
    """PALETTE image (color type 3): (h, w) uint8 indices + an
    (n, 3) uint8 palette -> PNG with a PLTE chunk. ``depth``
    1/2/4/8 (r9 adds the sub-byte index packings)."""
    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
    if depth not in (1, 2, 4, 8):
        raise ValueError("palette depth must be 1, 2, 4, or 8")
    if int(idx.max(initial=0)) >= (1 << depth):
        raise ValueError(f"palette index out of range for depth {depth}")
    h, w = idx.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, int(interlace))
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"IDAT", zlib.compress(_scan_stream(idx, depth, interlace)))
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: bytes, pos: int, nrows: int, nb: int, bpp: int):
    """Reverse the scanline filters for one (sub-)image; returns
    ((nrows, nb) uint8 bytes, new stream position)."""
    if pos + nrows * (nb + 1) > len(raw):
        raise ValueError("PNG pixel payload has the wrong length")
    out = np.zeros((nrows, nb), dtype=np.uint8)
    for y in range(nrows):
        ft = raw[pos]
        line = np.frombuffer(
            raw[pos + 1 : pos + 1 + nb], dtype=np.uint8
        ).astype(np.int32)
        pos += 1 + nb
        prior = (
            out[y - 1].astype(np.int32) if y else np.zeros(nb, np.int32)
        )
        if ft == 0:
            rec = line
        elif ft == 2:
            rec = (line + prior) % 256
        elif ft in (1, 3, 4):
            rec = np.empty(nb, np.int32)
            for x in range(nb):
                left = int(rec[x - bpp]) if x >= bpp else 0
                up = int(prior[x])
                ul = int(prior[x - bpp]) if x >= bpp else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth(left, up, ul)
                rec[x] = (int(line[x]) + pred) % 256
        else:
            raise ValueError(f"PNG scanline filter {ft} is invalid")
        out[y] = rec.astype(np.uint8)
    return out, pos


def png_decode(payload: bytes):
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, idat, ihdr, plte = 8, [], None, None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        if pos + 12 + length > len(payload):
            # struct.error is not a ValueError — truncation must
            # surface through the documented corrupt-input contract
            raise ValueError(f"PNG truncated inside chunk {ctype!r}")
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    # every IHDR shape the spec defines (RFC 2083 §4.1.1) decodes
    # since r9: alpha color types 4/6 and sub-byte depths closed
    # the last honest gates — the check below now only rejects
    # combinations the SPEC forbids (corrupt input, ValueError)
    _VALID = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
              4: (8, 16), 6: (8, 16)}
    if (
        color not in _VALID
        or depth not in _VALID[color]
        or (comp, filt) != (0, 0)
        or interlace not in (0, 1)
    ):
        raise ValueError(
            "invalid PNG IHDR combination: "
            f"depth={depth} color={color} comp={comp} filt={filt} "
            f"interlace={interlace}"
        )
    if color == 3 and plte is None:
        raise ValueError("palette PNG is missing its PLTE chunk")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    raw = zlib.decompress(b"".join(idat))

    def _unpack_bits(mat, width: int):
        """(n, rowbytes) packed bytes -> (n, width) samples,
        MSB-first (the _pack_bits inverse)."""
        spb = 8 // depth
        mask = (1 << depth) - 1
        n, nb = mat.shape
        out = np.zeros((n, nb * spb), dtype=np.uint8)
        for i in range(spb):
            out[:, i::spb] = (
                mat.astype(np.int32) >> (depth * (spb - 1 - i))
            ) & mask
        return out[:, :width]

    if depth in (1, 2, 4):
        rb = (w * depth + 7) // 8
        if interlace == 0:
            flat, end = _unfilter(raw, 0, h, rb, 1)
            if end != len(raw):
                raise ValueError("PNG pixel payload has the wrong length")
            samples = _unpack_bits(flat, w)[..., None]
        else:
            samples = np.zeros((h, w, 1), dtype=np.uint8)
            spos = 0
            for x0, y0, dx, dy in PASSES:
                ph = len(range(y0, h, dy))
                pw = len(range(x0, w, dx))
                if ph == 0 or pw == 0:
                    continue
                prb = (pw * depth + 7) // 8
                sub, spos = _unfilter(raw, spos, ph, prb, 1)
                samples[y0::dy, x0::dx, 0] = _unpack_bits(sub, pw)
            if spos != len(raw):
                raise ValueError("PNG pixel payload has the wrong length")
    else:
        bpp = nch * (depth // 8)
        if interlace == 0:
            flat, end = _unfilter(raw, 0, h, w * bpp, bpp)
            if end != len(raw):
                raise ValueError("PNG pixel payload has the wrong length")
            px_bytes = flat.reshape(h, w, bpp)
        else:  # Adam7: each pass is an independently-filtered sub-image
            px_bytes = np.zeros((h, w, bpp), dtype=np.uint8)
            spos = 0
            for x0, y0, dx, dy in PASSES:
                ph = len(range(y0, h, dy))
                pw = len(range(x0, w, dx))
                if ph == 0 or pw == 0:
                    continue
                sub, spos = _unfilter(raw, spos, ph, pw * bpp, bpp)
                px_bytes[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
            if spos != len(raw):
                raise ValueError("PNG pixel payload has the wrong length")
        if depth == 16:
            hi = px_bytes[..., 0::2].astype(np.uint16)
            lo = px_bytes[..., 1::2].astype(np.uint16)
            samples = (hi << 8) | lo  # (h, w, nch) uint16
        else:
            samples = px_bytes
    if color == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = samples[..., 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        return pal[idx]  # (h, w, 3) uint8
    return samples[..., 0] if nch == 1 else samples
