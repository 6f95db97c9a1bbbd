"""Dependency-free GIF codec: GIF's compression layer is LZW, exact in
~60 lines each way, so animated-GIF frames decode with no codec
library.

Two decode contracts:

* :func:`gif_decode_frames` — full-canvas, non-interlaced frames over
  the global palette, returned as index arrays;
* :func:`gif_decode_rgb` — the complete GIF89a animation state
  machine: sub-rect compositing, disposal none/background/previous,
  transparency, local palettes, interlace, LZW min codes 2..8.

Encoder and decoder are independent LZW implementations (dictionary
build vs dictionary replay), covering code-size growth (9→12 bits) and
mid-stream dictionary resets.
"""

from __future__ import annotations

import struct

import numpy as np

GIF_MIN_CODE = 8  # 256-entry palette

_CLEAR, _EOI = 1 << GIF_MIN_CODE, (1 << GIF_MIN_CODE) + 1


def _lzw_encode(data: bytes) -> bytes:
    out_bits: list[tuple[int, int]] = []
    size = GIF_MIN_CODE + 1
    nxt = _EOI + 1
    dict_ = {bytes([i]): i for i in range(1 << GIF_MIN_CODE)}
    out_bits.append((_CLEAR, size))
    w = b""
    for b in data:
        k = bytes([b])
        if w + k in dict_:
            w = w + k
            continue
        out_bits.append((dict_[w], size))
        dict_[w + k] = nxt
        nxt += 1
        if nxt == (1 << size) + 1 and size < 12:
            size += 1
        if nxt > 4095:  # dictionary full — reset (the spec's CLEAR)
            out_bits.append((_CLEAR, size))
            dict_ = {bytes([i]): i for i in range(1 << GIF_MIN_CODE)}
            size = GIF_MIN_CODE + 1
            nxt = _EOI + 1
        w = k
    if w:
        out_bits.append((dict_[w], size))
        # the flush emission adds NO dict entry on the encoder side,
        # but the decoder still appends one after replaying it — if
        # that append lands its table exactly on 2^size, the decoder
        # reads the NEXT code (EOI) one bit wider, so the encoder
        # must grow too or the stream desyncs (surfaced only when
        # the bitstream also ends on a byte boundary — no padding
        # bits to absorb the misread)
        if nxt == (1 << size) and size < 12:
            size += 1
    out_bits.append((_EOI, size))
    acc = n = 0
    out = bytearray()
    for code, s in out_bits:
        acc |= code << n
        n += s
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code: int = GIF_MIN_CODE) -> bytes:
    pos = acc = nbits = 0
    clear_c, eoi_c = 1 << min_code, (1 << min_code) + 1

    def read(size: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < size:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << size) - 1)
        acc >>= size
        nbits -= size
        return code

    size = min_code + 1
    table = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
    out = bytearray()
    prev = None
    while True:
        code = read(size)
        if code == clear_c:
            table = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
            size = min_code + 1
            prev = None
            continue
        if code == eoi_c:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt GIF LZW code")
        out += entry
        if len(table) == (1 << size) and size < 12:
            size += 1
        prev = entry
    return bytes(out)


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        part = data[i : i + 255]
        out.append(len(part))
        out += part
    out.append(0)
    return bytes(out)


def gif_encode_frames(frames) -> bytes:
    """Animated GIF89a over the identity GRAYSCALE palette
    (palette[i] = (i,i,i), so palette index == gray value)."""
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0b1111_0111)  # GCT present, 8-bit color, 256 entries
    out += b"\x00\x00"  # bg color, aspect
    for i in range(256):  # identity grayscale palette
        out += bytes([i, i, i])
    for frame in frames:
        assert frame.shape == (h, w)
        # Graphic Control Extension (delay 10cs, no transparency)
        out += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out.append(GIF_MIN_CODE)
        out += _sub_blocks(_lzw_encode(frame.tobytes()))
    out += b"\x3b"
    return bytes(out)


def gif_decode_frames(payload: bytes):
    """All frames as (h, w) uint8 index arrays + the palette."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(payload) < 13:
        raise ValueError("GIF truncated inside the screen descriptor")
    w, h = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    pos = 13
    palette = None
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        palette = payload[pos : pos + n]
        pos += n
    frames = []
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        if pos + 10 > len(payload):
            raise ValueError("GIF truncated inside an image descriptor")
        left, top, fw, fh = struct.unpack("<HHHH", payload[pos : pos + 8])
        fpacked = payload[pos + 8]
        pos += 9
        if fpacked & 0xC0:
            raise NotImplementedError(
                "index-frame gif decode supports non-interlaced "
                "frames over the global palette; interlace/local "
                "palettes decode through gif_decode_rgb (r8)"
            )
        if (left, top) != (0, 0) or (fw, fh) != (w, h):
            # partial-rect frame updates need canvas compositing +
            # disposal handling — the per-frame INDEX contract of
            # this path cannot express them (the composited canvas
            # mixes palettes); gif_decode_rgb implements them
            raise NotImplementedError(
                "index-frame gif decode supports full-canvas frames "
                f"only; got a {fw}x{fh} sub-rect at ({left},{top}) "
                f"on a {w}x{h} canvas — decode composited animations "
                "through gif_decode_rgb (r8)"
            )
        min_code = payload[pos]
        pos += 1
        if min_code != GIF_MIN_CODE:
            raise NotImplementedError(
                f"gif decode expects an 8-bit palette image, got "
                f"LZW min code {min_code}"
            )
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise ValueError("GIF truncated inside frame data")
            ln = payload[pos]
            if not ln:
                break
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        raw = _lzw_decode(bytes(data))
        if len(raw) != fw * fh:
            raise ValueError("GIF frame pixel payload has the wrong length")
        frames.append(
            np.frombuffer(raw, dtype=np.uint8).reshape(fh, fw)
        )
    return frames, palette

# ----- full GIF89a animation semantics (r8): compositing canvas,
# disposal methods, transparency, local palettes, interlace -----


_ILACE = ((0, 8), (4, 8), (2, 4), (1, 2))  # Adam-style GIF passes


def _interlace_order(fh: int) -> list:
    order = []
    for start, step in _ILACE:
        order.extend(range(start, fh, step))
    return order


def gif_encode_animation(
    w: int, h: int, global_palette: bytes, bg_index: int, frames
) -> bytes:
    """Animated GIF89a with the FULL feature surface: per-frame
    dicts {px: (fh, fw) uint8 indices, left, top, disposal (0-3),
    transparent: int|None, palette: 768-byte local palette|None,
    interlace: bool}. Interlaced frames store their rows in the
    four-pass GIF order; the decoder reverses it."""
    assert len(global_palette) == 768
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0b1111_0111)  # GCT present, 8-bit, 256 entries
    out += bytes([bg_index, 0])
    out += global_palette
    for fr in frames:
        px = np.asarray(fr["px"], dtype=np.uint8)
        fh, fw = px.shape
        left, top = fr.get("left", 0), fr.get("top", 0)
        disposal = fr.get("disposal", 0)
        transparent = fr.get("transparent")
        local = fr.get("palette")
        interlace = bool(fr.get("interlace", False))
        gce_packed = (disposal & 0x7) << 2
        t_idx = 0
        if transparent is not None:
            gce_packed |= 1
            t_idx = transparent
        out += b"\x21\xf9\x04" + bytes([gce_packed, 0x0A, 0x00, t_idx, 0])
        desc_packed = 0
        if local is not None:
            assert len(local) == 768
            desc_packed |= 0x80 | 0x07
        if interlace:
            desc_packed |= 0x40
        out += b"\x2c" + struct.pack("<HHHH", left, top, fw, fh)
        out += bytes([desc_packed])
        if local is not None:
            out += local
        if interlace:
            px = px[_interlace_order(fh)]
        out.append(GIF_MIN_CODE)
        out += _sub_blocks(_lzw_encode(px.tobytes()))
    out += b"\x3b"
    return bytes(out)


def gif_decode_rgb(payload: bytes):
    """Decode a GIF with full animation semantics to the DISPLAYED
    frames: list of (h, w, 3) uint8 canvases. Implements the
    GIF89a state machine the simple index-frame path refuses:
    sub-rect frames composited onto a persistent canvas,
    transparency (indices that keep the underlying canvas pixel),
    disposal none/keep (canvas persists), restore-to-background
    (the frame's rect refills with the background color), and
    restore-to-previous (canvas reverts to its pre-frame state);
    local palettes override the global one per frame; interlaced
    frames de-permute through the four-pass row order; LZW min
    codes 2..8 supported for sub-256 palettes."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(payload) < 13:
        raise ValueError("GIF truncated inside the screen descriptor")
    w, h = struct.unpack("<HH", payload[6:10])
    packed, bg_index = payload[10], payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        gct = payload[pos : pos + n]
        pos += n

    def _pal_rgb(pal: bytes):
        arr = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)
        if arr.shape[0] < 256:  # pad: out-of-range indices are black
            arr = np.vstack(
                [arr, np.zeros((256 - arr.shape[0], 3), np.uint8)]
            )
        return arr

    if gct is not None and bg_index < len(gct) // 3:
        bg_rgb = _pal_rgb(gct)[bg_index]
    else:
        bg_rgb = np.zeros(3, np.uint8)
    canvas = np.tile(bg_rgb, (h, w, 1)).astype(np.uint8)
    frames = []
    disposal, transparent = 0, None
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:
            break
        if b == 0x21:  # extension
            label = payload[pos]
            pos += 1
            if label == 0xF9:  # Graphic Control Extension
                ln = payload[pos]
                # the spec-mandated GCE body is 4 bytes; a declared
                # or actual shorter block is corrupt input, not an
                # IndexError (advisor r8)
                if ln < 4 or pos + 1 + ln > len(payload):
                    raise ValueError("GIF truncated inside GCE")
                gce = payload[pos + 1 : pos + 1 + ln]
                disposal = (gce[0] >> 2) & 0x7
                transparent = gce[3] if (gce[0] & 1) else None
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        if pos + 10 > len(payload):
            raise ValueError("GIF truncated inside an image descriptor")
        left, top, fw, fh = struct.unpack("<HHHH", payload[pos : pos + 8])
        fpacked = payload[pos + 8]
        pos += 9
        if left + fw > w or top + fh > h:
            raise ValueError("GIF frame rect exceeds the canvas")
        local = None
        if fpacked & 0x80:
            n = 3 * (2 << (fpacked & 0x07))
            local = payload[pos : pos + n]
            pos += n
        interlace = bool(fpacked & 0x40)
        min_code = payload[pos]
        pos += 1
        if not 2 <= min_code <= 8:
            raise ValueError(f"GIF LZW min code {min_code} out of range")
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise ValueError("GIF truncated inside frame data")
            ln = payload[pos]
            if not ln:
                break
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        raw = _lzw_decode(bytes(data), min_code)
        if len(raw) != fw * fh:
            raise ValueError("GIF frame pixel payload has the wrong length")
        idx = np.frombuffer(raw, dtype=np.uint8).reshape(fh, fw)
        if interlace:
            stored = _interlace_order(fh)
            deperm = np.empty(fh, np.int64)
            deperm[stored] = np.arange(fh)
            idx = idx[deperm]
        pal = local if local is not None else gct
        if pal is None:
            raise ValueError("GIF frame has neither local nor global palette")
        rgb_lut = _pal_rgb(pal)
        snapshot = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + fh, left : left + fw]
        if transparent is not None:
            mask = idx != transparent
            region[mask] = rgb_lut[idx[mask]]
        else:
            region[...] = rgb_lut[idx]
        frames.append(canvas.copy())
        if disposal == 2:  # restore rect to background
            canvas[top : top + fh, left : left + fw] = bg_rgb
        elif disposal == 3:  # restore to previous
            canvas = snapshot
        disposal, transparent = 0, None  # GCE covers ONE image
    return frames
