"""Dependency-free RIFF/WAVE decode to the shared audio-feature contract.

RIFF container walk (fmt + data chunks), numpy sample extraction for
PCM 8/16/24-bit and IEEE float32, and an integer RMS in 16-bit-
equivalent units, so the feature is comparable across sample widths
and exact across engines and partitionings. Compressed codecs
(mp3/aac) stay out of scope: they need real codec libraries.
"""

from __future__ import annotations

import struct

import numpy as np


def pcm_features(samples, channels: int, rate: int) -> dict:
    """The audio-feature row every audio decoder returns, from
    interleaved samples in 16-bit-equivalent units."""
    n_samples = samples.size // channels
    rms_q = (
        int(np.sqrt(np.mean(samples.astype("int64") ** 2)))
        if samples.size
        else 0
    )
    return {
        "sample_rate": rate,
        "n_channels": channels,
        "n_samples": n_samples,
        "duration_ms": (n_samples * 1000) // rate if rate else 0,
        "rms_q": rms_q,
    }


def parse_wav(payload: bytes) -> dict | None:
    """Audio features of a PCM WAV payload, or None for anything else."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, n = 12, len(payload)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_fmt, channels, rate, _byte_rate, _align, bits = fmt
    if channels < 1:
        return None
    # uncompressed shapes (r8 extends the r6 16-bit-only gate):
    # PCM 8-bit (unsigned, centered at 128), 16-bit, 24-bit
    # (3-byte little-endian two's complement), and IEEE float32
    # (format tag 3); rms_q is always in 16-bit-equivalent units so
    # the feature is comparable across sample widths. Compressed
    # codecs (mp3/aac) stay out of scope — they need real codec
    # libraries.
    if audio_fmt == 1 and bits == 16:
        samples = np.frombuffer(
            data[: len(data) - (len(data) % (2 * channels))], dtype="<i2"
        ).astype("int64")
    elif audio_fmt == 1 and bits == 8:
        raw8 = np.frombuffer(
            data[: len(data) - (len(data) % channels)], dtype=np.uint8
        )
        samples = (raw8.astype("int64") - 128) * 256  # center + scale
    elif audio_fmt == 1 and bits == 24:
        usable = len(data) - (len(data) % (3 * channels))
        b = np.frombuffer(data[:usable], dtype=np.uint8).reshape(-1, 3)
        v = (
            b[:, 0].astype("int64")
            | (b[:, 1].astype("int64") << 8)
            | (b[:, 2].astype("int64") << 16)
        )
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        samples = v >> 8  # to 16-bit-equivalent units
    elif audio_fmt == 3 and bits == 32:
        f32 = np.frombuffer(
            data[: len(data) - (len(data) % (4 * channels))], dtype="<f4"
        )
        samples = np.round(
            np.clip(f32.astype("float64"), -1.0, 1.0) * 32767
        ).astype("int64")
    else:
        return None
    return pcm_features(samples, channels, rate)
