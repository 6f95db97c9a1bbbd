"""Multimodal columns (beyond-reference extension; BASELINE.json north
star: "multimodal columns").

Media lives as an opaque ``binary`` column with typed metadata; decode
and feature extraction run as Arrow-batched pandas functions over
``mapInPandas``, so each task processes columnar batches and the plan
shape (schema, partitioning, batch iteration) is exactly what a real
image/audio decoder plugs into.

What decodes for real, dependency-free (the codecs live in
``llm/codecs``, stdlib + numpy only):

* container metadata: PNG/BMP/GIF/JPEG dimensions and GIF frame counts
  (:func:`parse_image_header`), MP4 duration and track count
  (:func:`parse_mp4_header`);
* audio: PCM WAV 8/16/24-bit and float32 (:func:`parse_wav`, the
  Arrow-batched :func:`audio_features`) and lossless FLAC;
* pixels: PNG (every color type and depth, Adam7), animated GIF (LZW
  frames and the full GIF89a compositing state machine), and every
  Huffman-coded non-hierarchical JPEG (baseline and progressive, any
  sampling, DRI restarts).

Other image formats decode through PIL when it is installed
(capability-gated, :func:`_image_codec`). Compressed audio and video
pixels (MP3/H.264/VP9) raise NotImplementedError: they need codec
libraries absent here.

The testdata has no real media. The metadata members read the
document text's UTF-8 bytes as the payload; the audio and pixel members
synthesize deterministic media per document, round-trip it through the
real encoder and decoder, and reduce the result to statistics the
DuckDB oracle recomputes in closed form, so every decode path is
value-checked, not just schema-checked. At 100 TB the same plan reads parquet
``binary`` columns directly and only the per-document function changes.

The per-document operators share one adapter, :func:`_doc_batches`:
each supplies a generator of output rows for one (doc_id, value) pair.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources import load_table
from .codecs.flac import flac_encode, parse_flac
from .codecs.gif import (
    gif_decode_frames,
    gif_decode_rgb,
    gif_encode_animation,
    gif_encode_frames,
)
# the JPEG and PNG codec APIs stay importable from here
from .codecs.jpeg import (  # noqa: F401
    JPEG_FIX_BCB,
    JPEG_FIX_GCB,
    JPEG_FIX_GCR,
    JPEG_FIX_RCR,
    JPEG_QUANT_CHROMA_ZZ,
    JPEG_QUANT_ZZ,
    _jpeg_zigzag,
    jpeg_decode_color,
    jpeg_decode_gray,
    jpeg_encode_420_coefs,
    jpeg_encode_color_coefs,
    jpeg_encode_gray_coefs,
    jpeg_encode_progressive3_coefs,
    jpeg_encode_progressive_coefs,
    jpeg_encode_progressive_sampled_coefs,
    jpeg_encode_sampled_coefs,
    jpeg_parse_any,
    jpeg_parse_gray,
)
from .codecs.png import (  # noqa: F401
    PNG_SIG,
    png_decode,
    png_encode,
    png_encode_palette,
)
from .codecs.wav import parse_wav

EXTRACT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def _image_codec():
    """Capability check: returns PIL's Image module when the optional
    dependency is installed, else None. The engine never requires it —
    the Spark-side plumbing (schema, partitioning, Arrow batch shape)
    runs on the deterministic metadata path either way."""
    try:
        from PIL import Image  # type: ignore[import-not-found]

        return Image
    except ImportError:
        return None


HAS_IMAGE_CODEC = _image_codec() is not None


def parse_image_header(payload: bytes) -> dict | None:
    """Dependency-free image METADATA decode: container-format header
    parsing for PNG / BMP / GIF / JPEG (pure struct reads over the
    public file formats — no codec library; JPEG dimensions come from
    the SOFn marker walk, no entropy decode needed). Returns
    width/height/n_frames, or None when the payload is not one of the
    recognized formats. This is the real operation a metadata-extraction
    pipeline performs (dimensions, frame count) — full pixel decode
    still needs PIL and stays capability-gated."""
    if len(payload) >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        # IHDR is mandatory-first: width/height are big-endian at 16/20
        w, h = struct.unpack(">II", payload[16:24])
        return {"width": w, "height": h, "n_frames": 1}
    if len(payload) >= 22 and payload[:2] == b"BM":
        # the DIB header SIZE at offset 14 selects the layout: >= 40 is
        # BITMAPINFOHEADER-family (little-endian int32 width/height at
        # 18/22, height negative for top-down rows); 12 is the OS/2
        # BITMAPCOREHEADER (uint16 at 18/20). Anything else is unknown —
        # return None rather than unpack garbage.
        (dib_size,) = struct.unpack("<I", payload[14:18])
        if dib_size >= 40 and len(payload) >= 26:
            w, h = struct.unpack("<ii", payload[18:26])
            return {"width": w, "height": abs(h), "n_frames": 1}
        if dib_size == 12:
            w, h = struct.unpack("<HH", payload[18:22])
            return {"width": w, "height": h, "n_frames": 1}
        return None
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":
        # JPEG: marker-segment walk to the first SOFn frame header
        # (height/width are big-endian at +5/+7 past the marker). DHT
        # (C4), JPG (C8) and DAC (CC) share the SOF numbering range but
        # are not frame headers; TEM/RSTn/SOI/EOI are standalone markers
        # with no length field.
        sof = {
            0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
        }
        pos, n = 2, len(payload)
        while pos + 4 <= n:
            if payload[pos] != 0xFF:
                break  # desynchronized stream
            marker = payload[pos + 1]
            if marker == 0xFF:  # fill byte
                pos += 1
                continue
            if 0xD0 <= marker <= 0xD9 or marker == 0x01:  # standalone
                pos += 2
                continue
            (seg_len,) = struct.unpack(">H", payload[pos + 2:pos + 4])
            if seg_len < 2:
                break
            if marker in sof:
                if pos + 9 > n:
                    break
                h, w = struct.unpack(">HH", payload[pos + 5:pos + 9])
                return {"width": w, "height": h, "n_frames": 1}
            pos += 2 + seg_len
        return None
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        # frame count = image-descriptor blocks; 0x2C only introduces a
        # descriptor at a block boundary, so walk the block structure
        # rather than counting bytes (0x2C can occur inside pixel data)
        return {
            "width": w,
            "height": h,
            "n_frames": max(1, _gif_frame_count(payload)),
        }
    return None


def _gif_frame_count(payload: bytes) -> int:
    """Walk the GIF block structure counting image descriptors."""
    pos = 13  # header + logical screen descriptor
    flags = payload[10]
    if flags & 0x80:  # global color table present
        pos += 3 * (2 << (flags & 0x07))
    frames = 0
    n = len(payload)
    while pos < n:
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < n and payload[pos] != 0:
                pos += payload[pos] + 1
            pos += 1
        elif block == 0x2C:  # image descriptor
            frames += 1
            if pos + 9 > n:
                break
            lflags = payload[pos + 8]
            pos += 9
            if lflags & 0x80:  # local color table
                pos += 3 * (2 << (lflags & 0x07))
            pos += 1  # LZW min code size
            while pos < n and payload[pos] != 0:
                pos += payload[pos] + 1
            pos += 1
        else:  # corrupt stream: stop rather than loop
            break
    return frames


def decode_media(payload: bytes, media_type: str) -> dict:
    """Decode one media payload to metadata. Image formats with
    parseable container headers (PNG/BMP/GIF/JPEG) decode dependency-free via
    :func:`parse_image_header`; anything else decodes through PIL when
    installed (capability-gated — absent in this container); audio/video
    codecs (librosa / av) remain honestly stubbed. Swapping in a codec
    changes only this function; extract_features' deterministic metadata
    path is unaffected."""
    if media_type == "audio":
        parsed_a = parse_wav(payload)
        if parsed_a is not None:
            return parsed_a
    if media_type == "video":
        parsed_v = parse_mp4_header(payload)
        if parsed_v is not None:
            return parsed_v
    if media_type == "image":
        parsed = parse_image_header(payload)
        if parsed is not None:
            return parsed
        image_mod = _image_codec()
        if image_mod is not None:
            import io

            with image_mod.open(io.BytesIO(payload)) as im:
                im.load()
                return {
                    "width": im.width,
                    "height": im.height,
                    "n_frames": int(getattr(im, "n_frames", 1)),
                }
    raise NotImplementedError(
        "media decoding beyond PNG/BMP/GIF/JPEG headers, PCM WAV, and "
        "MP4 container metadata requires codec libraries not present "
        "here; use extract_features' deterministic metadata path instead"
    )


# ------------------------------------------------ per-document adapter


def _doc_batches(row_fn, columns, source, batches):
    """The one mapInPandas body of the per-document operators: every
    (doc_id, ``source`` value) pair of a batch goes through ``row_fn``,
    a generator of output row dicts, and a batch's rows form one output
    frame. ``columns`` (the output schema's names) fixes the column
    order and the shape of an empty frame; other row keys are dropped."""
    for pdf in batches:
        rows = [
            row
            for doc_id, value in zip(pdf["doc_id"].tolist(), pdf[source].tolist())
            for row in row_fn(doc_id, value)
        ]
        yield pd.DataFrame(rows, columns=columns)


def _map_docs(
    df: DataFrame, row_fn, schema: StructType, source: str = "n_bytes"
) -> DataFrame:
    """``df.mapInPandas`` of ``row_fn`` through :func:`_doc_batches`."""
    batches = partial(_doc_batches, row_fn, schema.fieldNames(), source)
    return df.mapInPandas(batches, schema=schema)


def _weight(h: int, w: int, a: int, b: int, m: int):
    """Position weights ``1 + (x·a + y·b) mod m`` over an h×w grid: a
    weighted checksum pins exact per-position recovery, so sums cannot
    match by accident through a decode bug."""
    y, x = np.mgrid[0:h, 0:w]
    return 1 + (x * a + y * b) % m


# the weight fields of the checksums; one per color channel (R, G, B, A)
_W1, _W2, _W3, _W4 = (
    (127, 149, 241), (131, 137, 239), (113, 151, 251), (109, 139, 233)
)
_WP = (131, 137, 251)  # the r6 gray members (PNG pixels, thumbnail, GIF frames)


def _gray_stats(px, weight) -> dict:
    """Count, range, sum and weighted checksum of a gray plane."""
    px = px.astype(np.int64)
    return {
        "n_pixels": int(px.size),
        "px_min": int(px.min()),
        "px_max": int(px.max()),
        "px_sum": int(px.sum()),
        "px_checksum": int((px * weight).sum()),
    }


def _rgb_row(doc_id: int, w: int, h: int, rgb) -> dict:
    """The COLOR_PIXELS_SCHEMA row of a decoded (h, w, 3) image:
    per-channel sums and one checksum with a weight field per channel,
    so a channel swap breaks parity on its own."""
    assert rgb.shape == (h, w, 3)
    r, g, b = (rgb[..., c].astype(np.int64) for c in range(3))
    checksum = (
        r * _weight(h, w, *_W1) + g * _weight(h, w, *_W2) + b * _weight(h, w, *_W3)
    )
    return {
        "doc_id": doc_id,
        "width": w,
        "height": h,
        "n_pixels": h * w,
        "r_sum": int(r.sum()),
        "g_sum": int(g.sum()),
        "b_sum": int(b.sum()),
        "rgb_checksum": int(checksum.sum()),
    }


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = pdf["payload"]
        n_bytes = payloads.map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": n_bytes.astype("int64"),
                "content_md5": payloads.map(
                    lambda b: hashlib.md5(b).hexdigest()
                ),
                # deterministic stand-ins for decoder output (see oracle)
                "width": (100 + n_bytes % 800).astype("int32"),
                "height": (100 + (n_bytes * 7) % 600).astype("int32"),
                "n_frames": (1 + n_bytes % 24).astype("int32"),
            }
        )


def multimodal_extract(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Binary-column metadata extraction over mapInPandas (Arrow path).

    The scan projects only (doc_id, text); the payload materializes as a
    binary column; extraction is embarrassingly parallel — no shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    media = docs.select(
        "doc_id",
        F.expr("encode(text, 'UTF-8')").alias("payload"),
        F.expr(
            "case when doc_id % 3 = 0 then 'image'"
            " when doc_id % 3 = 1 then 'audio' else 'video' end"
        ).alias("media_type"),
    )
    return media.mapInPandas(_extract_batches, schema=EXTRACT_SCHEMA)


# --------------------------------------------------- frame sampling


FRAME_SAMPLES = 4  # uniform-stride target: ≤4 sampled frames per video

FRAMESAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_md5", StringType()),
    ]
)


def _framesample_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        n_bytes = pdf["payload"].map(len).to_numpy()
        content_md5 = pdf["payload"].map(lambda b: hashlib.md5(b).hexdigest())
        n_frames = (1 + n_bytes % 24).astype("int64")
        stride = -(-n_frames // FRAME_SAMPLES)  # ceil
        doc_ids, frames, idxs, md5s = [], [], [], []
        for doc, md, n, s in zip(pdf["doc_id"], content_md5, n_frames, stride):
            for i in range(0, int(n), int(s)):
                doc_ids.append(doc)
                frames.append(int(n))
                idxs.append(i)
                md5s.append(hashlib.md5(f"{md}-{i}".encode()).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": np.asarray(doc_ids, dtype="int64"),
                "n_frames": np.asarray(frames, dtype="int32"),
                "frame_idx": np.asarray(idxs, dtype="int32"),
                "frame_md5": md5s,
            }
        )


def multimodal_framesample(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """Uniform-stride frame sampling over video payloads: one output row
    per sampled frame (≤4 per video), fanned out inside the Arrow batch —
    exactly the shape a real `av`-based sampler produces. The frame
    digest stands in for the decoded frame's content hash."""
    docs = load_table(spark, "documents", sf_dir)
    videos = docs.where(F.expr("doc_id % 3 = 2")).select(
        "doc_id", F.expr("encode(text, 'UTF-8')").alias("payload")
    )
    return videos.mapInPandas(_framesample_batches, schema=FRAMESAMPLE_SCHEMA)


# --------------------------------------------------------- resize


RESIZE_TARGET = 224

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("new_width", IntegerType()),
        StructField("new_height", IntegerType()),
        StructField("resized_bytes", LongType()),
    ]
)


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        n_bytes = pdf["payload"].map(len)
        w = 100 + n_bytes % 800
        h = 100 + (n_bytes * 7) % 600
        m = w.combine(h, max)
        # aspect-preserving fit into 224×224, integer-exact
        new_w = (w * RESIZE_TARGET) // m
        new_h = (h * RESIZE_TARGET) // m
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": w.astype("int32"),
                "height": h.astype("int32"),
                "new_width": new_w.astype("int32"),
                "new_height": new_h.astype("int32"),
                "resized_bytes": (new_w * new_h * 3).astype("int64"),
            }
        )


def multimodal_resize(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """Aspect-preserving resize planning for image payloads (fit into
    224×224): integer-exact target dimensions + decoded-buffer size, via
    the same Arrow mapInPandas seam a real PIL resize would occupy."""
    docs = load_table(spark, "documents", sf_dir)
    images = docs.where(F.expr("doc_id % 3 = 0")).select(
        "doc_id", F.expr("encode(text, 'UTF-8')").alias("payload")
    )
    return images.mapInPandas(_resize_batches, schema=RESIZE_SCHEMA)


# ------------------------------------------------------------- oracle SQL


# The Python path computes md5 over the UTF-8 payload and derives the fake
# dimensions from the byte length — both reproducible in SQL, so even the
# Pandas-UDF plumbing is value-checked, not just schema-checked.
ORACLES: dict[str, str] = {
    "multimodal_extract": """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       CAST(100 + strlen(text) % 800 AS INTEGER) AS width,
       CAST(100 + (strlen(text) * 7) % 600 AS INTEGER) AS height,
       CAST(1 + strlen(text) % 24 AS INTEGER) AS n_frames
FROM documents
""",
    "multimodal_framesample": f"""
WITH v AS (
    SELECT doc_id, md5(text) AS content_md5,
           CAST(1 + strlen(text) % 24 AS INTEGER) AS n_frames
    FROM documents WHERE doc_id % 3 = 2
),
s AS (
    SELECT doc_id, n_frames, content_md5,
           unnest(generate_series(0, n_frames - 1,
               CAST(ceil(n_frames / {FRAME_SAMPLES}.0) AS INTEGER)))
               AS frame_idx
    FROM v
)
SELECT doc_id, n_frames, CAST(frame_idx AS INTEGER) AS frame_idx,
       md5(content_md5 || '-' || CAST(frame_idx AS VARCHAR)) AS frame_md5
FROM s
""",
    "multimodal_resize": f"""
WITH i AS (
    SELECT doc_id,
           CAST(100 + strlen(text) % 800 AS BIGINT) AS w,
           CAST(100 + (strlen(text) * 7) % 600 AS BIGINT) AS h
    FROM documents WHERE doc_id % 3 = 0
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST((w * {RESIZE_TARGET}) // greatest(w, h) AS INTEGER) AS new_width,
       CAST((h * {RESIZE_TARGET}) // greatest(w, h) AS INTEGER) AS new_height,
       CAST(((w * {RESIZE_TARGET}) // greatest(w, h))
            * ((h * {RESIZE_TARGET}) // greatest(w, h)) * 3 AS BIGINT)
           AS resized_bytes
FROM i
""",
}


# ------------------------------------------------ real PCM WAV decode

AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("rms_q", LongType()),
    ]
)


# the (doc_id, payload) relation the synthesis stages emit
PAYLOAD_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
)


def _audio_rows(parse, doc_id: int, payload: bytes):
    """Decoded audio features of one payload; payloads ``parse``
    rejects drop out (the standard extract-what-decodes contract)."""
    meta = parse(bytes(payload))
    if meta is not None:
        yield {"doc_id": doc_id, **meta}


def audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched WAV feature extraction over a (doc_id, payload)
    binary-column frame: sample rate, channel count, exact sample count
    and duration, integer RMS loudness. Non-WAV payloads drop out (the
    standard extract-what-decodes contract). Embarrassingly parallel —
    no shuffle; tested end-to-end through the real mapInPandas plumbing
    on crafted PCM files, and driver-verified through
    :func:`multimodal_audio` (a `multimodal_digest` member), which runs
    this exact operator over synthesized-in-Spark PCM WAV payloads."""
    return _map_docs(
        media.select("doc_id", "payload"),
        partial(_audio_rows, parse_wav),
        AUDIO_SCHEMA,
        source="payload",
    )


# ----------------------- driver-verified audio decode (r5)


AUDIO_RATE = 8000  # synthesized sample rate (Hz)


def _wav_synth_rows(doc_id: int, nb: int):
    """A real RIFF/WAVE 16-bit PCM file per document, with
    deterministic integer samples derived from (doc_id, byte length),
    reproducible exactly in the DuckDB oracle."""
    channels = 1 + doc_id % 2
    frames = 120 + nb % 200
    k = np.arange(frames * channels, dtype="int64")
    data = ((doc_id * 31 + k * 7) % 2003 - 1001).astype("<i2").tobytes()
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", 16)
        + struct.pack(
            "<HHIIHH",
            1,  # PCM
            channels,
            AUDIO_RATE,
            AUDIO_RATE * channels * 2,
            channels * 2,
            16,
        )
        + b"data"
        + struct.pack("<I", len(data))
    )
    yield {"doc_id": doc_id, "payload": hdr + data}


def multimodal_audio(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """The registered audio-decode query (multimodal_digest member):
    synthesize a real 16-bit PCM WAV per 'audio' document (deterministic
    samples from doc_id — ``v[k] = (doc_id*31 + k*7) % 2003 - 1001``,
    ``1 + doc_id % 2`` channels, ``120 + n_bytes % 200`` frames at
    8 kHz), then run the REAL :func:`audio_features` decoder over the
    bytes: container walk, numpy sample extraction, integer RMS. The
    DuckDB oracle regenerates the same samples with generate_series and
    recomputes every output column, so the full decode path — header
    parse, channel de-interleave count, duration math, RMS — is
    value-verified, not just schema-checked. Two chained mapInPandas
    stages, zero shuffle, embarrassingly parallel."""
    docs = load_table(spark, "documents", sf_dir)
    audio_docs = docs.where(F.expr("doc_id % 3 = 1")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    wav = _map_docs(_spread(audio_docs), _wav_synth_rows, PAYLOAD_SCHEMA)
    return audio_features(wav)


ORACLES["multimodal_audio"] = f"""
WITH a AS (
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
           CAST(120 + strlen(text) % 200 AS BIGINT) AS n_samples
    FROM documents WHERE doc_id % 3 = 1
),
s AS (
    SELECT a.doc_id,
           unnest(generate_series(0, a.n_samples * a.n_channels - 1)) AS k
    FROM a
),
q AS (
    SELECT doc_id,
           sum(((doc_id * 31 + k * 7) % 2003 - 1001)
               * ((doc_id * 31 + k * 7) % 2003 - 1001)) AS sum_sq,
           count(*) AS n
    FROM s GROUP BY doc_id
)
SELECT a.doc_id,
       CAST({AUDIO_RATE} AS INTEGER) AS sample_rate,
       a.n_channels,
       a.n_samples,
       a.n_samples * 1000 // {AUDIO_RATE} AS duration_ms,
       CAST(floor(sqrt(CAST(q.sum_sq AS DOUBLE) / q.n)) AS BIGINT) AS rms_q
FROM a JOIN q ON a.doc_id = q.doc_id
"""


# ------------------------------------------ FLAC roundtrip (r9)
#
# The audio half of the compressed-codec seam, done where it is
# possible dependency-free (llm/codecs/flac.py): FLAC is lossless, so a
# synth → encode → decode roundtrip is value-verifiable bit for bit.
# Speech corpora commonly ship as FLAC.

_FLAC_STEREO = ("independent", "left_side", "mid_side")


def _flac_synth_rows(doc_id: int, nb: int):
    """A deterministic 16-bit stream per document encoded as REAL FLAC —
    ``v[k] = (doc_id*37 + k*11) % 4001 - 2000``, ``1 + doc_id % 2``
    channels, ``120 + n_bytes % 200`` frames — with the stereo
    decorrelation mode rotating by doc_id (independent / left-side /
    mid-side), so the decoder's decorrelation paths are all
    oracle-checked. Losslessness makes the oracle exact: DuckDB
    recomputes the features straight from the sample formula."""
    channels = 1 + doc_id % 2
    frames = 120 + nb % 200
    k = np.arange(frames * channels, dtype="int64")
    vals = ((doc_id * 37 + k * 11) % 4001 - 2000).reshape(frames, channels)
    mode = _FLAC_STEREO[doc_id % 3] if channels == 2 else "independent"
    payload = flac_encode(vals, AUDIO_RATE, bps=16, blocksize=256, stereo=mode)
    yield {"doc_id": doc_id, "payload": payload}


def multimodal_flac(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """The registered FLAC roundtrip query (multimodal_digest member):
    synthesize deterministic 16-bit audio per 'audio' document, encode
    it through the REAL FLAC encoder (fixed predictors + Rice residuals
    + CRC-8/16 + rotating stereo decorrelation), then decode through
    the REAL decoder back to features. Because FLAC is lossless, the
    DuckDB oracle recomputes every output column directly from the
    sample formula — any prediction, Rice, CRC, or decorrelation bug
    changes rms_q/n_samples and fails the driver compare. Two chained
    mapInPandas stages, zero shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    audio_docs = docs.where(F.expr("doc_id % 3 = 1")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    flac = _map_docs(_spread(audio_docs), _flac_synth_rows, PAYLOAD_SCHEMA)
    return _map_docs(
        flac, partial(_audio_rows, parse_flac), AUDIO_SCHEMA, source="payload"
    )


ORACLES["multimodal_flac"] = f"""
WITH a AS (
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
           CAST(120 + strlen(text) % 200 AS BIGINT) AS n_samples
    FROM documents WHERE doc_id % 3 = 1
),
s AS (
    SELECT a.doc_id,
           unnest(generate_series(0, a.n_samples * a.n_channels - 1)) AS k
    FROM a
),
q AS (
    SELECT doc_id,
           sum(((doc_id * 37 + k * 11) % 4001 - 2000)
               * ((doc_id * 37 + k * 11) % 4001 - 2000)) AS sum_sq,
           count(*) AS n
    FROM s GROUP BY doc_id
)
SELECT a.doc_id,
       CAST({AUDIO_RATE} AS INTEGER) AS sample_rate,
       a.n_channels,
       a.n_samples,
       a.n_samples * 1000 // {AUDIO_RATE} AS duration_ms,
       CAST(floor(sqrt(CAST(q.sum_sq AS DOUBLE) / q.n)) AS BIGINT) AS rms_q
FROM a JOIN q ON a.doc_id = q.doc_id
"""


# ------------------------------------------ MP4 container metadata


def parse_mp4_header(payload: bytes) -> dict | None:
    """Dependency-free MP4/ISO-BMFF metadata decode: top-level box walk
    to `moov`, then `mvhd` (movie timescale + duration, version 0 and
    1 layouts) and `trak` counting — the real operations a video
    metadata pipeline performs. Frame-accurate pixel decode stays out
    of scope (that genuinely needs a codec library). Returns None for
    non-MP4 payloads."""
    def boxes(buf, pos, end):
        while pos + 8 <= end:
            (size,) = struct.unpack(">I", buf[pos:pos + 4])
            typ = buf[pos + 4:pos + 8]
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    return
                (size,) = struct.unpack(">Q", buf[pos + 8:pos + 16])
                body_off = 16
            else:
                body_off = 8
            if size < body_off or pos + size > end:
                return
            yield typ, pos + body_off, pos + size
            pos += size

    n = len(payload)
    if n < 12 or payload[4:8] != b"ftyp":
        return None
    moov = next(
        ((s, e) for t, s, e in boxes(payload, 0, n) if t == b"moov"), None
    )
    if moov is None:
        return None
    duration_ms = 0
    n_tracks = 0
    for typ, s, e in boxes(payload, moov[0], moov[1]):
        if typ == b"trak":
            n_tracks += 1
        elif typ == b"mvhd" and e - s >= 20:
            version = payload[s]
            body = payload[s:e]
            if version == 1 and len(body) >= 32:
                (timescale,) = struct.unpack(">I", body[20:24])
                (duration,) = struct.unpack(">Q", body[24:32])
            else:
                (timescale,) = struct.unpack(">I", body[12:16])
                (duration,) = struct.unpack(">I", body[16:20])
            if timescale:
                duration_ms = duration * 1000 // timescale
    return {"duration_ms": duration_ms, "n_tracks": n_tracks}


# ------------------------------------------ PNG pixel decode (r6)


PIXELS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("px_min", LongType()),
        StructField("px_max", LongType()),
        StructField("px_sum", LongType()),
        StructField("px_checksum", LongType()),
    ]
)


def _png_gray(doc_id: int, nb: int):
    """The gray PNG of an image doc — p(x,y) = (doc_id·7 + y·31 +
    x·13) mod 256 — after a real encode → decode roundtrip. Encoder and
    decoder are independent code paths (filters applied forward vs
    reversed), so a bug in either breaks the oracle parity."""
    w, h = 8 + doc_id % 9, 8 + nb % 9
    y, x = np.mgrid[0:h, 0:w]
    px = ((doc_id * 7 + y * 31 + x * 13) % 256).astype(np.uint8)
    return png_decode(png_encode(px))


def _pixels_rows(doc_id: int, nb: int):
    rec = _png_gray(doc_id, nb)
    h, w = rec.shape
    yield {"doc_id": doc_id, "width": w, "height": h,
           **_gray_stats(rec, _weight(h, w, *_WP))}


def multimodal_pixels(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """The registered PNG pixel-decode query (multimodal_digest member,
    r6): per image doc, a real zlib-compressed PNG (all five scanline
    filters) round-trips through :func:`png_decode`'s genuine
    inflate + unfilter path, and the recovered pixels reduce to
    position-weighted statistics. The DuckDB oracle regenerates the
    pixels from the formula and recomputes every column — the weighted
    checksum pins exact per-position recovery, so sums cannot
    accidentally match through a decode bug. One mapInPandas stage, no
    shuffle, embarrassingly parallel."""
    docs = load_table(spark, "documents", sf_dir)
    image_docs = docs.where(F.expr("doc_id % 3 = 0")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(image_docs), _pixels_rows, PIXELS_SCHEMA)


ORACLES["multimodal_pixels"] = """
WITH img AS (
    SELECT doc_id,
           CAST(8 + doc_id % 9 AS BIGINT) AS w,
           CAST(8 + strlen(text) % 9 AS BIGINT) AS h
    FROM documents WHERE doc_id % 3 = 0
),
xs AS (
    SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM img
),
px AS (
    SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs
),
v AS (
    SELECT doc_id, w, h,
           (doc_id * 7 + y * 31 + x * 13) % 256 AS p,
           1 + (x * 131 + y * 137) % 251 AS weight
    FROM px
)
SELECT doc_id,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(min(p) AS BIGINT) AS px_min,
       CAST(max(p) AS BIGINT) AS px_max,
       CAST(sum(p) AS BIGINT) AS px_sum,
       CAST(sum(p * weight) AS BIGINT) AS px_checksum
FROM v GROUP BY doc_id
"""


# ------------------------------------- GIF animated-frame decode (r6)

GIF_FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("px_sum", LongType()),
        StructField("px_checksum", LongType()),
    ]
)


def _gif_frames_rows(doc_id: int, nb: int):
    """A REAL animated GIF per video doc (2 + doc_id % 3 frames,
    deterministic pixels p(f,x,y) = (doc_id·7 + f·17 + y·31 + x·13)
    mod 256 over the identity grayscale palette) through the real LZW
    decoder, one row of position-weighted statistics per frame."""
    w, h = 8 + doc_id % 9, 8 + nb % 9
    y, x = np.mgrid[0:h, 0:w]
    frames = [
        ((doc_id * 7 + f * 17 + y * 31 + x * 13) % 256).astype(np.uint8)
        for f in range(2 + doc_id % 3)
    ]
    decoded, _palette = gif_decode_frames(gif_encode_frames(frames))
    weight = _weight(h, w, *_WP)
    for f, frame in enumerate(decoded):
        yield {"doc_id": doc_id, "frame_idx": f, "width": w, "height": h,
               **_gray_stats(frame, weight)}


def multimodal_gif_frames(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered GIF frame-decode query (multimodal_digest member,
    r6): real animated GIFs (LZW-compressed, GCE-per-frame) round-trip
    through the genuine LZW dictionary-replay decoder, one output row
    per decoded frame with position-weighted pixel statistics. The
    DuckDB oracle regenerates the pixels from the formula over
    (frame, x, y) — the per-frame checksum pins exact per-position
    recovery across the frame sequence, so frame order or off-by-one
    frame mixing cannot slip through. One mapInPandas stage, no
    shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    video_docs = docs.where(F.expr("doc_id % 3 = 2")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(video_docs), _gif_frames_rows, GIF_FRAMES_SCHEMA)


ORACLES["multimodal_gif_frames"] = """
WITH vid AS (
    SELECT doc_id,
           CAST(8 + doc_id % 9 AS BIGINT) AS w,
           CAST(8 + strlen(text) % 9 AS BIGINT) AS h,
           CAST(2 + doc_id % 3 AS BIGINT) AS n_frames
    FROM documents WHERE doc_id % 3 = 2
),
fs AS (
    SELECT doc_id, w, h, unnest(generate_series(0, n_frames - 1)) AS f
    FROM vid
),
xs AS (
    SELECT doc_id, w, h, f, unnest(generate_series(0, w - 1)) AS x FROM fs
),
px AS (
    SELECT doc_id, w, h, f, x, unnest(generate_series(0, h - 1)) AS y FROM xs
),
v AS (
    SELECT doc_id, w, h, f,
           (doc_id * 7 + f * 17 + y * 31 + x * 13) % 256 AS p,
           1 + (x * 131 + y * 137) % 251 AS weight
    FROM px
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(sum(p) AS BIGINT) AS px_sum,
       CAST(sum(p * weight) AS BIGINT) AS px_checksum
FROM v GROUP BY doc_id, f
"""


# -------------------- GIF animation-semantics decode (r8)


def _gray_palette(shift: int) -> bytes:
    """The 256-entry grayscale palette, rotated by ``shift``."""
    return bytes(v for i in range(256) for v in ((i + shift) % 256,) * 3)


def _gif_anim_spec(doc_id: int, nb: int):
    """The deterministic animation script, re-expressed in SQL by the
    oracle: frame 0 paints the full canvas; every later frame is a
    sub-rect composited with disposal=keep, odd frames under a
    shifted-gray LOCAL palette, alternating frames stored interlaced (a
    pure storage permutation — pixels, and therefore the oracle, are
    unchanged)."""
    w, h = 10 + doc_id % 9, 10 + nb % 9
    frames = []
    for f in range(3 + doc_id % 3):
        if f == 0:
            left, top, fw, fh, s = 0, 0, w, h, 0
        else:
            fw = 3 + (doc_id + f) % 4
            fh = 3 + (doc_id + 2 * f) % 4
            left = (doc_id + 3 * f) % (w - fw + 1)
            top = (doc_id * 3 + 2 * f) % (h - fh + 1)
            s = (doc_id + 11 * f) % 256 if f % 2 == 1 else 0
        frames.append((left, top, fw, fh, s, (doc_id + f) % 2 == 0))
    return w, h, frames


def _gif_anim_rows(doc_id: int, nb: int):
    """A REAL animated GIF with full GIF89a semantics per video doc —
    sub-rect frames composited onto the persistent canvas, shifted-gray
    local palettes on odd frames, interlaced storage on alternating
    frames — decoded through the genuine state machine
    (:func:`gif_decode_rgb`), one row per DISPLAYED canvas. Disposal
    restore-to-background/previous and transparency are pytest-pinned
    with handcrafted canvases (tests/test_llm_ops_r8.py); the digest
    verifies the compositing core at corpus width."""
    w, h, spec = _gif_anim_spec(doc_id, nb)
    frames = []
    for f, (left, top, fw, fh, s, ilace) in enumerate(spec):
        yy, xx = np.mgrid[top : top + fh, left : left + fw]
        # indices in GLOBAL coordinates so the oracle is one uniform formula
        px = ((doc_id * 7 + f * 17 + yy * 31 + xx * 13) % 256).astype(np.uint8)
        frames.append(
            {
                "px": px,
                "left": left,
                "top": top,
                "disposal": 1,
                "palette": _gray_palette(s) if s else None,
                "interlace": ilace,
            }
        )
    decoded = gif_decode_rgb(gif_encode_animation(w, h, _gray_palette(0), 0, frames))
    weight = _weight(h, w, *_W1)
    for f, canvas in enumerate(decoded):
        assert (canvas[..., 0] == canvas[..., 1]).all()
        yield {"doc_id": doc_id, "frame_idx": f, "width": w, "height": h,
               **_gray_stats(canvas[..., 0], weight)}


def multimodal_gif_anim(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered GIF ANIMATION-semantics query (multimodal_digest
    member, r8): real animated GIFs exercising the state machine the
    r6 full-canvas member cannot — per-frame SUB-RECT updates
    composited onto the persistent canvas, LOCAL palettes (shifted
    grayscale) overriding the global one on odd frames, and interlaced
    row storage on alternating frames — decoded by the genuine GIF89a
    decoder and reduced per displayed canvas. The oracle recomputes
    every composited pixel in closed form: the displayed value at
    (frame, x, y) comes from the LAST frame whose rect covers (x, y)
    (an argmax DuckDB expresses as max-over-covering-frames), plus
    that frame's palette shift. One mapInPandas stage, spread across
    cores."""
    docs = load_table(spark, "documents", sf_dir)
    video_docs = docs.where(F.expr("doc_id % 3 = 1")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(video_docs), _gif_anim_rows, GIF_FRAMES_SCHEMA)


ORACLES["multimodal_gif_anim"] = """
WITH vid AS (
    SELECT doc_id,
           CAST(10 + doc_id % 9 AS BIGINT) AS w,
           CAST(10 + strlen(text) % 9 AS BIGINT) AS h,
           CAST(3 + doc_id % 3 AS BIGINT) AS n_frames
    FROM documents WHERE doc_id % 3 = 1
),
fs AS (
    SELECT doc_id, w, h, unnest(generate_series(0, n_frames - 1)) AS f
    FROM vid
),
rect AS (
    SELECT doc_id, w, h, f,
           CASE WHEN f = 0 THEN 0
                ELSE (doc_id + 3*f) % (w - (3 + (doc_id + f) % 4) + 1)
           END AS lft,
           CASE WHEN f = 0 THEN 0
                ELSE (doc_id*3 + 2*f) % (h - (3 + (doc_id + 2*f) % 4) + 1)
           END AS tp,
           CASE WHEN f = 0 THEN w ELSE 3 + (doc_id + f) % 4 END AS fw,
           CASE WHEN f = 0 THEN h ELSE 3 + (doc_id + 2*f) % 4 END AS fh,
           CASE WHEN f > 0 AND f % 2 = 1 THEN (doc_id + 11*f) % 256
                ELSE 0 END AS s
    FROM fs
),
xs AS (
    SELECT doc_id, w, h, f, unnest(generate_series(0, w - 1)) AS x FROM fs
),
px AS (
    SELECT doc_id, w, h, f, x, unnest(generate_series(0, h - 1)) AS y FROM xs
),
src AS (
    -- compositing with disposal=keep: the displayed pixel comes from
    -- the LAST frame <= f whose rect covers (x, y); frame 0 always does
    SELECT p.doc_id, p.w, p.h, p.f, p.x, p.y, max(r.f) AS sf
    FROM px p
    JOIN rect r ON r.doc_id = p.doc_id AND r.f <= p.f
               AND p.x >= r.lft AND p.x < r.lft + r.fw
               AND p.y >= r.tp AND p.y < r.tp + r.fh
    GROUP BY p.doc_id, p.w, p.h, p.f, p.x, p.y
),
g AS (
    SELECT s.doc_id, s.w, s.h, s.f,
           (s.doc_id * 7 + s.sf * 17 + s.y * 31 + s.x * 13 + r.s) % 256 AS p,
           1 + (s.x * 127 + s.y * 149) % 241 AS weight
    FROM src s
    JOIN rect r ON r.doc_id = s.doc_id AND r.f = s.sf
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(sum(p) AS BIGINT) AS px_sum,
       CAST(sum(p * weight) AS BIGINT) AS px_checksum
FROM g GROUP BY doc_id, f
"""


# --------------------------------- real decode→resize pipeline (r6)

THUMB_SIZE = 4  # nearest-neighbor thumbnail edge (pixels)

THUMBNAIL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("thumb_sum", LongType()),
        StructField("thumb_checksum", LongType()),
    ]
)


def _thumbnail_rows(doc_id: int, nb: int):
    """The full image pipeline: real PNG decode, then a nearest-neighbor
    downscale of the RECOVERED pixels to a THUMB_SIZE² thumbnail (src =
    (dst·in) div out, the standard integer NN mapping), reduced to
    position-weighted statistics."""
    t = THUMB_SIZE
    rec = _png_gray(doc_id, nb)
    h, w = rec.shape
    ty, tx = np.mgrid[0:t, 0:t]
    stats = _gray_stats(rec[(ty * h) // t, (tx * w) // t], _weight(t, t, *_WP))
    yield {
        "doc_id": doc_id,
        "width": w,
        "height": h,
        "out_w": t,
        "out_h": t,
        "thumb_sum": stats["px_sum"],
        "thumb_checksum": stats["px_checksum"],
    }


def multimodal_thumbnail(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered decode→resize query (multimodal_digest member,
    r6): real PNG decode feeding a real integer nearest-neighbor
    downscale — the canonical image-preprocessing stage of a multimodal
    training pipeline, value-verified end-to-end: the DuckDB oracle
    maps each thumbnail position back through the SAME integer source
    mapping and recomputes the pixel formula there, so a decode bug, an
    off-by-one in the NN mapping, or a transposed axis all break the
    position-weighted checksum. One mapInPandas stage, no shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    image_docs = docs.where(F.expr("doc_id % 3 = 0")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(image_docs), _thumbnail_rows, THUMBNAIL_SCHEMA)


ORACLES["multimodal_thumbnail"] = f"""
WITH img AS (
    SELECT doc_id,
           CAST(8 + doc_id % 9 AS BIGINT) AS w,
           CAST(8 + strlen(text) % 9 AS BIGINT) AS h
    FROM documents WHERE doc_id % 3 = 0
),
xs AS (
    SELECT doc_id, w, h,
           unnest(generate_series(0, {THUMB_SIZE - 1})) AS tx
    FROM img
),
px AS (
    SELECT doc_id, w, h, tx,
           unnest(generate_series(0, {THUMB_SIZE - 1})) AS ty
    FROM xs
),
v AS (
    SELECT doc_id, w, h,
           (doc_id * 7 + ((ty * h) // {THUMB_SIZE}) * 31
            + ((tx * w) // {THUMB_SIZE}) * 13) % 256 AS p,
           1 + (tx * 131 + ty * 137) % 251 AS weight
    FROM px
)
SELECT doc_id,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST({THUMB_SIZE} AS INTEGER) AS out_w,
       CAST({THUMB_SIZE} AS INTEGER) AS out_h,
       CAST(sum(p) AS BIGINT) AS thumb_sum,
       CAST(sum(p * weight) AS BIGINT) AS thumb_checksum
FROM v GROUP BY doc_id
"""


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a decode input to the session's
    default parallelism. The pixel-decode members are CPU-bound Python
    stages; when the upstream scan yields fewer partitions than cores
    (one small parquet file at bench scale — and even at 100 TB, a
    skewed or coalesced upstream), the whole codec runs on one task.
    The exchanged relation is only the projected (doc_id, n_bytes)
    pairs, so the shuffle is orders of magnitude cheaper than the
    decode work it balances — this is load-balancing for CPU-bound
    batch stages, not a data-shape shuffle. Skipped when the input
    already has enough partitions (the 100 TB fast path: no-op)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# --------------------------- baseline-JPEG pixel decode (r7)
#
# The test coefficients live in the {0,4}x{0,4} frequency subspace where
# the IDCT is exactly integer (cos((2x+1)pi/4) = +-sqrt(2)/2, quant
# entries multiples of 8), so DuckDB recomputes every pixel from
# closed-form arithmetic while the decoder runs the fully general float
# transform (llm/codecs/jpeg.py).


# Oracle constants: dequantized contribution of each test frequency is
# coef * Q / 8 (IDCT of the exactly-representable basis {(0,0),(4,0),
# (0,4),(4,4)} — cos((2x+1)pi/4) = +-sqrt(2)/2 squares away all
# irrationals). Derived from the SAME zigzag walk the codec uses.
_ZZ_INDEX = {rc: k for k, rc in enumerate(_jpeg_zigzag())}
JQ_DC = JPEG_QUANT_ZZ[_ZZ_INDEX[(0, 0)]] // 8   # DC
JQ_V4 = JPEG_QUANT_ZZ[_ZZ_INDEX[(4, 0)]] // 8   # (u=0, v=4): y-sign
JQ_U4 = JPEG_QUANT_ZZ[_ZZ_INDEX[(0, 4)]] // 8   # (u=4, v=0): x-sign
JQ_UV4 = JPEG_QUANT_ZZ[_ZZ_INDEX[(4, 4)]] // 8  # (u=4, v=4): both

# chroma-table counterparts (r7b, tq=1) for the color oracle
JQC_DC = JPEG_QUANT_CHROMA_ZZ[_ZZ_INDEX[(0, 0)]] // 8
JQC_V4 = JPEG_QUANT_CHROMA_ZZ[_ZZ_INDEX[(4, 0)]] // 8
JQC_U4 = JPEG_QUANT_CHROMA_ZZ[_ZZ_INDEX[(0, 4)]] // 8
JQC_UV4 = JPEG_QUANT_CHROMA_ZZ[_ZZ_INDEX[(4, 4)]] // 8

JPEG_PIXELS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("px_min", LongType()),
        StructField("px_max", LongType()),
        StructField("px_sum", LongType()),
        StructField("px_checksum", LongType()),
    ]
)


def _jpeg_test_coefs(doc_id: int, nby: int, nbx: int):
    """Deterministic per-block quantized coefficients in the
    exactly-representable frequency subspace. Shared by the synthesis
    path and the pytest vectors; the DuckDB oracle re-derives the same
    values arithmetically."""
    coefs = np.zeros((nby, nbx, 8, 8), dtype=np.int32)
    for by in range(nby):
        for bx in range(nbx):
            coefs[by, bx, 0, 0] = (doc_id * 5 + bx * 3 + by * 7) % 41 - 20
            coefs[by, bx, 4, 0] = (doc_id + bx * 11 + by * 5) % 9 - 4
            coefs[by, bx, 0, 4] = (doc_id * 3 + bx + by * 2) % 9 - 4
            coefs[by, bx, 4, 4] = (doc_id + bx + by * 13) % 7 - 3
    return coefs


def _jpeg_pixels_rows(doc_id: int, nb: int):
    """A REAL baseline JPEG per image doc through the real decoder
    (Huffman + dequant + IDCT + level shift)."""
    w, h = 8 + doc_id % 17, 8 + (doc_id * 3 + nb) % 17
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    px = jpeg_decode_gray(
        jpeg_encode_gray_coefs(_jpeg_test_coefs(doc_id, nby, nbx), w, h)
    )
    assert px.shape == (h, w)
    yield {"doc_id": doc_id, "width": w, "height": h,
           **_gray_stats(px, _weight(h, w, *_W1))}


def multimodal_jpeg_pixels(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered baseline-JPEG pixel-decode query
    (multimodal_digest member, r7): per image doc, a real baseline JPEG
    — standard-structure Huffman tables, DC prediction, AC run-length
    with ZRL/EOB, byte stuffing — round-trips through
    :func:`jpeg_decode_gray`'s genuine entropy-decode + dequant + float
    IDCT path, and the recovered pixels reduce to position-weighted
    statistics. Coefficients live in the {0,4}x{0,4} frequency subspace
    where the IDCT is exactly integer (cos((2x+1)pi/4) = +-sqrt(2)/2,
    quant entries multiples of 8), so DuckDB recomputes every pixel from
    closed-form arithmetic while the decoder runs the fully general
    float transform. One mapInPandas stage, no shuffle.

    Reference parity: closes the decode seam for the format the
    reference's warehouse stack (and any real corpus) carries most."""
    docs = load_table(spark, "documents", sf_dir)
    image_docs = docs.where(F.expr("doc_id % 3 = 1")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(image_docs), _jpeg_pixels_rows, JPEG_PIXELS_SCHEMA)


ORACLES["multimodal_jpeg_pixels"] = f"""
WITH img AS (
    SELECT doc_id,
           CAST(8 + doc_id % 17 AS BIGINT) AS w,
           CAST(8 + (doc_id * 3 + strlen(text)) % 17 AS BIGINT) AS h
    FROM documents WHERE doc_id % 3 = 1
),
xs AS (
    SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM img
),
px AS (
    SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs
),
c AS (
    SELECT doc_id, w, h, x, y,
           (doc_id * 5 + (x // 8) * 3 + (y // 8) * 7) % 41 - 20 AS c_dc,
           (doc_id + (x // 8) * 11 + (y // 8) * 5) % 9 - 4 AS c_v4,
           (doc_id * 3 + (x // 8) + (y // 8) * 2) % 9 - 4 AS c_u4,
           (doc_id + (x // 8) + (y // 8) * 13) % 7 - 3 AS c_uv4,
           CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sx,
           CASE WHEN (y % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sy
    FROM px
),
v AS (
    SELECT doc_id, w, h,
           LEAST(255, GREATEST(0,
               128 + {JQ_DC} * c_dc + {JQ_V4} * sy * c_v4
                   + {JQ_U4} * sx * c_u4 + {JQ_UV4} * sx * sy * c_uv4
           )) AS p,
           1 + (x * 127 + y * 149) % 241 AS weight
    FROM c
)
SELECT doc_id,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(min(p) AS BIGINT) AS px_min,
       CAST(max(p) AS BIGINT) AS px_max,
       CAST(sum(p) AS BIGINT) AS px_sum,
       CAST(sum(p * weight) AS BIGINT) AS px_checksum
FROM v GROUP BY doc_id
"""


# --------------------------- color-JPEG pixel decode (r7b)

COLOR_PIXELS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("r_sum", LongType()),
        StructField("g_sum", LongType()),
        StructField("b_sum", LongType()),
        StructField("rgb_checksum", LongType()),
    ]
)


def _jpeg_color_coefs(doc_id: int, nby: int, nbx: int):
    """Deterministic per-channel quantized coefficients in the
    exactly-representable subspace — the gray formulas salted per
    channel, so a component swap, a luma/chroma table swap, or a broken
    MCU interleave each breaks oracle parity on its own."""
    coefs = np.zeros((3, nby, nbx, 8, 8), dtype=np.int32)
    for ch in range(3):
        for by in range(nby):
            for bx in range(nbx):
                coefs[ch, by, bx, 0, 0] = (
                    doc_id * 5 + ch * 17 + bx * 3 + by * 7
                ) % 41 - 20
                coefs[ch, by, bx, 4, 0] = (
                    doc_id + ch * 7 + bx * 11 + by * 5
                ) % 9 - 4
                coefs[ch, by, bx, 0, 4] = (
                    doc_id * 3 + ch * 5 + bx + by * 2
                ) % 9 - 4
                coefs[ch, by, bx, 4, 4] = (
                    doc_id + ch * 3 + bx + by * 13
                ) % 7 - 3
    return coefs


def _color_pixels_rows(doc_id: int, nb: int):
    """A REAL interleaved YCbCr 4:4:4 baseline JPEG per image doc
    through the real 3-component decoder (per-component Huffman tables
    + predictors, per-component dequant, IDCT planes, fixed-point
    BT.601 to RGB)."""
    w, h = 8 + doc_id % 17, 8 + (doc_id * 3 + nb) % 17
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    rgb = jpeg_decode_color(
        jpeg_encode_color_coefs(_jpeg_color_coefs(doc_id, nby, nbx), w, h)
    )
    yield _rgb_row(doc_id, w, h, rgb)


def multimodal_color_pixels(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered color-JPEG pixel-decode query (multimodal_digest
    member, r7b): per image doc, a real interleaved baseline YCbCr
    4:4:4 JPEG — two quant tables, four Huffman tables (Annex-K chroma
    DC histogram), MCU order Y,Cb,Cr with independent DC predictors —
    round-trips through :func:`jpeg_decode_color`'s genuine multi-
    component entropy decode + per-plane IDCT + fixed-point BT.601
    conversion. Per-channel coefficients live in the exactly-integer
    subspace, and the RGB conversion is spelled in floor-shift integer
    arithmetic (JPEG_FIX_* constants), so DuckDB recomputes every
    channel of every pixel from closed-form arithmetic while the
    decoder runs the fully general float transform. One mapInPandas
    stage, no shuffle.

    Reference parity: extends the r7 grayscale close of the decode
    seam to full-resolution color; the 4:2:0 subsampled family is
    covered by :func:`multimodal_jpeg420_pixels`."""
    docs = load_table(spark, "documents", sf_dir)
    image_docs = docs.where(F.expr("doc_id % 3 = 2")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(image_docs), _color_pixels_rows, COLOR_PIXELS_SCHEMA)


ORACLES["multimodal_color_pixels"] = f"""
WITH img AS (
    SELECT doc_id,
           CAST(8 + doc_id % 17 AS BIGINT) AS w,
           CAST(8 + (doc_id * 3 + strlen(text)) % 17 AS BIGINT) AS h
    FROM documents WHERE doc_id % 3 = 2
),
xs AS (
    SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM img
),
px AS (
    SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs
),
g AS (
    SELECT doc_id, w, h, x, y, x // 8 AS bx, y // 8 AS by,
           CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sx,
           CASE WHEN (y % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sy
    FROM px
),
planes AS (
    SELECT doc_id, w, h, x, y,
           LEAST(255, GREATEST(0,
               128 + {JQ_DC} * ((doc_id * 5 + bx * 3 + by * 7) % 41 - 20)
                   + {JQ_V4} * sy * ((doc_id + bx * 11 + by * 5) % 9 - 4)
                   + {JQ_U4} * sx * ((doc_id * 3 + bx + by * 2) % 9 - 4)
                   + {JQ_UV4} * sx * sy * ((doc_id + bx + by * 13) % 7 - 3)
           )) AS yy,
           LEAST(255, GREATEST(0,
               128 + {JQC_DC} * ((doc_id * 5 + 17 + bx * 3 + by * 7) % 41 - 20)
                   + {JQC_V4} * sy * ((doc_id + 7 + bx * 11 + by * 5) % 9 - 4)
                   + {JQC_U4} * sx * ((doc_id * 3 + 5 + bx + by * 2) % 9 - 4)
                   + {JQC_UV4} * sx * sy * ((doc_id + 3 + bx + by * 13) % 7 - 3)
           )) - 128 AS cb,
           LEAST(255, GREATEST(0,
               128 + {JQC_DC} * ((doc_id * 5 + 34 + bx * 3 + by * 7) % 41 - 20)
                   + {JQC_V4} * sy * ((doc_id + 14 + bx * 11 + by * 5) % 9 - 4)
                   + {JQC_U4} * sx * ((doc_id * 3 + 10 + bx + by * 2) % 9 - 4)
                   + {JQC_UV4} * sx * sy * ((doc_id + 6 + bx + by * 13) % 7 - 3)
           )) - 128 AS cr
    FROM g
),
rgb AS (
    SELECT doc_id, w, h, x, y,
           LEAST(255, GREATEST(0, yy + CAST(floor(
               ({JPEG_FIX_RCR} * cr + 32768) / 65536.0) AS BIGINT))) AS r,
           LEAST(255, GREATEST(0, yy - CAST(floor(
               ({JPEG_FIX_GCB} * cb + {JPEG_FIX_GCR} * cr + 32768)
               / 65536.0) AS BIGINT))) AS gg,
           LEAST(255, GREATEST(0, yy + CAST(floor(
               ({JPEG_FIX_BCB} * cb + 32768) / 65536.0) AS BIGINT))) AS b
    FROM planes
)
SELECT doc_id,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(r) AS BIGINT) AS r_sum,
       CAST(sum(gg) AS BIGINT) AS g_sum,
       CAST(sum(b) AS BIGINT) AS b_sum,
       CAST(sum(r * (1 + (x * 127 + y * 149) % 241)
              + gg * (1 + (x * 131 + y * 137) % 239)
              + b * (1 + (x * 113 + y * 151) % 251)) AS BIGINT)
           AS rgb_checksum
FROM rgb GROUP BY doc_id
"""


# --------------------------- 4:2:0-subsampled JPEG decode (r7b)


def _jpeg_420_coefs(doc_id: int, nmy: int, nmx: int):
    """The 4:2:0 coefficient pair: luma blocks on the (2*nmy, 2*nmx)
    grid with the ch=0 formulas, chroma blocks on the (nmy, nmx) grid
    with the ch=1/2 formulas — same closed forms as 4:4:4, only the
    grids differ, so the oracle reuses the per-channel arithmetic with
    half-resolution chroma indexing."""
    luma = _jpeg_test_coefs(doc_id, 2 * nmy, 2 * nmx)
    chroma = _jpeg_color_coefs(doc_id, nmy, nmx)[1:]
    return luma, chroma


def _jpeg420_geometry(doc_id: int, nb: int):
    """Frame size, 4:2:0 coefficients and restart interval of a
    chroma-subsampled image doc. Multi-MCU frames carry DRI restart
    markers (interval 1) so the restart path — byte realignment,
    predictor resets, EOB-run termination at markers — is
    oracle-checked; single-MCU frames keep the no-DRI path alive.
    Restarts never change pixels, so the oracle ignores them."""
    w, h = 8 + doc_id % 17, 8 + (doc_id * 3 + nb) % 17
    nmx, nmy = (w + 15) // 16, (h + 15) // 16
    luma, chroma = _jpeg_420_coefs(doc_id, nmy, nmx)
    return w, h, luma, chroma, 1 if nmx * nmy > 1 else 0


def _jpeg420_pixels_rows(doc_id: int, nb: int):
    """A REAL 4:2:0 baseline JPEG per image doc (four Y blocks + Cb +
    Cr per MCU) through the real subsampled decoder (generic MCU walk,
    per-component-resolution IDCT planes, replication upsampling,
    fixed-point BT.601)."""
    w, h, luma, chroma, ri = _jpeg420_geometry(doc_id, nb)
    rgb = jpeg_decode_color(
        jpeg_encode_420_coefs(luma, chroma, w, h, restart_interval=ri)
    )
    yield _rgb_row(doc_id, w, h, rgb)


def multimodal_jpeg420_pixels(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered 4:2:0-JPEG pixel-decode query (multimodal_digest
    member, r7b): per image doc, a real chroma-subsampled baseline
    JPEG — each MCU interleaves four raster-order Y blocks with one Cb
    and one Cr — round-trips through the genuine generic-MCU entropy
    decoder, per-component-resolution IDCT planes, replication
    upsampling (chroma sample (y, x) from plane (y//2, x//2), the
    exactly-replayable non-fancy libjpeg mode) and the fixed-point
    BT.601 conversion. DuckDB recomputes every channel in closed form,
    with chroma terms indexed at half resolution — a broken MCU walk,
    upsampler, or predictor chain each breaks parity. One mapInPandas
    stage, no shuffle.

    Reference parity: 4:2:0 is the sampling real-world JPEG corpora
    overwhelmingly use; with it (and DRI) the baseline decode seam for
    images closes except progressive scans."""
    docs = load_table(spark, "documents", sf_dir)
    image_docs = docs.where(F.expr("doc_id % 3 = 0")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(image_docs), _jpeg420_pixels_rows, COLOR_PIXELS_SCHEMA)


ORACLES["multimodal_jpeg420_pixels"] = f"""
WITH img AS (
    SELECT doc_id,
           CAST(8 + doc_id % 17 AS BIGINT) AS w,
           CAST(8 + (doc_id * 3 + strlen(text)) % 17 AS BIGINT) AS h
    FROM documents WHERE doc_id % 3 = 0
),
xs AS (
    SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM img
),
px AS (
    SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs
),
g AS (
    SELECT doc_id, w, h, x, y,
           x // 8 AS bx, y // 8 AS by,
           (x // 2) // 8 AS bxc, (y // 2) // 8 AS byc,
           CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sx,
           CASE WHEN (y % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sy,
           CASE WHEN ((x // 2) % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1
               END AS sxc,
           CASE WHEN ((y // 2) % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1
               END AS syc
    FROM px
),
planes AS (
    SELECT doc_id, w, h, x, y,
           LEAST(255, GREATEST(0,
               128 + {JQ_DC} * ((doc_id * 5 + bx * 3 + by * 7) % 41 - 20)
                   + {JQ_V4} * sy * ((doc_id + bx * 11 + by * 5) % 9 - 4)
                   + {JQ_U4} * sx * ((doc_id * 3 + bx + by * 2) % 9 - 4)
                   + {JQ_UV4} * sx * sy * ((doc_id + bx + by * 13) % 7 - 3)
           )) AS yy,
           LEAST(255, GREATEST(0,
               128 + {JQC_DC} * ((doc_id * 5 + 17 + bxc * 3 + byc * 7) % 41 - 20)
                   + {JQC_V4} * syc * ((doc_id + 7 + bxc * 11 + byc * 5) % 9 - 4)
                   + {JQC_U4} * sxc * ((doc_id * 3 + 5 + bxc + byc * 2) % 9 - 4)
                   + {JQC_UV4} * sxc * syc * ((doc_id + 3 + bxc + byc * 13) % 7 - 3)
           )) - 128 AS cb,
           LEAST(255, GREATEST(0,
               128 + {JQC_DC} * ((doc_id * 5 + 34 + bxc * 3 + byc * 7) % 41 - 20)
                   + {JQC_V4} * syc * ((doc_id + 14 + bxc * 11 + byc * 5) % 9 - 4)
                   + {JQC_U4} * sxc * ((doc_id * 3 + 10 + bxc + byc * 2) % 9 - 4)
                   + {JQC_UV4} * sxc * syc * ((doc_id + 6 + bxc + byc * 13) % 7 - 3)
           )) - 128 AS cr
    FROM g
),
rgb AS (
    SELECT doc_id, w, h, x, y,
           LEAST(255, GREATEST(0, yy + CAST(floor(
               ({JPEG_FIX_RCR} * cr + 32768) / 65536.0) AS BIGINT))) AS r,
           LEAST(255, GREATEST(0, yy - CAST(floor(
               ({JPEG_FIX_GCB} * cb + {JPEG_FIX_GCR} * cr + 32768)
               / 65536.0) AS BIGINT))) AS gg,
           LEAST(255, GREATEST(0, yy + CAST(floor(
               ({JPEG_FIX_BCB} * cb + 32768) / 65536.0) AS BIGINT))) AS b
    FROM planes
)
SELECT doc_id,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(r) AS BIGINT) AS r_sum,
       CAST(sum(gg) AS BIGINT) AS g_sum,
       CAST(sum(b) AS BIGINT) AS b_sum,
       CAST(sum(r * (1 + (x * 127 + y * 149) % 241)
              + gg * (1 + (x * 131 + y * 137) % 239)
              + b * (1 + (x * 113 + y * 151) % 251)) AS BIGINT)
           AS rgb_checksum
FROM rgb GROUP BY doc_id
"""


# ------------------ progressive 4:2:0-JPEG pixel decode (r8)


def _progressive420_rows(doc_id: int, nb: int):
    """A REAL progressive 4:2:0 JPEG per image doc — one interleaved DC
    scan in MCU order (four Y blocks incl. dummies + Cb + Cr per MCU),
    per-component AC band scans over each component's real grid,
    successive approximation over a per-doc depth (0..2) and band
    split, DRI restarts in EVERY scan of multi-MCU frames — decoded
    through the genuine multi-scan parser with per-component grid
    geometry. The scan script is pixel-invariant, so the oracle is the
    sequential 4:2:0 closed form verbatim."""
    w, h, luma, chroma, ri = _jpeg420_geometry(doc_id, nb)
    split = 1 + doc_id % 20
    rgb = jpeg_decode_color(
        jpeg_encode_progressive_sampled_coefs(
            luma, chroma, w, h, 2, 2,
            bands=((1, split), (split + 1, 63)),
            al=doc_id % 3,
            restart_interval=ri,
        )
    )
    yield _rgb_row(doc_id, w, h, rgb)


def multimodal_progressive420_pixels(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered progressive-4:2:0 pixel-decode query
    (multimodal_digest member, r8): the last non-library-bound JPEG
    seam — chroma-subsampled PROGRESSIVE frames. The interleaved DC
    scan walks the MCU grid (dummy luma blocks included, T.81 A.2.3)
    while AC scans walk each component's real ceil-grid; a per-doc
    successive-approximation depth (0..2) exercises the refinement
    ladder on the subsampled geometry. Pixels equal the sequential
    4:2:0 decode of the same coefficients, so DuckDB's half-resolution
    chroma closed form verifies every doc. One mapInPandas stage.

    Reference parity: with this, baseline AND progressive JPEGs at any
    T.81 sampling (factors 1..4, subsampled or not) decode for real."""
    docs = load_table(spark, "documents", sf_dir)
    image_docs = docs.where(F.expr("doc_id % 3 = 2")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(image_docs), _progressive420_rows, COLOR_PIXELS_SCHEMA)


# identical closed form (the scan script never changes pixels); only
# the doc slice differs so the corpus coverage spreads across members
ORACLES["multimodal_progressive420_pixels"] = ORACLES[
    "multimodal_jpeg420_pixels"
].replace("doc_id % 3 = 0", "doc_id % 3 = 2")


# --------------------------- progressive-JPEG pixel decode (r7d)


def _progressive_pixels_rows(doc_id: int, nb: int):
    """A REAL spectral-selection progressive JPEG per image doc (DC
    scan + two AC band scans, EOB-run coded) through the genuine
    multi-scan parser, then the same IDCT path as the sequential
    member. The band split and approximation depth vary per doc, so
    scan boundaries land on every zigzag position class and half the
    corpus runs the full successive-approximation path; pixels are
    script-invariant, so the oracle is untouched."""
    w, h = 8 + (doc_id * 7) % 17, 8 + (doc_id * 5 + nb) % 17
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    split = 1 + doc_id % 20
    px = jpeg_decode_gray(
        jpeg_encode_progressive_coefs(
            _jpeg_test_coefs(doc_id, nby, nbx),
            w,
            h,
            bands=((1, split), (split + 1, 63)),
            al=doc_id % 2,
        )
    )
    assert px.shape == (h, w)
    yield {"doc_id": doc_id, "width": w, "height": h,
           **_gray_stats(px, _weight(h, w, *_W1))}


def multimodal_progressive_pixels(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered progressive-JPEG pixel-decode query
    (multimodal_digest member, r7d): per image doc, a real
    spectral-selection progressive JPEG — SOF2, a DC scan with
    differential predictors, then per-band AC scans coded with EOB-run
    symbols across blocks (T.81 G.1.2.2) — decodes through the genuine
    multi-scan parser that accumulates coefficients scan by scan; for
    half the corpus the script additionally uses successive
    approximation (al=1: point-transformed first scans, then DC/AC
    refinement scans with inline correction bits, r7e). The
    coefficients are the SAME exactly-integer subspace as the
    sequential member, so DuckDB recomputes every pixel in closed form;
    the per-doc band split varies, so parity requires every band
    boundary and EOB-run length the corpus produces to decode
    correctly. One mapInPandas stage, spread across cores.

    Reference parity: with this, every baseline AND progressive
    (spectral selection + successive approximation) grayscale JPEG the
    warehouse carries decodes; :func:`multimodal_progressive_color`
    extends it to color frames."""
    docs = load_table(spark, "documents", sf_dir)
    image_docs = docs.where(F.expr("doc_id % 3 = 1")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(image_docs), _progressive_pixels_rows, JPEG_PIXELS_SCHEMA)


ORACLES["multimodal_progressive_pixels"] = f"""
WITH img AS (
    SELECT doc_id,
           CAST(8 + (doc_id * 7) % 17 AS BIGINT) AS w,
           CAST(8 + (doc_id * 5 + strlen(text)) % 17 AS BIGINT) AS h
    FROM documents WHERE doc_id % 3 = 1
),
xs AS (
    SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM img
),
px AS (
    SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs
),
c AS (
    SELECT doc_id, w, h, x, y,
           (doc_id * 5 + (x // 8) * 3 + (y // 8) * 7) % 41 - 20 AS c_dc,
           (doc_id + (x // 8) * 11 + (y // 8) * 5) % 9 - 4 AS c_v4,
           (doc_id * 3 + (x // 8) + (y // 8) * 2) % 9 - 4 AS c_u4,
           (doc_id + (x // 8) + (y // 8) * 13) % 7 - 3 AS c_uv4,
           CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sx,
           CASE WHEN (y % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sy
    FROM px
),
v AS (
    SELECT doc_id, w, h,
           LEAST(255, GREATEST(0,
               128 + {JQ_DC} * c_dc + {JQ_V4} * sy * c_v4
                   + {JQ_U4} * sx * c_u4 + {JQ_UV4} * sx * sy * c_uv4
           )) AS p,
           1 + (x * 127 + y * 149) % 241 AS weight
    FROM c
)
SELECT doc_id,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(min(p) AS BIGINT) AS px_min,
       CAST(max(p) AS BIGINT) AS px_max,
       CAST(sum(p) AS BIGINT) AS px_sum,
       CAST(sum(p * weight) AS BIGINT) AS px_checksum
FROM v GROUP BY doc_id
"""


# ------------------------ progressive color-JPEG pixel decode (r7e)


def _progressive_color_rows(doc_id: int, nb: int):
    """A REAL progressive COLOR JPEG per image doc (interleaved DC scan
    over Y/Cb/Cr with per-component predictors and tables,
    per-component AC band scans, successive approximation for half the
    corpus) through the genuine multi-scan multi-component parser +
    BT.601 path."""
    w, h = 8 + (doc_id * 11) % 17, 8 + (doc_id * 7 + nb) % 17
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    split = 1 + doc_id % 20
    rgb = jpeg_decode_color(
        jpeg_encode_progressive3_coefs(
            _jpeg_color_coefs(doc_id, nby, nbx),
            w,
            h,
            bands=((1, split), (split + 1, 63)),
            al=doc_id % 2,
        )
    )
    yield _rgb_row(doc_id, w, h, rgb)


def multimodal_progressive_color(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered progressive COLOR JPEG decode query
    (multimodal_digest member, r7e): per image doc, a real SOF2 YCbCr
    4:4:4 progressive JPEG — ONE interleaved DC scan over all three
    components (per-component predictors; chroma DC under the Annex-K
    histogram), then per-COMPONENT AC band scans (T.81 restricts
    progressive AC scans to one component), with half the corpus
    additionally running the full successive-approximation ladder —
    decodes through the genuine multi-scan multi-component parser and
    the fixed-point BT.601 conversion. Same per-channel closed forms
    as the sequential color member at a different frame geometry, so
    DuckDB replays every channel of every pixel; band split and
    approximation depth vary per doc. One mapInPandas stage, spread
    across cores.

    Reference parity: closes the last progressive gap — every
    baseline OR progressive JPEG at 4:4:4/4:2:0/4:2:2 (progressive:
    4:4:4) now decodes; remaining honest gaps are subsampled
    progressive frames and sampling factors > 2."""
    docs = load_table(spark, "documents", sf_dir)
    image_docs = docs.where(F.expr("doc_id % 3 = 0")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(image_docs), _progressive_color_rows, COLOR_PIXELS_SCHEMA)


ORACLES["multimodal_progressive_color"] = f"""
WITH img AS (
    SELECT doc_id,
           CAST(8 + (doc_id * 11) % 17 AS BIGINT) AS w,
           CAST(8 + (doc_id * 7 + strlen(text)) % 17 AS BIGINT) AS h
    FROM documents WHERE doc_id % 3 = 0
),
xs AS (
    SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM img
),
px AS (
    SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs
),
g AS (
    SELECT doc_id, w, h, x, y, x // 8 AS bx, y // 8 AS by,
           CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sx,
           CASE WHEN (y % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sy
    FROM px
),
planes AS (
    SELECT doc_id, w, h, x, y,
           LEAST(255, GREATEST(0,
               128 + {JQ_DC} * ((doc_id * 5 + bx * 3 + by * 7) % 41 - 20)
                   + {JQ_V4} * sy * ((doc_id + bx * 11 + by * 5) % 9 - 4)
                   + {JQ_U4} * sx * ((doc_id * 3 + bx + by * 2) % 9 - 4)
                   + {JQ_UV4} * sx * sy * ((doc_id + bx + by * 13) % 7 - 3)
           )) AS yy,
           LEAST(255, GREATEST(0,
               128 + {JQC_DC} * ((doc_id * 5 + 17 + bx * 3 + by * 7) % 41 - 20)
                   + {JQC_V4} * sy * ((doc_id + 7 + bx * 11 + by * 5) % 9 - 4)
                   + {JQC_U4} * sx * ((doc_id * 3 + 5 + bx + by * 2) % 9 - 4)
                   + {JQC_UV4} * sx * sy * ((doc_id + 3 + bx + by * 13) % 7 - 3)
           )) - 128 AS cb,
           LEAST(255, GREATEST(0,
               128 + {JQC_DC} * ((doc_id * 5 + 34 + bx * 3 + by * 7) % 41 - 20)
                   + {JQC_V4} * sy * ((doc_id + 14 + bx * 11 + by * 5) % 9 - 4)
                   + {JQC_U4} * sx * ((doc_id * 3 + 10 + bx + by * 2) % 9 - 4)
                   + {JQC_UV4} * sx * sy * ((doc_id + 6 + bx + by * 13) % 7 - 3)
           )) - 128 AS cr
    FROM g
),
rgb AS (
    SELECT doc_id, w, h, x, y,
           LEAST(255, GREATEST(0, yy + CAST(floor(
               ({JPEG_FIX_RCR} * cr + 32768) / 65536.0) AS BIGINT))) AS r,
           LEAST(255, GREATEST(0, yy - CAST(floor(
               ({JPEG_FIX_GCB} * cb + {JPEG_FIX_GCR} * cr + 32768)
               / 65536.0) AS BIGINT))) AS gg,
           LEAST(255, GREATEST(0, yy + CAST(floor(
               ({JPEG_FIX_BCB} * cb + 32768) / 65536.0) AS BIGINT))) AS b
    FROM planes
)
SELECT doc_id,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(r) AS BIGINT) AS r_sum,
       CAST(sum(gg) AS BIGINT) AS g_sum,
       CAST(sum(b) AS BIGINT) AS b_sum,
       CAST(sum(r * (1 + (x * 127 + y * 149) % 241)
              + gg * (1 + (x * 131 + y * 137) % 239)
              + b * (1 + (x * 113 + y * 151) % 251)) AS BIGINT)
           AS rgb_checksum
FROM rgb GROUP BY doc_id
"""


# ----------------------------- truecolor-PNG pixel decode (r7e)


def _rgba_planes(doc_id: int, y, x) -> list:
    """Deterministic R, G, B, A planes over an (h, w) grid."""
    return [
        ((doc_id * a + y * b + x * c) % 256).astype(np.uint8)
        for a, b, c in ((7, 31, 13), (11, 17, 29), (3, 23, 19), (13, 7, 37))
    ]


def _png_color_rows(doc_id: int, nb: int):
    """A REAL truecolor (color type 2) filtered+deflated PNG per image
    doc — per-channel deterministic pixels, all five scanline filters —
    round-tripped through the genuine bytewise unfilterer (bpp=3
    stride)."""
    w, h = 8 + (doc_id * 5) % 9, 8 + (nb * 3) % 9
    y, x = np.mgrid[0:h, 0:w]
    rgb = np.stack(_rgba_planes(doc_id, y, x)[:3], axis=-1)
    yield _rgb_row(doc_id, w, h, png_decode(png_encode(rgb)))


def multimodal_png_color(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered truecolor-PNG pixel-decode query
    (multimodal_digest member, r7e): per image doc, a real color type 2
    PNG — three interleaved channels per scanline, all five filters,
    zlib DEFLATE — round-trips through the genuine bytewise unfilterer,
    whose "left" operand is the byte `bpp` positions earlier
    (RFC 2083 §6.2): a stride bug mixes channels and breaks the
    per-channel sums instantly. DuckDB recomputes every channel of
    every pixel from the closed pixel formulas. One mapInPandas stage,
    spread across cores."""
    docs = load_table(spark, "documents", sf_dir)
    image_docs = docs.where(F.expr("doc_id % 3 = 1")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(image_docs), _png_color_rows, COLOR_PIXELS_SCHEMA)


ORACLES["multimodal_png_color"] = """
WITH img AS (
    SELECT doc_id,
           CAST(8 + (doc_id * 5) % 9 AS BIGINT) AS w,
           CAST(8 + (strlen(text) * 3) % 9 AS BIGINT) AS h
    FROM documents WHERE doc_id % 3 = 1
),
xs AS (
    SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM img
),
px AS (
    SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs
),
v AS (
    SELECT doc_id, w, h, x, y,
           (doc_id * 7 + y * 31 + x * 13) % 256 AS r,
           (doc_id * 11 + y * 17 + x * 29) % 256 AS g,
           (doc_id * 3 + y * 23 + x * 19) % 256 AS b
    FROM px
)
SELECT doc_id,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(r) AS BIGINT) AS r_sum,
       CAST(sum(g) AS BIGINT) AS g_sum,
       CAST(sum(b) AS BIGINT) AS b_sum,
       CAST(sum(r * (1 + (x * 127 + y * 149) % 241)
              + g * (1 + (x * 131 + y * 137) % 239)
              + b * (1 + (x * 113 + y * 151) % 251)) AS BIGINT)
           AS rgb_checksum
FROM v GROUP BY doc_id
"""


# ----------- palette / Adam7 / 16-bit PNG pixel decode (r8)



# pal[i] = (i, 7i mod 256, 13i mod 256): every channel a closed form of
# the index, so DuckDB recomputes the lookup
_PALETTE = np.stack(
    [np.arange(256), (np.arange(256) * 7) % 256, (np.arange(256) * 13) % 256],
    axis=-1,
).astype(np.uint8)


def _png_palette_rows(doc_id: int, nb: int):
    """A REAL PALETTE (color type 3) PNG per image doc — all five
    scanline filters, Adam7 interlacing on odd docs (an independently
    filtered sub-image per pass — a storage permutation, so the oracle
    is unchanged) — round-tripped through the genuine chunk walk,
    unfilterer and palette lookup; a 16-bit grayscale image per doc
    round-trips through the two-byte-stride unfilterer, its checksum
    folded into the same verified row (scaled so it cannot cancel
    against the palette channels)."""
    w, h = 8 + (doc_id * 3) % 9, 8 + (nb * 5) % 9
    y, x = np.mgrid[0:h, 0:w]
    inter = bool(doc_id % 2)
    idx = ((doc_id * 7 + y * 31 + x * 13) % 256).astype(np.uint8)
    row = _rgb_row(
        doc_id, w, h, png_decode(png_encode_palette(idx, _PALETTE, interlace=inter))
    )
    # the 16-bit grayscale leg: full uint16 dynamic range
    g16 = ((doc_id * 257 + y * 7919 + x * 104729) % 65536).astype(np.uint16)
    rec16 = png_decode(png_encode(g16, interlace=inter))
    assert rec16.dtype == np.uint16
    g16_sum = int((rec16.astype(np.int64) * _weight(h, w, *_W1)).sum())
    row["rgb_checksum"] += g16_sum * 997
    yield row


def multimodal_png_palette(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered palette/Adam7/16-bit PNG decode query
    (multimodal_digest member, r8): color type 3 images decode through
    PLTE lookup (deterministic palette, so DuckDB recomputes every
    channel as a closed form of the index), odd docs store their
    scanlines ADAM7-interlaced (seven independently-filtered passes the
    decoder scatters back — pixels unchanged, so the oracle is
    interlace-blind exactly as the spec demands), and a per-doc 16-bit
    grayscale image exercises the two-byte-stride unfilterer with its
    checksum folded into the same row. One mapInPandas stage, spread
    across cores."""
    docs = load_table(spark, "documents", sf_dir)
    image_docs = docs.where(F.expr("doc_id % 3 = 0")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(image_docs), _png_palette_rows, COLOR_PIXELS_SCHEMA)


ORACLES["multimodal_png_palette"] = """
WITH img AS (
    SELECT doc_id,
           CAST(8 + (doc_id * 3) % 9 AS BIGINT) AS w,
           CAST(8 + (strlen(text) * 5) % 9 AS BIGINT) AS h
    FROM documents WHERE doc_id % 3 = 0
),
xs AS (
    SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM img
),
px AS (
    SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs
),
v AS (
    SELECT doc_id, w, h, x, y,
           (doc_id * 7 + y * 31 + x * 13) % 256 AS i,
           (doc_id * 257 + y * 7919 + x * 104729) % 65536 AS g16
    FROM px
)
SELECT doc_id,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(i) AS BIGINT) AS r_sum,
       CAST(sum((i * 7) % 256) AS BIGINT) AS g_sum,
       CAST(sum((i * 13) % 256) AS BIGINT) AS b_sum,
       CAST(sum(i * (1 + (x * 127 + y * 149) % 241)
              + ((i * 7) % 256) * (1 + (x * 131 + y * 137) % 239)
              + ((i * 13) % 256) * (1 + (x * 113 + y * 151) % 251)
              + g16 * (1 + (x * 127 + y * 149) % 241) * 997) AS BIGINT)
           AS rgb_checksum
FROM v GROUP BY doc_id
"""


# --------------- alpha-channel + sub-byte PNG pixel decode (r9)

ALPHA_PIXELS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("r_sum", LongType()),
        StructField("g_sum", LongType()),
        StructField("b_sum", LongType()),
        StructField("a_sum", LongType()),
        StructField("rgba_checksum", LongType()),
        StructField("sub_checksum", LongType()),
    ]
)



_PALETTE4 = np.stack(
    [(np.arange(16) * k + c) % 256 for k, c in ((37, 11), (59, 7), (83, 3))],
    axis=-1,
).astype(np.uint8)


def _png_alpha_rows(doc_id: int, nb: int):
    """A REAL RGBA (color type 6) filtered+deflated PNG per image doc —
    four interleaved channels per scanline, so the bytewise unfilterer
    runs at bpp=4 stride and a stride bug bleeds the alpha plane into
    the color sums — plus the sub-byte legs: a 4-bit PALETTE image (16
    packed indices resolve through PLTE) and a 2-bit grayscale image,
    both MSB-first bit-packings through the same filter machinery.
    Adam7 on odd docs (a storage permutation — the oracle is
    interlace-blind exactly as the spec demands). Both sub-byte
    checksums fold into one column, the gray leg scaled so it cannot
    cancel against the palette channels."""
    w, h = 8 + (doc_id * 7) % 9, 8 + (nb * 3) % 9
    y, x = np.mgrid[0:h, 0:w]
    inter = bool(doc_id % 2)
    rgba = np.stack(_rgba_planes(doc_id, y, x), axis=-1)
    rec = png_decode(png_encode(rgba, interlace=inter))
    assert rec.shape == (h, w, 4)
    idx4 = ((doc_id + y * 3 + x * 5) % 16).astype(np.uint8)
    rec4 = png_decode(png_encode_palette(idx4, _PALETTE4, interlace=inter, depth=4))
    g2 = ((doc_id + y + x) % 4).astype(np.uint8)
    rec2 = png_decode(png_encode(g2, interlace=inter, depth=2)).astype(np.int64)
    assert rec2.shape == (h, w)
    w4 = _weight(h, w, *_W4)
    alpha = rec[..., 3].astype(np.int64)
    row = _rgb_row(doc_id, w, h, rec[..., :3])
    row["a_sum"] = int(alpha.sum())
    row["rgba_checksum"] = row["rgb_checksum"] + int((alpha * w4).sum())
    row["sub_checksum"] = (
        _rgb_row(doc_id, w, h, rec4)["rgb_checksum"]
        + int((rec2 * w4).sum()) * 1000003
    )
    yield row


def multimodal_png_alpha(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The registered alpha + sub-byte PNG decode query
    (multimodal_digest member, r9 — the last dependency-free PNG seam,
    VERDICT r8 item 6): RGBA images run the unfilterer at bpp=4 stride
    with the alpha plane summed and checksummed separately; a 4-bit
    palette image and a 2-bit grayscale image exercise the MSB-first
    bit packing/unpacking through every scanline filter; odd docs store
    all three ADAM7-interlaced. DuckDB recomputes every channel of
    every pixel from the closed formulas. One mapInPandas stage, spread
    across cores."""
    docs = load_table(spark, "documents", sf_dir)
    image_docs = docs.where(F.expr("doc_id % 3 = 2")).select(
        "doc_id",
        F.length(F.expr("encode(text, 'UTF-8')")).cast("long").alias("n_bytes"),
    )
    return _map_docs(_spread(image_docs), _png_alpha_rows, ALPHA_PIXELS_SCHEMA)


ORACLES["multimodal_png_alpha"] = """
WITH img AS (
    SELECT doc_id,
           CAST(8 + (doc_id * 7) % 9 AS BIGINT) AS w,
           CAST(8 + (strlen(text) * 3) % 9 AS BIGINT) AS h
    FROM documents WHERE doc_id % 3 = 2
),
xs AS (
    SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM img
),
px AS (
    SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs
),
v AS (
    SELECT doc_id, w, h, x, y,
           (doc_id * 7 + y * 31 + x * 13) % 256 AS r,
           (doc_id * 11 + y * 17 + x * 29) % 256 AS g,
           (doc_id * 3 + y * 23 + x * 19) % 256 AS b,
           (doc_id * 13 + y * 7 + x * 37) % 256 AS a,
           (doc_id + y * 3 + x * 5) % 16 AS i4,
           (doc_id + y + x) % 4 AS g2
    FROM px
)
SELECT doc_id,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(r) AS BIGINT) AS r_sum,
       CAST(sum(g) AS BIGINT) AS g_sum,
       CAST(sum(b) AS BIGINT) AS b_sum,
       CAST(sum(a) AS BIGINT) AS a_sum,
       CAST(sum(r * (1 + (x * 127 + y * 149) % 241)
              + g * (1 + (x * 131 + y * 137) % 239)
              + b * (1 + (x * 113 + y * 151) % 251)
              + a * (1 + (x * 109 + y * 139) % 233)) AS BIGINT)
           AS rgba_checksum,
       CAST(sum(((i4 * 37 + 11) % 256) * (1 + (x * 127 + y * 149) % 241)
              + ((i4 * 59 + 7) % 256) * (1 + (x * 131 + y * 137) % 239)
              + ((i4 * 83 + 3) % 256) * (1 + (x * 113 + y * 151) % 251)
              + g2 * (1 + (x * 109 + y * 139) % 233) * 1000003) AS BIGINT)
           AS sub_checksum
FROM v GROUP BY doc_id
"""
