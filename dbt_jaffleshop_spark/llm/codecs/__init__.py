"""Dependency-free media codecs: stdlib and numpy only, no Spark.

Each module is a complete encoder/decoder for one format, so the
multimodal operators (``llm/multimodal.py``) synthesize real payloads
and decode them inside Python workers, and the codecs are unit-tested
without a SparkSession:

* ``png``  — every RFC 2083 color type and bit depth, Adam7, all filters.
* ``gif``  — LZW frames and the GIF89a animation state machine.
* ``jpeg`` — baseline and progressive T.81 Huffman JPEG, any sampling.
* ``flac`` — RFC 9639 fixed/LPC prediction with Rice residuals.
* ``wav``  — RIFF/WAVE PCM 8/16/24-bit and float32 decode.
"""
