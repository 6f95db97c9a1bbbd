"""Round-8 operator tests: progressive chroma-subsampled JPEG decode
(the last non-library-bound JPEG seam) and T.81 sampling factors up
to 4 (llm/multimodal.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# --------------- progressive 4:2:0 / 4:2:2 decode (multimodal.py, r8)


def test_progressive_subsampled_equals_sequential():
    """A progressive scan script must never change pixels: for the same
    quantized coefficients, the progressive 4:2:0/4:2:2 decode (MCU-
    interleaved DC with dummy blocks, real-grid AC scans, the full
    successive-approximation ladder) equals the sequential subsampled
    decode bit-for-bit."""
    from dbt_jaffleshop_spark.llm.multimodal import (
        _jpeg_420_coefs,
        jpeg_decode_color,
        jpeg_encode_progressive_sampled_coefs,
        jpeg_encode_sampled_coefs,
    )

    coefs_420 = _jpeg_420_coefs
    for doc_id in range(0, 30, 3):
        w, h = 8 + doc_id % 17, 8 + (doc_id * 3 + 11) % 17
        nmx, nmy = (w + 15) // 16, (h + 15) // 16
        luma, chroma = coefs_420(doc_id, nmy, nmx)
        base = jpeg_decode_color(
            jpeg_encode_sampled_coefs(luma, chroma, w, h, 2, 2)
        )
        for al in (0, 1, 2):
            split = 1 + doc_id % 20
            prog = jpeg_decode_color(
                jpeg_encode_progressive_sampled_coefs(
                    luma, chroma, w, h, 2, 2,
                    bands=((1, split), (split + 1, 63)), al=al,
                )
            )
            assert prog.shape == (h, w, 3)
            assert (prog == base).all(), (doc_id, al)

    # 4:2:2 (hy=2, vy=1): the non-square MCU geometry
    for doc_id in range(5):
        w, h = 10 + doc_id * 3, 9 + doc_id * 2
        nmx, nmy = (w + 15) // 16, (h + 7) // 8
        luma = np.zeros((nmy, 2 * nmx, 8, 8), np.int32)
        luma[..., 0, 0] = (
            doc_id + np.arange(2 * nmx)[None, :, None, None][..., 0, 0]
        ) % 21 - 10
        chroma = np.zeros((2, nmy, nmx, 8, 8), np.int32)
        chroma[..., 0, 0] = doc_id - 2
        base = jpeg_decode_color(
            jpeg_encode_sampled_coefs(luma, chroma, w, h, 2, 1)
        )
        prog = jpeg_decode_color(
            jpeg_encode_progressive_sampled_coefs(
                luma, chroma, w, h, 2, 1, al=1
            )
        )
        assert (prog == base).all(), doc_id


def test_sampling_factors_up_to_four():
    """T.81 B.2.2 allows Hi/Vi in 1..4 (r8: the old gate stopped at 2):
    4:1:1-style geometries decode, progressive == sequential, and a
    factor outside 1..4 is a ValueError (corrupt header), not an
    unsupported-feature gate."""
    from dbt_jaffleshop_spark.llm.multimodal import (
        jpeg_decode_color,
        jpeg_encode_progressive_sampled_coefs,
        jpeg_encode_sampled_coefs,
    )

    for hy, vy in ((4, 1), (4, 2), (3, 1), (1, 4)):
        w, h = 20, 13
        nmx = (w + 8 * hy - 1) // (8 * hy)
        nmy = (h + 8 * vy - 1) // (8 * vy)
        luma = np.zeros((vy * nmy, hy * nmx, 8, 8), np.int32)
        for by in range(vy * nmy):
            for bx in range(hy * nmx):
                luma[by, bx, 0, 0] = (5 + bx * 3 + by * 7) % 41 - 20
                luma[by, bx, 4, 4] = (bx + by * 13) % 7 - 3
        chroma = np.zeros((2, nmy, nmx, 8, 8), np.int32)
        chroma[..., 0, 0] = 4
        rgb = jpeg_decode_color(
            jpeg_encode_sampled_coefs(luma, chroma, w, h, hy, vy)
        )
        assert rgb.shape == (h, w, 3), (hy, vy)
        prog = jpeg_decode_color(
            jpeg_encode_progressive_sampled_coefs(
                luma, chroma, w, h, hy, vy, al=1
            )
        )
        assert (prog == rgb).all(), (hy, vy)

    # factor 5 is outside the standard: corrupt-header contract
    bad = bytearray(
        jpeg_encode_sampled_coefs(
            np.zeros((1, 2, 8, 8), np.int32),
            np.zeros((2, 1, 1, 8, 8), np.int32),
            16, 8, 2, 1,
        )
    )
    sof_at = bytes(bad).find(b"\xff\xc0")
    bad[sof_at + 11] = 0x51  # Y component's (hi, vi) -> 5x1
    with pytest.raises(ValueError, match="1..4"):
        jpeg_decode_color(bytes(bad))


def test_dri_inside_progressive_frames():
    """DRI restart markers inside progressive scans (r8 — previously an
    honest NotImplementedError): every scan kind realigns at RSTm with
    cycling sequence numbers, DC scans reset their predictors, AC scans
    terminate the EOB run at the marker. Pixels must equal the no-DRI
    stream of the same blocks, for gray, 4:4:4 color, and 4:2:0."""
    from dbt_jaffleshop_spark.llm import multimodal as mm

    tc = mm._jpeg_test_coefs
    for doc_id in (0, 5, 9):
        w, h = 24 + doc_id, 25 + doc_id
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        c = tc(doc_id, nby, nbx)
        base = mm.jpeg_decode_gray(
            mm.jpeg_encode_progressive_coefs(c, w, h, al=1)
        )
        for ri in (1, 2, 3):
            payload = mm.jpeg_encode_progressive_coefs(
                c, w, h, al=1, restart_interval=ri
            )
            assert b"\xff\xdd" in payload  # DRI declared
            assert payload.count(b"\xff\xd0") > 0  # RST0 present
            assert (mm.jpeg_decode_gray(payload) == base).all(), (doc_id, ri)

    cc = mm._jpeg_color_coefs
    c3 = cc(4, 3, 3)
    base3 = mm.jpeg_decode_color(
        mm.jpeg_encode_progressive3_coefs(c3, 22, 21, al=1)
    )
    got3 = mm.jpeg_decode_color(
        mm.jpeg_encode_progressive3_coefs(c3, 22, 21, al=1, restart_interval=2)
    )
    assert (got3 == base3).all()

    luma, chroma = mm._jpeg_420_coefs(7, 2, 2)
    base420 = mm.jpeg_decode_color(
        mm.jpeg_encode_progressive_sampled_coefs(luma, chroma, 30, 28, 2, 2, al=2)
    )
    got420 = mm.jpeg_decode_color(
        mm.jpeg_encode_progressive_sampled_coefs(
            luma, chroma, 30, 28, 2, 2, al=2, restart_interval=1
        )
    )
    assert (got420 == base420).all()


# ------------- palette / Adam7 / 16-bit PNG decode (multimodal.py, r8)


def test_png_palette_adam7_and_16bit_roundtrip():
    """The r8 PNG extensions: palette images decode through PLTE lookup,
    Adam7 interlacing round-trips for every supported shape (seven
    independently-filtered passes, including sizes where passes are
    empty), and 16-bit gray/truecolor survive the two/six-byte-stride
    unfilterer with full dynamic range."""
    from dbt_jaffleshop_spark.llm.multimodal import (
        png_decode,
        png_encode,
        png_encode_palette,
    )

    def grid(h, w, s):
        return ((s + np.add.outer(np.arange(h) * 31, np.arange(w) * 13)) % 256).astype(np.uint8)

    pal = np.stack(
        [np.arange(256), (np.arange(256) * 7) % 256, (np.arange(256) * 13) % 256],
        axis=-1,
    ).astype(np.uint8)

    for h, w in [(1, 8), (5, 5), (9, 16), (16, 8), (7, 7), (3, 2)]:
        idx = grid(h, w, 5)
        for ilace in (False, True):
            out = png_decode(png_encode_palette(idx, pal, interlace=ilace))
            assert out.shape == (h, w, 3) and (out == pal[idx]).all(), (h, w, ilace)
            g = grid(h, w, 9)
            assert (png_decode(png_encode(g, interlace=ilace)) == g).all()

    g16 = ((np.add.outer(np.arange(9) * 7919, np.arange(11) * 104729)) % 65536).astype(np.uint16)
    for ilace in (False, True):
        out = png_decode(png_encode(g16, interlace=ilace))
        assert out.dtype == np.uint16 and (out == g16).all()
    rgb16 = np.stack([g16, (g16 * 3).astype(np.uint16), (g16 * 7).astype(np.uint16)], -1)
    assert (png_decode(png_encode(rgb16)) == rgb16).all()
    assert (png_decode(png_encode(rgb16, interlace=True)) == rgb16).all()

    # an index past the palette is corrupt data, not silent black
    with pytest.raises(ValueError, match="palette index"):
        png_decode(png_encode_palette(np.full((2, 2), 200, np.uint8), pal[:16]))


def test_png_palette_query_matches_oracle(spark, oracle, sf_dir):
    """The registered digest member: palette + Adam7 + 16-bit decode
    across the corpus slice vs DuckDB's closed forms."""
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import multimodal as mm

    assert_parity(
        mm.multimodal_png_palette(spark, sf_dir),
        oracle,
        mm.ORACLES["multimodal_png_palette"],
    )


# ------------- star-reduced LSH candidates (llm/dedup.py, r8)


def _components(pairs):
    """Tiny union-find over collected (doc_a, doc_b) pairs."""
    parent = {}

    def find(u):
        parent.setdefault(u, u)
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


def test_minhash_star_pairs_same_clusters_linear_cost(spark, sf_dir):
    """The star-reduced LSH candidate generator (bucket member → bucket
    min, m-1 candidates per bucket instead of m(m-1)/2): on the
    verified corpus its post-verify connected components equal the
    all-pairs generator's cluster for cluster, and on a planted
    mega-bucket (one doc duplicated N times) it emits exactly N-1
    verified edges where all-pairs emits N(N-1)/2."""
    from dbt_jaffleshop_spark.llm import dedup as dd
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    allp = [(r.doc_a, r.doc_b) for r in dd.dedup_minhash_pairs(spark, sf_dir).collect()]
    star = [(r.doc_a, r.doc_b) for r in dd.minhash_star_pairs_over(docs).collect()]
    assert len(star) <= len(allp)
    assert _components(star) == _components(allp)  # same clusters

    # planted mega-bucket: N copies of one text (plus distinct chaff)
    n = 40
    rows = [(i, "the same exact duplicated document text " * 4) for i in range(n)]
    rows += [(100 + i, f"completely unrelated chaff text number {i} " * 3)
             for i in range(5)]
    planted = spark.createDataFrame(rows, "doc_id long, text string")
    star_n = dd.minhash_star_pairs_over(planted).count()
    assert star_n == n - 1  # linear, not n*(n-1)/2 == 780


def test_embedding_lsh_star_pairs_same_clusters(spark, sf_dir):
    """The embedding twin: star-reduced hyperplane-LSH buckets keep the
    all-pairs generator's connected components on the verified corpus,
    with no more edges than all-pairs."""
    from dbt_jaffleshop_spark.llm import dedup as dd

    q = dd._quantized_embeddings(spark, sf_dir)
    allp = [(r.id_a, r.id_b) for r in dd.dedup_embedding_lsh(spark, sf_dir).collect()]
    star = [(r.id_a, r.id_b) for r in dd.embedding_lsh_star_pairs_over(q).collect()]
    assert len(star) <= len(allp)
    assert _components(star) == _components(allp)


# --------------- WAV sample widths (multimodal.py, r8)


def test_wav_decodes_all_uncompressed_widths():
    """PCM 8/24-bit and IEEE float32 decode alongside 16-bit (r8; the
    r6 gate was 16-bit-only), all reporting rms_q in 16-bit-equivalent
    units so the feature is comparable across widths: the same sine
    wave must yield (approximately) the same rms_q whatever the
    container width, and unsupported format tags still return None."""
    import struct

    from dbt_jaffleshop_spark.llm.multimodal import parse_wav

    def wav(fmt_tag, bits, payload, channels=1, rate=8000):
        return (
            b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, fmt_tag, channels,
                                    rate, rate * channels * bits // 8,
                                    channels * bits // 8, bits)
            + b"data" + struct.pack("<I", len(payload)) + payload
        )

    n = 800
    t = np.arange(n) / 8000.0
    x = np.sin(2 * np.pi * 440 * t)  # full-scale sine, rms = 1/sqrt(2)
    s16 = np.round(x * 32767).astype("<i2")
    ref = parse_wav(wav(1, 16, s16.tobytes()))
    assert ref is not None and ref["n_samples"] == n
    assert abs(ref["rms_q"] - 32767 / np.sqrt(2)) < 200

    s8 = (np.round(x * 127) + 128).astype(np.uint8)
    r8b = parse_wav(wav(1, 8, s8.tobytes()))
    assert r8b is not None and r8b["n_samples"] == n
    # 8-bit quantization is coarse: within ~2% of the 16-bit reference
    assert abs(r8b["rms_q"] - ref["rms_q"]) < 0.02 * ref["rms_q"]

    v24 = np.round(x * ((1 << 23) - 1)).astype("int64") & 0xFFFFFF
    b24 = bytes(
        bytearray(
            b for v in v24 for b in (v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF)
        )
    )
    r24 = parse_wav(wav(1, 24, b24))
    assert r24 is not None and r24["n_samples"] == n
    assert abs(r24["rms_q"] - ref["rms_q"]) < 0.01 * ref["rms_q"]

    f32 = x.astype("<f4")
    rf = parse_wav(wav(3, 32, f32.tobytes()))
    assert rf is not None and rf["n_samples"] == n
    assert abs(rf["rms_q"] - ref["rms_q"]) <= 2

    # compressed / unknown tags stay out honestly
    assert parse_wav(wav(85, 0, b"\x00" * 64)) is None  # mp3-in-wav
    assert parse_wav(wav(3, 64, b"\x00" * 64)) is None  # float64


# ------------------- GIF89a animation semantics (multimodal.py, r8)


def test_gif_animation_semantics():
    """The full GIF89a state machine (previously honest gates): sub-rect
    compositing, disposal restore-to-background and restore-to-previous,
    transparency, local palettes, and interlaced storage — each pinned
    against a handcrafted expected canvas, plus equivalence with the
    simple full-canvas path."""
    from dbt_jaffleshop_spark.llm.multimodal import (
        gif_decode_frames,
        gif_decode_rgb,
        gif_encode_animation,
        gif_encode_frames,
    )

    gray = bytes(bytearray(v for i in range(256) for v in (i, i, i)))
    h, w = 7, 9
    y, x = np.mgrid[0:h, 0:w]

    # full-canvas frames decode identically through both paths
    fr = [((f * 17 + y * 31 + x * 13) % 256).astype(np.uint8) for f in range(3)]
    simple, _pal = gif_decode_frames(gif_encode_frames(fr))
    full = gif_decode_rgb(
        gif_encode_animation(w, h, gray, 0, [{"px": p, "disposal": 1} for p in fr])
    )
    for a, b in zip(simple, full):
        assert (b[..., 0] == a).all() and (b[..., 2] == a).all()

    base = np.full((5, 6), 10, np.uint8)
    patch = np.full((2, 3), 99, np.uint8)

    # sub-rect compositing with disposal=keep
    out = gif_decode_rgb(gif_encode_animation(6, 5, gray, 0, [
        {"px": base, "disposal": 1},
        {"px": patch, "left": 2, "top": 1, "disposal": 1},
    ]))
    expect = np.full((5, 6), 10, np.uint8)
    expect[1:3, 2:5] = 99
    assert (out[1][..., 0] == expect).all()

    # disposal=2: the frame's rect refills with the background color
    out = gif_decode_rgb(gif_encode_animation(6, 5, gray, 7, [
        {"px": base, "disposal": 1},
        {"px": patch, "left": 2, "top": 1, "disposal": 2},
        {"px": np.full((1, 1), 50, np.uint8), "disposal": 1},
    ]))
    exp3 = np.full((5, 6), 10, np.uint8)
    exp3[1:3, 2:5] = 7
    exp3[0, 0] = 50
    assert (out[1][1:3, 2:5, 0] == 99).all()  # displayed before disposal
    assert (out[2][..., 0] == exp3).all()

    # disposal=3: canvas reverts to its pre-frame state
    out = gif_decode_rgb(gif_encode_animation(6, 5, gray, 0, [
        {"px": base, "disposal": 1},
        {"px": patch, "left": 2, "top": 1, "disposal": 3},
        {"px": np.full((1, 1), 50, np.uint8), "left": 5, "top": 4, "disposal": 1},
    ]))
    exp3 = np.full((5, 6), 10, np.uint8)
    exp3[4, 5] = 50
    assert (out[1][1:3, 2:5, 0] == 99).all()
    assert (out[2][..., 0] == exp3).all()

    # transparency: the transparent index keeps the underlying canvas
    tr = np.array([[7, 20], [20, 7]], np.uint8)
    out = gif_decode_rgb(gif_encode_animation(6, 5, gray, 0, [
        {"px": base, "disposal": 1},
        {"px": tr, "left": 1, "top": 1, "transparent": 7, "disposal": 1},
    ]))
    exp = np.full((5, 6), 10, np.uint8)
    exp[1, 2] = 20
    exp[2, 1] = 20
    assert (out[1][..., 0] == exp).all()

    # local palette overrides the global one for its frame only
    shift = bytes(bytearray(v for i in range(256) for v in (((i + 5) % 256),) * 3))
    out = gif_decode_rgb(gif_encode_animation(6, 5, gray, 0, [
        {"px": base, "disposal": 1},
        {"px": patch, "left": 0, "top": 0, "palette": shift, "disposal": 1},
    ]))
    assert (out[1][0:2, 0:3, 0] == (99 + 5) % 256).all()
    assert out[1][3, 3, 0] == 10

    # interlaced storage is a pure row permutation: pixels round-trip
    big = ((np.add.outer(np.arange(16) * 31, np.arange(9) * 13)) % 256).astype(np.uint8)
    out = gif_decode_rgb(gif_encode_animation(9, 16, gray, 0, [
        {"px": big, "interlace": True, "disposal": 1},
    ]))
    assert (out[0][..., 0] == big).all()

    # rect out of canvas bounds is a loud error, not silent clipping
    with pytest.raises(ValueError, match="exceeds the canvas"):
        gif_decode_rgb(gif_encode_animation(6, 5, gray, 0, [
            {"px": patch, "left": 4, "top": 4, "disposal": 1},
        ]))


def test_gif_anim_query_matches_oracle(spark, oracle, sf_dir):
    """The registered digest member: real animated GIFs (sub-rects,
    local palettes, interlace) vs DuckDB's last-covering-frame argmax
    closed form."""
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import multimodal as mm

    assert_parity(
        mm.multimodal_gif_anim(spark, sf_dir),
        oracle,
        mm.ORACLES["multimodal_gif_anim"],
    )


def test_bucketed_join_is_shuffle_free_and_exact(spark, sf_dir, tmp_path):
    """Bucketed co-located joins (functions/bucketing.py, r8): two fact
    relations written bucketed on the join key sort-merge-join with NO
    Exchange on either side — the write-once/join-many 100 TB pattern —
    and the result is row-identical to the plain join."""
    from dbt_jaffleshop_spark.functions.bucketing import (
        bucketed_join,
        write_bucketed,
    )
    from dbt_jaffleshop_spark.sources import load_table

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_totalprice"
    )
    items = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice"
    ).withColumnRenamed("l_orderkey", "o_orderkey")

    write_bucketed(orders, "b_orders", "o_orderkey", 8,
                   path=str(tmp_path / "b_orders"))
    write_bucketed(items, "b_items", "o_orderkey", 8,
                   path=str(tmp_path / "b_items"))
    try:
        # forbid the broadcast escape hatch: the no-Exchange claim must
        # hold for the fact-to-fact (sort-merge) shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_items", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle
        assert "Bucketed: true" in plan, plan

        expect = orders.join(items, "o_orderkey").count()
        assert joined.count() == expect > 0

        # bucket PRUNING: a point lookup on the bucket key reads ONE
        # bucket's files (Spark's autoBucketedScan drops bucketed
        # reading when a query gains nothing from it — e.g. this plain
        # filter — so pin the pruning with it disabled; joins/aggs keep
        # bucketed scans under the default config regardless)
        import re

        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            point = spark.table("b_orders").where("o_orderkey = 42")
            pplan = point._jdf.queryExecution().executedPlan().toString()
            m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", pplan)
            assert m and m.groups() == ("1", "8"), pplan
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
            )
        # exact content, not just count (integer cents: float-sum order
        # differs between the bucketed and shuffled plans)
        cents = (
            F.round(F.col("o_totalprice") * 100).cast("long")
            + F.round(F.col("l_extendedprice") * 100).cast("long")
        )
        a = joined.agg(F.sum(cents)).first()[0]
        b = orders.join(items, "o_orderkey").agg(F.sum(cents)).first()[0]
        assert a == b
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_items")


def test_progressive420_query_matches_oracle(spark, oracle, sf_dir):
    """The registered digest member: real progressive 4:2:0 synthesis +
    decode across the corpus slice vs DuckDB's half-resolution-chroma
    closed form (scan script is pixel-invariant, so the sequential
    oracle verifies the progressive decode exactly)."""
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import multimodal as mm

    assert_parity(
        mm.multimodal_progressive420_pixels(spark, sf_dir),
        oracle,
        mm.ORACLES["multimodal_progressive420_pixels"],
    )
