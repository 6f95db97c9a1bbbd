"""Round-7 operator tests: baseline-JPEG pixel decode.

The digest slot verifies decoded-pixel statistics against the DuckDB
closed-form oracle; these tests pin what content-equality cannot see:
that the entropy layer is lossless (parsed quantized coefficients ==
synthesized), that the general float IDCT matches a per-definition
naive transform on arbitrary coefficients (not just the
exactly-integer test subspace), that byte stuffing really occurs and
survives, and that the unsupported-subset/corruption contracts hold.
"""

from __future__ import annotations

import numpy as np
import pytest

from dbt_jaffleshop_spark.llm import multimodal as mm

ZZ = mm._jpeg_zigzag()


def _zz_list(block) -> list[int]:
    return [int(block[r][c]) for r, c in ZZ]


def test_jpeg_zigzag_walk_matches_spec_landmarks():
    # T.81 Figure 5 landmarks: start, first diagonal, the (4,*) row
    # entries the oracle constants depend on, and the end
    assert ZZ[0] == (0, 0)
    assert ZZ[1] == (0, 1) and ZZ[2] == (1, 0)
    assert ZZ[10] == (4, 0) and ZZ[14] == (0, 4) and ZZ[39] == (4, 4)
    assert ZZ[63] == (7, 7)
    assert sorted(ZZ) == [(r, c) for r in range(8) for c in range(8)]


def test_jpeg_exact_subspace_matches_closed_form():
    """Pixels from the {0,4}x{0,4} coefficient subspace must equal the
    integer closed form the DuckDB oracle computes — the float IDCT's
    error stays far below the 0.5 rounding margin."""
    for doc_id in (1, 4, 13, 25, 52):
        nb = (doc_id * 37) % 400
        w, h = 8 + doc_id % 17, 8 + (doc_id * 3 + nb) % 17
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        coefs = mm._jpeg_test_coefs(doc_id, nby, nbx)
        px = mm.jpeg_decode_gray(
            mm.jpeg_encode_gray_coefs(coefs, w, h)
        ).astype(np.int64)
        assert px.shape == (h, w)
        y, x = np.mgrid[0:h, 0:w]
        sx = np.where(np.isin(x % 8, [0, 3, 4, 7]), 1, -1)
        sy = np.where(np.isin(y % 8, [0, 3, 4, 7]), 1, -1)
        bx, by = x // 8, y // 8
        exp = np.clip(
            128
            + mm.JQ_DC * ((doc_id * 5 + bx * 3 + by * 7) % 41 - 20)
            + mm.JQ_V4 * sy * ((doc_id + bx * 11 + by * 5) % 9 - 4)
            + mm.JQ_U4 * sx * ((doc_id * 3 + bx + by * 2) % 9 - 4)
            + mm.JQ_UV4 * sx * sy * ((doc_id + bx + by * 13) % 7 - 3),
            0,
            255,
        )
        assert (px == exp).all(), doc_id


def test_jpeg_entropy_layer_is_lossless_on_general_coefs():
    """Arbitrary coefficients (every frequency, DC swings both ways,
    zero runs of every length) must survive encode->parse exactly:
    Huffman + DC prediction + ZRL/EOB + byte stuffing are lossless."""
    rng = np.random.default_rng(11)
    coefs = rng.integers(-40, 41, size=(3, 2, 8, 8)).astype(np.int32)
    coefs[0, 0, 5:, :] = 0  # trailing zeros -> EOB path
    coefs[1, 1, :, :] = 0  # all-zero block -> immediate EOB
    coefs[1, 1, 7, 7] = 3  # 62-zero run -> 3x ZRL then (run, size)
    payload = mm.jpeg_encode_gray_coefs(coefs, 16, 24)
    w, h, quant, blocks = mm.jpeg_parse_gray(payload)
    assert (w, h) == (16, 24)
    assert quant == mm.JPEG_QUANT_ZZ
    for by in range(3):
        for bx in range(2):
            assert list(blocks[by, bx]) == _zz_list(coefs[by, bx])


def test_jpeg_idct_matches_naive_definition():
    """The vectorized einsum IDCT must match a straight per-definition
    O(64^2) transform on random general coefficients."""
    rng = np.random.default_rng(23)
    coefs = rng.integers(-30, 31, size=(1, 1, 8, 8)).astype(np.int32)
    px = mm.jpeg_decode_gray(mm.jpeg_encode_gray_coefs(coefs, 8, 8))

    def c(u):
        return 1 / np.sqrt(2) if u == 0 else 1.0

    deq = np.zeros((8, 8))
    for k, (r, cc) in enumerate(ZZ):
        deq[r][cc] = int(coefs[0, 0, r, cc]) * mm.JPEG_QUANT_ZZ[k]
    naive = np.zeros((8, 8))
    for yy in range(8):
        for xx in range(8):
            naive[yy][xx] = sum(
                c(u) * c(v) / 4 * deq[v][u]
                * np.cos((2 * xx + 1) * u * np.pi / 16)
                * np.cos((2 * yy + 1) * v * np.pi / 16)
                for v in range(8)
                for u in range(8)
            )
    expected = np.clip(np.round(naive + 128), 0, 255).astype(np.uint8)
    assert (px == expected).all()


def test_jpeg_byte_stuffing_is_exercised():
    """At least one synthesized stream must contain a stuffed 0xFF 0x00
    inside the entropy data (and still decode) — otherwise the
    de-stuffing path would be dead code in the verified corpus."""
    hit = False
    for doc_id in range(1, 200):
        nb = (doc_id * 37) % 400
        w, h = 8 + doc_id % 17, 8 + (doc_id * 3 + nb) % 17
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        payload = mm.jpeg_encode_gray_coefs(
            mm._jpeg_test_coefs(doc_id, nby, nbx), w, h
        )
        # entropy data lies between the SOS header and EOI
        sos = payload.find(b"\xff\xda")
        body = payload[sos + 2 :-2]
        if b"\xff\x00" in body:
            mm.jpeg_decode_gray(payload)  # must still decode cleanly
            hit = True
            break
    assert hit, "no stuffed byte in 200 synthesized streams"


def test_jpeg_unsupported_subset_is_honest():
    base = mm.jpeg_encode_gray_coefs(np.zeros((1, 1, 8, 8), np.int32), 8, 8)
    # flipping SOF0 to SOF2 makes the baseline full-band scan an
    # ILLEGAL progressive scan (Ss=0 requires Se=0) — since r7d the
    # parser understands progressive frames and rejects the bad band
    # instead of refusing the frame type
    prog = base.replace(b"\xff\xc0", b"\xff\xc2")
    with pytest.raises(ValueError, match="Ss=Se=0"):
        mm.jpeg_parse_gray(prog)
    # truncated entropy stream
    with pytest.raises(ValueError):
        mm.jpeg_decode_gray(base[:-4] + b"\xff\xd9")
    # not a JPEG at all
    with pytest.raises(ValueError, match="SOI"):
        mm.jpeg_parse_gray(b"\x00\x01\x02\x03")


def test_jpeg_dc_prediction_spans_blocks():
    """DC coding is differential across blocks in scan order — pin it by
    decoding a 2-block image whose DCs differ and checking both blocks'
    mean levels recover independently."""
    coefs = np.zeros((1, 2, 8, 8), np.int32)
    coefs[0, 0, 0, 0] = 10  # first block: 128 + 10*2
    coefs[0, 1, 0, 0] = -10  # second: diff of -20 through the predictor
    px = mm.jpeg_decode_gray(mm.jpeg_encode_gray_coefs(coefs, 16, 8))
    assert int(px[0, 0]) == 128 + mm.JQ_DC * 10
    assert int(px[0, 8]) == 128 - mm.JQ_DC * 10


def test_jpeg_pixels_query_runs(spark, sf_dir):
    df = mm.multimodal_jpeg_pixels(spark, sf_dir)
    rows = df.limit(5).collect()
    assert rows and all(r["n_pixels"] == r["width"] * r["height"] for r in rows)


# ----------------------------- IVF-PQ (ADC) search (llm/similarity.py)


def test_sim_ivfpq_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import similarity

    assert_parity(
        similarity.sim_ivfpq_topk(spark, sf_dir),
        oracle,
        similarity.IVFPQ_ORACLE,
    )


def test_sim_ivfpq_seed_vectors_score_exactly(spark, sf_dir):
    """The asymmetric-distance property, pinned on its exact case: a
    seed vector IS its own codeword in every subspace (distance 0), so
    its PQ reconstruction is lossless — for any query, the ADC score of
    a seed-vector candidate must equal the EXACT cosine. Quantization
    error exists only on the database side, and for these rows it is
    zero."""
    from dbt_jaffleshop_spark.llm import similarity
    from dbt_jaffleshop_spark.llm.dedup import _quantized_embeddings
    from pyspark.sql import functions as F

    q = _quantized_embeddings(spark, sf_dir)
    # exact cosine of every (query, seed) pair
    seeds = q.where(F.col("vec_id") < similarity.PQ_K)
    exact = {
        (r.query_id, r.neighbor_id): r.cos
        for r in F.broadcast(
            q.where(F.col("vec_id") % similarity.QUERY_STRIDE == 0).select(
                F.col("vec_id").alias("query_id"),
                F.col("e").alias("qe"),
                F.col("nrm").alias("na"),
            )
        )
        .join(seeds.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("e").alias("ce"),
            F.col("nrm").alias("nb"),
        ))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "cast(aggregate(zip_with(qe, ce, (x, y) -> x * y), 0L,"
                " (acc, x) -> acc + x) as double)"
                " / (sqrt(cast(na as double)) * sqrt(cast(nb as double)))"
            ).alias("cos"),
        )
        .collect()
    }
    adc = similarity.sim_ivfpq_topk(spark, sf_dir).collect()
    seed_rows = [r for r in adc if r.neighbor_id < similarity.PQ_K]
    assert seed_rows, "no seed vector reached any query's top-k"
    for r in seed_rows:
        assert r.adc_sim == exact[(r.query_id, r.neighbor_id)], r


def test_sim_ivfpq_plan_is_jvm_side(spark, sf_dir):
    from dbt_jaffleshop_spark.llm import similarity

    plan = (
        similarity.sim_ivfpq_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_sim_ivfpq_recall_measured_against_exact(spark, sf_dir):
    """ADC search approximates the in-cell exact ranking: per query, the
    ADC top-3 and the exact-cosine top-3 restricted to the SAME cell
    must overlap substantially (planted sanity floor: mean in-cell
    recall >= 1/3 — ADC error comes only from PQ reconstruction, the
    cell restriction is identical by construction)."""
    from collections import defaultdict

    from dbt_jaffleshop_spark.llm import similarity

    def hits(df):
        by_q = defaultdict(set)
        for r in df.collect():
            by_q[r.query_id].add(r.neighbor_id)
        return by_q

    in_cell_exact = hits(similarity.sim_ivf_topk(spark, sf_dir))
    adc = hits(similarity.sim_ivfpq_topk(spark, sf_dir))
    assert set(adc) == set(in_cell_exact)  # same query universe (same cells)
    recalls = [
        len(adc[q] & truth) / max(len(truth), 1)
        for q, truth in in_cell_exact.items()
    ]
    assert sum(recalls) / len(recalls) >= 1 / 3, recalls


# --------------------- anomaly overflow auto-guard (llm/events.py)


def test_anomaly_guard_survives_near_bound_counts(spark):
    """Planted counts past the int64-safe bound (~2.2e8/day) must
    neither wrap nor raise: the automatic power-of-1000 pre-scale keeps
    every term of the z-test in range, and the flags match an
    arbitrary-precision Python replay of the scaled algorithm."""
    import datetime as dt

    from dbt_jaffleshop_spark.llm import events as ev

    base = dt.date(2025, 1, 1)
    # hot type: ~4e9 events/day (unscaled sumsq alone would exceed
    # 2^63), calm for 9 days then a 3x spike on day 10
    counts = [4_000_000_000 + d * 1_000_000 for d in range(9)]
    counts.append(12_000_000_000)
    rows = [
        ("hot", base + dt.timedelta(days=d), c)
        for d, c in enumerate(counts)
    ]
    daily = spark.createDataFrame(
        rows, "event_type string, day date, n_events long"
    )
    got = {r.day: r for r in ev._anomaly_flags(daily).collect()}
    n, z2 = ev.ANOMALY_WINDOW_DAYS, ev.ANOMALY_Z**2
    scale = 1000  # max 1.2e10 is in the (2e8, 2e11] tier
    cs = [c // scale for c in counts]
    expect = {}
    for i in range(n, len(counts)):
        win = cs[i - n : i]
        s, q = sum(win), sum(x * x for x in win)
        expect[str(base + dt.timedelta(days=i))] = (
            (n * cs[i] - s) ** 2 > z2 * (n * q - s * s)
        )
    assert {d: r.is_anomaly for d, r in got.items()} == expect
    assert got[str(base + dt.timedelta(days=9))].is_anomaly  # the spike
    # raw outputs stay unscaled
    assert got[str(base + dt.timedelta(days=9))].n_events == counts[9]

    # top tier (ADVICE r7): counts past 2.17e17 must hit the 1e12
    # divisor — under the old 1e9 ceiling c_s itself exceeded the safe
    # bound and the z-test terms could still wrap int64. (Counts are
    # kept under ~1.3e18 so the RAW win_sum output — a 7-day sum the
    # operator emits unscaled — itself stays inside int64.)
    counts = [1_000_000_000_000_000_000 + d * 10**13 for d in range(9)]
    counts.append(3_000_000_000_000_000_000)  # 3e18 spike, tier-4 max
    rows = [
        ("vast", base + dt.timedelta(days=d), c)
        for d, c in enumerate(counts)
    ]
    daily = spark.createDataFrame(
        rows, "event_type string, day date, n_events long"
    )
    got = {r.day: r for r in ev._anomaly_flags(daily).collect()}
    scale = 10**12
    cs = [c // scale for c in counts]
    assert max(cs) <= ev.ANOMALY_SAFE_MAX  # the guard's invariant holds
    expect = {}
    for i in range(n, len(counts)):
        win = cs[i - n : i]
        s, q = sum(win), sum(x * x for x in win)
        expect[str(base + dt.timedelta(days=i))] = (
            (n * cs[i] - s) ** 2 > z2 * (n * q - s * s)
        )
    assert {d: r.is_anomaly for d, r in got.items()} == expect
    assert got[str(base + dt.timedelta(days=9))].n_events == counts[9]


def test_anomaly_guard_is_identity_within_bounds(spark, oracle, sf_dir):
    """On in-bound data scale == 1: the operator still matches the
    (also-guarded) DuckDB oracle bit-for-bit on the real corpus."""
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import events as ev

    assert_parity(
        ev.events_daily_anomalies(spark, sf_dir), oracle, ev.ANOMALY_ORACLE
    )


# --------------------- salted skew-join verification (llm/events.py)


def test_events_salted_join_matches_plain_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import events as ev

    assert_parity(
        ev.events_salted_join(spark, sf_dir),
        oracle,
        ev.ORACLES["events_salted_join"],
    )


def test_events_salted_join_skew_is_real(spark, sf_dir):
    """The verified distribution must actually be skewed (one key owns
    the majority of fact rows) — otherwise the digest row would verify
    salting on a flat distribution where it is decorative."""
    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import events as ev
    from dbt_jaffleshop_spark.sources import load_table

    fact = load_table(spark, "events", sf_dir).withColumn(
        "skew_key", F.expr(ev._SKEW_KEY)
    )
    total = fact.count()
    hot = fact.where(F.col("skew_key") == 0).count()
    assert hot / total > 0.6, (hot, total)


# --------------------- range_bin_join / bloom_prefilter_join
# (functions/joins.py + llm/events.py wrappers)


def test_range_bin_join_identity_vs_naive(spark):
    """The binned rewrite must be row-identical to the naive range join
    on a randomized (fixed-seed) corpus that exercises multi-bin
    intervals, zero-length intervals, and bin-boundary points."""
    import random

    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.functions.joins import range_bin_join

    rng = random.Random(7)
    pts = [(i, rng.randint(0, 5), rng.randint(0, 10_000)) for i in range(800)]
    ivs = []
    for j in range(160):
        lo = rng.choice([rng.randint(0, 9_500), 256 * rng.randint(0, 37)])
        ivs.append(
            (j, rng.randint(0, 5), lo, lo + rng.choice([0, 1, 50, 500, 3000]))
        )
    left = spark.createDataFrame(pts, "pid long, k long, t long")
    right = spark.createDataFrame(ivs, "iid long, k long, lo long, hi long")
    got = range_bin_join(left, right, "t", "lo", "hi", on=["k"], bin_width=256)
    want = left.join(right, on=["k"], how="inner").where(
        F.col("t").between(F.col("lo"), F.col("hi"))
    )
    a = sorted(map(tuple, got.select("pid", "iid").collect()))
    b = sorted(map(tuple, want.select("pid", "iid").collect()))
    assert a == b and len(a) > 0


def test_events_range_join_matches_plain_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import events as ev

    assert_parity(
        ev.events_range_join(spark, sf_dir),
        oracle,
        ev.ORACLES["events_range_join"],
    )


def test_events_range_join_plan_is_equi(spark, sf_dir):
    """THE claim: binning turns the range predicate into a hashable
    equi-join — the plan must contain no nested-loop or cartesian join
    and no Python eval."""
    from dbt_jaffleshop_spark.llm import events as ev

    plan = (
        ev.events_range_join(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_bloom_prefilter_join_identity_and_soundness(spark):
    from dbt_jaffleshop_spark.functions.joins import bloom_prefilter_join

    big = spark.createDataFrame(
        [(i, i % 997) for i in range(20_000)], "rid long, key long"
    )
    small = spark.createDataFrame(
        [(v, v * 3) for v in range(0, 997, 7)], "key long, w long"
    )
    got = bloom_prefilter_join(big, small, on=["key"], m_bits=1 << 12, k=3)
    want = big.join(small, on=["key"], how="inner")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    semi = bloom_prefilter_join(big, small, on=["key"], how="left_semi")
    semi_want = big.join(small, on=["key"], how="left_semi")
    assert sorted(map(tuple, semi.collect())) == sorted(
        map(tuple, semi_want.collect())
    )
    with pytest.raises(ValueError):
        bloom_prefilter_join(big, small, on=["key"], how="left")


def test_bloom_prefilter_actually_prunes(spark, sf_dir):
    """The prefilter must drop a real fraction of the probe side
    BEFORE the join (on the digest distribution ~77% of events belong
    to non-BUILDING users) — otherwise the operator is decorative.
    Measured on the prefilter's intermediate relation itself, and the
    kept set must cover every true match."""
    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.functions.joins import bloom_bitmap, bloom_prefilter
    from dbt_jaffleshop_spark.sources import load_table

    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id")
    dim = (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"))
    )
    m_bits, k = 1 << 12, 3
    words = bloom_bitmap(dim, ["user_id"], m_bits, k)
    kept = bloom_prefilter(ev, words, ["user_id"], m_bits, k)
    total, survived = ev.count(), kept.count()
    assert survived < 0.4 * total, (survived, total)
    # zero false negatives: the kept set contains every matching row
    true_matches = ev.join(dim, on=["user_id"], how="left_semi")
    assert true_matches.join(kept, on=["event_id"], how="left_anti").count() == 0


def test_events_bloom_join_matches_plain_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import events as ev

    assert_parity(
        ev.events_bloom_join(spark, sf_dir),
        oracle,
        ev.ORACLES["events_bloom_join"],
    )


def test_events_bloom_join_plan_is_jvm_side(spark, sf_dir):
    from dbt_jaffleshop_spark.llm import events as ev

    plan = (
        ev.events_bloom_join(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the bitmap probes


# --------------------- color-JPEG decode (llm/multimodal.py, r7b)


def test_jpeg_color_entropy_layer_is_lossless():
    """Interleaved 3-component entropy coding must recover every
    quantized coefficient of every component exactly — general random
    coefficients, not just the oracle's subspace."""
    rng = np.random.default_rng(42)
    coefs = rng.integers(-60, 60, size=(3, 2, 3, 8, 8)).astype(np.int32)
    payload = mm.jpeg_encode_color_coefs(coefs, 24, 16)
    w, h, quants, blocks, samplings = mm.jpeg_parse_any(payload)
    assert (w, h) == (24, 16)
    assert samplings == [(1, 1)] * 3
    nat = np.zeros_like(coefs)
    for ci in range(3):
        for k, (r, c) in enumerate(ZZ):
            nat[ci, :, :, r, c] = blocks[ci][:, :, k]
    assert np.array_equal(nat, coefs)
    # per-component quant routing: luma table 0, chroma table 1
    assert quants[0] == mm.JPEG_QUANT_ZZ
    assert quants[1] == mm.JPEG_QUANT_CHROMA_ZZ
    assert quants[2] == mm.JPEG_QUANT_CHROMA_ZZ


def test_jpeg_color_exact_subspace_matches_closed_form():
    """RGB pixels from the per-channel {0,4}x{0,4} subspace must equal
    the integer closed form the DuckDB oracle computes, through the
    general float IDCT and the fixed-point BT.601 conversion."""
    zzi = {rc: k for k, rc in enumerate(ZZ)}

    for doc_id in (2, 8, 14, 23):
        w, h = 8 + doc_id % 17, 8 + (doc_id * 5) % 17
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        rgb = mm.jpeg_decode_color(
            mm.jpeg_encode_color_coefs(
                mm._jpeg_color_coefs(doc_id, nby, nbx), w, h
            )
        ).astype(np.int64)
        assert rgb.shape == (h, w, 3)
        y_, x_ = np.mgrid[0:h, 0:w]
        sx = np.where(np.isin(x_ % 8, [0, 3, 4, 7]), 1, -1)
        sy = np.where(np.isin(y_ % 8, [0, 3, 4, 7]), 1, -1)
        bx, by = x_ // 8, y_ // 8
        planes = []
        for ch in range(3):
            tab = mm.JPEG_QUANT_ZZ if ch == 0 else mm.JPEG_QUANT_CHROMA_ZZ

            def q(rc):
                return tab[zzi[rc]] // 8

            planes.append(
                np.clip(
                    128
                    + q((0, 0))
                    * ((doc_id * 5 + ch * 17 + bx * 3 + by * 7) % 41 - 20)
                    + q((4, 0)) * sy
                    * ((doc_id + ch * 7 + bx * 11 + by * 5) % 9 - 4)
                    + q((0, 4)) * sx
                    * ((doc_id * 3 + ch * 5 + bx + by * 2) % 9 - 4)
                    + q((4, 4)) * sx * sy
                    * ((doc_id + ch * 3 + bx + by * 13) % 7 - 3),
                    0,
                    255,
                ).astype(np.int64)
            )
        yy, cb, cr = planes[0], planes[1] - 128, planes[2] - 128
        exp = np.stack(
            [
                np.clip(yy + ((mm.JPEG_FIX_RCR * cr + 32768) >> 16), 0, 255),
                np.clip(
                    yy
                    - (
                        (mm.JPEG_FIX_GCB * cb + mm.JPEG_FIX_GCR * cr + 32768)
                        >> 16
                    ),
                    0,
                    255,
                ),
                np.clip(yy + ((mm.JPEG_FIX_BCB * cb + 32768) >> 16), 0, 255),
            ],
            axis=-1,
        )
        assert np.array_equal(rgb, exp), doc_id


def test_jpeg_color_honest_subset():
    coefs = np.zeros((3, 1, 1, 8, 8), np.int32)
    base = mm.jpeg_encode_color_coefs(coefs, 8, 8)
    # the gray adapter refuses a 3-component scan rather than mis-decoding
    with pytest.raises(NotImplementedError, match="multi-component"):
        mm.jpeg_parse_gray(base)
    # sampling factors up to 4 decode since r8; beyond 4 is outside
    # T.81 B.2.2 — a corrupt header (ValueError), not a feature gate:
    # set comp 1's horizontal factor to 5 (SOF: ..., [id, hv, tq]*3)
    sof_at = base.find(b"\xff\xc0")
    hv_at = sof_at + 4 + 6 + 1  # marker+len, then depth/h/w/ncomp, id
    assert base[hv_at] == 0x11
    oversampled = base[:hv_at] + b"\x51" + base[hv_at + 1 :]
    with pytest.raises(ValueError, match="1..4"):
        mm.jpeg_parse_any(oversampled)
    # component-count honesty unchanged: 2-component SOF is rejected
    ncomp_at = sof_at + 4 + 5
    assert base[ncomp_at] == 3
    twocomp = base[:ncomp_at] + b"\x02" + base[ncomp_at + 1 :]
    with pytest.raises(NotImplementedError, match="1- or 3-component"):
        mm.jpeg_parse_any(twocomp)


def test_jpeg_color_dc_predictors_are_independent():
    """Each component carries its own DC predictor chain through the
    interleaved MCU stream: distinct per-component DC ramps must
    recover independently."""
    coefs = np.zeros((3, 1, 3, 8, 8), np.int32)
    coefs[0, 0, :, 0, 0] = [10, -10, 10]
    coefs[1, 0, :, 0, 0] = [2, 4, 6]
    coefs[2, 0, :, 0, 0] = [-3, 0, 3]
    _w, _h, _q, blocks, _s = mm.jpeg_parse_any(
        mm.jpeg_encode_color_coefs(coefs, 24, 8)
    )
    assert list(blocks[0][0, :, 0]) == [10, -10, 10]
    assert list(blocks[1][0, :, 0]) == [2, 4, 6]
    assert list(blocks[2][0, :, 0]) == [-3, 0, 3]


def test_color_pixels_query_runs(spark, sf_dir):
    rows = mm.multimodal_color_pixels(spark, sf_dir).limit(5).collect()
    assert rows and all(r.n_pixels == r.width * r.height for r in rows)


def test_color_pixels_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    assert_parity(
        mm.multimodal_color_pixels(spark, sf_dir),
        oracle,
        mm.ORACLES["multimodal_color_pixels"],
    )


# --------------------- 4:2:0-subsampled JPEG decode (r7b)


def test_jpeg420_entropy_and_mcu_walk_are_lossless():
    """Four-Y-plus-chroma MCU interleave must recover every quantized
    coefficient of every block on both grids — general random
    coefficients, multi-MCU frame."""
    rng = np.random.default_rng(5)
    nmy, nmx = 2, 3
    luma = rng.integers(-50, 50, size=(2 * nmy, 2 * nmx, 8, 8)).astype(
        np.int32
    )
    chroma = rng.integers(-50, 50, size=(2, nmy, nmx, 8, 8)).astype(np.int32)
    payload = mm.jpeg_encode_420_coefs(luma, chroma, 48, 32)
    w, h, quants, blocks, samplings = mm.jpeg_parse_any(payload)
    assert (w, h) == (48, 32)
    assert samplings == [(2, 2), (1, 1), (1, 1)]
    for grid, got in ((luma, blocks[0]), (chroma[0], blocks[1]), (chroma[1], blocks[2])):
        nat = np.zeros(got.shape[:2] + (8, 8), np.int32)
        for k, (r, c) in enumerate(ZZ):
            nat[:, :, r, c] = got[:, :, k]
        assert np.array_equal(nat, grid)


def test_jpeg420_matches_closed_form_with_half_res_chroma():
    """Decoded RGB must equal the integer closed form with chroma terms
    indexed at (x//2, y//2) — pins the replication upsampler and the
    per-component plane resolutions, including odd frame sizes that
    exercise the padded MCU crop."""
    zzi = {rc: k for k, rc in enumerate(ZZ)}

    def q(tab, rc):
        return tab[zzi[rc]] // 8

    for doc_id, (w, h) in ((3, (21, 13)), (11, (16, 16)), (20, (9, 23))):
        nmx, nmy = (w + 15) // 16, (h + 15) // 16
        luma, chroma = mm._jpeg_420_coefs(doc_id, nmy, nmx)
        rgb = mm.jpeg_decode_color(
            mm.jpeg_encode_420_coefs(luma, chroma, w, h)
        ).astype(np.int64)
        assert rgb.shape == (h, w, 3)
        yg, xg = np.mgrid[0:h, 0:w]

        def plane(ch, x, y, tab):
            bx, by = x // 8, y // 8
            sx = np.where(np.isin(x % 8, [0, 3, 4, 7]), 1, -1)
            sy = np.where(np.isin(y % 8, [0, 3, 4, 7]), 1, -1)
            return np.clip(
                128
                + q(tab, (0, 0))
                * ((doc_id * 5 + ch * 17 + bx * 3 + by * 7) % 41 - 20)
                + q(tab, (4, 0)) * sy
                * ((doc_id + ch * 7 + bx * 11 + by * 5) % 9 - 4)
                + q(tab, (0, 4)) * sx
                * ((doc_id * 3 + ch * 5 + bx + by * 2) % 9 - 4)
                + q(tab, (4, 4)) * sx * sy
                * ((doc_id + ch * 3 + bx + by * 13) % 7 - 3),
                0,
                255,
            ).astype(np.int64)

        yy = plane(0, xg, yg, mm.JPEG_QUANT_ZZ)
        cb = plane(1, xg // 2, yg // 2, mm.JPEG_QUANT_CHROMA_ZZ) - 128
        cr = plane(2, xg // 2, yg // 2, mm.JPEG_QUANT_CHROMA_ZZ) - 128
        exp = np.stack(
            [
                np.clip(yy + ((mm.JPEG_FIX_RCR * cr + 32768) >> 16), 0, 255),
                np.clip(
                    yy
                    - (
                        (mm.JPEG_FIX_GCB * cb + mm.JPEG_FIX_GCR * cr + 32768)
                        >> 16
                    ),
                    0,
                    255,
                ),
                np.clip(yy + ((mm.JPEG_FIX_BCB * cb + 32768) >> 16), 0, 255),
            ],
            axis=-1,
        )
        assert np.array_equal(rgb, exp), doc_id


def test_jpeg420_pixels_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    assert_parity(
        mm.multimodal_jpeg420_pixels(spark, sf_dir),
        oracle,
        mm.ORACLES["multimodal_jpeg420_pixels"],
    )


# --------------------- DRI restart intervals (r7c)


def test_jpeg_dri_roundtrip_is_pixel_identical():
    """Restart markers change the byte stream (alignment padding, RST
    bytes, predictor resets) but never the pixels — every interval must
    decode identically to the plain stream, and the entropy layer must
    stay lossless through the restarts."""
    rng = np.random.default_rng(3)
    nmy, nmx = 3, 4  # 12 MCUs
    luma = rng.integers(-50, 50, size=(2 * nmy, 2 * nmx, 8, 8)).astype(
        np.int32
    )
    chroma = rng.integers(-50, 50, size=(2, nmy, nmx, 8, 8)).astype(np.int32)
    w, h = 16 * nmx - 5, 16 * nmy - 3
    want = mm.jpeg_decode_color(mm.jpeg_encode_420_coefs(luma, chroma, w, h))
    for ri in (1, 2, 5, 12, 100):
        payload = mm.jpeg_encode_420_coefs(
            luma, chroma, w, h, restart_interval=ri
        )
        assert b"\xff\xdd" in payload  # DRI segment present
        assert np.array_equal(mm.jpeg_decode_color(payload), want), ri
        _w, _h, _q, blocks, _s = mm.jpeg_parse_any(payload)
        nat = np.zeros_like(luma)
        for k, (r, c) in enumerate(ZZ):
            nat[:, :, r, c] = blocks[0][:, :, k]
        assert np.array_equal(nat, luma), ri


def test_jpeg_dri_predictor_reset_is_real():
    """DC predictors reset at each restart (T.81 E.2.4): encode a DC
    ramp whose diffs would overflow the category table if predicted
    across the boundary — with interval 1 every MCU's DC is coded
    absolute, and the parsed DCs must still match."""
    nmy, nmx = 1, 4
    luma = np.zeros((2 * nmy, 2 * nmx, 8, 8), np.int32)
    for mx in range(nmx):
        luma[:, 2 * mx : 2 * mx + 2, 0, 0] = (-1) ** mx * 900
    chroma = np.zeros((2, nmy, nmx, 8, 8), np.int32)
    payload = mm.jpeg_encode_420_coefs(
        luma, chroma, 16 * nmx, 16, restart_interval=1
    )
    # interval 1 -> a marker between every MCU pair, cycling RST0..
    assert payload.count(b"\xff\xd0", payload.find(b"\xff\xda")) >= 1
    _w, _h, _q, blocks, _s = mm.jpeg_parse_any(payload)
    assert list(blocks[0][0, ::2, 0]) == [900, -900, 900, -900]


def test_jpeg_dri_out_of_sequence_marker_rejected():
    rng = np.random.default_rng(8)
    luma = rng.integers(-20, 20, size=(2, 4, 8, 8)).astype(np.int32)
    chroma = rng.integers(-20, 20, size=(2, 1, 2, 8, 8)).astype(np.int32)
    payload = mm.jpeg_encode_420_coefs(
        luma, chroma, 32, 16, restart_interval=1
    )
    i = payload.find(b"\xff\xd0", payload.find(b"\xff\xda"))
    assert i > 0
    bad = payload[: i + 1] + bytes([0xD3]) + payload[i + 2 :]
    with pytest.raises(ValueError, match="out of sequence"):
        mm.jpeg_parse_any(bad)


# --------------------- progressive JPEG (spectral selection, r7d)


def test_jpeg_progressive_entropy_is_lossless():
    """DC scan + band scans must reassemble every quantized coefficient
    exactly — general random coefficients, EOB-run and ZRL paths
    forced."""
    rng = np.random.default_rng(17)
    coefs = rng.integers(-40, 41, size=(3, 4, 8, 8)).astype(np.int32)
    coefs[0, 1] = 0              # all-zero block -> cross-block EOB run
    coefs[2, 3, :, :] = 0
    coefs[2, 3, 7, 7] = 2        # long in-band zero run -> ZRL path
    w, h = 4 * 8 - 3, 3 * 8 - 1
    payload = mm.jpeg_encode_progressive_coefs(coefs, w, h)
    pw, ph, _q, blocks = mm.jpeg_parse_gray(payload)
    assert (pw, ph) == (w, h)
    nat = np.zeros_like(coefs)
    for k, (r, c) in enumerate(ZZ):
        nat[:, :, r, c] = blocks[:, :, k]
    assert np.array_equal(nat, coefs)


def test_jpeg_progressive_pixels_equal_sequential():
    """Pixels are a property of the coefficients, not the scan script:
    every band split must decode identically to the sequential
    stream of the same blocks."""
    rng = np.random.default_rng(29)
    coefs = rng.integers(-30, 31, size=(2, 3, 8, 8)).astype(np.int32)
    w, h = 3 * 8, 2 * 8 - 5
    want = mm.jpeg_decode_gray(mm.jpeg_encode_gray_coefs(coefs, w, h))
    for bands in (((1, 5), (6, 63)), ((1, 1), (2, 9), (10, 63)), ((1, 63),)):
        got = mm.jpeg_decode_gray(
            mm.jpeg_encode_progressive_coefs(coefs, w, h, bands=bands)
        )
        assert np.array_equal(got, want), bands


def test_jpeg_progressive_honest_subset():
    coefs = np.zeros((1, 1, 8, 8), np.int32)
    payload = mm.jpeg_encode_progressive_coefs(coefs, 8, 8)
    # an invalid approximation step (Ah must equal Al + 1): set AhAl of
    # the first SOS to 0x20
    i = payload.find(b"\xff\xda")
    bad = bytearray(payload)
    bad[i + 9] = 0x20  # SOS payload [len2][ns, cs, tt, Ss, Se, AhAl]
    with pytest.raises(ValueError, match="Ah = Al"):
        mm.jpeg_parse_any(bytes(bad))
    # a SUBSAMPLED baseline frame flipped to progressive (r8: the
    # geometry itself is supported now) fails on its illegal
    # interleaved full-band scan — same contract as the 4:4:4 flip
    luma, chroma = mm._jpeg_420_coefs(3, 1, 1)
    prog420 = mm.jpeg_encode_420_coefs(luma, chroma, 16, 16).replace(
        b"\xff\xc0", b"\xff\xc2"
    )
    with pytest.raises(ValueError, match="Ss=Se=0"):
        mm.jpeg_parse_any(prog420)
    # a baseline 4:4:4 color file flipped to SOF2 fails on its illegal
    # interleaved full-band scan, not the frame type (color progressive
    # decodes for real since r7e)
    prog3 = mm.jpeg_encode_color_coefs(
        np.zeros((3, 1, 1, 8, 8), np.int32), 8, 8
    ).replace(b"\xff\xc0", b"\xff\xc2")
    with pytest.raises(ValueError, match="Ss=Se=0"):
        mm.jpeg_parse_any(prog3)


def test_progressive_pixels_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    assert_parity(
        mm.multimodal_progressive_pixels(spark, sf_dir),
        oracle,
        mm.ORACLES["multimodal_progressive_pixels"],
    )


# --------------------- bottom-k quantile sketch (testing/profile.py)


def test_orders_quantiles_sketch_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.testing import profile

    assert_parity(
        profile.orders_quantiles_sketch(spark, sf_dir),
        oracle,
        profile.ORACLES["orders_quantiles_sketch"],
    )


def test_orders_quantiles_sketch_plan_and_quality(spark, sf_dir):
    """100 TB contract: the bottom-k rank is WindowGroupLimit-pruned
    (each map task keeps its own K smallest BEFORE the month-key
    exchange), nothing drops to Python; and on the real corpus the
    p50 estimate from a 64-row sample stays within 25% of exact
    (median of a uniform sample — loose bound, tight enough to catch
    a broken sampler that returns e.g. the first K rows by date)."""
    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.testing import profile

    df = profile.orders_quantiles_sketch(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert rows and all(r.k_sample <= profile.SKETCH_K for r in rows)
    for r in rows:
        if r.k_sample == r.n_orders:
            # under-filled sample IS the population: estimates must be
            # exactly the exact quantiles — catches any sampler or
            # rank-formula bug outright
            assert (r.p50_est, r.p90_est, r.p99_est) == (
                r.p50_cents,
                r.p90_cents,
                r.p99_cents,
            ), r
        else:
            # a filled 64-row uniform sample: median within 25% —
            # loose, but catches a non-uniform sampler (e.g. first K
            # rows by date)
            assert abs(r.p50_est - r.p50_cents) <= 0.25 * r.p50_cents, r


# --------------------- deterministic shuffle-shard (llm/corpus.py)


def test_corpus_shuffle_shard_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import corpus as co

    assert_parity(
        co.corpus_shuffle_shard(spark, sf_dir),
        oracle,
        co.ORACLES["corpus_shuffle_shard"],
    )


def test_corpus_shuffle_shard_is_a_shuffled_permutation(spark, sf_dir):
    """(shard, pos) must be a bijection over the corpus, shards must be
    hash-balanced, and the layout must actually SHUFFLE: consecutive
    doc_ids should almost never stay consecutive in the same shard
    (a sorted-by-id 'shuffle' fails this immediately)."""
    from dbt_jaffleshop_spark.llm import corpus as co

    rows = co.corpus_shuffle_shard(spark, sf_dir).collect()
    n = len(rows)
    assert len({(r.shard, r.pos) for r in rows}) == n
    assert {r.shard for r in rows} <= set(range(co.N_SHARDS))
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, 0)
        by_shard[r.shard] += 1
        assert 1 <= r.pos
    expected = n / co.N_SHARDS
    assert all(0.5 * expected <= c <= 1.5 * expected for c in by_shard.values())
    layout = {r.doc_id: (r.shard, r.pos) for r in rows}
    adjacent_kept = sum(
        1
        for d in layout
        if d + 1 in layout
        and layout[d + 1][0] == layout[d][0]
        and layout[d + 1][1] == layout[d][1] + 1
    )
    assert adjacent_kept <= 0.02 * n, adjacent_kept


def test_jpeg_422_decodes_through_the_generic_walk():
    """4:2:2 (luma 2x1) needs no decoder change — the generic MCU walk
    and per-axis replication upsampler cover it. Pin with a closed-form
    frame: chroma half-res HORIZONTALLY only."""
    zzi = {rc: k for k, rc in enumerate(ZZ)}

    def q(tab, rc):
        return tab[zzi[rc]] // 8

    doc_id, w, h = 5, 21, 13
    nmx, nmy = (w + 15) // 16, (h + 7) // 8  # 4:2:2 MCU is 16x8
    luma = np.zeros((nmy, 2 * nmx, 8, 8), np.int32)
    chroma = np.zeros((2, nmy, nmx, 8, 8), np.int32)
    for by in range(nmy):
        for bx in range(2 * nmx):
            luma[by, bx, 0, 0] = (doc_id * 5 + bx * 3 + by * 7) % 41 - 20
            luma[by, bx, 4, 4] = (doc_id + bx + by * 13) % 7 - 3
    for ci in range(2):
        ch = ci + 1
        for by in range(nmy):
            for bx in range(nmx):
                chroma[ci, by, bx, 0, 0] = (
                    doc_id * 5 + ch * 17 + bx * 3 + by * 7
                ) % 41 - 20
    payload = mm.jpeg_encode_sampled_coefs(luma, chroma, w, h, 2, 1)
    _w, _h, _q, _blocks, samplings = mm.jpeg_parse_any(payload)
    assert samplings == [(2, 1), (1, 1), (1, 1)]
    rgb = mm.jpeg_decode_color(payload).astype(np.int64)
    yg, xg = np.mgrid[0:h, 0:w]
    sx = np.where(np.isin(xg % 8, [0, 3, 4, 7]), 1, -1)
    sy = np.where(np.isin(yg % 8, [0, 3, 4, 7]), 1, -1)
    yy = np.clip(
        128
        + q(mm.JPEG_QUANT_ZZ, (0, 0))
        * ((doc_id * 5 + (xg // 8) * 3 + (yg // 8) * 7) % 41 - 20)
        + q(mm.JPEG_QUANT_ZZ, (4, 4)) * sx * sy
        * ((doc_id + xg // 8 + (yg // 8) * 13) % 7 - 3),
        0,
        255,
    ).astype(np.int64)
    xc = xg // 2  # horizontal-only subsampling
    planes = []
    for ch in (1, 2):
        planes.append(
            np.clip(
                128
                + q(mm.JPEG_QUANT_CHROMA_ZZ, (0, 0))
                * ((doc_id * 5 + ch * 17 + (xc // 8) * 3 + (yg // 8) * 7) % 41 - 20),
                0,
                255,
            ).astype(np.int64)
            - 128
        )
    cb, cr = planes
    exp = np.stack(
        [
            np.clip(yy + ((mm.JPEG_FIX_RCR * cr + 32768) >> 16), 0, 255),
            np.clip(
                yy - ((mm.JPEG_FIX_GCB * cb + mm.JPEG_FIX_GCR * cr + 32768) >> 16),
                0,
                255,
            ),
            np.clip(yy + ((mm.JPEG_FIX_BCB * cb + 32768) >> 16), 0, 255),
        ],
        axis=-1,
    )
    assert np.array_equal(rgb, exp)


# --------------------- successive approximation (r7e)


def test_jpeg_sa_roundtrip_random_scripts():
    """Full successive-approximation scripts (al 1..3, varied band
    splits) must be coefficient-lossless and pixel-identical to the
    sequential stream of the same blocks — randomized corpus with
    planted zero/sparse blocks."""
    rng = np.random.default_rng(101)
    for trial in range(12):
        nby, nbx = int(rng.integers(1, 4)), int(rng.integers(1, 5))
        coefs = rng.integers(-70, 71, size=(nby, nbx, 8, 8)).astype(np.int32)
        if nby * nbx > 1:
            coefs[0, 0] = 0
            coefs[0, 0, 0, 0] = int(rng.integers(-5, 6))
        w = int(nbx * 8 - rng.integers(0, 8))
        h = int(nby * 8 - rng.integers(0, 8))
        al = int(rng.choice([1, 2, 3]))
        bands = [((1, 5), (6, 63)), ((1, 63),), ((1, 2), (3, 20), (21, 63))][
            trial % 3
        ]
        want = mm.jpeg_decode_gray(mm.jpeg_encode_gray_coefs(coefs, w, h))
        payload = mm.jpeg_encode_progressive_coefs(
            coefs, w, h, bands=bands, al=al
        )
        got = mm.jpeg_decode_gray(payload)
        assert np.array_equal(got, want), (trial, al, bands)
        _w, _h, _q, blocks = mm.jpeg_parse_gray(payload)
        nat = np.zeros_like(coefs)
        for k, (r, c) in enumerate(ZZ):
            nat[:, :, r, c] = blocks[:, :, k]
        assert np.array_equal(nat, coefs), (trial, al, bands)


def test_jpeg_sa_refinement_edge_cases():
    """The three refinement paths that break first in a wrong
    implementation: a coefficient visible ONLY at the last level
    (±1 insertions), a ZRL inside a refinement scan with interleaved
    history corrections, and a long cross-block EOB run whose
    correction bits ride behind the EOBn."""
    zz_pos = {k: rc for k, rc in enumerate(ZZ)}

    def rt(coefs, w, h, bands, al):
        payload = mm.jpeg_encode_progressive_coefs(
            coefs, w, h, bands=bands, al=al
        )
        _w, _h, _q, blocks = mm.jpeg_parse_gray(payload)
        nat = np.zeros_like(coefs)
        for k, (r, c) in enumerate(ZZ):
            nat[:, :, r, c] = blocks[:, :, k]
        return np.array_equal(nat, coefs)

    c = np.zeros((2, 3, 8, 8), np.int32)
    for i, k in enumerate(range(1, 40, 3)):
        c[i % 2, i % 3][zz_pos[k]] = (-1) ** i * 1  # last-level only
        c[(i + 1) % 2, i % 3][zz_pos[k]] = (-1) ** i * 2
    assert rt(c, 24, 16, ((1, 20), (21, 63)), 1)

    c = np.zeros((1, 1, 8, 8), np.int32)
    c[0, 0][zz_pos[1]] = 4    # history through the refinement
    c[0, 0][zz_pos[20]] = 1   # 18 zero-history slots -> ZRL in refine
    c[0, 0][zz_pos[30]] = 8
    c[0, 0][zz_pos[63]] = -1
    assert rt(c, 8, 8, ((1, 63),), 1)

    c = np.zeros((4, 5, 8, 8), np.int32)
    c[3, 4][zz_pos[10]] = 3   # 19 all-zero blocks first -> long EOB run
    c[3, 4][zz_pos[11]] = -1
    assert rt(c, 40, 32, ((1, 63),), 2)


# --------------------- progressive color (r7e)


def test_jpeg_progressive_color_roundtrip():
    """Interleaved DC + per-component AC scans (with and without the
    successive-approximation ladder) must be coefficient-lossless per
    component and pixel-identical to the sequential color stream."""
    rng = np.random.default_rng(55)
    for trial in range(6):
        nby, nbx = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        coefs = rng.integers(-60, 61, size=(3, nby, nbx, 8, 8)).astype(
            np.int32
        )
        w = int(nbx * 8 - rng.integers(0, 8))
        h = int(nby * 8 - rng.integers(0, 8))
        al = int(rng.choice([0, 1, 2]))
        bands = [((1, 5), (6, 63)), ((1, 63),)][trial % 2]
        seq = mm.jpeg_decode_color(mm.jpeg_encode_color_coefs(coefs, w, h))
        prog = mm.jpeg_encode_progressive3_coefs(
            coefs, w, h, bands=bands, al=al
        )
        assert np.array_equal(mm.jpeg_decode_color(prog), seq), (trial, al)
        _w, _h, quants, blocks, samplings = mm.jpeg_parse_any(prog)
        assert samplings == [(1, 1)] * 3
        assert quants[0] == mm.JPEG_QUANT_ZZ
        assert quants[1] == mm.JPEG_QUANT_CHROMA_ZZ
        nat = np.zeros_like(coefs)
        for ci in range(3):
            for k, (r, c) in enumerate(ZZ):
                nat[ci, :, :, r, c] = blocks[ci][:, :, k]
        assert np.array_equal(nat, coefs), (trial, al)


def test_progressive_color_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    assert_parity(
        mm.multimodal_progressive_color(spark, sf_dir),
        oracle,
        mm.ORACLES["multimodal_progressive_color"],
    )


# --------------------- truecolor PNG (r7e)


def test_png_color_roundtrip_and_stride():
    """Random RGB pixels survive all five filters; gray behavior is
    unchanged; the decoder refuses what it does not support."""
    rng = np.random.default_rng(9)
    rgb = rng.integers(0, 256, size=(11, 17, 3)).astype(np.uint8)
    out = mm.png_decode(mm.png_encode(rgb))
    assert out.shape == (11, 17, 3) and np.array_equal(out, rgb)
    gray = rng.integers(0, 256, size=(13, 21)).astype(np.uint8)
    assert np.array_equal(mm.png_decode(mm.png_encode(gray)), gray)
    # a palette (color type 3) header DECODES since r8 — but one with
    # no PLTE chunk is corrupt and must fail loudly, not silently
    payload = bytearray(mm.png_encode(gray))
    ihdr_at = payload.find(b"IHDR")
    payload[ihdr_at + 4 + 9] = 3  # color type byte inside IHDR data
    import struct as _struct
    import zlib as _zlib

    data = bytes(payload[ihdr_at + 4 : ihdr_at + 4 + 13])
    payload[ihdr_at + 17 : ihdr_at + 21] = _struct.pack(
        ">I", _zlib.crc32(b"IHDR" + data) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="PLTE"):
        mm.png_decode(bytes(payload))


def test_png_color_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    assert_parity(
        mm.multimodal_png_color(spark, sf_dir),
        oracle,
        mm.ORACLES["multimodal_png_color"],
    )
