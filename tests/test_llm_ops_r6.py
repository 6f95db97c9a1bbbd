"""Round-6 operator tests: the streaming sessionizer's crash-restart
parity (twin of test_streaming_attribution_restart_no_duplicate_pairs)."""

from __future__ import annotations


def test_streaming_sessionize_restart_resumes_user_state(
    spark, oracle, sf_dir, tmp_path
):
    """Crash-restart for the custom applyInPandasWithState sessionizer:
    run phase 1 over the early half of the events feed with a durable
    checkpoint, then add the late half and RE-RUN with the same
    checkpoint. The restart must resume source offsets AND each user's
    open-session state — no emission committed twice, per-user
    session_idx numbering continues across the boundary (a lost state
    store would restart it at 1 and corrupt keys), at least one
    boundary-straddling session merges (final n_events greater than its
    phase-1 partial), and the compacted final equals the batch operator
    over the full feed (the DuckDB oracle, verbatim)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from dbt_jaffleshop_spark.streaming import sessionize
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm.events import SESSION_GAP_US

    t = pq.read_table(f"{sf_dir}/events.parquet")
    ts_us = pc.cast(t["ts"], "int64")
    # cut INSIDE a session: the first same-user consecutive event pair
    # within the gap (sorted by user, ts) guarantees a straddler — a
    # median-time cut does not at this sf
    pdf = (
        t.select(["user_id", "ts"])
        .to_pandas()
        .assign(ts_us=ts_us.to_pylist())
        .sort_values(["user_id", "ts_us"])
    )
    same_user = pdf["user_id"].eq(pdf["user_id"].shift(-1))
    dt = pdf["ts_us"].shift(-1) - pdf["ts_us"]
    inside = pdf["ts_us"][same_user & (dt > 0) & (dt <= SESSION_GAP_US)]
    assert len(inside), "no multi-event session in the fixture"
    cut = int(inside.iloc[0])
    feed = tmp_path / "feed"
    feed.mkdir()
    early = t.filter(pc.less_equal(ts_us, cut))
    late = t.filter(pc.greater(ts_us, cut))
    assert early.num_rows and late.num_rows
    pq.write_table(early, feed / "events-0.parquet")

    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    phase1 = sessionize.streaming_sessionize(
        spark, str(feed), checkpoint_dir=ckpt, output_dir=out
    )
    p1 = {(r.user_id, r.session_idx): r.n_events for r in phase1.collect()}
    assert p1

    pq.write_table(late, feed / "events-1.parquet")
    final = sessionize.streaming_sessionize(
        spark, str(feed), checkpoint_dir=ckpt, output_dir=out
    )

    # the RAW replay log: restart must not have re-committed phase-1
    # emissions (availableNow + checkpointed parquet sink = exactly-once
    # file commits), so no full row may appear twice
    raw = spark.read.parquet(out)
    assert raw.count() == raw.distinct().count(), "restart re-emitted rows"

    fin = {(r.user_id, r.session_idx): r.n_events for r in final.collect()}
    # every phase-1 session key survives with >= its partial extent
    assert set(p1) <= set(fin)
    assert all(fin[k] >= n for k, n in p1.items())
    # state genuinely resumed: some open session straddled the cut and
    # grew after the restart (the time split guarantees straddlers at
    # this sf; if it ever stops producing one, the split is degenerate
    # and the test should fail loudly rather than pass vacuously)
    assert any(fin[k] > n for k, n in p1.items()), (
        "no session merged across the restart boundary"
    )
    # and the compacted final is the batch result, bit-for-bit
    assert_parity(final, oracle, sessionize.ORACLES["streaming_sessionize"])


def test_events_distinct_kmv_matches_oracle_and_estimates_well(
    spark, oracle, sf_dir
):
    """KMV sketch: bit-identical to the DuckDB oracle (the reason it
    exists instead of HLL), and the estimator is actually GOOD — when
    the sketch saturates (n_kept == K) the error stays inside the
    ~2/sqrt(K) band; below saturation it is exact by construction."""
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.testing import profile

    df = profile.events_distinct_kmv(spark, sf_dir)
    assert_parity(df, oracle, profile.ORACLES["events_distinct_kmv"])
    for r in df.collect():
        assert r.n_kept <= profile.KMV_K
        if r.n_kept < profile.KMV_K:
            assert r.est_distinct == r.n_exact and r.err_bp == 0
        else:
            # 3/sqrt(64) = 37.5% — generous 2.5x the 1-sigma bound so
            # the test pins quality without being seed-brittle
            assert r.err_bp <= 3750


def test_events_distinct_kmv_plan_shape(spark, sf_dir):
    """100 TB contract: the per-type K-smallest is WindowGroupLimit-
    pruned (partial top-K per partition before the |event_types|-key
    exchange) and nothing drops to Python or a cartesian."""
    from dbt_jaffleshop_spark.testing import profile

    plan = profile.events_distinct_kmv(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sim_ivf_probe2_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import similarity

    assert_parity(
        similarity.sim_ivf_probe2_topk(spark, sf_dir),
        oracle,
        similarity.PROBE2_ORACLE,
    )


def test_sim_ivf_probe2_recall_dominates_probe1(spark, sf_dir):
    """Candidates(probe1) is a subset of candidates(probe2) (the corpus
    assignment is unchanged; the query just probes one more cell), so
    per-query recall against the exact top-3 must be >= single-probe
    recall — the entire point of the nprobe knob."""
    from collections import defaultdict

    from dbt_jaffleshop_spark.llm import similarity

    def hits(df):
        by_q = defaultdict(set)
        for r in df.collect():
            by_q[r.query_id].add(r.neighbor_id)
        return by_q

    exact = hits(
        similarity.sim_topk_cosine(spark, sf_dir).where(
            f"rank <= {similarity.IVF_TOP_K}"
        )
    )
    p1 = hits(similarity.sim_ivf_topk(spark, sf_dir))
    p2 = hits(similarity.sim_ivf_probe2_topk(spark, sf_dir))
    assert set(p1) <= set(p2)  # every probe1 query still answered
    for q, truth in exact.items():
        r1 = len(p1.get(q, set()) & truth)
        r2 = len(p2.get(q, set()) & truth)
        assert r2 >= r1, f"query {q}: probe2 recall {r2} < probe1 {r1}"


def test_events_retention_cohorts_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import events

    df = events.events_retention_cohorts(spark, sf_dir)
    assert_parity(df, oracle, events.RETENTION_ORACLE)
    rows = df.collect()
    assert rows
    for r in rows:
        assert 0 <= r.retained <= r.cohort_size
        if r.offset_weeks == 0:
            # the cohort week itself: everyone is active by definition
            assert r.retention_bp == 10000


def test_events_daily_anomalies_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import events

    assert_parity(
        events.events_daily_anomalies(spark, sf_dir),
        oracle,
        events.ANOMALY_ORACLE,
    )


def test_events_daily_anomalies_planted_spike_and_outages(spark, monkeypatch):
    """Two types against a constant 10-events/day baseline: type 'b'
    has ONE 100-event spike day; type 'a' has ONE mid-feed eventless
    day AND goes permanently dark while 'b' continues (tail outage).
    The spike and the mid-outage flag against their zero-variance
    windows; the tail outage exists in the output at all only because
    each type's day spine extends to the GLOBAL last day — the first
    two dark days flag, after which the baseline itself is dark (zeros
    in the window) and z stays under 2, the statistically honest
    reading. Days without a full 7-day history are not emitted."""
    import datetime as dt

    from dbt_jaffleshop_spark.llm import events

    rows = []
    base = dt.datetime(2024, 3, 1)
    for d in range(25):
        # type a: constant through day 16, skip day 10, dark from 17 on
        if d <= 16 and d != 10:
            for i in range(10):
                rows.append(("a", base + dt.timedelta(days=d, seconds=i)))
        # type b: constant all 25 days, spike on day 15
        for i in range(100 if d == 15 else 10):
            rows.append(("b", base + dt.timedelta(days=d, seconds=i)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    monkeypatch.setattr(events, "load_table", lambda _s, _t, _sf=None: df)

    out = {
        (r.event_type, r.day): r
        for r in events.events_daily_anomalies(spark, None).collect()
    }
    # both types emit days 7..24 — 'a' only via the global spine end
    assert len(out) == 2 * 18
    a_tail = out[("a", "2024-03-20")]
    assert a_tail.n_events == 0  # densified zero, present at all
    flagged = {k for k, r in out.items() if r.is_anomaly}
    assert flagged == {
        ("a", "2024-03-11"),  # mid-feed outage vs constant window
        ("b", "2024-03-16"),  # spike vs constant window
        ("a", "2024-03-18"),  # first tail-outage day
        ("a", "2024-03-19"),  # second (window still mostly baseline)
    }


def test_r6_operators_plan_shape(spark, sf_dir):
    """Scale contract for the r6 additions: retention is window-free
    (pure key-partitioned aggregation); the anomaly scan's windows run
    over the post-aggregation daily relation; neither drops to Python
    or a cartesian, and the audit/KMV checks live in their own tests."""
    from dbt_jaffleshop_spark.llm import events

    for fn in (events.events_retention_cohorts, events.events_daily_anomalies):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        if fn is events.events_daily_anomalies:
            # anomalies' ONE nested-loop join is the sanctioned 1-row
            # broadcast of the global last day onto the per-type spine
            # starts (the zipf corpus-total pattern) — exactly one, so
            # an accidental second non-equi join still fails here
            assert plan.count("BroadcastNestedLoopJoin") == 1, fn.__name__
        else:
            assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
    assert "Window" not in (
        events.events_retention_cohorts(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_streaming_upsert_multibatch_and_restart(spark, sf_dir, tmp_path):
    """Streaming CDC upsert (foreachBatch + merge_rows): three
    single-file micro-batches fold into the bucket-partitioned state
    table (overwrite, then real MERGE commits); a phase-2 restart with
    the same checkpoint resumes offsets and does NOT re-fold committed
    batches (counts would double); the final state equals the batch
    aggregation over the whole feed."""
    import pyarrow.parquet as pq

    from dbt_jaffleshop_spark.streaming.upsert import (
        streaming_events_upsert_to_acid,
    )

    t = pq.read_table(f"{sf_dir}/events.parquet")
    src = tmp_path / "feed"
    src.mkdir()
    third = t.num_rows // 3
    pq.write_table(t.slice(0, third), src / "part-0.parquet")
    pq.write_table(t.slice(third, third), src / "part-1.parquet")

    tbl = str(tmp_path / "tbl")
    table = streaming_events_upsert_to_acid(
        spark, str(src), tbl, max_files_per_trigger=1
    )
    v_phase1 = table.current_version()
    assert v_phase1 >= 2, "expected overwrite + at least one MERGE commit"
    phase1 = {r.user_id: r.n_events for r in table.read(spark).collect()}

    # phase 2: a third file arrives; the SAME checkpoint resumes
    pq.write_table(t.slice(2 * third), src / "part-2.parquet")
    table = streaming_events_upsert_to_acid(
        spark, str(src), tbl, max_files_per_trigger=1
    )
    state = {r.user_id: r for r in table.read(spark).collect()}

    # no double-folding: every user's count equals the full-feed count
    import collections

    expected = collections.Counter(t.column("user_id").to_pylist())
    assert {u: r.n_events for u, r in state.items()} == dict(expected)
    # phase-1 counts never shrink
    assert all(state[u].n_events >= n for u, n in phase1.items())
    # last-event selection matches the argmax over the whole feed
    import pyarrow.compute as pc

    ts_us = pc.cast(t.column("ts"), "int64").to_pylist()
    best: dict = {}
    for uid, us, eid, etype in zip(
        t.column("user_id").to_pylist(),
        ts_us,
        t.column("event_id").to_pylist(),
        t.column("event_type").to_pylist(),
    ):
        if uid not in best or (us, eid) > best[uid][:2]:
            best[uid] = (us, eid, etype)
    for uid, (us, eid, etype) in best.items():
        r = state[uid]
        assert (r.last_ts_us, r.last_event_id, r.last_event_type) == (
            us, eid, etype,
        )


def test_streaming_upsert_state_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.streaming import upsert

    assert_parity(
        upsert.streaming_upsert_state(spark, sf_dir),
        oracle,
        upsert.ORACLES["streaming_upsert_state"],
    )


def test_png_codec_roundtrip_all_filters():
    """The dependency-free PNG codec: encode applies every spec filter
    (y % 5), decode inflates and unfilters back to the exact pixels —
    byte-perfect across shapes that exercise 1..5+ scanlines."""
    import numpy as np

    from dbt_jaffleshop_spark.llm.multimodal import (
        png_decode,
        png_encode,
    )

    for h, w, seed in [(1, 8, 3), (5, 5, 0), (9, 16, 7), (16, 8, 250)]:
        y, x = np.mgrid[0:h, 0:w]
        px = ((seed + y * 31 + x * 13) % 256).astype(np.uint8)
        assert (png_decode(png_encode(px)) == px).all()
    # extremes: constant black / white (filter deltas all zero / wrap)
    for v in (0, 255):
        px = np.full((6, 6), v, dtype=np.uint8)
        assert (png_decode(png_encode(px)) == px).all()


def test_png_decode_rejects_corruption_and_unsupported():
    import struct
    import zlib

    import numpy as np
    import pytest

    from dbt_jaffleshop_spark.llm.multimodal import (
        PNG_SIG,
        png_decode,
        png_encode,
    )

    good = bytearray(png_encode(np.zeros((4, 4), dtype=np.uint8)))
    bad = bytearray(good)
    bad[len(bad) // 2] ^= 0xFF  # flip a byte inside a chunk
    with pytest.raises(ValueError, match="CRC|length|invalid"):
        png_decode(bytes(bad))
    with pytest.raises(ValueError, match="signature"):
        png_decode(b"GIF89a" + bytes(good))

    # r7 extended the decoder to truecolor: an RGB (color type 2)
    # stream now DECODES to (h, w, 3) instead of raising
    rgb = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    out = png_decode(png_encode(rgb))
    assert out.shape == (4, 4, 3) and (out == rgb).all()

    def _png(depth, color, interlace, bpp):
        ihdr = struct.pack(">IIBBBBB", 4, 4, depth, color, 0, 0, interlace)
        chunk = (
            struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        )
        data = zlib.compress(b"\x00" * int(4 * (4 * bpp + 1)))
        idat = (
            struct.pack(">I", len(data)) + b"IDAT" + data
            + struct.pack(">I", zlib.crc32(b"IDAT" + data) & 0xFFFFFFFF)
        )
        return PNG_SIG + chunk + idat

    # r9 closed the last gates: alpha color types and sub-byte depths
    # now DECODE (these zero payloads are valid all-zero images) —
    # see test_llm_ops_r9 for the roundtrips
    assert png_decode(_png(8, 6, 0, 4)).shape == (4, 4, 4)  # RGBA
    assert png_decode(_png(8, 4, 0, 2)).shape == (4, 4, 2)  # gray+a
    # depth 4, w=4: rowbytes = 2 = "4 * 0.5"
    assert png_decode(_png(4, 0, 0, 0.5)).shape == (4, 4)
    # 16-bit palette is not a legal PNG combination: with the full IHDR
    # matrix supported, an illegal combo is corrupt input, not a gate
    with pytest.raises(ValueError, match="invalid PNG IHDR"):
        png_decode(_png(16, 3, 0, 2))


def test_multimodal_pixels_matches_oracle(spark, oracle, sf_dir):
    """The registered PNG round-trip: real deflate+filter encode, real
    decode, position-weighted checksum vs the formula-recomputing
    oracle — exact per-pixel recovery, not just aggregate luck."""
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import multimodal

    assert_parity(
        multimodal.multimodal_pixels(spark, sf_dir),
        oracle,
        multimodal.ORACLES["multimodal_pixels"],
    )


def test_gif_codec_roundtrip_and_header_crosscheck():
    """The dependency-free animated-GIF codec: every frame round-trips
    the real LZW dictionary-replay decoder byte-perfect (incl. a 64x64
    random frame that forces 12-bit codes and a dictionary reset), and
    the synthesized files are ALSO valid input to the pre-existing,
    independently-written GIF header parser (format-level
    cross-validation between two implementations)."""
    import numpy as np

    from dbt_jaffleshop_spark.llm.multimodal import (
        gif_decode_frames,
        gif_encode_frames,
        parse_image_header,
    )

    for seed, (h, w, nf) in [(2, (8, 10, 2)), (5, (13, 9, 4)), (14, (16, 8, 3))]:
        y, x = np.mgrid[0:h, 0:w]
        frames = [
            ((seed * 7 + f * 17 + y * 31 + x * 13) % 256).astype(np.uint8)
            for f in range(nf)
        ]
        payload = gif_encode_frames(frames)
        assert parse_image_header(payload) == {
            "width": w, "height": h, "n_frames": nf,
        }
        decoded, palette = gif_decode_frames(payload)
        assert len(decoded) == nf
        assert all((d == f).all() for d, f in zip(decoded, frames))
        # identity grayscale palette: index == gray value
        assert palette[:6] == bytes([0, 0, 0, 1, 1, 1])

    rng = np.random.RandomState(3)
    big = rng.randint(0, 256, (64, 64)).astype(np.uint8)
    decoded, _ = gif_decode_frames(gif_encode_frames([big]))
    assert (decoded[0] == big).all()


def test_gif_decode_rejects_bad_and_unsupported():
    import numpy as np
    import pytest

    from dbt_jaffleshop_spark.llm.multimodal import (
        gif_decode_frames,
        gif_encode_frames,
    )

    good = gif_encode_frames([np.zeros((4, 4), dtype=np.uint8)])
    with pytest.raises(ValueError, match="signature"):
        gif_decode_frames(b"PNG" + good)
    # the image descriptor sits after header(6) + LSD(7) + the 768-byte
    # global palette + the 8-byte GCE (searching for 0x2C would hit
    # palette entry 44); flip its packed byte to claim a local palette
    pos = 6 + 7 + 768 + 8
    assert good[pos] == 0x2C
    patched = bytearray(good)
    patched[pos + 9] |= 0x80
    with pytest.raises(NotImplementedError, match="palette"):
        gif_decode_frames(bytes(patched))
    # truncate inside the LZW stream
    with pytest.raises(ValueError):
        gif_decode_frames(good[: pos + 12])


def test_multimodal_gif_frames_matches_oracle(spark, oracle, sf_dir):
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import multimodal

    assert_parity(
        multimodal.multimodal_gif_frames(spark, sf_dir),
        oracle,
        multimodal.ORACLES["multimodal_gif_frames"],
    )


def test_emb_kmeans_iter2_matches_oracle_and_converges(spark, oracle, sf_dir):
    """The unrolled second Lloyd iteration: bit-exact vs the DuckDB
    twin (re-assignment against iteration-1 means, integer floor-div
    means, per-coordinate shift), plus structural invariants — at most
    16 cells, every surviving cell carries all 64 dims, and members
    are conserved across cells within each iteration."""
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import similarity

    df = similarity.emb_kmeans_iter2(spark, sf_dir)
    assert_parity(df, oracle, similarity.KMEANS2_ORACLE)
    rows = df.collect()
    cells = {r.cell for r in rows}
    assert len(cells) <= similarity.N_CELLS
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    n_vectors = None
    for cell, rs in by_cell.items():
        assert len(rs) == 64, f"cell {cell} missing dims"
        members = {r.n_members for r in rs}
        assert len(members) == 1  # every dim of a cell sees the same members
    # member conservation: summing any one dim over cells = corpus size
    dim0 = [r.n_members for r in rows if r.dim == 0]
    from dbt_jaffleshop_spark.sources import load_table

    assert sum(dim0) == load_table(spark, "embeddings", sf_dir).count()
    # plan: no Python, no true cartesian (the <=16-row broadcasts are
    # the sanctioned IVF assignment shape)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_gif_lzw_flush_boundary_regression():
    """r6 review (confirmed repro): when the decoder's table lands
    exactly on 2^size at the final data code AND the bitstream ends on
    a byte boundary, the old encoder wrote EOI one bit too narrow and
    decode raised 'stream truncated'. Sweep single-row frames across
    the dictionary-reset region (plus smaller growth boundaries) —
    every length must round-trip byte-perfect."""
    import numpy as np

    from dbt_jaffleshop_spark.llm.multimodal import (
        gif_decode_frames,
        gif_encode_frames,
    )

    rng = np.random.RandomState(11)
    for n in list(range(4080, 4110)) + [250, 255, 256, 510, 511, 512, 1020]:
        frame = rng.randint(0, 256, (1, n)).astype(np.uint8)
        decoded, _ = gif_decode_frames(gif_encode_frames([frame]))
        assert (decoded[0] == frame).all(), f"length {n} failed round-trip"


def test_png_gif_truncation_raises_valueerror_not_struct_error():
    """The corrupt-input contract is ValueError — a payload cut inside
    a chunk header/CRC must not leak struct.error."""
    import numpy as np
    import pytest

    from dbt_jaffleshop_spark.llm.multimodal import (
        gif_decode_frames,
        png_decode,
        png_encode,
    )

    png = png_encode(np.zeros((4, 4), dtype=np.uint8))
    for cut in (10, 20, len(png) - 2):
        with pytest.raises(ValueError):
            png_decode(png[:cut])
    with pytest.raises(ValueError):
        gif_decode_frames(b"GIF89a\x04\x00")  # cut inside the LSD


def test_multimodal_thumbnail_matches_oracle(spark, oracle, sf_dir):
    """decode→resize end-to-end: real PNG decode feeding the integer
    nearest-neighbor downscale; the oracle recomputes each thumbnail
    position through the same source mapping, so a decode bug, NN
    off-by-one, or transposed axis breaks the weighted checksum."""
    from tests.conftest import assert_parity

    from dbt_jaffleshop_spark.llm import multimodal

    assert_parity(
        multimodal.multimodal_thumbnail(spark, sf_dir),
        oracle,
        multimodal.ORACLES["multimodal_thumbnail"],
    )


def test_thumbnail_nn_mapping_exact():
    """The NN mapping on a hand-checkable case: downscaling an 8x8
    gradient to 4x4 must pick exactly the (2y, 2x) source pixels."""
    import numpy as np

    from dbt_jaffleshop_spark.llm.multimodal import png_decode, png_encode

    encode, decode = png_encode, png_decode
    y, x = np.mgrid[0:8, 0:8]
    px = (y * 16 + x).astype(np.uint8)
    rec = decode(encode(px)).astype(np.int64)
    t = 4
    ty, tx = np.mgrid[0:t, 0:t]
    thumb = rec[(ty * 8) // t, (tx * 8) // t]
    assert (thumb == (ty * 2 * 16 + tx * 2)).all()
