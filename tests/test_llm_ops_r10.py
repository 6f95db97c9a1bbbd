"""Round-10 operator tests: FLAC non-byte-aligned bit depths (ADVICE r9
medium — MD5 sample packing must use ceil(bps/8) bytes per RFC 9639
§9.1.1), the vectorized single-task union-find, and the incremental
delta-vs-corpus dedup path (VERDICT r9 item 1)."""

from __future__ import annotations

import numpy as np
import pytest


def _codec():
    from dbt_jaffleshop_spark.llm.codecs.flac import flac_decode, flac_encode

    return flac_encode, flac_decode


@pytest.mark.parametrize("bps", [8, 12, 16, 20, 24])
def test_flac_roundtrip_every_advertised_bit_depth(bps):
    """Every depth in _BPS_CODE must encode AND md5-verify-decode — the
    r9 ADVICE repro was encode(bps=12) raising OverflowError because the
    MD5 packing width truncated 12→1 byte and 20→2 bytes."""
    enc, dec = _codec()
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    k = np.arange(700, dtype=np.int64)
    vals = (k * 9973 + 12345) % (hi - lo + 1) + lo
    # pin the extremes so the widest two's-complement values roundtrip
    vals[0], vals[1] = lo, hi
    blob = enc(vals, 8000, bps=bps, blocksize=256)
    meta = dec(blob)  # decode verifies the MD5 internally
    assert meta["bps"] == bps
    assert meta["n_channels"] == 1
    np.testing.assert_array_equal(meta["samples"][:, 0], vals)


def test_flac_stereo_roundtrip_20_bit():
    """Decorrelated stereo at a 3-byte-packed depth: side channel runs at
    bps+1 = 21 bits and the MD5 packing covers both channels."""
    enc, dec = _codec()
    k = np.arange(500, dtype=np.int64)
    left = (k * 7919) % (1 << 19) - (1 << 18)
    right = left - ((k * 31) % 257 - 128)
    vals = np.stack([left, right], axis=1)
    for mode in ("left_side", "right_side", "mid_side"):
        meta = dec(enc(vals, 8000, bps=20, blocksize=192, stereo=mode))
        np.testing.assert_array_equal(meta["samples"], vals)


def test_vectorized_single_task_components_match_reference(spark):
    """r10 ADVICE fix: the single-task CC path is now numpy label
    relaxation, not a per-edge Python union-find. Pin it against an
    in-test dict union-find on a 200k-edge random graph with chains,
    blobs, and singleton pairs — and require it to finish fast (the r9
    loop took minutes at this scale)."""
    import random
    import time

    from dbt_jaffleshop_spark.llm import dedup as dd

    rng = random.Random(10)
    n = 120_000
    pairs = {(i, i + 1) for i in range(0, 30_000, 3)}  # chains
    while len(pairs) < 200_000:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_label = {u: find(u) for u in parent}
    want_sizes: dict[int, int] = {}
    for lab in want_label.values():
        want_sizes[lab] = want_sizes.get(lab, 0) + 1

    pair_df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in sorted(pairs)], "doc_a long, doc_b long"
    )
    t0 = time.perf_counter()
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dd._star_components(pair_df, small_cutoff=10**9).collect()
    }
    elapsed = time.perf_counter() - t0
    assert got == {
        u: (lab, want_sizes[lab]) for u, lab in want_label.items()
    }
    assert elapsed < 60  # vectorized path: seconds, not minutes


# ----------------------------- incremental delta-vs-corpus dedup (r10)


def _cluster_rows(df):
    return sorted(
        (r.doc_id, r.cluster_id, r.cluster_size) for r in df.collect()
    )


def test_incremental_two_delta_fold_equals_full_recompute(spark, sf_dir):
    """The headline invariant (VERDICT r9 item 1): building the index on
    a 60%-by-id corpus slice and folding TWO consecutive delta batches
    through incremental_update must land on exactly the cluster table a
    full star-semantics recompute over all documents produces — the
    folds compose, nothing is lost, duplicated, or mislabeled."""
    import tempfile

    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.llm.dedup import dedup_clusters
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    t1, t2 = mx * 6 // 10, mx * 8 // 10
    root = tempfile.mkdtemp(prefix="dedup_idx_test_")
    idx = di.build_dedup_index(
        spark, docs.where(F.col("doc_id") <= t1), root
    )
    di.incremental_update(
        spark,
        docs.where((F.col("doc_id") > t1) & (F.col("doc_id") <= t2)),
        idx,
    )
    final = di.incremental_update(
        spark, docs.where(F.col("doc_id") > t2), idx
    )
    assert _cluster_rows(final) == _cluster_rows(dedup_clusters(spark, sf_dir))
    # the index advanced its high-water mark to the last delta's max id
    assert idx.max_doc_id(spark) == mx


def test_incremental_rejects_out_of_order_ids(spark, sf_dir):
    """The id-ordering invariant is enforced loudly: a delta whose ids
    overlap the corpus would silently invalidate the stored bucket mins
    (an existing bucket's min could change), so it must ValueError."""
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    thr = mx * 7 // 10
    root = tempfile.mkdtemp(prefix="dedup_idx_guard_")
    idx = di.build_dedup_index(
        spark, docs.where(F.col("doc_id") <= thr), root
    )
    with pytest.raises(ValueError, match="high-water mark"):
        di.incremental_update(
            spark, docs.where(F.col("doc_id") <= thr), idx
        )
    # an empty delta is a legal no-op returning the current clusters
    empty = docs.where(F.lit(False))
    before = _cluster_rows(idx.clusters.read(spark))
    assert _cluster_rows(di.incremental_update(spark, empty, idx)) == before


def test_registered_dedup_incremental_matches_full_recompute_oracle(
    spark, oracle, sf_dir
):
    """The registered query (acid_digest member) against its DuckDB
    oracle — which is the FULL recompute over all documents: driver-
    grade certification that incremental ≡ full."""
    from conftest import assert_parity

    from dbt_jaffleshop_spark.llm import dedup_incremental as di

    assert_parity(
        di.dedup_incremental(spark, sf_dir),
        oracle,
        di.ORACLES["dedup_incremental"],
    )


# ------------------- MinHash hybrid clustering + cross-check (ADVICE r9)


def test_minhash_hybrid_clusters_match_star_and_allpairs(spark, sf_dir):
    """The hybrid-candidate clustering, the production star path, and
    the all-pairs-fed components must agree component-for-component on
    the corpus; the crosscheck helper returns zero disagreement rows
    for identical partitions and flags planted differences."""
    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup as dd

    star = dd.dedup_clusters(spark, sf_dir)
    hybrid = dd.dedup_clusters_hybrid(spark, sf_dir)
    allpairs = dd._star_components(
        dd.dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    )
    rows = lambda df: sorted(  # noqa: E731
        (r.doc_id, r.cluster_id, r.cluster_size) for r in df.collect()
    )
    assert rows(hybrid) == rows(star)
    assert rows(hybrid) == rows(allpairs)

    assert dd.clusters_crosscheck(star, hybrid).count() == 0
    # planted disagreement: shift one doc's label → exactly 1 row out
    drifted = hybrid.withColumn(
        "cluster_id",
        F.when(
            F.col("doc_id") == F.lit(rows(hybrid)[0][0]),
            F.col("cluster_id") + 1,
        ).otherwise(F.col("cluster_id")),
    )
    assert dd.clusters_crosscheck(star, drifted).count() == 1


def test_minhash_hybrid_cap_extremes_degenerate_correctly(spark, sf_dir):
    """cap=0 must reduce the hybrid generator to pure star candidates;
    cap=∞ to the all-pairs clique — pinning both boundary behaviors of
    the bucket-size switch."""
    from dbt_jaffleshop_spark.llm import dedup as dd

    sh = dd._cached_shingles(spark, sf_dir)
    bands = dd._lsh_bands(dd._minhash_signatures_from(sh))
    pairs = lambda df: sorted(  # noqa: E731
        (r.doc_a, r.doc_b) for r in df.collect()
    )
    assert pairs(dd._minhash_hybrid_candidates(bands, cap=0)) == pairs(
        dd._star_candidates(bands)
    )
    allp = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bv"])
        .where(dd.F.col("a.doc_id") < dd.F.col("b.doc_id"))
        .select(
            dd.F.col("a.doc_id").alias("doc_a"),
            dd.F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    assert pairs(dd._minhash_hybrid_candidates(bands, cap=10**9)) == pairs(allp)


# ------------------------- embedding incremental dedup (r10, VERDICT #1b)


def test_emb_incremental_two_delta_fold_equals_full_recompute(spark, sf_dir):
    """Embedding twin of the headline invariant: index on the 60%-by-id
    embedding slice, fold two consecutive delta batches, and land on
    exactly the all-pairs banded-LSH cluster table a full recompute
    over all embeddings produces."""
    import tempfile

    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.llm.dedup import _quantized_embeddings
    from dbt_jaffleshop_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    mx = emb.agg(F.max("vec_id")).collect()[0][0]
    t1, t2 = mx * 6 // 10, mx * 8 // 10
    root = tempfile.mkdtemp(prefix="emb_idx_test_")
    idx = di.build_emb_index(spark, emb.where(F.col("vec_id") <= t1), root)
    di.emb_incremental_update(
        spark,
        emb.where((F.col("vec_id") > t1) & (F.col("vec_id") <= t2)),
        idx,
    )
    final = di.emb_incremental_update(
        spark, emb.where(F.col("vec_id") > t2), idx
    )
    rows = lambda df: sorted(  # noqa: E731
        (r.vec_id, r.cluster_id, r.cluster_size) for r in df.collect()
    )
    full = di.emb_clusters_lsh_over(_quantized_embeddings(spark, sf_dir))
    assert rows(final) == rows(full)
    assert idx.max_vec_id(spark) == mx
    # and the guard: replaying the corpus slice must fail loudly
    import pytest

    with pytest.raises(ValueError, match="high-water mark"):
        di.emb_incremental_update(
            spark, emb.where(F.col("vec_id") <= t1), idx
        )


def test_index_vacuum_retention_and_time_travel(spark, sf_dir):
    """Daily-fold operations: after two folds the index holds three
    snapshots per overwritten table; vacuum(keep_last=2) reclaims the
    oldest version's files, the current read is unchanged, and the
    kept previous version still time-travels (RESTORE point)."""
    import tempfile

    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    t1, t2 = mx * 6 // 10, mx * 8 // 10
    root = tempfile.mkdtemp(prefix="dedup_idx_vac_")
    idx = di.build_dedup_index(spark, docs.where(F.col("doc_id") <= t1), root)
    di.incremental_update(
        spark, docs.where((F.col("doc_id") > t1) & (F.col("doc_id") <= t2)), idx
    )
    di.incremental_update(spark, docs.where(F.col("doc_id") > t2), idx)

    assert idx.clusters.current_version() == 3  # build + 2 folds
    before = sorted(map(tuple, idx.clusters.read(spark).collect()))
    prev = sorted(map(tuple, idx.clusters.read(spark, version=2).collect()))

    removed = idx.vacuum(keep_last=2)
    assert removed["clusters"] >= 1  # v1's files reclaimed
    assert sorted(map(tuple, idx.clusters.read(spark).collect())) == before
    # the kept previous snapshot still reads (the RESTORE point)
    assert sorted(map(tuple, idx.clusters.read(spark, version=2).collect())) == prev
    # shingle appends carry files by reference: appended files survive
    assert idx.shingles.read(spark).count() == (
        di._shingle_table(docs).count()
    )


def test_incremental_candidate_plans_stay_joins(spark, sf_dir):
    """Scale guard: neither fold's candidate generation may degrade to
    a nested-loop or cartesian plan — the delta joins must stay
    key-equi (broadcast/sort-merge/shuffled-hash)."""
    import tempfile

    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    thr = mx * 7 // 10
    root = tempfile.mkdtemp(prefix="dedup_idx_plan_")
    idx = di.build_dedup_index(spark, docs.where(F.col("doc_id") <= thr), root)
    out = di.incremental_update(spark, docs.where(F.col("doc_id") > thr), idx)
    plan = out._jdf.queryExecution().executedPlan().toString()

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    emx = emb.agg(F.max("vec_id")).collect()[0][0]
    eroot = tempfile.mkdtemp(prefix="emb_idx_plan_")
    eidx = di.build_emb_index(
        spark, emb.where(F.col("vec_id") <= emx * 7 // 10), eroot
    )
    eout = di.emb_incremental_update(
        spark, emb.where(F.col("vec_id") > emx * 7 // 10), eidx
    )
    eplan = eout._jdf.queryExecution().executedPlan().toString()
    for p in (plan, eplan):
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p


def test_resolve_labels_algebra_matches_full_components(spark, tmp_path):
    """The label-fold core in isolation: for ANY old edge set E1 over
    corpus nodes and new edge set E2 (each new edge's corpus endpoint
    in doc_a, per the production orientation), folding E2 into
    components(E1) must equal components(E1 ∪ E2). Includes the
    adversarial shapes: a delta node MERGING two old clusters, a
    previously-unclustered corpus node, a delta-only component, plus
    seeded random graphs."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup as dd
    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.plans.acid import AcidTable

    CORPUS_MAX = 60
    N = di.N_DOC_BUCKETS
    case = itertools.count()

    def fold_vs_full(e1, e2):
        e1df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in e1], "doc_a long, doc_b long"
        )
        e2df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in e2], "doc_a long, doc_b long"
        )
        # the fold's own steps: affected rows of the pinned labeling,
        # then the clusters commit over new edges ∪ label edges
        t = AcidTable(str(tmp_path / f"case{next(case)}"))
        base_v = t.overwrite(
            di._with_bucket(dd._star_components(e1df), "doc_id", N),
            partition_by=[di._PB],
        )
        old = t.read(spark, version=base_v)
        aff = di._affected_rows(
            old,
            e2df.where(F.col("doc_a") <= CORPUS_MAX).select(
                F.col("doc_a").alias("doc_id")
            ),
        )
        vals = di._collect_values({"c": aff.select(di._PB)})["c"]
        v = di._commit_clusters(
            t, old, aff, vals, e2df.unionByName(di._label_edges(aff)), base_v, N
        )
        got = sorted(
            map(
                tuple,
                t.read(spark, version=v)
                .select("doc_id", "cluster_id", "cluster_size")
                .collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                dd._star_components(e1df.unionByName(e2df)).collect(),
            )
        )
        assert got == want, (e1, e2)

    # hand-built adversarial shapes
    fold_vs_full(
        [(1, 2), (3, 4)],            # two separate old clusters
        [(1, 101), (3, 101)],        # one delta node merges them
    )
    fold_vs_full(
        [(1, 2)],
        [(50, 102), (110, 111)],     # unclustered corpus node + delta-only
    )
    fold_vs_full(
        [(i, i + 1) for i in range(1, 20)],   # one old chain
        [(5, 105), (105, 106), (40, 106)],    # delta chain annexing node 40
    )

    # seeded random graphs: corpus pairs + mixed delta edges
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        e1 = sorted(
            {
                tuple(sorted(rng.sample(range(1, CORPUS_MAX + 1), 2)))
                for _ in range(40)
            }
        )
        e2 = sorted(
            {
                (rng.randrange(1, CORPUS_MAX + 1), rng.randrange(101, 131))
                for _ in range(15)
            }
            | {
                tuple(sorted(rng.sample(range(101, 131), 2)))
                for _ in range(10)
            }
        )
        fold_vs_full(e1, e2)


# ------------------------------ exact removal from the index (r10)


def _surviving_full(spark, docs):
    from dbt_jaffleshop_spark.llm.dedup import (
        _star_components,
        minhash_star_pairs_over,
    )

    return sorted(
        map(
            tuple,
            _star_components(
                minhash_star_pairs_over(docs).select("doc_a", "doc_b")
            ).collect(),
        )
    )


def test_remove_docs_lifecycle_equals_full_recompute(spark, sf_dir):
    """build → fold → remove(every 17th id) must land exactly where a
    from-scratch star recompute over the surviving corpus lands, and
    the stored pairs table must equal the full-recompute verified star
    pairs (the removal invariant later folds rest on)."""
    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.llm.dedup import minhash_star_pairs_over
    from dbt_jaffleshop_spark.sources import load_table

    out = di.dedup_incremental(spark, sf_dir)
    got = sorted(map(tuple, out.collect()))
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    surviving = docs.where(
        F.col("doc_id") % di.REMOVE_MOD != di.REMOVE_RES
    )
    assert got == _surviving_full(spark, surviving)

    idx = di.DedupIndex(di._last_root[0])
    stored_pairs = sorted(
        (r.doc_a, r.doc_b) for r in idx.pairs.read(spark).collect()
    )
    want_pairs = sorted(
        (r.doc_a, r.doc_b)
        for r in minhash_star_pairs_over(surviving)
        .select("doc_a", "doc_b")
        .collect()
    )
    assert stored_pairs == want_pairs


def test_remove_docs_splits_chain_component(spark):
    """Removing the bridge document of a transitive near-dup chain
    A~B~C (A≁C) must SPLIT the component — the case label edges cannot
    express and the real-pairs re-solve exists for. Built over a
    synthetic frame fed straight to build_dedup_index."""
    import tempfile

    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup_incremental as di

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    tail = "lam mu nu xi omicron pi rho sigma tau upsilon "
    # A and B share most shingles; B and C share most; A vs C below 0.5
    docs = spark.createDataFrame(
        [
            (1, base * 3 + tail),
            (2, base * 3 + "PIVOT " + tail),
            (3, "PREFIX " + base * 3 + "PIVOT middle " + tail),
        ],
        "doc_id long, text string",
    )
    root = tempfile.mkdtemp(prefix="rm_split_")
    idx = di.build_dedup_index(spark, docs, root)
    before = {
        r.doc_id: r.cluster_id for r in idx.clusters.read(spark).collect()
    }
    if len(before) < 3 or len(set(before.values())) != 1:
        # corpus didn't form one 3-chain — make the test loud, not vacuous
        raise AssertionError(f"expected one 3-doc chain, got {before}")
    got = sorted(
        map(
            tuple,
            di.remove_docs(
                spark,
                spark.createDataFrame([(2,)], "doc_id long"),
                idx,
            ).collect(),
        )
    )
    # full recompute over {A, C}: are they still near-dups on their own?
    want = _surviving_full(spark, docs.where(F.col("doc_id") != 2))
    assert got == want


def test_remove_docs_empty_and_cluster_min(spark, sf_dir):
    """Empty removal is a no-op; removing a CLUSTER MIN re-labels its
    component to the next-smallest member, matching full recompute."""
    import tempfile

    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="rm_min_")
    idx = di.build_dedup_index(spark, docs, root)
    before = sorted(
        map(
            tuple,
            idx.clusters.read(spark)
            .select("doc_id", "cluster_id", "cluster_size")
            .collect(),
        )
    )
    assert before, "corpus has clusters"
    empty = spark.createDataFrame([], "doc_id long")
    assert sorted(map(tuple, di.remove_docs(spark, empty, idx).collect())) == before

    # remove the smallest cluster_id's min (a doc that labels a cluster)
    min_doc = min(r[1] for r in before)
    got = sorted(
        map(
            tuple,
            di.remove_docs(
                spark,
                spark.createDataFrame([(int(min_doc),)], "doc_id long"),
                idx,
            ).collect(),
        )
    )
    assert got == _surviving_full(
        spark, docs.where(F.col("doc_id") != min_doc)
    )


def test_emb_removal_lifecycle_and_clustered_endpoint(spark, sf_dir):
    """Embedding twin of the removal lifecycle: the registered
    build→fold→remove path equals a from-scratch all-pairs-LSH pass
    over the surviving vectors; then explicitly remove one endpoint of
    a verified pair and assert its component dissolves exactly as the
    full recompute says."""
    import tempfile

    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.llm.dedup import _quantize_frame
    from dbt_jaffleshop_spark.sources import load_table

    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731

    out = di.emb_dedup_incremental(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    surviving = emb.where(
        F.col("vec_id") % di.EMB_REMOVE_MOD != di.EMB_REMOVE_RES
    )
    assert rows(out) == rows(di.emb_clusters_lsh_over(_quantize_frame(surviving)))

    # fresh full index; remove one endpoint of an actual verified pair.
    # sf0.001's embeddings hold no near-dup pair at all, so this half
    # pins against sf0.01 (the driver's own correctness scale).
    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01").select(
        "vec_id", "embedding"
    )
    root = tempfile.mkdtemp(prefix="emb_rm_endpoint_")
    idx = di.build_emb_index(spark, emb, root)
    clustered = idx.clusters.read(spark).collect()
    if not clustered:
        raise AssertionError("corpus has no embedding clusters to remove")
    victim = int(min(r.doc_id for r in clustered))
    got = rows(
        di.remove_vecs(
            spark, spark.createDataFrame([(victim,)], "vec_id long"), idx
        )
    )
    want = rows(
        di.emb_clusters_lsh_over(
            _quantize_frame(emb.where(F.col("vec_id") != victim))
        )
    )
    assert got == want
    # stored pairs invariant after removal
    stored = sorted((r.doc_a, r.doc_b) for r in idx.pairs.read(spark).collect())
    want_pairs = sorted(
        (r.doc_a, r.doc_b)
        for r in di._emb_clique_pairs(
            _quantize_frame(emb.where(F.col("vec_id") != victim))
        ).collect()
    )
    assert stored == want_pairs


def test_fold_aborts_on_concurrent_meta_commit(spark, sf_dir):
    """Lost-update guard at the transaction's serialization point: a
    meta commit landing between a fold's snapshot read and its own meta
    swap must abort the fold with ConcurrentWriteError — the losing
    fold's data-table versions stay unreferenced by meta (the winner's
    consistent state survives)."""
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.plans.acid import ConcurrentWriteError
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    thr = mx * 7 // 10
    root = tempfile.mkdtemp(prefix="dedup_idx_race_")
    idx = di.build_dedup_index(spark, docs.where(F.col("doc_id") <= thr), root)
    winner_meta = sorted(map(tuple, idx.meta.read(spark).collect()))

    # interpose: the fold's pinned clusters read triggers a racing meta
    # commit (same row, new version) before the fold's own meta swap
    real_read = idx.clusters.read
    real_meta_overwrite = idx.meta.overwrite
    fired = []

    def racing_read(s, version=None):
        out = real_read(s, version=version)
        if not fired:
            fired.append(True)
            real_meta_overwrite(idx.meta.read(s).localCheckpoint())
        return out

    idx.clusters.read = racing_read
    try:
        with pytest.raises(ConcurrentWriteError, match="now current"):
            di.incremental_update(
                spark, docs.where(F.col("doc_id") > thr), idx
            )
    finally:
        idx.clusters.read = real_read
    # the index still points at a consistent (the racer's) state
    assert sorted(map(tuple, idx.meta.read(spark).collect())) == winner_meta


def test_fold_crash_rerun_is_idempotent(spark, sf_dir):
    """Crash atomicity: a fold dying mid-commit-sequence (after some
    data tables committed, before the meta swap) must leave the index
    readable at its pre-fold state, and the RE-RUN must land exactly on
    the full-recompute answer — no doubled shingle rows, no torn
    cross-table state (the r10 review's corruption scenario)."""
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.llm.dedup import dedup_clusters
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    thr = mx * 7 // 10
    root = tempfile.mkdtemp(prefix="dedup_idx_crash_")
    idx = di.build_dedup_index(spark, docs.where(F.col("doc_id") <= thr), root)
    pre_fold = sorted(map(tuple, idx.clusters_df(spark).collect()))
    delta = docs.where(F.col("doc_id") > thr)

    # crash AFTER clusters+shingles+bands committed, BEFORE pairs/meta
    real_append_from = idx.pairs.append_from

    def crashing_append_from(df, base_version, meta=None):
        raise RuntimeError("simulated executor loss mid-transaction")

    idx.pairs.append_from = crashing_append_from
    with pytest.raises(RuntimeError, match="simulated"):
        di.incremental_update(spark, delta, idx)
    idx.pairs.append_from = real_append_from

    # meta never moved: the index still reads its pre-fold state
    assert sorted(map(tuple, idx.clusters_df(spark).collect())) == pre_fold
    # the re-run (the documented remedy) lands on full recompute exactly
    final = di.incremental_update(spark, delta, idx)
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, dedup_clusters(spark, sf_dir).collect())
    )
    # and the shingle table holds each delta row ONCE (the old append
    # path double-counted after a crash, quadrupling Jaccard intersections)
    _v, snap = idx.snapshot(spark)
    sh = idx.shingles.read(spark, version=snap["shingles_v"])
    assert (
        sh.groupBy("doc_id", "sh_h").count().where(F.col("count") > 1).count()
        == 0
    )
