"""Round-11: partition-scoped dedup-index commits (VERDICT r10 item 1).

The index data tables are hash-partitioned (doc tables by
``p_bucket = id % N_DOC_BUCKETS``, ``bucket_mins`` by ``band``);
removal and fold commits must write files ONLY under affected
partition directories, carrying every other partition by reference
from the META-PINNED base snapshot — files written is O(affected
partitions + delta), never O(corpus).
"""

import tempfile

from pyspark.sql import functions as F

from test_llm_ops_r10 import _surviving_full


def _files(table) -> set[str]:
    return set(table.manifest()["files"])


def _dirs(files) -> set[str]:
    return {f.split("/", 1)[0] for f in files}


def test_removal_writes_only_affected_partitions(spark, sf_dir):
    """Remove only ids with doc_id % N == 3 (ONE p_bucket partition):
    the shingles/bands commits must stage files only under
    p_bucket=3/, keep every other partition's files by reference, and
    the end state must still equal a full recompute over the
    survivors."""
    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="dedup_idx_part_")
    idx = di.build_dedup_index(spark, docs, root)
    before = {t: _files(getattr(idx, t)) for t in idx._TABLES}

    rem = docs.where(
        F.col("doc_id") % di.N_DOC_BUCKETS == 3
    ).select("doc_id")
    assert rem.count() > 0
    final = di.remove_docs(spark, rem, idx)

    for t in ("shingles", "bands"):
        table = getattr(idx, t)
        after = _files(table)
        staged = after - before[t]
        carried = after & before[t]
        # every NEW file sits in the single affected partition dir
        assert _dirs(staged) <= {"p_bucket=3"}, (t, _dirs(staged))
        # every unaffected partition's files carried by reference
        untouched_before = {
            f for f in before[t] if not f.startswith("p_bucket=3/")
        }
        assert untouched_before <= carried, t

    # clusters/pairs rewrites are bounded by their affected-partition
    # sets (strict subsets of the table at this corpus: not every
    # bucket holds a touched cluster / dropped pair)
    # correctness: exact full-recompute equality on the survivors
    surviving = docs.where(F.col("doc_id") % di.N_DOC_BUCKETS != 3)
    assert sorted(map(tuple, final.collect())) == _surviving_full(
        spark, surviving
    )


def test_fold_appends_only_delta_files(spark, sf_dir):
    """A fold must keep every base file referenced (pinned-base append)
    and stage at most O(N_DOC_BUCKETS) new files per doc table — the
    delta's rows — regardless of corpus size."""
    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    thr = mx * 7 // 10
    root = tempfile.mkdtemp(prefix="dedup_idx_foldpart_")
    idx = di.build_dedup_index(spark, docs.where(F.col("doc_id") <= thr), root)
    before = {t: _files(getattr(idx, t)) for t in idx._TABLES}

    di.incremental_update(spark, docs.where(F.col("doc_id") > thr), idx)

    for t in ("shingles", "bands"):
        after = _files(getattr(idx, t))
        assert before[t] <= after, f"{t}: base file dropped by the fold"
        assert len(after - before[t]) <= di.N_DOC_BUCKETS, t
    # the cluster update also carries unaffected partitions by
    # reference: the fold must not rewrite the whole table
    clus_after = _files(idx.clusters)
    assert before["clusters"] & clus_after, "clusters fully rewritten"


def test_overwrite_partitions_pinned_base_ignores_garbage(spark, tmp_path):
    """Table-level contract behind the index transaction: a partition
    overwrite pinned to base_version must carry the PINNED snapshot's
    other partitions even when a later (crashed-attempt) commit sits
    above the pin."""
    from dbt_jaffleshop_spark.plans.acid import AcidTable

    t = AcidTable(str(tmp_path / "p"))
    df = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], "id bigint, b int"
    )
    t.overwrite(df, partition_by=["b"])
    base_v = t.current_version()

    # garbage above the pin: a crashed attempt replaced partition b=1
    junk = spark.createDataFrame([(999, 1)], "id bigint, b int")
    t.overwrite_partitions(junk, "b", [1])

    # pinned write to partition b=2: carries b=0,1,3 from the PIN
    repl = spark.createDataFrame(
        [(1000, 2), (1001, 2)], "id bigint, b int"
    )
    t.overwrite_partitions(repl, "b", [2], base_version=base_v)

    got = sorted(r.id for r in t.read(spark).collect())
    want = sorted(
        [i for i in range(40) if i % 4 != 2] + [1000, 1001]
    )
    assert got == want  # garbage b=1 rewrite contributed nothing


def test_emb_removal_writes_only_affected_partitions(spark, sf_dir):
    """Embedding-index twin: vector/bucket commits for a one-partition
    removal stage files only under that partition, and the lifecycle
    stays exact (pinned by the r10 lifecycle test; here we check the
    file-level contract)."""
    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    root = tempfile.mkdtemp(prefix="emb_idx_part_")
    idx = di.build_emb_index(spark, emb, root)
    before = {t: _files(getattr(idx, t)) for t in idx._TABLES}

    rem = emb.where(
        F.col("vec_id") % di.N_DOC_BUCKETS == 5
    ).select("vec_id")
    assert rem.count() > 0
    di.remove_vecs(spark, rem, idx)

    for t in ("vectors", "buckets"):
        table = getattr(idx, t)
        after = _files(table)
        staged = after - before[t]
        assert _dirs(staged) <= {"p_bucket=5"}, (t, _dirs(staged))
        untouched_before = {
            f for f in before[t] if not f.startswith("p_bucket=5/")
        }
        assert untouched_before <= after, t


# ------------------------------------------------ rebucket (r11 item 2)


def test_rebucket_equals_from_scratch_build(spark, sf_dir):
    """rebucket(extra_bits) must land the index exactly where a
    from-scratch build at that banding lands — pairs AND clusters —
    without recomputing a single cosine (the refinement shortcut)."""
    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    root_a = tempfile.mkdtemp(prefix="emb_rebucket_a_")
    root_b = tempfile.mkdtemp(prefix="emb_rebucket_b_")
    idx = di.build_emb_index(spark, emb, root_a)
    di.rebucket_emb_index(spark, idx, extra_bits=2)
    fresh = di.build_emb_index(spark, emb, root_b, extra_bits=2)

    def pairs_of(i):
        return sorted(
            (r.doc_a, r.doc_b)
            for r in i.pairs.read(spark).select("doc_a", "doc_b").collect()
        )

    assert pairs_of(idx) == pairs_of(fresh)
    got = sorted(map(tuple, idx.clusters_df(spark).collect()))
    want = sorted(map(tuple, fresh.clusters_df(spark).collect()))
    assert got == want
    # a rebucket at finer banding must actually split something at this
    # corpus, or the test is vacuous
    assert int(idx.snapshot(spark)[1]["extra_bits"]) == 2


def test_fold_after_rebucket_equals_full_recompute(spark, sf_dir):
    """The occupancy-knob contract: build coarse → rebucket → fold a
    delta; the end state must equal a full recompute over ALL vectors
    at the NEW banding (folds pick the committed banding up from
    meta)."""
    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.llm.dedup import _quantize_frame
    from dbt_jaffleshop_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    mx = emb.agg(F.max("vec_id")).collect()[0][0]
    thr = mx * 7 // 10
    root = tempfile.mkdtemp(prefix="emb_rebucket_fold_")
    idx = di.build_emb_index(spark, emb.where(F.col("vec_id") <= thr), root)
    di.rebucket_emb_index(spark, idx, extra_bits=2)
    final = di.emb_incremental_update(
        spark, emb.where(F.col("vec_id") > thr), idx
    )
    want = di.emb_clusters_lsh_over(_quantize_frame(emb), extra_bits=2)
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_rebucket_guards(spark, sf_dir):
    """Coarsening is refused loudly; a same-banding rebucket is a
    committed-state no-op."""
    import pytest

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    root = tempfile.mkdtemp(prefix="emb_rebucket_g_")
    idx = di.build_emb_index(spark, emb, root, extra_bits=1)
    with pytest.raises(ValueError, match="COARSEN"):
        di.rebucket_emb_index(spark, idx, extra_bits=0)
    before = sorted(map(tuple, idx.clusters_df(spark).collect()))
    noop = di.rebucket_emb_index(spark, idx, extra_bits=1)
    assert sorted(map(tuple, noop.collect())) == before


# ------------------------------------------- compaction (maintenance)


def test_compact_index_bounds_files_and_preserves_state(spark, sf_dir):
    """After two folds each partition holds up to three files (build +
    2 deltas); compact_index re-stages every table to ~one file per
    partition THROUGH the meta transaction (meta repinned, state
    byte-identical), a later fold still composes exactly, and vacuum
    then reclaims the superseded small files without touching the
    pinned snapshot."""
    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.llm.dedup import dedup_clusters
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    t1, t2 = mx * 6 // 10, mx * 8 // 10
    root = tempfile.mkdtemp(prefix="dedup_idx_compact_")
    idx = di.build_dedup_index(spark, docs.where(F.col("doc_id") <= t1), root)
    di.incremental_update(
        spark, docs.where((F.col("doc_id") > t1) & (F.col("doc_id") <= t2)), idx
    )
    before = sorted(map(tuple, idx.clusters_df(spark).collect()))
    sh_files_before = len(_files(idx.shingles))
    assert sh_files_before > di.N_DOC_BUCKETS  # build + fold stacked

    di.compact_index(spark, idx)
    # state identical, file count bounded by the partition count
    assert sorted(map(tuple, idx.clusters_df(spark).collect())) == before
    assert len(_files(idx.shingles)) <= di.N_DOC_BUCKETS
    assert len(_files(idx.bucket_mins)) <= 8  # one per band

    # a fold after compaction still lands on the full recompute
    final = di.incremental_update(spark, docs.where(F.col("doc_id") > t2), idx)
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, dedup_clusters(spark, sf_dir).collect())
    )
    # vacuum reclaims superseded files; the index still reads
    idx.vacuum(keep_last=2)
    assert sorted(map(tuple, idx.clusters_df(spark).collect())) == sorted(
        map(tuple, final.collect())
    )


def test_emb_compact_index_preserves_banding(spark, sf_dir):
    """Embedding flavor: compaction carries the committed extra_bits
    through the meta swap, so a fold after rebucket + compact still
    buckets at the refined banding."""
    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.llm.dedup import _quantize_frame
    from dbt_jaffleshop_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    mx = emb.agg(F.max("vec_id")).collect()[0][0]
    thr = mx * 7 // 10
    root = tempfile.mkdtemp(prefix="emb_idx_compact_")
    idx = di.build_emb_index(spark, emb.where(F.col("vec_id") <= thr), root)
    di.rebucket_emb_index(spark, idx, extra_bits=2)
    di.compact_index(spark, idx)
    assert int(idx.snapshot(spark)[1]["extra_bits"]) == 2
    final = di.emb_incremental_update(
        spark, emb.where(F.col("vec_id") > thr), idx
    )
    want = di.emb_clusters_lsh_over(_quantize_frame(emb), extra_bits=2)
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_commit_clusters_update_appends_fresh_corpus_rows(spark, tmp_path):
    """The algebra pin for the bug the partition-scoped commit exposed:
    resolved rows for docs with NO previous cluster row (corpus
    SINGLETONS gaining their first verified pair — not just delta
    docs) must be appended even when their partition is outside the
    replace set. Synthetic: old clusters hold only {20, 36} (same
    cluster, bucket 4); the update re-solves that cluster AND adds a
    fresh pair {7, 23} whose buckets (7) hold no old rows."""
    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.plans.acid import AcidTable

    t = AcidTable(str(tmp_path / "clusters"))
    old = spark.createDataFrame(
        [(20, 20, 2), (36, 20, 2)],
        "doc_id bigint, cluster_id bigint, cluster_size bigint",
    )
    base_v = t.overwrite(
        di._with_bucket(old, "doc_id", di.N_DOC_BUCKETS), partition_by=[di._PB]
    )

    # re-solve: cluster 20 (touched) plus the fresh component {7, 23}
    pinned = t.read(spark, version=base_v)
    aff = di._affected_rows(
        pinned, spark.createDataFrame([(20,)], "doc_id bigint")
    )
    vals = di._collect_values({"clusters": aff.select(di._PB)})["clusters"]
    assert vals == [20 % di.N_DOC_BUCKETS]
    edges = spark.createDataFrame([(20, 36), (7, 23)], "doc_a bigint, doc_b bigint")
    di._commit_clusters(t, pinned, aff, vals, edges, base_v, di.N_DOC_BUCKETS)

    got = sorted(
        map(
            tuple,
            t.read(spark)
            .select("doc_id", "cluster_id", "cluster_size")
            .collect(),
        )
    )
    assert got == [(7, 7, 2), (20, 20, 2), (23, 7, 2), (36, 20, 2)]


# --------------------------------- streaming fold (continuous dedup)


def test_streaming_fold_equals_batch_recompute(spark, sf_dir, tmp_path):
    """Continuous dedup end-to-end: document batches arriving as files
    fold micro-batch-by-micro-batch into the index (first batch
    builds, later ones fold), and the end state equals a full batch
    star recompute over everything. A SECOND stream run on the same
    checkpoint with no new files changes nothing (replays skip via the
    high-water mark); a new file folds exactly once."""
    import os
    import time

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.sources import load_table
    from dbt_jaffleshop_spark.streaming.index_fold import (
        streaming_documents_fold,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    t1, t2 = mx * 5 // 10, mx * 8 // 10
    src = str(tmp_path / "feed")
    os.makedirs(src)

    def land(df, name):
        # one file per batch, staggered mtimes so the file source
        # delivers them in id order (how a real feed lands)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next(
            f
            for f in os.listdir(str(tmp_path / name))
            if f.endswith(".parquet")
        )
        os.replace(
            os.path.join(str(tmp_path / name), part),
            os.path.join(src, name + ".parquet"),
        )
        time.sleep(1.1)  # file-source ordering is mtime-based

    land(docs.where(F.col("doc_id") <= t1), "b0")
    land(docs.where((F.col("doc_id") > t1) & (F.col("doc_id") <= t2)), "b1")

    root = str(tmp_path / "idx")
    idx = streaming_documents_fold(
        spark, src, root, max_files_per_trigger=1
    )
    want_2 = _surviving_full(spark, docs.where(F.col("doc_id") <= t2))
    assert sorted(map(tuple, idx.clusters_df(spark).collect())) == want_2
    meta_v = idx.meta.current_version()

    # replay run: same checkpoint, no new files → nothing moves
    streaming_documents_fold(spark, src, root, max_files_per_trigger=1)
    assert idx.meta.current_version() == meta_v

    # a third batch arrives → exactly one more fold
    land(docs.where(F.col("doc_id") > t2), "b2")
    streaming_documents_fold(spark, src, root, max_files_per_trigger=1)
    assert idx.meta.current_version() == meta_v + 1
    assert sorted(
        map(tuple, idx.clusters_df(spark).collect())
    ) == _surviving_full(spark, docs)


def test_streaming_fold_refuses_straddling_batch(spark, sf_dir, tmp_path):
    """A batch whose ids straddle the high-water mark is out-of-order
    delivery, not a replay — refused loudly."""
    import os
    import time

    import pytest

    from dbt_jaffleshop_spark.sources import load_table
    from dbt_jaffleshop_spark.streaming.index_fold import (
        streaming_documents_fold,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    src = str(tmp_path / "feed")
    os.makedirs(src)
    docs.where(F.col("doc_id") <= mx // 2).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "w0"))
    part = next(
        f for f in os.listdir(str(tmp_path / "w0")) if f.endswith(".parquet")
    )
    os.replace(
        os.path.join(str(tmp_path / "w0"), part),
        os.path.join(src, "b0.parquet"),
    )
    root = str(tmp_path / "idx")
    streaming_documents_fold(spark, src, root)
    time.sleep(1.1)
    # straddling file: overlaps the committed range AND extends past it
    docs.where(F.col("doc_id") >= mx // 4).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "w1"))
    part = next(
        f for f in os.listdir(str(tmp_path / "w1")) if f.endswith(".parquet")
    )
    os.replace(
        os.path.join(str(tmp_path / "w1"), part),
        os.path.join(src, "b1.parquet"),
    )
    with pytest.raises(Exception, match="straddles"):
        streaming_documents_fold(spark, src, root)


def test_dedup_substring_matches_bruteforce(spark, sf_dir):
    """Substring-level dedup (r11b, Lee et al. ExactSubstr spec) against
    an independent pure-Python recompute over the raw gram STRINGS —
    pins the whole spec (windowing, corpus-wide counting, min-(doc,pos)
    keeper, span union, surviving-text md5) with no shared hash code."""
    import hashlib
    from collections import defaultdict

    from dbt_jaffleshop_spark.llm.dedup import SUBSTR_K, dedup_substring
    from dbt_jaffleshop_spark.sources import load_table

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .collect()
    }
    occ = defaultdict(list)
    for doc_id in sorted(docs):
        ts = docs[doc_id].split(" ")
        for i in range(len(ts) - SUBSTR_K + 1):
            occ[" ".join(ts[i : i + SUBSTR_K])].append((doc_id, i + 1))
    removed = defaultdict(set)
    for places in occ.values():
        if len(places) < 2:
            continue
        for doc_id, pos in places[1:]:  # places are in (doc_id, pos) order
            removed[doc_id].update(range(pos, pos + SUBSTR_K))
    want = {}
    for doc_id, text in docs.items():
        ts = text.split(" ")
        rm = removed.get(doc_id, set())
        kept = " ".join(t for j, t in enumerate(ts, 1) if j not in rm)
        want[doc_id] = (
            len(ts),
            len(rm),
            hashlib.md5(kept.encode()).hexdigest(),
        )

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"], r["kept_md5"])
        for r in dedup_substring(spark, sf_dir).collect()
    }
    assert got == want
    # the operator actually removes something on the planted corpus
    assert sum(v[1] for v in got.values()) > 0


def test_dedup_substring_plan_shape(spark, sf_dir):
    """The scale claims in the docstring, pinned: no window function
    (keeper election is min-struct partial aggregation), no Python
    evaluation anywhere (reconstruction is JVM higher-order exprs)."""
    from dbt_jaffleshop_spark.llm.dedup import dedup_substring

    plan = (
        dedup_substring(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan
    assert "EvalPython" not in plan, plan
