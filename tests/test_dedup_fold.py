"""The fused dedup-index fold (llm/dedup_incremental.py).

* One ``incremental_update`` on the sf0.001 corpus submits at most
  ``FOLD_JOBS_MAX`` Spark jobs, counted from the driver's status store
  (``perfbench.probe.SparkRecord``, UI off).
* The invariant that lets ``_commit_clusters`` stage ``kept ∪
  resolved`` without an anti-join against the old cluster table:
  no resolved doc that has a pinned cluster row lies outside the
  replaced partitions — checked on every caller (document fold and
  removal, embedding fold, removal and rebucket), and on a planted
  removal whose re-elected bucket min pairs into a cluster that holds
  no removed doc.

The document index is built once per module and copied per test.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from dbt_jaffleshop_spark.llm import dedup_incremental as di
from dbt_jaffleshop_spark.llm.dedup import _quantize_frame, _star_components
from dbt_jaffleshop_spark.sources import load_table
from perfbench.probe import SparkRecord

# Jobs of one fold on the conftest corpus: 44 with the fused chain
# (each intermediate computed once, one affected-rows frame, one
# partition-value collect), 69 before it; plus 2 of slack.
FOLD_JOBS_MAX = 44 + 2


@pytest.fixture(scope="module")
def doc_index(spark, sf_dir, tmp_path_factory):
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    thr = di._split_threshold(docs)
    root = str(tmp_path_factory.mktemp("dedup_fold") / "index")
    di.build_dedup_index(spark, docs.where(F.col("doc_id") <= thr), root)
    return docs, thr, root


def _index_copy(root: str, tmp_path) -> di.DedupIndex:
    dst = str(tmp_path / "index")
    shutil.copytree(root, dst)
    return di.DedupIndex(dst)


def test_fold_job_count(spark, doc_index, tmp_path):
    docs, thr, root = doc_index
    idx = _index_copy(root, tmp_path)
    delta = docs.where(F.col("doc_id") > thr)
    record, bus = SparkRecord(spark), spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = record.last_job_id()
    di.incremental_update(spark, delta, idx)
    bus.waitUntilEmpty()
    jobs = record.last_job_id() - before
    assert jobs <= FOLD_JOBS_MAX, f"fold submitted {jobs} Spark jobs"


@pytest.fixture
def clusters_commits(monkeypatch):
    """Wrap the shared clusters commit; per call, record (resolved docs
    with a pinned row outside the replaced partitions, resolved docs
    with a pinned row)."""
    calls: list[tuple[int, int]] = []
    real = di._commit_clusters

    def checked(table, old, aff, vals, edges, base_version, n):
        resolved = _star_components(edges).select("doc_id")
        pinned = resolved.join(old.select("doc_id", di._PB), "doc_id")
        calls.append(
            (pinned.where(~F.col(di._PB).isin(vals)).count(), pinned.count())
        )
        return real(table, old, aff, vals, edges, base_version, n)

    monkeypatch.setattr(di, "_commit_clusters", checked)
    return calls


def test_clusters_commit_invariant_document_index(
    spark, doc_index, tmp_path, clusters_commits
):
    docs, thr, root = doc_index
    idx = _index_copy(root, tmp_path)
    di.incremental_update(spark, docs.where(F.col("doc_id") > thr), idx)
    di.remove_docs(
        spark,
        docs.where(F.col("doc_id") % di.REMOVE_MOD == di.REMOVE_RES).select("doc_id"),
        idx,
    )
    assert len(clusters_commits) == 2
    assert [stray for stray, _ in clusters_commits] == [0, 0]
    # not vacuous: both operations re-solved docs that had pinned rows
    assert all(pinned > 0 for _, pinned in clusters_commits), clusters_commits


def _planted_embeddings(spark):
    """150 unit vectors in 30 near-duplicate families of 5 (member ids
    f, f+30, …, f+120; pairwise cosine ≈ 0.9), so the corpus slice
    already holds clusters, the delta joins them, a removal splits
    some, and finer banding drops some pairs — the conftest corpus's
    embeddings have no verified pair at all."""
    import numpy as np

    from dbt_jaffleshop_spark.llm.common import SIM_LSH_PLANES

    rng = np.random.default_rng(7)
    dim = len(SIM_LSH_PLANES[0])
    base = rng.normal(size=(30, dim))
    rows = []
    for i in range(150):
        v = base[i % 30] + 0.35 * rng.normal(size=dim)
        rows.append((i, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_clusters_commit_invariant_embedding_index(
    spark, tmp_path, clusters_commits
):
    emb = _planted_embeddings(spark)
    thr = di._split_threshold(emb, "vec_id")
    idx = di.build_emb_index(
        spark, emb.where(F.col("vec_id") <= thr), str(tmp_path / "emb")
    )
    removed = F.col("vec_id") % di.EMB_REMOVE_MOD == di.EMB_REMOVE_RES

    def full(frame, extra_bits=0):
        return rows(di.emb_clusters_lsh_over(_quantize_frame(frame), extra_bits))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    # each end state also equals the full recompute (the conftest
    # embeddings cannot show this: they cluster nothing)
    got = rows(di.emb_incremental_update(spark, emb.where(F.col("vec_id") > thr), idx))
    assert got == full(emb)
    got = rows(di.remove_vecs(spark, emb.where(removed).select("vec_id"), idx))
    assert got == full(emb.where(~removed))
    got = rows(di.rebucket_emb_index(spark, idx, extra_bits=2))
    assert got == full(emb.where(~removed), extra_bits=2)
    assert len(clusters_commits) == 3
    assert [stray for stray, _ in clusters_commits] == [0, 0, 0]
    assert all(pinned > 0 for _, pinned in clusters_commits), clusters_commits


# Four documents (word 3-gram shingles) planted so that every LSH bucket
# holding both 2 and 3 also holds 1: the stored star pairs are (1, 2)
# and (3, 4), and only after removing 1 does a re-elected bucket min 2
# pair with 3 — a removal edge into a cluster that holds no removed doc.
_REELECT_DOCS = {
    1: "w140891 w596853 w888598 w841235 w800875 w066172 w267459 w123646"
    " w519501 w683244 w398055",
    2: "w140891 w596853 w888598 w841235 w800875 w066172 w267459 w123646"
    " w519501 w797926 w471325 w495185",
    3: "w827036 w220153 w841235 w800875 w066172 w267459 w123646 w519501"
    " w797926 w471325 w495185",
    4: "w827036 w220153 w841235 w800875 w066172 w267459 w123646 w519501"
    " w797926 w471325 w495185 w098418 w511554 w029724 w936710",
}


def test_clusters_commit_invariant_removal_reelects_into_other_cluster(
    spark, tmp_path, clusters_commits
):
    docs = spark.createDataFrame(
        sorted(_REELECT_DOCS.items()), "doc_id bigint, text string"
    )
    idx = di.build_dedup_index(spark, docs, str(tmp_path / "index"))
    clusters = sorted(map(tuple, idx.clusters_df(spark).collect()))
    assert clusters == [(1, 1, 2), (2, 1, 2), (3, 3, 2), (4, 3, 2)]
    got = di.remove_docs(spark, docs.where(F.col("doc_id") == 1).select("doc_id"), idx)
    assert sorted(map(tuple, got.collect())) == [(2, 2, 3), (3, 2, 3), (4, 2, 3)]
    assert clusters_commits == [(0, 3)]
