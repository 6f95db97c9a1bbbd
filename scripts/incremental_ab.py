#!/usr/bin/env python
"""A/B: incremental delta-vs-corpus dedup vs full recompute (r10,
VERDICT r9 item 1's "done" bar: show the delta cost scales with
|delta|, not |corpus|).

Setup per corpus scale (1× = sf0.1 documents; 10× = the derived
near-duplicate replica set from scripts/scale_ratio.py, reused from its
cache dir):

* build the dedup index ONCE over the corpus (this is the amortized
  one-time cost a daily pipeline never repays);
* FIXED delta: the same ~|sf0.1|/10 document slice at every scale,
  doc_ids shifted above the corpus high-water mark, text salted so the
  batch contains both near-duplicates of corpus docs and novel docs;
* A = incremental_update(delta) through a fresh COPY of the index
  (copytree, so each timed run folds from the identical committed
  state — the fold itself commits);
* B = full star-semantics recompute over (corpus ∪ delta)
  (llm/dedup.py generation, no ACID I/O — the cheapest possible full
  pass, so the comparison is conservative AGAINST the incremental
  path).

Pass bar: A's time is roughly flat from 1× to 10× corpus while B grows
~linearly — i.e. t_inc(10×)/t_inc(1×) ≪ t_full(10×)/t_full(1×), and at
10× the incremental fold beats the full recompute outright. Results
recorded in BASELINE.md round-10 notes.

Every fold timing is reported with the Spark jobs that fold submitted
(``*_jobs``), read from the driver's status store (kept with the UI
off): at a fixed delta the job count is a property of the fold's plan,
so it should not move with the corpus size.

Usage: python scripts/incremental_ab.py [--runs 3] [--cpus 32]
       [--sf-dir /root/testdata/sf0.1] [--scale-dir /tmp/sfscale10]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from perfbench.probe import SparkRecord  # noqa: E402

DELTA_STRIDE = 10**14  # far above scale_ratio's replica key space


def _session(cpus: int):
    from dbt_jaffleshop_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    return get_spark("incremental-ab")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _last_job_id(spark) -> int:
    """Highest job id in the driver's status store, once every event
    posted so far has reached it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return SparkRecord(spark).last_job_id()


def _delta_frame(spark, sf_dir: str, corpus_max: int):
    """The fixed-size delta batch: every 10th sf0.1 document, ids moved
    above the corpus high-water mark; half the rows salted into NEAR
    duplicates (high shingle overlap with their source doc), half made
    novel — the realistic daily-batch mix."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base = docs.where(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + F.lit(corpus_max + DELTA_STRIDE)).alias("doc_id"),
        F.when(
            F.col("doc_id") % 20 == 3, F.concat(F.col("text"), F.lit(" delta batch"))
        )
        .otherwise(F.concat(F.lit("novel "), F.reverse(F.col("text"))))
        .alias("text"),
    )
    return base


def _emb_delta_frame(spark, sf_dir: str, corpus_max: int):
    """Fixed embedding delta: every 10th sf0.1 vector, ids above the
    corpus high-water mark; half perturbed near-duplicates of their
    source vector, half sign-flipped (novel)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return emb.where(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + F.lit(corpus_max + DELTA_STRIDE)).alias("vec_id"),
        F.when(
            F.col("vec_id") % 20 == 3,
            F.expr("transform(embedding, x -> cast(x + 0.0015 as float))"),
        )
        .otherwise(F.expr("transform(embedding, x -> cast(-x as float))"))
        .alias("embedding"),
    )


def run_emb_suite(spark, args) -> None:
    """Embedding fold vs full all-pairs-LSH recompute at both corpus
    scales — the same protocol as the document suite."""
    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.llm.dedup import _quantize_frame

    results: dict[str, dict] = {}
    for label, corpus_dir in (("1x", args.sf_dir), ("10x", args.scale_dir)):
        emb = spark.read.parquet(
            os.path.join(corpus_dir, "embeddings.parquet")
        ).select("vec_id", "embedding")
        corpus_max = int(emb.agg(F.max("vec_id")).collect()[0][0])
        delta = _emb_delta_frame(spark, args.sf_dir, corpus_max).localCheckpoint()
        n_corpus, n_delta = emb.count(), delta.count()

        root = tempfile.mkdtemp(prefix=f"emb_ab_{label}_")
        t0 = time.perf_counter()
        di.build_emb_index(spark, emb, root)
        t_build = time.perf_counter() - t0

        inc_times, inc_jobs, full_times = [], [], []
        for _ in range(args.runs):
            work = tempfile.mkdtemp(prefix=f"emb_ab_run_{label}_")
            shutil.rmtree(work)
            shutil.copytree(root, work)
            idx = di.EmbDedupIndex(work)
            j0 = _last_job_id(spark)
            t0 = time.perf_counter()
            out = di.emb_incremental_update(spark, delta, idx)
            inc_jobs.append(_last_job_id(spark) - j0)
            _force(out)
            inc_times.append(time.perf_counter() - t0)
            shutil.rmtree(work, ignore_errors=True)

            t0 = time.perf_counter()
            _force(
                di.emb_clusters_lsh_over(
                    _quantize_frame(emb.unionByName(delta))
                )
            )
            full_times.append(time.perf_counter() - t0)

        results[label] = {
            "n_corpus": n_corpus,
            "n_delta": n_delta,
            "index_build_sec": round(t_build, 2),
            "incremental_sec": round(statistics.median(inc_times), 2),
            "incremental_jobs": statistics.median(inc_jobs),
            "full_recompute_sec": round(statistics.median(full_times), 2),
            "all_incremental": [round(t, 2) for t in inc_times],
            "all_incremental_jobs": inc_jobs,
            "all_full": [round(t, 2) for t in full_times],
        }
        shutil.rmtree(root, ignore_errors=True)
        print(json.dumps({"suite": "emb", "scale": label, **results[label]}))

    r1, r10 = results["1x"], results["10x"]
    print(
        json.dumps(
            {
                "metric": "emb_incremental_dedup_ab",
                "inc_growth_10x": round(
                    r10["incremental_sec"] / max(r1["incremental_sec"], 1e-9), 2
                ),
                "full_growth_10x": round(
                    r10["full_recompute_sec"]
                    / max(r1["full_recompute_sec"], 1e-9),
                    2,
                ),
                "inc_vs_full_at_10x": round(
                    r10["full_recompute_sec"]
                    / max(r10["incremental_sec"], 1e-9),
                    2,
                ),
            }
        )
    )


def run_days_suite(spark, args) -> None:
    """Multi-day simulation: build the index once over sf0.1, then fold
    the SAME-SIZE daily batch N times in sequence (each batch's ids
    above the previous high-water mark), vacuuming after each fold —
    the shape a production pipeline actually runs. Pass bar: per-fold
    seconds stay ~flat as the corpus grows by one delta per day, and
    vacuum holds the snapshot count bounded."""
    from dbt_jaffleshop_spark.llm import dedup_incremental as di

    docs = spark.read.parquet(
        os.path.join(args.sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="inc_days_")
    t0 = time.perf_counter()
    idx = di.build_dedup_index(spark, docs, root)
    build = round(time.perf_counter() - t0, 2)
    series = []
    for day in range(args.days):
        hi = idx.max_doc_id(spark)
        delta = _delta_frame(spark, args.sf_dir, hi).localCheckpoint()
        j0 = _last_job_id(spark)
        t0 = time.perf_counter()
        out = di.incremental_update(spark, delta, idx)
        fold_jobs = _last_job_id(spark) - j0
        _force(out)
        fold_s = round(time.perf_counter() - t0, 2)
        idx.vacuum(keep_last=2)
        n_versions = idx.clusters.current_version()
        series.append(
            {
                "day": day + 1,
                "fold_sec": fold_s,
                "fold_jobs": fold_jobs,
                "clusters_rows": out.count(),
                "version": n_versions,
            }
        )
        print(json.dumps({"suite": "days", **series[-1]}))
    shutil.rmtree(root, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "incremental_dedup_days",
                "index_build_sec": build,
                "fold_secs": [s["fold_sec"] for s in series],
                "fold_jobs": [s["fold_jobs"] for s in series],
                "flat_ratio_last_vs_first": round(
                    series[-1]["fold_sec"] / max(series[0]["fold_sec"], 1e-9),
                    2,
                ),
            }
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--days", type=int, default=5)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--suite", choices=["docs", "emb", "days", "both"], default="docs"
    )
    ap.add_argument(
        "--scale-dir",
        default=os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/sfscale10"),
    )
    args = ap.parse_args()

    spark = _session(args.cpus)
    if args.suite == "days":
        run_days_suite(spark, args)
        spark.stop()
        return
    if args.suite in ("emb", "both"):
        from scripts.scale_ratio import build_derived as _bd

        _bd(spark, args.sf_dir, args.scale_dir, 10)
        run_emb_suite(spark, args)
        if args.suite == "emb":
            spark.stop()
            return

    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.llm.dedup import (
        _lsh_bands,
        _minhash_signatures_from,
        _shingle_table,
        _star_candidates,
        _star_components,
        _verify_jaccard,
    )
    from scripts.scale_ratio import build_derived

    build_derived(spark, args.sf_dir, args.scale_dir, 10)

    results: dict[str, dict] = {}
    for label, corpus_dir in (("1x", args.sf_dir), ("10x", args.scale_dir)):
        docs = spark.read.parquet(
            os.path.join(corpus_dir, "documents.parquet")
        ).select("doc_id", "text")
        corpus_max = int(docs.agg(F.max("doc_id")).collect()[0][0])
        delta = _delta_frame(spark, args.sf_dir, corpus_max).localCheckpoint()
        n_corpus, n_delta = docs.count(), delta.count()

        root = tempfile.mkdtemp(prefix=f"inc_ab_{label}_")
        t0 = time.perf_counter()
        di.build_dedup_index(spark, docs, root)
        t_build = time.perf_counter() - t0

        inc_times, inc_jobs, full_times = [], [], []
        for _ in range(args.runs):
            # A: fold from a pristine copy of the committed index
            work = tempfile.mkdtemp(prefix=f"inc_ab_run_{label}_")
            shutil.rmtree(work)
            shutil.copytree(root, work)
            idx = di.DedupIndex(work)
            j0 = _last_job_id(spark)
            t0 = time.perf_counter()
            out = di.incremental_update(spark, delta, idx)
            inc_jobs.append(_last_job_id(spark) - j0)
            _force(out)
            inc_times.append(time.perf_counter() - t0)
            shutil.rmtree(work, ignore_errors=True)

            # B: cheapest-possible full recompute over corpus ∪ delta
            t0 = time.perf_counter()
            union = docs.unionByName(delta)
            sh = _shingle_table(union)
            bands = _lsh_bands(_minhash_signatures_from(sh))
            pairs = _verify_jaccard(_star_candidates(bands), sh)
            _force(_star_components(pairs.select("doc_a", "doc_b")))
            full_times.append(time.perf_counter() - t0)

        results[label] = {
            "n_corpus": n_corpus,
            "n_delta": n_delta,
            "index_build_sec": round(t_build, 2),
            "incremental_sec": round(statistics.median(inc_times), 2),
            "incremental_jobs": statistics.median(inc_jobs),
            "full_recompute_sec": round(statistics.median(full_times), 2),
            "all_incremental": [round(t, 2) for t in inc_times],
            "all_incremental_jobs": inc_jobs,
            "all_full": [round(t, 2) for t in full_times],
        }
        shutil.rmtree(root, ignore_errors=True)
        print(json.dumps({"scale": label, **results[label]}))

    r1, r10 = results["1x"], results["10x"]
    print(
        json.dumps(
            {
                "metric": "incremental_dedup_ab",
                "inc_growth_10x": round(
                    r10["incremental_sec"] / max(r1["incremental_sec"], 1e-9), 2
                ),
                "full_growth_10x": round(
                    r10["full_recompute_sec"]
                    / max(r1["full_recompute_sec"], 1e-9),
                    2,
                ),
                "inc_vs_full_at_10x": round(
                    r10["full_recompute_sec"]
                    / max(r10["incremental_sec"], 1e-9),
                    2,
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
