"""Deduplication operators over `documents` / `embeddings` (beyond-
reference extension; BASELINE.json north star: "dedup" for LLM data
pipelines).

Five dedup families, each expressed as pure DataFrame algebra (no Python
UDFs) so every stage shuffles on an explicit key and scales:

* exact        — hash-groupBy on a normalized-text md5 (one shuffle).
* n-gram Jaccard — inverted-index join on shared word-shingles, exact
                 Jaccard verify. Shuffles on the shingle key; candidate
                 generation is the standard all-pairs-with-overlap join.
* MinHash+LSH  — shingle→16-perm minhash signature→8 bands×2 rows→bucket
                 join→exact-Jaccard verify on candidates only. The scale
                 path: the signature table is O(docs), candidate
                 verification touches only bucket-colliding pairs.
* SimHash      — 32-bit weighted token simhash, banded hamming blocking
                 (4×8 bits: guaranteed recall for hamming ≤ 3), exact
                 bit_count verify.
* Embedding cosine — integer-quantized dot products (order-free, exact);
                 brute-force pair scan here, LSH-bucketed variant in
                 similarity.py for the 100 TB path.

All hashing is md5-derived with fixed coefficients (common.py), so the
generated DuckDB oracles run the *identical* algorithm — exact parity,
including the approximate (LSH/SimHash) operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .common import (
    EMB_SCALE,
    HASH60_SPARK_SQL,
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_PERM,
    SIM_LSH_PLANES,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
)

JACCARD_THRESHOLD = 0.5
# Inverted-index document-frequency cutoff for exact n-gram Jaccard: a
# shingle appearing in more docs than this is boilerplate, not signal,
# and would contribute O(df²) candidate pairs to the self-join.
NGRAM_DF_CUTOFF = 128
COSINE_DUP_THRESHOLD = 0.5
# dedup_embedding_cosine stages the quantized embedding table on the
# driver to build its broadcast GEMM operand — correct and fast at
# benchmark scale, but a misuse hazard on a real corpus (it would OOM the
# DRIVER, not an executor). The guard bounds the collect: above this many
# vectors the operator refuses with a pointer to dedup_embedding_lsh,
# whose bucketed join is the 100 TB path for the same semantics.
# 2M vectors × 40 dims × 8 B int64 ≈ 640 MB — comfortably inside a
# typical driver heap while far above any sane all-pairs workload.
GEMM_GUARD_MAX_ROWS = 2_000_000

_NORM = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
_TOKS = "split(text, ' ')"
_SHINGLES = (
    f"case when size({_TOKS}) >= 3 then "
    f"transform(sequence(1, size({_TOKS}) - 2),"
    f" i -> concat_ws(' ', slice({_TOKS}, i, 3))) "
    f"else array(text) end"
)
_HASH60 = HASH60_SPARK_SQL


def _shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, sh_h) distinct — the inverted-index base relation, with
    shingles hashed to int64 BEFORE the distinct: the dedup exchange and
    every downstream join move 8-byte keys instead of multi-word strings
    (measured ~25% off the cold pipeline at sf0.1). 60-bit md5-derived
    hashes; collisions are negligible and the oracle applies the
    identical hash, so parity is exact either way.

    The source is a single parquet file (one input split), so without a
    repartition the shingle explode runs in ONE task; spreading rows
    first costs a tiny shuffle and parallelizes the expensive per-doc
    work. On a many-file 100 TB corpus the splits already parallelize
    and AQE coalesces this to a no-op-sized exchange."""
    return (
        docs.select("doc_id", "text")
        .repartition("doc_id")
        .select("doc_id", F.explode(F.expr(_SHINGLES)).alias("shingle"))
        .select("doc_id", F.expr(_HASH60.format(s="shingle")).alias("sh_h"))
        .distinct()
    )


def dedup_exact(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Exact dedup: md5 over normalized text, keep-lowest-id policy.

    One hash shuffle on the fingerprint; at 100 TB this is the cheapest
    dedup pass and always runs first to shrink the corpus for the
    near-dup passes."""
    docs = load_table(spark, "documents", sf_dir)
    fp = docs.select("doc_id", F.expr(f"md5({_NORM})").alias("fingerprint"))
    canon = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("group_size"),
    )
    return (
        fp.join(canon, "fingerprint")
        .select(
            "doc_id",
            "fingerprint",
            "canonical_doc_id",
            "group_size",
            (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_duplicate"),
        )
    )


def _bounded_shingle_index(sh: DataFrame) -> DataFrame:
    """Drop shingles with document frequency > NGRAM_DF_CUTOFF from the
    inverted index. A shingle shared by k docs yields k·(k-1)/2 candidate
    pairs in the self-join; one piece of ubiquitous boilerplate makes the
    join quadratic in corpus size. Ubiquitous shingles also carry no
    dedup signal (they're stopwords at the shingle level), so the index
    treats them exactly like text stopwords: excluded from BOTH the
    intersection and the set sizes — Jaccard stays exact over the
    retained (discriminative) shingle universe, and the posting-list
    join is bounded by CUTOFF² pairs per shingle.

    One window over the existing sh_h partitioning — the downstream
    self-join is on the same key, so the exchange is reused, not
    repeated."""
    from pyspark.sql import Window

    w = Window.partitionBy("sh_h")
    return (
        sh.withColumn("df", F.count("*").over(w))
        .where(F.col("df") <= NGRAM_DF_CUTOFF)
        .drop("df")
    )


# Token-window width for substring-level dedup. Lee et al. 2021
# ("Deduplicating Training Data Makes Language Models Better") use
# 50-token windows over web corpora; the synthetic documents run ~50
# tokens TOTAL, so 8 keeps the operator exercised (≈9% of sf0.01 gram
# occurrences are duplicated) at the same semantics.
SUBSTR_K = 8
# The gram-window expression both engines share: hash of the K-token
# window starting at 1-based position i, derived from md5 so Spark and
# DuckDB agree bit-for-bit (see common.HASH60_*).
_SUBSTR_GRAMS = (
    f"transform(sequence(1, size(ts) - {SUBSTR_K} + 1), i -> struct("
    "i AS pos, "
    + HASH60_SPARK_SQL.format(
        s=f"concat_ws(' ', slice(ts, i, {SUBSTR_K}))"
    )
    + " AS g_h))"
)


def dedup_substring(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2021's ExactSubstr,
    re-expressed for Spark): any K-token window whose text occurs ≥2
    times ANYWHERE in the corpus (across or within documents) is
    removed from every occurrence except one canonical keeper — the
    lexicographically smallest (doc_id, pos). Document-level dedup
    (dedup_exact / MinHash) misses this entirely: boilerplate headers,
    license blocks, and quoted passages duplicate inside otherwise
    unique documents, and substring removal is what actually shrinks a
    training corpus's memorization surface.

    Deterministic spec shared with the oracle: whitespace tokens;
    windows of SUBSTR_K at stride 1 (docs shorter than K are untouched);
    occurrences grouped by the 60-bit md5 gram hash; removed token
    index sets are the union of non-keeper windows; output is per-doc
    (n_tokens, n_removed_tokens, md5 of the surviving text) so the
    driver value-hashes the RESULT corpus, not just counts.

    Scale shape: one exchange on the 8-byte gram hash (partial-agg
    count + min-keeper), one keyed join back to occurrences (skew on a
    boilerplate gram is inherent demand — every occurrence must be
    located to be removed), one groupBy doc_id over DUPLICATED
    occurrences only, and reconstruction is a per-row JVM higher-order
    expression — no explode of surviving tokens, no Python, no window
    function. The paper's suffix array is a single-machine index; the
    gram-hash inverted index is the shuffle-native equivalent at fixed
    window width, and is how production Spark pipelines run it."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.expr(_TOKS).alias("ts")).repartition(
        "doc_id"
    )
    grams = (
        toks.where(F.expr(f"size(ts) >= {SUBSTR_K}"))
        .select("doc_id", F.explode(F.expr(_SUBSTR_GRAMS)).alias("o"))
        .select("doc_id", F.col("o.pos").alias("pos"), F.col("o.g_h").alias("g_h"))
    )
    dup = grams.groupBy("g_h").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct("doc_id", "pos")).alias("keep"),
    ).where(F.col("cnt") >= 2)
    dup_occ = (
        grams.join(dup, "g_h")
        .where(
            (F.col("doc_id") != F.col("keep.doc_id"))
            | (F.col("pos") != F.col("keep.pos"))
        )
        .select("doc_id", "pos")
    )
    removed = dup_occ.groupBy("doc_id").agg(
        F.expr(
            "array_distinct(flatten(transform(collect_list(pos),"
            f" p -> sequence(p, p + {SUBSTR_K - 1}))))"
        ).alias("rm")
    )
    return (
        toks.join(removed, "doc_id", "left")
        .select(
            "doc_id",
            "ts",
            F.expr("coalesce(rm, cast(array() as array<int>))").alias("rm"),
        )
        .select(
            "doc_id",
            F.expr("size(ts)").cast("bigint").alias("n_tokens"),
            F.expr("size(rm)").cast("bigint").alias("n_removed_tokens"),
            F.expr(
                "md5(concat_ws(' ', transform(filter("
                "transform(ts, (t, i) -> struct(i + 1 AS ix, t AS tk)),"
                " s -> NOT array_contains(rm, s.ix)), s -> s.tk)))"
            ).alias("kept_md5"),
        )
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard ≥ 0.5 via inverted-index
    join: only pairs sharing ≥1 retained (df ≤ NGRAM_DF_CUTOFF) shingle
    are ever materialized — see _bounded_shingle_index."""
    # The bounded index feeds 4 plan branches (both self-join sides +
    # both size lookups); cache it once instead of recomputing the
    # explode+window subtree per branch — same policy (and memo) as the
    # MinHash shingle relation.
    from ..models.base import cached

    sh = cached(
        "ngram_bounded_index",
        lambda s, sf: _bounded_shingle_index(
            _shingle_table(load_table(s, "documents", sf))
        ),
        spark, sf_dir,
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "sh_h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    j = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
    )
    return j.where(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD)).select(
        "doc_a", "doc_b", "inter", "na", "nb", "jaccard"
    )


def _minhash_signatures_from(sh: DataFrame) -> DataFrame:
    """doc_id → 16 minhash values (one groupBy over exploded shingles;
    the 16 mins are map-side-combinable aggregates — a single shuffle)."""
    hashed = sh.select("doc_id", (F.col("sh_h") % MINHASH_P).alias("hm"))
    aggs = [
        F.min((F.lit(MINHASH_A[i]) * F.col("hm") + F.lit(MINHASH_B[i])) % MINHASH_P).alias(f"mh{i}")
        for i in range(NUM_PERM)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _lsh_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bv) — 8 bands × 2 rows, band value = md5 of the
    band's minhash pair. Shared by the all-pairs and star candidate
    generators so both bucket identically."""
    band_exprs = []
    for j in range(LSH_BANDS):
        cols = ", ".join(f"mh{j * LSH_ROWS + r}" for r in range(LSH_ROWS))
        band_exprs.append(f"{j}, md5(concat_ws(',', {cols}))")
    return sig.select(
        "doc_id",
        F.expr(f"stack({LSH_BANDS}, {', '.join(band_exprs)}) as (band, bv)"),
    )


def _cached_shingles(spark: SparkSession, sf_dir: str | None) -> DataFrame:
    """The memoized shingle relation — it feeds the signature build AND
    both sides of candidate verification (SURVEY §4.1 policy; at 100 TB
    this is a persisted intermediate table keyed by shingle); memoized
    per session so repeated invocations don't stack cached RDDs."""
    from ..models.base import cached

    return cached(
        "minhash_shingles",
        lambda s, sf: _shingle_table(load_table(s, "documents", sf)),
        spark, sf_dir,
    )


def _capped_buckets(bands: DataFrame, bucket_cap: int | None) -> DataFrame:
    """Optionally drop (band, bv) buckets with more members than
    ``bucket_cap`` from pair-producer candidate generation — the band-
    bucket analogue of NGRAM_DF_CUTOFF's hot-shingle cap (VERDICT r8
    item 5). A bucket of m docs contributes m(m−1)/2 candidate pairs to
    a PAIR consumer; one production mega-bucket (a document duplicated
    10⁶×) makes the self-join quadratic no matter how good the banding
    is. The cap bounds the join at cap²/2 pairs per bucket. OFF by
    default (None): the registered queries and their oracles emit every
    true pair — turning the cap on is an explicit recall trade
    (above-cap buckets report NO pairs; clustering consumers should use
    the star path, which handles mega-buckets losslessly at linear
    cost). One window over the downstream join's own (band, bv)
    partitioning — the exchange is reused, not repeated."""
    if bucket_cap is None:
        return bands
    w = Window.partitionBy("band", "bv")
    return (
        bands.withColumn("msize", F.count("*").over(w))
        .where(F.col("msize") <= bucket_cap)
        .drop("msize")
    )


def dedup_minhash_pairs(
    spark: SparkSession,
    sf_dir: str | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified at ≥ 0.5.

    Pipeline: shingle → 16-perm signature → 8 bands × 2 rows → band-hash
    bucket join → candidates → exact Jaccard on candidates only. At scale
    the expensive all-pairs work is bounded by bucket collisions, not
    corpus size². This is the PAIR-consumer endpoint (every duplicate
    pair is a real output row); clustering-bound dedup goes through
    :func:`dedup_minhash_star_pairs` instead, whose per-bucket candidate
    cost is linear rather than quadratic. ``bucket_cap`` (default off)
    drops over-sized band buckets entirely — see :func:`_capped_buckets`
    for the trade."""
    sh = _cached_shingles(spark, sf_dir)
    bands = _capped_buckets(
        _lsh_bands(_minhash_signatures_from(sh)), bucket_cap
    )
    cands = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bv"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    return _verify_jaccard(cands, sh)


def _verify_jaccard(cands: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs over
    the shingle relation — shared by the all-pairs and star-reduced
    candidate generators, so both strategies verify identically."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        cands.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.sh_h") == F.col("sb.sh_h")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    j = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
    )
    return j.where(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD)).select(
        "doc_a", "doc_b", "jaccard"
    )


def minhash_star_pairs_over(docs: DataFrame) -> DataFrame:
    """STAR-REDUCED MinHash+LSH near-dup pairs: linear candidate cost
    per bucket (the 100 TB mega-bucket answer, implemented rather than
    hand-waved — BASELINE.md round-8 notes).

    `dedup_minhash_pairs` emits ALL pairs inside each (band, bucket)
    group — quadratic in bucket membership, which is the true pair
    count and exactly right when downstream wants every duplicate PAIR
    (the r8 scale run measured 979× pairs for 10× docs, by semantics).
    But when downstream is CLUSTERING (connected components →
    keep-one-per-group, the usual dedup endgame), a bucket's clique and
    its star have the same connected components — so this variant pairs
    every bucket member with the bucket MINIMUM only: a bucket of m
    docs emits m-1 candidates instead of m(m-1)/2. A corpus where one
    document is duplicated a million times produces 1M−1 star edges
    instead of ~5·10¹¹ — the difference between a dedup pass finishing
    and not.

    Each star edge still goes through the SAME exact-Jaccard
    verification. Documented semantics delta: verification filters
    EDGES, so a star edge (min, b) can fail where the dropped clique
    edge (a, b) would have passed — post-verify connectivity is a
    (high-recall) approximation of the all-pairs graph's; the pytest
    pins cluster-for-cluster equality on the verified corpus and the
    linear bound on a planted mega-bucket."""
    sh = _shingle_table(docs)
    bands = _lsh_bands(_minhash_signatures_from(sh))
    return _verify_jaccard(_star_candidates(bands), sh)


def _star_candidates(bands: DataFrame) -> DataFrame:
    """(doc_a=bucket min, doc_b=member) star edges from a (doc_id, band,
    bv) band-bucket relation: one groupBy + one co-partitioned join on
    the SAME (band, bv) keys — Catalyst reuses the exchange, so the
    whole candidate build costs a single shuffle on the bucket key."""
    mins = bands.groupBy("band", "bv").agg(F.min("doc_id").alias("doc_a"))
    return (
        bands.join(mins, ["band", "bv"])
        .where(F.col("doc_id") > F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_minhash_star_pairs(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """PRODUCTION star-reduced MinHash+LSH pairs (r9): the candidate
    input of :func:`dedup_clusters`. Same shingle cache, signatures,
    banding, and exact-Jaccard verification as
    :func:`dedup_minhash_pairs`; only the per-bucket candidate shape
    differs — m−1 star edges instead of m(m−1)/2 clique edges (see
    :func:`minhash_star_pairs_over` for the semantics delta and the
    mega-bucket arithmetic). The r8 A/B at the derived 10× scale
    point: 3.28 s / 58k star edges vs 5.57 s / 250k all-pairs edges
    (BASELINE.md round-8 notes)."""
    sh = _cached_shingles(spark, sf_dir)
    bands = _lsh_bands(_minhash_signatures_from(sh))
    return _verify_jaccard(_star_candidates(bands), sh)


def dedup_clusters_propagation(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """Min-label-propagation connected components — the CROSS-CHECK twin
    of :func:`dedup_clusters` (r6 demotion: the star algorithm now holds
    the production name and the driver slot; propagation stays as the
    independent second implementation, pytest-pinned row-identical on
    both the planted-duplicate corpus and Hypothesis-generated graphs).

    label(v) ← min(label(v), min over neighbors) as a driver-side loop
    of joins, each iteration one shuffle on node id, localCheckpoint()
    truncating the lineage so plans don't stack. Convergence in
    O(component diameter) rounds — the reason for the demotion: a
    pathological chain-shaped duplicate family costs diameter rounds
    where the star variant pays O(log² n), and r4/r5 bench artifacts
    measured propagation 2-6× slower on the same corpus (recorded in
    BASELINE.md round-6 notes).
    """
    pairs = dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).withColumnsRenamed({"doc_a": "src", "doc_b": "dst"})
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(64):  # rounds ≈ component diameter; 64 covers any
        # real near-dup family — and non-convergence is a loud error
        # below, never silently-wrong labels
        neighbor_labels = (
            edges.join(
                labels.select(
                    F.col("node").alias("src"), F.col("label")
                ),
                "src",
            )
            .select(F.col("dst").alias("node"), "label")
        )
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()  # eager: truncates lineage AND runs the step
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            "dedup_clusters_propagation did not converge within the "
            "round budget (component diameter > 64?); raise the budget or "
            "use dedup_clusters (star algorithm, logarithmic rounds)"
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


# Hybrid threshold for MinHash clustering candidates (r10, ADVICE r9):
# a (band, bv) bucket with ≤ this many members emits exact all-pairs
# candidates, a larger one emits star edges. Unlike the 16-value
# hyperplane buckets (where the hybrid is a CORRECTNESS guard —
# EMB_STAR_BUCKET_CAP), a MinHash band bucket is an md5 equality over
# signature rows (a strong similarity signal), so pure star holds on
# every observed corpus; the hybrid is belt-and-braces for the
# theoretical failure mode (bucket-min dissimilar to both members of a
# true pair fails both star-edge verifications and splits a component)
# at cap²/2 bounded cost per healthy bucket.
MINHASH_STAR_BUCKET_CAP = 256


def _minhash_hybrid_candidates(
    bands: DataFrame, cap: int = MINHASH_STAR_BUCKET_CAP
) -> DataFrame:
    """(doc_a, doc_b) candidates: exact all-pairs inside band buckets of
    ≤ ``cap`` members, star (member ↔ bucket min) above — the MinHash
    twin of :func:`_emb_hybrid_candidates`, same exchange-reuse shape
    (stats aggregation and candidate joins all on the bucket key)."""
    stats = bands.groupBy("band", "bv").agg(
        F.min("doc_id").alias("mn"), F.count("*").alias("m")
    )
    # Semi-join DOWN TO the small buckets BEFORE the self-join: Spark
    # preserves user join order, so self-joining the full relation first
    # would stream m(m-1)/2 rows out of the very mega-bucket the cap
    # exists to bound, then discard them (r10 review finding).
    small_bands = bands.join(
        stats.where(F.col("m") <= cap).select("band", "bv"), ["band", "bv"],
        "left_semi",
    )
    small = (
        small_bands.alias("a")
        .join(small_bands.alias("b"), ["band", "bv"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    big = (
        bands.join(stats.where(F.col("m") > cap), ["band", "bv"])
        .where(F.col("doc_id") > F.col("mn"))
        .select(F.col("mn").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return small.unionByName(big).distinct()


def dedup_clusters_hybrid(
    spark: SparkSession,
    sf_dir: str | None = None,
    cap: int = MINHASH_STAR_BUCKET_CAP,
) -> DataFrame:
    """Library variant of :func:`dedup_clusters` fed by the HYBRID
    candidate generator (all-pairs ≤ ``cap``-member buckets, star
    above) — closes the theoretical star failure mode the embedding
    corpus actually exhibited (ADVICE r9). Pytest-pinned component-
    identical to the production star path on the test corpora; kept a
    library path (not the driver slot) because the star input is what
    the incremental index (:mod:`.dedup_incremental`) composes with."""
    sh = _cached_shingles(spark, sf_dir)
    bands = _lsh_bands(_minhash_signatures_from(sh))
    pairs = _verify_jaccard(_minhash_hybrid_candidates(bands, cap), sh)
    return _star_components(pairs.select("doc_a", "doc_b"))


def clusters_crosscheck(labels_a: DataFrame, labels_b: DataFrame) -> DataFrame:
    """The periodic production cross-check (ADVICE r9's alternative):
    full-outer-compare two (doc_id, cluster_id, ...) labelings and
    return the disagreement rows — empty output == identical
    partitions (labels are component-min in both paths, so partition
    equality IS label equality). At scale this runs on a sampled or
    scheduled cadence against the all-pairs generator to detect any
    star-split component; both inputs are label tables (O(dup docs)),
    so the compare is one shuffle on doc_id."""
    a = labels_a.select("doc_id", F.col("cluster_id").alias("cluster_a"))
    b = labels_b.select("doc_id", F.col("cluster_id").alias("cluster_b"))
    return (
        a.join(b, "doc_id", "outer")
        .where(
            F.col("cluster_a").isNull()
            | F.col("cluster_b").isNull()
            | (F.col("cluster_a") != F.col("cluster_b"))
        )
    )


def dedup_clusters(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Duplicate-cluster assignment — connected components over the
    verified MinHash near-dup pairs, so every document in a transitive
    duplicate group maps to one canonical cluster id (the group's min
    doc_id): what an actual dedup pass keys its keep/drop policy on when
    near-duplication is transitive (A~B, B~C, A≁C). Output contract:
    (doc_id, cluster_id = component-min doc_id, cluster_size).

    PRODUCTION path since r6: alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public). Min-label propagation (the r3-r5 holder of this
    name, now :func:`dedup_clusters_propagation`, kept as the
    independent cross-check) converges in O(component diameter) rounds;
    the star algorithm contracts components in O(log² n) rounds
    worst-case (typically ~log), so a pathological chain-shaped
    duplicate family (crawl mirrors that each drift slightly) costs log
    rounds instead of diameter rounds — and it benched 2-6× faster on
    the same corpus (r5 artifacts; BASELINE.md round-6 notes). Each
    round is two grouped aggregations on node id — the same shuffle
    shape as propagation, just fewer rounds:

    * large-star: every neighbor LARGER than u re-attaches to the minimum
      of N(u) ∪ {u}  (strictly decreases large labels, keeps forest);
    * small-star: every neighbor ≤ u re-attaches to that minimum
      (contracts stars into the component min).

    Converges when the edge multiset is a fixed point: every node points
    directly at its component min. Equivalence with the propagation
    cross-check is pytest-pinned on the planted-duplicate corpus and on
    Hypothesis-generated random graphs; the DuckDB oracle is a genuinely
    independent third implementation (recursive CTE enumerating
    reachability, min-aggregated per node).

    INPUT since r9: the star-reduced candidate relation
    (:func:`dedup_minhash_star_pairs`) — for a clustering consumer the
    all-pairs relation is strictly wasted work (a bucket's clique and
    its star have the same connected components), and the star build is
    linear per bucket where all-pairs is quadratic (the production
    mega-bucket answer). The propagation cross-check deliberately keeps
    the ALL-PAIRS input, so the pytest equality pins both algorithm-
    and input-independence; the DuckDB oracle runs the identical star
    candidate generation (so driver parity stays exact)."""
    pairs = dedup_minhash_star_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _star_components(pairs)


# Below this many (deduplicated) edges, connected components run as a
# SINGLE-TASK vectorized label relaxation instead of the distributed
# star iteration: the star loop costs ~6 shuffle stages + a checkpoint
# + a count action PER ROUND regardless of data size, which is pure
# scheduling overhead on a graph that fits in one task. At the cutoff
# the single task holds two 32 MB int64 edge arrays plus O(nodes) label
# arrays and runs O(log n) numpy passes — sub-second C-side work, no
# per-edge Python loop (r10 rewrite; the r9 dict-based union-find was
# minutes of interpreter time near the cutoff — ADVICE r9). At
# 100 TB-corpus edge counts the distributed path takes over
# automatically; the cutoff only decides WHERE the same
# (node, component-min, size) answer is computed, never what it is.
SMALL_GRAPH_EDGE_CUTOFF = 4_000_000


def _components_single_task(edges: DataFrame) -> DataFrame:
    """Connected components in ONE Arrow task over a small (u, v) edge
    relation — output-identical to the star iteration: (doc_id,
    cluster_id = component-min node, cluster_size).

    Vectorized (r10, ADVICE r9): the r9 version ran a per-edge Python
    union-find loop — near the 4M-edge cutoff that is minutes of
    single-thread interpreter time and ~10× the advertised memory in
    dict/int overhead. Now: numpy hash-to-min label relaxation
    (``np.minimum.at`` over the edge arrays, both directions) with
    pointer-jumping compression between rounds. Labels are indices into
    the ascending-unique node array, so the monotone-decreasing fixed
    point is exactly the component-min labeling (at a fixed point every
    edge's endpoints hold equal labels, and the component minimum keeps
    its own). O(E) per round, O(log n) rounds, all C-side — the 4M-edge
    graph is two 32 MB arrays and a handful of vectorized passes."""
    import numpy as np
    import pandas as pd

    def uf(batches):
        us, vs = [], []
        for b in batches:
            us.append(b["u"].to_numpy(np.int64))
            vs.append(b["v"].to_numpy(np.int64))
        u = np.concatenate(us) if us else np.empty(0, np.int64)
        v = np.concatenate(vs) if vs else np.empty(0, np.int64)
        nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        ui, vi = inv[: len(u)], inv[len(u) :]
        lab = np.arange(len(nodes), dtype=np.int64)
        while True:
            old = lab.copy()
            np.minimum.at(lab, ui, lab[vi])
            np.minimum.at(lab, vi, lab[ui])
            while True:  # pointer jumping: compress label chains
                nxt = lab[lab]
                if np.array_equal(nxt, lab):
                    break
                lab = nxt
            if np.array_equal(lab, old):
                break
        sizes = np.bincount(lab, minlength=len(nodes))
        yield pd.DataFrame(
            {
                "doc_id": nodes,
                "cluster_id": nodes[lab],
                "cluster_size": sizes[lab],
            }
        )

    return edges.coalesce(1).mapInPandas(
        uf, "doc_id long, cluster_id long, cluster_size long"
    )


def _star_components(
    pairs: DataFrame, small_cutoff: int | None = None
) -> DataFrame:
    """Connected components over a (doc_a, doc_b) pair relation →
    (doc_id, cluster_id = component min, cluster_size). The algorithm
    core of :func:`dedup_clusters`, shared with the embedding twin
    (:func:`emb_clusters_star`).

    HYBRID (r9): the edge relation is checkpointed and counted once; at
    or below ``small_cutoff`` (default SMALL_GRAPH_EDGE_CUTOFF) the
    components come from a single-task union-find, above it from the
    alternating large/small-star iteration (O(log² n) rounds — the
    100 TB path). Both paths emit the identical canonical labeling, so
    consumers and oracles are path-independent; tests pin equality on
    the same graphs with the cutoff forced to 0 and to ∞."""
    cutoff = SMALL_GRAPH_EDGE_CUTOFF if small_cutoff is None else small_cutoff
    # nodes can be isolated only if a pair self-loops, which the pair
    # relation excludes (doc_a < doc_b) — every node has ≥1 edge.
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the count is the lazy checkpoint's materializing action (one job,
    # not a checkpoint job plus a count job)
    if edges.count() <= cutoff:
        return _components_single_task(edges)

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        nbrs = _sym(e)
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        joined = nbrs.join(mins, "u")
        if large:
            # large-star(u): strictly larger neighbors attach to m(u);
            # every edge (a,b), a<b is re-emitted by the star of a, so
            # connectivity is preserved without an explicit (u, m) edge.
            out = joined.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            # small-star(u): smaller neighbors AND u itself attach to
            # m(u) — dropping the (u, m) edge would disconnect a node
            # whose neighbors are all smaller than it.
            out = (
                joined.where(F.col("v") < F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .unionByName(mins.select("u", F.col("m").alias("v")))
            )
        return out.where(F.col("u") != F.col("v")).distinct()

    converged = False
    for _ in range(16):  # star converges in O(log² n) worst case; 16
        # rounds covers any plausible duplicate-family shape — and the
        # budget is a loud failure, not a silent truncation (see below)
        nxt = _star(_star(edges, large=True), large=False).localCheckpoint()
        # fixed point: the (u, v) multiset didn't change
        delta = (
            nxt.unionByName(edges)
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") != 2)
            .count()
        )
        edges = nxt
        if delta == 0:
            converged = True
            break
    if not converged:
        # the label extraction below assumes every edge is
        # (node, component_min); on a non-fixed-point edge set it would
        # return WRONG clusters with no error — fail loudly instead
        raise RuntimeError(
            "dedup_clusters (star) did not reach its fixed point within "
            "the round budget; raise the budget (or cross-check with "
            "dedup_clusters_propagation)"
        )
    # at the fixed point every edge is (node, component_min), node > min;
    # the min nodes themselves label their own cluster
    labels = _sym(edges).where(F.col("u") > F.col("v")).unionByName(
        _sym(edges)
        .select(F.least("u", "v").alias("u"))
        .distinct()
        .select("u", F.col("u").alias("v"))
    ).groupBy("u").agg(F.min("v").alias("label"))
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("u").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def dedup_simhash(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """SimHash near-dup pairs: 32-bit weighted token simhash, 4×8-bit
    band blocking (guaranteed recall for hamming ≤ 3), exact verify."""
    docs = load_table(spark, "documents", sf_dir)
    tok_counts = (
        docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", F.expr(_HASH60.format(s="tok")))
    )
    bit_aggs = [
        F.sum(
            F.col("cnt")
            * (F.lit(2) * F.expr(f"(shiftright(h, {i}) & 1)") - F.lit(1))
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    bitsums = tok_counts.groupBy("doc_id").agg(*bit_aggs)
    simhash_expr = " + ".join(
        f"(case when s{i} > 0 then {1 << i}L else 0L end)" for i in range(SIMHASH_BITS)
    )
    sims = bitsums.select("doc_id", F.expr(simhash_expr).alias("simhash"))

    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    band_exprs = ", ".join(
        f"{j}, (shiftright(simhash, {j * width}) & {mask})"
        for j in range(SIMHASH_BANDS)
    )
    bands = sims.select(
        "doc_id",
        "simhash",
        F.expr(f"stack({SIMHASH_BANDS}, {band_exprs}) as (band, bv)"),
    )
    cands = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bv"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.expr("cast(bit_count(sim_a ^ sim_b) as int)"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def _quantize_frame(
    emb: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Frame-level quantizer: (vec_id, embedding[, extra]) → (vec_id
    [+ extra], e int64-quantized, nrm integer squared norm). The ONE
    place the quantization formula lives on the Spark side (the DuckDB
    twin is _QUANT_CTE) — every consumer must come through here (or the
    table-loading wrapper below) so a formula change cannot silently
    break cross-engine parity.

    float→double widening is exact; round(x*1e6)→int64 makes every dot
    product an order-free integer sum — the key to cross-engine (and
    cross-partitioning) determinism."""
    return emb.select(
        "vec_id",
        *extra_cols,
        F.expr(
            f"transform(embedding, x -> cast(round(cast(x as double) * {EMB_SCALE}) as bigint))"
        ).alias("e"),
    ).withColumn("nrm", F.expr("aggregate(e, 0L, (acc, x) -> acc + x * x)"))


def _quantized_embeddings(
    spark: SparkSession,
    sf_dir: str | None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Table-loading wrapper of :func:`_quantize_frame`."""
    return _quantize_frame(load_table(spark, "embeddings", sf_dir), extra_cols)


_COS = (
    "cast(dot as double) / (sqrt(cast(na as double)) * sqrt(cast(nb as double)))"
)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Embedding near-dup pairs: exact cosine ≥ 0.5 over integer-quantized
    vectors. All-pairs by design (correctness baseline); the LSH-bucketed
    variant is the 100 TB path.

    Vectorized execution: the quantized matrix plays the broadcast side —
    the same data a broadcast pair-join would ship to every task — and
    each Arrow batch computes one int64 GEMM (numpy matmul, exact: |terms|
    ≤ dims·(EMB_SCALE·max|x|)² ≪ 2⁶³) against it instead of evaluating an
    interpreted per-pair aggregate(zip_with(...)) expression. The cosine
    is the identical float64 expression the oracle computes
    (dot / (sqrt(na)·sqrt(nb))), so results stay bit-equal."""
    import numpy as np

    q = _quantized_embeddings(spark, sf_dir)
    # Guard the driver-staged collect: count-star over parquet is nearly
    # free (row-group metadata), and failing HERE with a pointer to the
    # scale path beats an opaque driver OOM mid-toPandas.
    n = load_table(spark, "embeddings", sf_dir).count()
    if n > GEMM_GUARD_MAX_ROWS:
        raise ValueError(
            f"dedup_embedding_cosine is the all-pairs correctness baseline "
            f"and stages all embeddings on the driver; {n} rows exceeds the "
            f"{GEMM_GUARD_MAX_ROWS}-row guard. Use dedup_embedding_lsh "
            f"(bucketed, same threshold/output shape) for corpus-scale data."
        )
    pdf = q.toPandas()  # the broadcast build side, driver-staged once
    order = np.argsort(pdf["vec_id"].to_numpy(np.int64))
    ids_all = pdf["vec_id"].to_numpy(np.int64)[order]
    m_all = np.array(pdf["e"].tolist(), dtype=np.int64)[order]
    nrm_all = pdf["nrm"].to_numpy(np.int64)[order]
    b = spark.sparkContext.broadcast((ids_all, m_all, nrm_all))
    thr = COSINE_DUP_THRESHOLD

    def pair_batches(batches):
        import numpy as _np
        import pandas as _pd

        ids2, m2, nrm2 = b.value
        sq2 = _np.sqrt(nrm2.astype(_np.float64))
        for pdf_b in batches:
            if not len(pdf_b):
                continue
            ids1 = pdf_b["vec_id"].to_numpy(_np.int64)
            m1 = _np.array(pdf_b["e"].tolist(), dtype=_np.int64)
            sq1 = _np.sqrt(pdf_b["nrm"].to_numpy(_np.int64).astype(_np.float64))
            dots = (m1 @ m2.T).astype(_np.float64)
            with _np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (sq1[:, None] * sq2[None, :])
            mask = (ids1[:, None] < ids2[None, :]) & (cos >= thr)
            r, c = _np.nonzero(mask)
            yield _pd.DataFrame(
                {"id_a": ids1[r], "id_b": ids2[c], "cos_sim": cos[r, c]}
            )

    return q.mapInPandas(
        pair_batches, schema="id_a bigint, id_b bigint, cos_sim double"
    )


# Fixed band composition over SIM_LSH_PLANES (banding ≈ minhash bands:
# a pair is a candidate when ALL sign bits of either band agree).
EMB_LSH_BANDS: tuple[tuple[int, ...], ...] = ((0, 3, 4, 5), (1, 2, 6, 7))


def _bucket_expr_from_planes(e_col: str, planes: list, dialect: str) -> str:
    """Bucket id from the sign bits of the given hyperplanes' integer
    dot products — identical literals in both dialects, so both engines
    compute identical buckets. The plane-list generalization of
    :func:`_band_bucket_expr` (its only current caller); kept separate
    so alternative bandings can be expressed without touching the
    production 4-bit constants. (An 8-bit fine banding was evaluated
    for the incremental embedding index and abandoned — star candidates
    verified zero pairs on this geometry; see llm/dedup_incremental.py.)"""
    terms = []
    for j, plane in enumerate(planes):
        if dialect == "spark":
            arr = ", ".join(f"{v}L" for v in plane)
            dot = (
                f"aggregate(zip_with({e_col}, array({arr}),"
                f" (x, y) -> x * y), 0L, (acc, x) -> acc + x)"
            )
        else:
            arr = ", ".join(str(v) for v in plane)
            dot = (
                f"CAST(list_sum(list_transform(list_zip({e_col}, [{arr}]),"
                f" pr -> pr[1] * pr[2])) AS BIGINT)"
            )
        terms.append(f"(case when {dot} > 0 then {1 << j} else 0 end)")
    return " + ".join(terms)


def _band_bucket_expr(e_col: str, band: int, dialect: str) -> str:
    """Bucket id from the sign bits of 4 hyperplane dot products (the
    plane indices of EMB_LSH_BANDS[band])."""
    planes = [SIM_LSH_PLANES[i] for i in EMB_LSH_BANDS[band]]
    return _bucket_expr_from_planes(e_col, planes, dialect)


def dedup_embedding_lsh(
    spark: SparkSession,
    sf_dir: str | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Bucketed cosine near-dup pairs — the 100 TB path for
    dedup_embedding_cosine's semantics (same threshold, same output shape).

    Banded random-hyperplane LSH: each vector gets 2 band buckets (4 sign
    bits each); candidate pairs share a bucket in EITHER band (minhash-style
    banding — union of two equi-joins, never an all-pairs scan). The
    candidate join carries only (vec_id, bucket) — narrow payload — and the
    exact integer-cosine verify runs on candidates alone. Recall < 1 by
    design (pairs disagreeing in both bands are missed); the DuckDB oracle
    runs the identical fixed-plane algorithm, so parity is exact.
    ``bucket_cap`` (default off) drops a band's over-sized buckets from
    candidate generation — same trade as dedup_minhash_pairs'
    :func:`_capped_buckets`; clustering consumers should use
    :func:`emb_clusters_star`, whose hybrid handles mega-buckets at
    linear cost instead of dropping them."""
    q = _quantized_embeddings(spark, sf_dir)
    buckets = q.select(
        "vec_id",
        F.expr(_band_bucket_expr("e", 0, "spark")).alias("b0"),
        F.expr(_band_bucket_expr("e", 1, "spark")).alias("b1"),
    )
    cands = None
    for col in ("b0", "b1"):
        side = buckets
        if bucket_cap is not None:
            w = Window.partitionBy(col)
            side = (
                buckets.withColumn("msize", F.count("*").over(w))
                .where(F.col("msize") <= bucket_cap)
                .drop("msize")
            )
        c = (
            side.alias("a")
            .join(side.alias("b"), F.col(f"a.{col}") == F.col(f"b.{col}"))
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
            )
        )
        cands = c if cands is None else cands.unionByName(c)
    return _verify_cosine(cands.distinct(), q)


def _verify_cosine(cands: DataFrame, q: DataFrame) -> DataFrame:
    """Exact integer-cosine verification of candidate (id_a, id_b) pairs
    over a quantized-embedding frame — shared by every embedding
    candidate generator (all-pairs LSH, star, hybrid), so all
    strategies verify identically."""
    verify = (
        cands.join(
            q.select(
                F.col("vec_id").alias("id_a"),
                F.col("e").alias("ea"),
                F.col("nrm").alias("na"),
            ),
            "id_a",
        )
        .join(
            q.select(
                F.col("vec_id").alias("id_b"),
                F.col("e").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.expr(
                "aggregate(zip_with(ea, eb, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"
            ).alias("dot"),
            "na",
            "nb",
        )
    )
    return (
        verify.withColumn("cos_sim", F.expr(_COS))
        .where(F.col("cos_sim") >= F.lit(COSINE_DUP_THRESHOLD))
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_lsh_star_pairs_over(q: DataFrame) -> DataFrame:
    """STAR-REDUCED hyperplane-LSH cosine pairs over a pre-quantized
    embedding frame (``_quantized_embeddings`` shape): the embedding
    twin of :func:`minhash_star_pairs_over` — each band bucket's
    members pair with the bucket MINIMUM vec_id only (m-1 candidates
    per bucket instead of m(m-1)/2), then the SAME exact integer-cosine
    verification. For clustering-bound dedup over embeddings this is
    the mega-bucket answer: the r8 scale run measured the all-pairs
    path's output at 15,081× for 10× near-duplicate vectors — correct
    for pair consumers, quadratic by semantics — while star edges grow
    linearly with bucket membership and keep the same connected
    components pre-verification (high-recall post-verification; see
    minhash_star_pairs_over's docstring for the edge-filter delta).

    r9 DISCOVERY (why the production clustering path is the HYBRID
    below, not this pure star): hyperplane band buckets are COARSE — 4
    sign bits = 16 buckets per band — so unlike a MinHash band bucket
    (an md5 equality on signature rows, a strong similarity signal), a
    bucket here routinely holds unrelated vectors. The bucket minimum
    can then be similar to NEITHER member of a true near-dup pair: both
    star edges fail cosine verification and the pair's component
    disconnects (observed on the sf0.01 corpus — pair (169, 466) shares
    a bucket whose min is unrelated). Kept as the library primitive for
    fine-bucket regimes and the planted mega-bucket pytest."""
    cands = None
    for band in (0, 1):
        buckets = q.select(
            "vec_id",
            F.expr(_band_bucket_expr("e", band, "spark")).alias("bk"),
        )
        mins = buckets.groupBy("bk").agg(F.min("vec_id").alias("id_a"))
        c = (
            buckets.join(mins, "bk")
            .where(F.col("vec_id") > F.col("id_a"))
            .select("id_a", F.col("vec_id").alias("id_b"))
        )
        cands = c if cands is None else cands.unionByName(c)
    return _verify_cosine(cands.distinct(), q)


# Hybrid threshold: a (band, bucket) group with more members than this
# switches from exact all-pairs candidates to star candidates. Sized so
# every bucket of a healthily-distributed corpus slice stays on the
# exact path (sf0.01: ~31 vectors/bucket; sf0.1: ~125) while a genuine
# mega-bucket — which in a real corpus means heavy duplication, exactly
# where star edges survive verification — degrades to linear cost
# instead of m²/2.
EMB_STAR_BUCKET_CAP = 256


def _emb_hybrid_candidates(
    q: DataFrame, cap: int = EMB_STAR_BUCKET_CAP
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for clustering-bound embedding
    dedup: per (band, bucket), exact all-pairs when the bucket has ≤
    ``cap`` members, star (member ↔ bucket min) above it. One
    aggregation + one join per band, all on the bucket key — Catalyst
    reuses the exchange across the size-stats and candidate joins."""
    cands = None
    for band in (0, 1):
        buckets = q.select(
            "vec_id",
            F.expr(_band_bucket_expr("e", band, "spark")).alias("bk"),
        )
        stats = buckets.groupBy("bk").agg(
            F.min("vec_id").alias("mn"), F.count("*").alias("m")
        )
        # semi-join to the small buckets BEFORE the self-join — the
        # left-deep full self-join would stream a mega-bucket's m²/2
        # rows before the size filter discards them (r10 review)
        small_buckets = buckets.join(
            stats.where(F.col("m") <= cap).select("bk"), "bk", "left_semi"
        )
        small = (
            small_buckets.alias("a")
            .join(small_buckets.alias("b"), "bk")
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
            )
        )
        big = (
            buckets.join(stats.where(F.col("m") > cap), "bk")
            .where(F.col("vec_id") > F.col("mn"))
            .select(F.col("mn").alias("id_a"), F.col("vec_id").alias("id_b"))
        )
        c = small.unionByName(big)
        cands = c if cands is None else cands.unionByName(c)
    return cands.distinct()


def emb_clusters_star(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Embedding duplicate-cluster assignment (r9): connected components
    over hyperplane-LSH cosine pairs from the HYBRID candidate
    generator — the embedding twin of :func:`dedup_clusters`,
    completing the clustering-bound dedup endgame for both corpora.

    Candidate generation is :func:`_emb_hybrid_candidates`: exact
    all-pairs inside band buckets of ≤ EMB_STAR_BUCKET_CAP members,
    star (member ↔ bucket min) above — bounded at cap²/2 per normal
    bucket and LINEAR on mega-buckets (a vector corpus where one
    embedding recurs 10⁶× emits 10⁶−1 edges, not 5·10¹¹). Pure star
    everywhere would be wrong here: hyperplane buckets are coarse (16
    per band), so an unrelated bucket minimum can fail verification
    against both members of a true near-dup pair and break its
    component (see :func:`embedding_lsh_star_pairs_over`'s r9 note) —
    whereas above-cap buckets arise from heavy duplication, exactly
    where star edges pass. Verification is the shared exact
    integer-cosine check; components are the same alternating
    large/small-star algorithm (O(log² n) rounds). Output contract:
    (vec_id, cluster_id = component-min vec_id, cluster_size).
    Driver-verified as a ``sim_eval_digest`` member against an
    independent DuckDB recursive-CTE reachability oracle running the
    identical hybrid candidate SQL; component equality with the
    all-pairs LSH relation is pytest-pinned at sf0.01."""
    q = _quantized_embeddings(spark, sf_dir)
    pairs = _verify_cosine(_emb_hybrid_candidates(q), q).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return _star_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "cluster_size"
    )


# ------------------------------------------------------------- oracle SQL

_NORM_D = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_TOKS_D = "string_split(text, ' ')"
_SHINGLES_D = (
    f"CASE WHEN len({_TOKS_D}) >= 3 THEN "
    f"list_transform(generate_series(1, len({_TOKS_D}) - 2),"
    f" i -> array_to_string(({_TOKS_D})[i:i+2], ' ')) "
    f"ELSE [text] END"
)
_HASH60_D = "CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"

def _shingle_cte(source: str = "documents") -> str:
    """The shingle/sizes CTE pair over a configurable source relation —
    ``source`` may be a table name or a parenthesized subquery (the
    removal oracle filters documents here)."""
    return f"""
sh AS (
    SELECT DISTINCT doc_id, {_HASH60_D.format(s="shingle")} AS sh_h
    FROM (SELECT doc_id, unnest({_SHINGLES_D}) AS shingle FROM {source} src)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
"""


_SHINGLE_CTE = _shingle_cte()

# Mirrors _bounded_shingle_index: shingles with df > NGRAM_DF_CUTOFF are
# excluded from index, intersections, AND sizes (stopword semantics).
_JACCARD_VERIFY = """
sh_idx AS (
    SELECT doc_id, sh_h FROM (
        SELECT doc_id, sh_h, count(*) OVER (PARTITION BY sh_h) AS df FROM sh
    ) WHERE df <= {cutoff}
),
sizes_idx AS (SELECT doc_id, count(*) AS n_sh FROM sh_idx GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM sh_idx a JOIN sh_idx b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT i.doc_a, i.doc_b, i.inter, sa.n_sh AS na, sb.n_sh AS nb,
           CAST(i.inter AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes_idx sa ON i.doc_a = sa.doc_id
    JOIN sizes_idx sb ON i.doc_b = sb.doc_id
)
"""


def components_sql_tail(id_a: str, id_b: str, id_out: str) -> str:
    """The ONE DuckDB connected-components definition (recursive-CTE
    reachability, cluster_id = min reachable origin, window-count
    size), emitted as the tail of a WITH chain that already defines a
    ``pairs`` CTE with columns (``id_a``, ``id_b``). Shared by every
    clustering oracle — the labeling convention must not drift
    copy-by-copy (r10 review finding, same policy as _quant_cte /
    _shingle_cte)."""
    return f"""edges AS (
    SELECT {id_a} AS src, {id_b} AS dst FROM pairs
    UNION ALL
    SELECT {id_b} AS src, {id_a} AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, origin) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.dst, r.origin FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (SELECT node, min(origin) AS cluster_id FROM reach GROUP BY node)
SELECT node AS {id_out}, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels"""


def _minhash_oracle(star: bool = False, source: str = "documents") -> str:
    """MinHash+LSH pair oracle; ``star=True`` swaps the all-pairs
    bucket clique for the star candidate generation (bucket member →
    bucket min) — the exact DuckDB twin of _star_candidates, feeding
    the dedup_clusters oracle so driver parity covers the production
    star input. ``source`` overrides the document relation (the
    incremental-removal oracle passes a filtered subquery)."""
    mins = ",\n           ".join(
        f"min(({MINHASH_A[i]} * hm + {MINHASH_B[i]}) % {MINHASH_P}) AS mh{i}"
        for i in range(NUM_PERM)
    )
    band_rows = []
    for j in range(LSH_BANDS):
        cols = " || ',' || ".join(
            f"CAST(mh{j * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
        )
        band_rows.append(f"SELECT doc_id, {j} AS band, md5({cols}) AS bv FROM sig")
    bands_sql = " UNION ALL ".join(band_rows)
    if star:
        cands_sql = """bmins AS (
    SELECT band, bv, min(doc_id) AS doc_a FROM bands GROUP BY band, bv
),
cands AS (
    SELECT DISTINCT m.doc_a, b.doc_id AS doc_b
    FROM bands b JOIN bmins m ON b.band = m.band AND b.bv = m.bv
    WHERE b.doc_id > m.doc_a
),"""
    else:
        cands_sql = """cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
),"""
    return f"""
WITH {_shingle_cte(source)},
hashed AS (SELECT doc_id, sh_h % {MINHASH_P} AS hm FROM sh),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
bands AS ({bands_sql}),
{cands_sql}
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS inter
    FROM cands c
    JOIN sh sa ON c.doc_a = sa.doc_id
    JOIN sh sb ON c.doc_b = sb.doc_id AND sa.sh_h = sb.sh_h
    GROUP BY 1, 2
),
jac AS (
    SELECT i.doc_a, i.doc_b,
           CAST(i.inter AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
"""


def _simhash_oracle() -> str:
    h = _HASH60_D.format(s="tok")
    bit_cols = ",\n           ".join(
        f"sum(cnt * (2 * ((h >> {i}) & 1) - 1)) AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    simhash = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS band,"
        f" (simhash >> {j * width}) & {mask} AS bv FROM sims"
        for j in range(SIMHASH_BANDS)
    )
    return f"""
WITH tok_counts AS (
    SELECT doc_id, tok, count(*) AS cnt, {h} AS h
    FROM (SELECT doc_id, unnest({_TOKS_D}) AS tok FROM documents)
    GROUP BY doc_id, tok
),
bitsums AS (SELECT doc_id, {bit_cols} FROM tok_counts GROUP BY doc_id),
sims AS (SELECT doc_id, {simhash} AS simhash FROM bitsums),
bands AS ({band_rows}),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
                    b.doc_id AS doc_b, b.simhash AS sim_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cands
WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}
"""


def _quant_cte(source: str = "embeddings") -> str:
    """The q/n quantization CTE pair over a configurable source
    relation — a table name or parenthesized subquery (the embedding
    removal oracle filters embeddings here)."""
    return f"""
q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {EMB_SCALE}) AS BIGINT)) AS e
    FROM {source} src
),
n AS (
    SELECT vec_id, e,
           CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT) AS nrm
    FROM q
)
"""


# Derived, never duplicated: the quantization formula must stay
# single-sourced on the oracle side too (r10 review finding).
_QUANT_CTE = _quant_cte()

_COS_D = "CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"


# Substring-level dedup oracle — same deterministic spec as
# dedup_substring (K-token windows, 60-bit md5 gram hash, keeper =
# min (doc_id, pos), removed index sets unioned per doc, surviving text
# md5'd). A module CONSTANT rather than an ORACLES entry: the operator
# is driver-verified as a text_digest MEMBER (queries/op_digests.py),
# and every ORACLES entry would auto-register a standalone slot in the
# capped 50-query catalog.
DEDUP_SUBSTRING_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
grams AS (
    SELECT doc_id, i AS pos,
           {_HASH60_D.format(s=f"array_to_string(ts[i:i+{SUBSTR_K - 1}], ' ')")} AS g_h
    FROM toks, unnest(range(1, len(ts) - {SUBSTR_K} + 2)) AS u(i)
    WHERE len(ts) >= {SUBSTR_K}
),
marked AS (
    SELECT doc_id, pos,
           count(*) OVER (PARTITION BY g_h) AS cnt,
           row_number() OVER (PARTITION BY g_h ORDER BY doc_id, pos) AS rn
    FROM grams
),
rm AS (
    SELECT doc_id, list(DISTINCT j) AS rmix
    FROM marked, unnest(range(pos, pos + {SUBSTR_K})) AS v(j)
    WHERE cnt >= 2 AND rn > 1
    GROUP BY doc_id
),
exploded AS (
    SELECT doc_id, ts[j] AS tok, j AS idx
    FROM toks, unnest(range(1, len(ts) + 1)) AS u(j)
),
kept AS (
    SELECT e.doc_id, string_agg(e.tok, ' ' ORDER BY e.idx) AS kept_text
    FROM exploded e LEFT JOIN rm ON e.doc_id = rm.doc_id
    WHERE rm.rmix IS NULL OR NOT list_contains(rm.rmix, e.idx)
    GROUP BY e.doc_id
)
SELECT t.doc_id,
       CAST(len(t.ts) AS BIGINT) AS n_tokens,
       CAST(coalesce(len(rm.rmix), 0) AS BIGINT) AS n_removed_tokens,
       md5(coalesce(k.kept_text, '')) AS kept_md5
FROM toks t
LEFT JOIN rm ON t.doc_id = rm.doc_id
LEFT JOIN kept k ON t.doc_id = k.doc_id
"""

ORACLES: dict[str, str] = {
    "dedup_exact": f"""
WITH fp AS (SELECT doc_id, md5({_NORM_D}) AS fingerprint FROM documents),
canon AS (
    SELECT fingerprint, min(doc_id) AS canonical_doc_id, count(*) AS group_size
    FROM fp GROUP BY fingerprint
)
SELECT f.doc_id, f.fingerprint, c.canonical_doc_id, c.group_size,
       f.doc_id != c.canonical_doc_id AS is_duplicate
FROM fp f JOIN canon c ON f.fingerprint = c.fingerprint
""",
    "dedup_ngram_jaccard": f"""
WITH {_SHINGLE_CTE},
{_JACCARD_VERIFY.format(cutoff=NGRAM_DF_CUTOFF).strip()}
SELECT doc_a, doc_b, inter, na, nb, jaccard
FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
""",
    "dedup_minhash_pairs": _minhash_oracle(),
    "dedup_clusters": f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({_minhash_oracle(star=True)}) mh
),
{components_sql_tail("doc_a", "doc_b", "doc_id")}
""",
    "dedup_simhash": _simhash_oracle(),
    "dedup_embedding_cosine": f"""
WITH {_QUANT_CTE.strip()},
p AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_sum(list_transform(list_zip(a.e, b.e),
               pr -> pr[1] * pr[2])) AS BIGINT) AS dot,
           a.nrm AS na, b.nrm AS nb
    FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, {_COS_D} AS cos_sim
FROM p
WHERE {_COS_D} >= {COSINE_DUP_THRESHOLD}
""",
    "dedup_embedding_lsh": f"""
WITH {_QUANT_CTE.strip()},
bk AS (
    SELECT vec_id,
           {_band_bucket_expr("e", 0, "duck")} AS b0,
           {_band_bucket_expr("e", 1, "duck")} AS b1
    FROM n
),
cand AS (
    SELECT a.vec_id AS id_a, c.vec_id AS id_b
    FROM bk a JOIN bk c ON a.b0 = c.b0 AND a.vec_id < c.vec_id
    UNION
    SELECT a.vec_id, c.vec_id
    FROM bk a JOIN bk c ON a.b1 = c.b1 AND a.vec_id < c.vec_id
),
p AS (
    SELECT cand.id_a, cand.id_b,
           CAST(list_sum(list_transform(list_zip(x.e, y.e),
               pr -> pr[1] * pr[2])) AS BIGINT) AS dot,
           x.nrm AS na, y.nrm AS nb
    FROM cand
    JOIN n x ON cand.id_a = x.vec_id
    JOIN n y ON cand.id_b = y.vec_id
)
SELECT id_a, id_b, {_COS_D} AS cos_sim
FROM p
WHERE {_COS_D} >= {COSINE_DUP_THRESHOLD}
""",
    # r9: the embedding clustering twin — HYBRID candidates (all-pairs
    # inside buckets ≤ EMB_STAR_BUCKET_CAP members, star above), exact
    # integer-cosine verify, recursive-CTE reachability components: the
    # independent DuckDB replay of emb_clusters_star (digest member in
    # sim_eval_digest).
    "emb_clusters_star": f"""
WITH RECURSIVE {_QUANT_CTE.strip()},
bk AS (
    SELECT vec_id,
           {_band_bucket_expr("e", 0, "duck")} AS b0,
           {_band_bucket_expr("e", 1, "duck")} AS b1
    FROM n
),
s0 AS (SELECT b0, min(vec_id) AS mn, count(*) AS m FROM bk GROUP BY b0),
s1 AS (SELECT b1, min(vec_id) AS mn, count(*) AS m FROM bk GROUP BY b1),
cand AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bk a JOIN bk b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
    JOIN s0 s ON s.b0 = a.b0 WHERE s.m <= {EMB_STAR_BUCKET_CAP}
    UNION
    SELECT s.mn, b.vec_id
    FROM bk b JOIN s0 s ON b.b0 = s.b0
    WHERE s.m > {EMB_STAR_BUCKET_CAP} AND b.vec_id > s.mn
    UNION
    SELECT a.vec_id, b.vec_id
    FROM bk a JOIN bk b ON a.b1 = b.b1 AND a.vec_id < b.vec_id
    JOIN s1 s ON s.b1 = a.b1 WHERE s.m <= {EMB_STAR_BUCKET_CAP}
    UNION
    SELECT s.mn, b.vec_id
    FROM bk b JOIN s1 s ON b.b1 = s.b1
    WHERE s.m > {EMB_STAR_BUCKET_CAP} AND b.vec_id > s.mn
),
p AS (
    SELECT cand.id_a, cand.id_b,
           CAST(list_sum(list_transform(list_zip(x.e, y.e),
               pr -> pr[1] * pr[2])) AS BIGINT) AS dot,
           x.nrm AS na, y.nrm AS nb
    FROM cand
    JOIN n x ON cand.id_a = x.vec_id
    JOIN n y ON cand.id_b = y.vec_id
),
pairs AS (
    SELECT id_a, id_b FROM p WHERE {_COS_D} >= {COSINE_DUP_THRESHOLD}
),
{components_sql_tail("id_a", "id_b", "vec_id")}
""",
}

# r6: the star algorithm holds the production name (and hence the one
# driver slot) against the independent recursive-CTE oracle above;
# dedup_clusters_propagation is the pytest cross-check (row-identical by
# test_dedup_clusters_star_equals_propagation + the Hypothesis graph
# property test) and deliberately has no ORACLES entry, which keeps the
# registry at the 50-slot budget and freed the slot profile_digest uses.
