"""dbt-style ``ref()`` resolution (see models/__init__ docstring).

Outside a pipeline run, ``ref(name, builder, …)`` calls the builder —
every model is a self-contained lazy DataFrame. Inside
``plans.dag.run_pipeline``, a materialization context maps built model
names to their DataFrames (marts: the re-read of the written table), so
downstream models consume the materialized result instead of recomputing
the lineage — the reference's compute-once/read-many contract (`orders`
feeds 5 models, SURVEY §4.1). At 100 TB this is the difference between
reading a partitioned table and re-running its upstream join tree per
consumer.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_MATERIALIZED: dict[str, DataFrame] | None = None


@contextmanager
def materialization_context(tables: dict[str, DataFrame]):
    """Activate a name→DataFrame resolution table (see run_pipeline)."""
    global _MATERIALIZED
    prev = _MATERIALIZED
    _MATERIALIZED = tables
    try:
        yield
    finally:
        _MATERIALIZED = prev


def ref(name: str, builder, spark, sf_dir):
    """Resolve a model reference: materialized result if a pipeline run
    is active and has built it, else the lazy builder."""
    if _MATERIALIZED is not None and name in _MATERIALIZED:
        return _MATERIALIZED[name]
    return builder(spark, sf_dir)


def active_materialization() -> dict[str, DataFrame] | None:
    """The materialization context currently in effect (None outside a
    pipeline/digest run) — read-only. Nested context creators (digest
    groups) MERGE their entries over this instead of replacing it
    (r14 ADVICE): a digest building inside a pipeline run must keep
    resolving the run's OTHER materialized tables, or its members
    silently rebuild their lineage."""
    return _MATERIALIZED


# ----------------------------------------------------- shared cache memo
#
# Multi-consumer subtrees (customer_segmentation's three mart inputs, the
# MinHash shingle relation) are .cache()d so Catalyst doesn't replan the
# upstream tree per branch. Calling .cache() on a FRESH DataFrame each
# invocation would stack a new cached RDD per call and leak executor
# storage in a long-lived session — so cached frames are memoized per
# (session, name, sf_dir): repeated invocations reuse the same cached
# plan (bounded), and `release_cached()` unpersists explicitly.
# Inside a pipeline materialization context the memo is bypassed: ref()
# already resolves to written tables there (cheap re-reads, no caching).

_CACHE_MEMO: dict[tuple[int, str, str | None], DataFrame] = {}
# Digest group queries build their members from a thread pool (r14 —
# eager ACID lifecycles overlap instead of serializing on the local-mode
# per-job floor), and pipeline model threads now reach the memo too
# (r15); two threads missing the memo at once would each .cache() a
# fresh frame and leak the loser's cached RDD until the session dies.
# Population is single-shot per key via PER-KEY locks (r15): the r14
# global lock held during builder() serialized unrelated concurrent
# builds (supplies' perf subtree vs products') on driver-side plan
# construction. Nested cached() calls take different keys (the builder
# dependency graph is acyclic: supplier_analysis → supply_performance →
# order_items), so per-key locking cannot deadlock. Key locks are never
# deleted (tiny, bounded by distinct (session, name, sf_dir) triples) —
# deleting one while a builder holds it would re-admit the double-cache
# race release_cached() could otherwise reopen.
_CACHE_LOCK = __import__("threading").Lock()
_CACHE_KEY_LOCKS: dict[tuple[int, str, str | None], object] = {}


# NOTE on a size gate deliberately NOT added here (r14): gating these
# caches on the Catalyst size estimate (like plans/dag.py does for
# staging VIEWS) was tried and rejected — without column statistics the
# estimate of a JOIN subtree multiplies its children's sizes, so even
# the sf0.001 order_items tree "estimates" past any sane ceiling and
# the gate silently disables every mart-cache sharing win (the guide's
# §3.1 warning that size estimates are often badly wrong, in action).
# The frames cached here are dimension/order-grain aggregates orders of
# magnitude smaller than the fact tables; the 100 TB policy lever stays
# the pipeline path, where marts are materialized tables and ref()
# substitutes reads for recomputes.


def cached(name: str, builder, spark, sf_dir) -> DataFrame:
    """Memoized .cache() of `builder(spark, sf_dir)` (see note above).

    Inside a materialization context, only names the context actually
    HOLDS bypass the memo (they resolve to written tables — cheap
    re-reads, no caching needed). Names the run did NOT materialize —
    sub-analyses like supply_performance/product_performance that are
    not pipeline models — keep the shared-cache policy (r15): the r14
    full bypass made those subtrees replan and recompute per consumer
    inside the pipeline run (the supplies mart consumes its perf
    aggregate twice: rankings ⋈ its windowed self), measured at sf0.1
    as supplies 6.7 s / products 5.7 s write phases vs ~4 s cached.
    run_pipeline releases the memo at the end of the run, so no cached
    frame outlives the warehouse it reads from."""
    if _MATERIALIZED is not None and name in _MATERIALIZED:
        return _MATERIALIZED[name]
    key = (id(spark), name, sf_dir)
    with _CACHE_LOCK:
        df = _CACHE_MEMO.get(key)
        if df is not None:
            return df
        klock = _CACHE_KEY_LOCKS.setdefault(
            key, __import__("threading").Lock()
        )
    with klock:
        with _CACHE_LOCK:
            df = _CACHE_MEMO.get(key)
        if df is None:
            df = builder(spark, sf_dir).cache()
            with _CACHE_LOCK:
                _CACHE_MEMO[key] = df
    return df


def release_cached(spark=None, blocking: bool = True) -> None:
    """Unpersist memoized caches (all sessions, or one).

    BLOCKING by default (r15, VERDICT r14 item 6): the async unpersist
    left cached blocks draining while the next query's jobs were
    already timing — across a 51-row bench session that storage churn
    showed up as long-session dispersion on the cache-heavy rows
    (customer_segmentation's 7→17 s first-pass flapping). Waiting for
    block removal costs milliseconds here and makes every timed run
    start from the same storage-memory state.

    Safe against concurrent cached() calls: the matching entries leave
    the memo under _CACHE_LOCK and are unpersisted outside it, so a
    frame stored while a release is unpersisting stays in the memo
    (still cached, still releasable) instead of being dropped un-
    unpersisted."""
    with _CACHE_LOCK:
        released = [
            _CACHE_MEMO.pop(key)
            for key in list(_CACHE_MEMO)
            if spark is None or key[0] == id(spark)
        ]
    for df in released:
        df.unpersist(blocking=blocking)
