"""Round-15 optimization equivalence + invariant pins.

* Index transactions commit their per-table data writes CONCURRENTLY
  (dedup_incremental._commit_all); the meta pointer still swaps LAST,
  so a failing table commit leaves the index snapshot unmoved and the
  lifecycle end state is unchanged (oracle parity is pinned by the
  existing lifecycle tests; these pin the transaction mechanics).
* Digest-group materialization contexts MERGE with an active outer
  context instead of replacing it (r14 ADVICE): outer entries stay
  resolvable inside the group build.
* streaming_attribution derives its state-store partition count from
  source input bytes (floor 4, capped at the session's shuffle
  partitions) and restores the session conf afterwards.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_jaffleshop_spark.models.base import release_cached


# ------------------------------------------------- concurrent commits


def test_commit_all_returns_all_versions_and_order_free():
    from dbt_jaffleshop_spark.llm.dedup_incremental import _commit_all

    out = _commit_all(
        {
            "a": lambda: 1,
            "b": lambda: 2,
            "c": lambda: 3,
        }
    )
    assert out == {"a": 1, "b": 2, "c": 3}


def test_commit_all_propagates_failure():
    from dbt_jaffleshop_spark.llm.dedup_incremental import _commit_all

    def boom() -> int:
        raise RuntimeError("staging failed")

    with pytest.raises(RuntimeError, match="staging failed"):
        _commit_all({"ok": lambda: 1, "bad": boom})


def test_commit_all_waits_for_siblings_before_raising():
    """A failed commit must not surface while a sibling is still
    staging: _commit_all raises only after every thunk finished, with
    the other failures attached as notes."""
    import threading
    import time

    from dbt_jaffleshop_spark.llm.dedup_incremental import _commit_all

    sibling_done = threading.Event()

    def boom() -> int:
        raise RuntimeError("staging failed")

    def slow() -> int:
        time.sleep(0.5)
        sibling_done.set()
        return 2

    def boom_too() -> int:
        raise ValueError("second failure")

    with pytest.raises(RuntimeError, match="staging failed") as err:
        _commit_all({"bad": boom, "slow": slow, "bad_too": boom_too})
    assert sibling_done.is_set()
    assert any("bad_too" in note for note in err.value.__notes__)


def test_failed_table_commit_leaves_meta_unmoved(spark, sf_dir, tmp_path, monkeypatch):
    """A fold whose pairs commit dies mid-transaction must not move the
    index's committed snapshot (crash-atomicity with concurrent
    commits): meta is swapped only after EVERY data commit returns."""
    from dbt_jaffleshop_spark.llm import dedup_incremental as di
    from dbt_jaffleshop_spark.plans.acid import AcidTable
    from dbt_jaffleshop_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    thr = di._split_threshold(docs)
    idx = di.build_dedup_index(
        spark, docs.where(F.col("doc_id") <= thr), str(tmp_path / "idx")
    )
    meta_v_before, snap_before = idx.snapshot(spark)

    real = AcidTable.append_from

    def exploding_append_from(self, *a, **kw):
        if self.path.endswith("pairs"):
            raise RuntimeError("injected pairs-commit crash")
        return real(self, *a, **kw)

    monkeypatch.setattr(AcidTable, "append_from", exploding_append_from)
    with pytest.raises(RuntimeError, match="injected pairs-commit crash"):
        di.incremental_update(spark, docs.where(F.col("doc_id") > thr), idx)
    monkeypatch.setattr(AcidTable, "append_from", real)

    meta_v_after, snap_after = idx.snapshot(spark)
    assert meta_v_after == meta_v_before
    assert snap_after == snap_before
    # the re-run is idempotent: the fold lands cleanly afterwards
    di.incremental_update(spark, docs.where(F.col("doc_id") > thr), idx)
    assert idx.max_doc_id(spark) > int(snap_before["max_doc_id"])


# -------------------------------------------- context merge (ADVICE r14)


def test_materialization_context_merge_preserves_outer_entries(
    spark, sf_dir, monkeypatch
):
    from dbt_jaffleshop_spark.models import materialization_context
    from dbt_jaffleshop_spark.models.base import active_materialization
    from dbt_jaffleshop_spark.queries import digests as dmod
    from dbt_jaffleshop_spark.queries.digests import DIGEST_CATALOG

    release_cached(spark)
    marker = spark.range(1).withColumnRenamed("id", "marker")
    seen: dict = {}
    orig = dmod._digest_df

    def spying_digest_df(df, model):
        ctx = active_materialization()
        seen[model] = set(ctx or {})
        return orig(df, model)

    monkeypatch.setattr(dmod, "_digest_df", spying_digest_df)
    with materialization_context({"__outer_marker__": marker}):
        DIGEST_CATALOG["jaffle_rollups_digest"][0](spark, sf_dir)
    release_cached(spark)
    # every member built under a context that still carried the OUTER
    # entry (r14 shipped a 2-entry replacement context instead)
    assert seen, "digest members were not built"
    for model, keys in seen.items():
        assert "__outer_marker__" in keys, (model, keys)
        assert {"order_items", "orders"} <= keys, (model, keys)


def test_rollups_digest_inside_outer_context_uses_outer_marts(spark, sf_dir):
    """Inside a pipeline-like context that materializes `orders`, the
    group builds over THAT frame (the merged context resolves the
    group's own chain through the outer entries)."""
    from dbt_jaffleshop_spark.models import materialization_context
    from dbt_jaffleshop_spark.models import marts_core
    from dbt_jaffleshop_spark.queries.digests import (
        BUILDERS,
        DIGEST_CATALOG,
        DIGEST_GROUPS,
        _digest_df,
    )

    release_cached(spark)
    full_orders = marts_core.orders(spark, sf_dir)
    lo = full_orders.agg(F.min("ordered_at")).collect()[0][0]
    sliced = full_orders.where(
        F.col("ordered_at") < F.lit(lo) + F.expr("interval 30 days")
    ).localCheckpoint()
    items = marts_core.order_items(spark, sf_dir).localCheckpoint()
    outer = {"orders": sliced, "order_items": items}
    release_cached(spark)

    with materialization_context(outer):
        shared = sorted(
            tuple(r)
            for r in DIGEST_CATALOG["jaffle_rollups_digest"][0](
                spark, sf_dir
            ).collect()
        )
    release_cached(spark)
    with materialization_context(outer):
        unshared = sorted(
            tuple(r)
            for m in DIGEST_GROUPS["jaffle_rollups_digest"]
            for r in _digest_df(BUILDERS[m](spark, sf_dir), m).collect()
        )
    release_cached(spark)
    assert shared == unshared


# ------------------------------------- streaming attribution partitions


def test_attribution_partitions_floor_and_cap(spark, sf_dir):
    from dbt_jaffleshop_spark.streaming import joins

    n = joins._attribution_shuffle_partitions(spark, sf_dir)
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 4 <= n <= max(sess, 4)
    # tiny test inputs sit at the floor — the state-volume rule, not a
    # core-count constant
    assert n == 4


def test_attribution_restores_session_conf(spark, sf_dir):
    from dbt_jaffleshop_spark.streaming import joins

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    df = joins.streaming_attribution(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert spark.conf.get(key) == before


def test_attribution_partitions_size_directory_layout_from_part_files(
    spark, tmp_path, monkeypatch
):
    """A directory-layout ``events.parquet/`` is sized by its part files
    (not its directory inode): ceil(bytes / target), floor 4, capped."""
    from dbt_jaffleshop_spark.streaming import joins

    src = tmp_path / "events.parquet"
    spark.range(3000).selectExpr("id", "cast(id * 7919 as string) s").repartition(
        3
    ).write.parquet(str(src))
    size = sum(
        p.stat().st_size for p in src.iterdir() if p.name.startswith("part-")
    )
    target = -(-size // 6)
    monkeypatch.setattr(joins, "_STATE_TARGET_BYTES", target)
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = max(4, min(sess, -(-size // target)))
    assert want > 4  # the floor alone would not pass
    assert joins._attribution_shuffle_partitions(spark, str(tmp_path)) == want
