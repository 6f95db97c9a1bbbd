"""`dbt build` analogue: full-DAG materialize + attached data tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_jaffleshop_spark.plans.dag import MODELS, run_pipeline, topological_order
from dbt_jaffleshop_spark.testing import generic


def test_topological_order_respects_deps():
    order = topological_order()
    pos = {n: i for i, n in enumerate(order)}
    for name, spec in MODELS.items():
        for dep in spec.depends_on:
            assert pos[dep] < pos[name], f"{dep} must come before {name}"
    # 6 staging + 8 marts + 1 generated spine (reference models/ file count)
    assert len(order) == len(MODELS) == 15


@pytest.fixture(scope="module")
def built_warehouse(spark, sf_dir, tmp_path_factory):
    """One full pipeline build shared by the module's tests."""
    wh = str(tmp_path_factory.mktemp("warehouse"))
    results = run_pipeline(spark, sf_dir, warehouse_dir=wh)
    return wh, results


def test_run_pipeline_all_green(built_warehouse):
    _, results = built_warehouse
    bad = {k: v for k, v in results.items() if v["status"] != "ok"}
    assert not bad, f"pipeline failures: {bad}"


def test_orders_mart_partition_pruning(spark, built_warehouse):
    """The materialized orders mart is month-partitioned (SURVEY §7.4):
    a month-bounded read must prune at the PARTITION level — the physical
    scan carries a PartitionFilters entry on order_month and reads only
    the matching month's files, not the whole mart."""
    wh, _ = built_warehouse
    from dbt_jaffleshop_spark.plans.acid import AcidTable

    df = AcidTable(f"{wh}/orders").read(spark)
    assert "order_month" in df.columns  # partition column round-trips
    months = [r[0] for r in df.select("order_month").distinct().collect()]
    assert len(months) > 1, "need multiple month partitions to prove pruning"
    target = sorted(months)[0]

    bounded = df.filter(F.col("order_month") == F.lit(target))
    plan = bounded._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "order_month" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], plan
    # pruning is real: the bounded scan touches one partition's rows only
    per_month = df.groupBy("order_month").count().collect()
    expect = {r["order_month"]: r["count"] for r in per_month}[target]
    assert bounded.count() == expect


@pytest.mark.parametrize("mart", ["orders", "order_items"])
def test_read_mart_injects_partition_pruning(spark, built_warehouse, mart):
    """read_mart turns an ordered_at date range into an injected
    order_month partition predicate (SURVEY §4.3-5 pruning-injection
    stretch) on BOTH month-partitioned marts (order_items since r8):
    same rows as the naive row filter, but the physical scan prunes at
    the partition level."""
    from dbt_jaffleshop_spark.plans.dag import read_mart

    wh, _ = built_warehouse
    start, end = "1995-03-15", "1995-05-10"
    pruned = read_mart(spark, wh, mart, date_between=(start, end))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2 and "order_month" in pf[1].split("]", 1)[0], plan

    from dbt_jaffleshop_spark.plans.acid import AcidTable

    naive = (
        AcidTable(f"{wh}/{mart}").read(spark)
        .filter((F.col("ordered_at") >= start) & (F.col("ordered_at") <= end))
    )
    assert pruned.count() == naive.count()
    assert pruned.count() > 0


def test_generic_tests_catch_violations(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "c")], "id: long, v: string"
    )
    assert generic.not_null(df, "id").count() == 1
    assert generic.unique(df, "id").count() == 1  # id=1 duplicated
    assert generic.accepted_values(df, "v", ["a", "b"]).count() == 1
    parent = spark.createDataFrame([(1,)], "id: long")
    assert generic.relationships(df, "id", parent, "id").count() == 0  # NULL not a violation
    child = spark.createDataFrame([(2,)], "id: long")
    assert generic.relationships(child, "id", parent, "id").count() == 1
    assert generic.expression_is_true(df.filter(F.col("id").isNotNull()), "id > 0").count() == 0


def test_fail_fast_skips_descendants(spark, sf_dir, tmp_path, monkeypatch):
    """dbt build semantics under the threaded scheduler: a failing test
    marks the model failed and every transitive descendant is skipped,
    while independent branches still build."""
    import dataclasses

    from dbt_jaffleshop_spark.plans import dag

    bad = dataclasses.replace(
        dag.MODELS["stg_customers"],
        tests=dag.MODELS["stg_customers"].tests
        + [("always_fails", lambda dfs: dfs["stg_customers"].limit(1))],
    )
    monkeypatch.setitem(dag.MODELS, "stg_customers", bad)
    results = dag.run_pipeline(spark, sf_dir, warehouse_dir=str(tmp_path / "wh"))
    assert results["stg_customers"]["status"] == "test_failed"
    # orders declares stg_customers (fk test input); customers reads it
    assert results["orders"]["status"] == "skipped"
    assert results["customers"]["status"] == "skipped"
    assert results["customer_segmentation"]["status"] == "skipped"
    # independent branches are unaffected
    assert results["stg_orders"]["status"] == "ok"
    assert results["stg_products"]["status"] == "ok"
    assert results["metricflow_time_spine"]["status"] == "ok"


class _ModelError(RuntimeError):
    pass


class _ExportError(RuntimeError):
    pass


def _failing_run(monkeypatch, tmp_path, threads, export_raises):
    """run_pipeline over stub models and exports (no Spark): ``good``
    lands at once and launches its export; ``bad`` raises 0.5 s later.
    Returns the list of export writes."""
    import dataclasses
    import time

    from dbt_jaffleshop_spark.plans import acid, dag, exports, state
    from dbt_jaffleshop_spark.semantic import jaffle_models

    class Frame:
        def createOrReplaceTempView(self, name):
            pass

    def bad(spark, sf_dir):
        time.sleep(0.5)
        raise _ModelError("bad model")

    writes = []

    class Table:
        def __init__(self, path):
            self.path = path

        def exists(self):
            return False

        def overwrite(self, df, meta=None):
            if export_raises:
                raise _ExportError(self.path)
            writes.append(self.path)

        def vacuum(self, **kw):
            pass

    models = {
        "good": dag.ModelSpec("good", lambda spark, sf_dir: Frame(), []),
        "bad": dag.ModelSpec("bad", bad, []),
    }
    spec = dataclasses.replace(
        next(iter(exports.EXPORTS.values())), name="good_export", depends_on="good"
    )
    query = type("Query", (), {"to_df": lambda self, spark, sf_dir: Frame()})()
    monkeypatch.setattr(dag, "MODELS", models)
    monkeypatch.setattr(exports, "EXPORTS", {spec.name: spec})
    monkeypatch.setitem(jaffle_models.SAVED_QUERIES, spec.saved_query, query)
    monkeypatch.setattr(acid, "AcidTable", Table)
    monkeypatch.setattr(state, "export_fingerprint", lambda *a: "fp")
    with pytest.raises(_ModelError) as err:
        dag.run_pipeline(
            object(), None, warehouse_dir=str(tmp_path), threads=threads
        )
    return writes, err.value


def test_model_exception_skips_queued_exports(monkeypatch, tmp_path):
    """One worker: good's export queues behind the failing model, and
    must not write once the model has failed."""
    writes, _err = _failing_run(monkeypatch, tmp_path, 1, export_raises=False)
    assert writes == []


def test_model_exception_surfaces_finished_export_failures(monkeypatch, tmp_path):
    """Two workers: good's export fails while the model is still
    running; its exception rides on the model's instead of vanishing."""
    _writes, err = _failing_run(monkeypatch, tmp_path, 2, export_raises=True)
    notes = getattr(err, "__notes__", [])
    assert any("_ExportError" in n and "good_export" in n for n in notes), notes


@pytest.mark.parametrize("mart", ["orders", "order_items"])
def test_incremental_rebuilds_only_affected_partitions(
    spark, sf_dir, built_warehouse, mart
):
    """Incremental materialization (dbt `incremental` with Iceberg-style
    commits): regress a month-partitioned mart (both `orders` and the
    line-item fact `order_items` since r8) to a snapshot missing its
    newest month, then run incrementally — the new commit writes ONLY
    that month's files (touched-partition count == 1) and carries every
    untouched partition's files forward by reference (same paths,
    untouched mtimes)."""
    import os as _os

    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.plans.acid import AcidTable

    wh, _ = built_warehouse
    table = AcidTable(f"{wh}/{mart}")
    full = table.read(spark)
    full_count = full.count()
    months = sorted(
        r[0] for r in full.select("order_month").distinct().collect()
    )
    assert len(months) > 2
    newest = months[-1]

    # regress: commit a snapshot without the newest month (watermark moves
    # back, so the incremental run must detect + restore exactly it)
    table.overwrite(
        full.where(F.col("order_month") < F.lit(newest)), ["order_month"]
    )
    regressed = table.manifest()
    assert table.read(spark).count() < full_count
    kept_mtimes = {
        f: _os.path.getmtime(_os.path.join(table.data_dir, f))
        for f in regressed["files"]
    }

    results = run_pipeline(spark, sf_dir, warehouse_dir=wh, incremental=True)
    assert results[mart]["status"] == "ok"
    assert table.read(spark).count() == full_count

    latest = table.manifest()
    new_files = set(latest["files"]) - set(regressed["files"])
    assert new_files, "incremental commit must add the missing month's files"
    assert all(f"order_month={newest}" in f for f in new_files)
    # touched-partition count: exactly the one regressed month
    touched = {f.split(_os.sep)[0] for f in new_files}
    assert touched == {f"order_month={newest}"}
    # untouched partitions: same files, by reference, never rewritten
    assert set(regressed["files"]) <= set(latest["files"])
    for f, mtime in kept_mtimes.items():
        p = _os.path.join(table.data_dir, f)
        assert _os.path.getmtime(p) == mtime, f"untouched file rewritten: {f}"


def test_snapshot_isolation_reader_during_write(spark, sf_dir, tmp_path):
    """The ACID guarantee the plain-parquet layout lacked: a reader that
    resolved the table BEFORE a concurrent (incremental or full)
    overwrite computes its full old-snapshot result AFTER the commit —
    no partially-rewritten partition is ever visible."""
    from pyspark.sql import functions as F

    from dbt_jaffleshop_spark.plans import dag
    from dbt_jaffleshop_spark.plans.acid import AcidTable

    wh = str(tmp_path / "wh")
    results = run_pipeline(spark, sf_dir, warehouse_dir=wh)
    assert results["orders"]["status"] == "ok"

    table = AcidTable(f"{wh}/orders")
    v1 = table.current_version()
    reader = table.read(spark)  # resolves the v1 snapshot's file list
    before_count = reader.count()
    before_sum = reader.agg(F.sum("order_total_cents")).collect()[0][0]

    # concurrent writer: dynamic-partition overwrite of one month with
    # DIFFERENT data (doubled totals) — under the old layout this deleted
    # + rewrote files the reader had already resolved
    newest = (
        reader.agg(F.max("order_month").alias("m")).collect()[0][0]
    )
    mutated = table.read(spark).withColumn(
        "order_total_cents",
        F.when(
            F.col("order_month") == F.lit(newest),
            F.col("order_total_cents") * 2,
        ).otherwise(F.col("order_total_cents")),
    )
    v2 = table.overwrite_partitions(mutated, "order_month", [newest])
    assert v2 == v1 + 1

    # the in-flight reader still sees v1, in full and unchanged
    assert reader.count() == before_count
    assert reader.agg(F.sum("order_total_cents")).collect()[0][0] == before_sum
    # a new reader sees v2 (the mutated month)
    after_sum = (
        table.read(spark).agg(F.sum("order_total_cents")).collect()[0][0]
    )
    assert after_sum > before_sum
    # old snapshots are explicitly addressable until vacuumed
    assert (
        table.read(spark, version=v1)
        .agg(F.sum("order_total_cents"))
        .collect()[0][0]
        == before_sum
    )

    # vacuum(keep_last=1) expires v1: its exclusive files are deleted
    removed = table.vacuum(keep_last=1)
    assert removed, "v1's replaced month files should be reclaimed"
    assert (
        table.read(spark).agg(F.sum("order_total_cents")).collect()[0][0]
        == after_sum
    )


def test_saved_query_exports_materialized(spark, sf_dir, built_warehouse):
    """`export_as: table` (reference orders.yml:156-159 and the 7 sibling
    mart YAMLs): after a build, every export exists as a snapshot table
    in the warehouse and its content equals the saved query it exports."""
    from dbt_jaffleshop_spark.plans.acid import AcidTable
    from dbt_jaffleshop_spark.plans.exports import EXPORTS
    from dbt_jaffleshop_spark.semantic.jaffle_models import SAVED_QUERIES

    wh, results = built_warehouse
    assert len(EXPORTS) == 8  # one per reference mart YAML exports block
    for name, spec in EXPORTS.items():
        assert results[f"export:{name}"]["status"] == "ok"
        table = AcidTable(f"{wh}/{name}")
        assert table.exists(), f"export table missing: {name}"
        written = table.read(spark)
        expected = SAVED_QUERIES[spec.saved_query].to_df(spark, sf_dir)
        assert written.columns == expected.columns
        assert written.count() == expected.count()
        # full-content check on one representative export (cheap rollup)
        if name == "order_metrics":
            a = sorted(map(tuple, written.collect()))
            b = sorted(map(tuple, expected.collect()))
            assert a == b


def test_exports_skipped_on_upstream_failure(spark, sf_dir, tmp_path, monkeypatch):
    """An export whose mart failed its tests is skipped, like any other
    descendant (dbt build semantics extended to exports)."""
    import dataclasses

    from dbt_jaffleshop_spark.plans import dag

    bad = dataclasses.replace(
        dag.MODELS["orders"],
        tests=dag.MODELS["orders"].tests
        + [("always_fails", lambda mats: mats["orders"].limit(1))],
    )
    monkeypatch.setitem(dag.MODELS, "orders", bad)
    wh = str(tmp_path / "wh")
    results = run_pipeline(spark, sf_dir, warehouse_dir=wh)
    assert results["orders"]["status"] == "test_failed"
    assert results["export:order_metrics"]["status"] == "skipped"
    # exports of unaffected marts still build
    assert results["export:supply_chain_metrics"]["status"] == "ok"


def test_contracts_cover_all_models():
    """Every pipeline model declares an enforced schema contract
    (config/contracts.yml — the reference declares every model's columns
    in its YAML)."""
    for name, spec in MODELS.items():
        assert spec.contract, f"{name} has no schema contract"


def test_contract_violation_fails_model_and_skips_descendants(
    spark, sf_dir, tmp_path, monkeypatch
):
    """dbt `contract: enforced`: a model whose built schema drifts from
    its declared contract fails BEFORE materialization and its
    descendants (and exports) are skipped."""
    import dataclasses

    from dbt_jaffleshop_spark.plans import dag
    from dbt_jaffleshop_spark.plans.acid import AcidTable

    spec = dag.MODELS["orders"]
    drifted = [("wrong_col", "string")] + spec.contract[1:]
    monkeypatch.setitem(
        dag.MODELS, "orders", dataclasses.replace(spec, contract=drifted)
    )
    wh = str(tmp_path / "wh")
    results = run_pipeline(spark, sf_dir, warehouse_dir=wh)
    assert results["orders"]["status"] == "contract_failed"
    detail = results["orders"]["contract"]
    assert detail["missing"] == ["wrong_col"]
    assert detail["unexpected"] == ["order_id"]
    assert not AcidTable(f"{wh}/orders").exists(), "failed model must not write"
    assert results["customers"]["status"] == "skipped"
    assert results["export:order_metrics"]["status"] == "skipped"


def test_contract_type_drift_detected(spark, sf_dir, tmp_path, monkeypatch):
    import dataclasses

    from dbt_jaffleshop_spark.plans import dag

    spec = dag.MODELS["stg_customers"]
    drifted = [
        (c, "int" if c == "customer_id" else t) for c, t in spec.contract
    ]
    monkeypatch.setitem(
        dag.MODELS, "stg_customers", dataclasses.replace(spec, contract=drifted)
    )
    results = run_pipeline(spark, sf_dir, warehouse_dir=str(tmp_path / "wh"))
    assert results["stg_customers"]["status"] == "contract_failed"
    assert results["stg_customers"]["contract"]["type_drift"] == {
        "customer_id": {"declared": "int", "actual": "bigint"}
    }


def test_view_cache_policy_is_size_and_reuse_aware(spark, sf_dir, monkeypatch):
    """Views are cached only when the run replays their plan (≥2
    consumers) and the Catalyst size estimate fits the ceiling — a
    100 TB staging view must NOT be pinned into executor storage."""
    import dataclasses

    from dbt_jaffleshop_spark.plans import dag

    df = dag.MODELS["stg_orders"].builder(spark, sf_dir)
    # stg_orders: 2 downstream consumers + tests → cached at test scale
    assert dag._cache_policy("stg_orders", df) is True

    # same frame, zero reuse → not cached
    lonely = dataclasses.replace(
        dag.MODELS["stg_orders"], name="lonely", depends_on=[], tests=[]
    )
    monkeypatch.setitem(dag.MODELS, "lonely", lonely)
    assert dag._cache_policy("lonely", df) is False

    # same reuse, huge estimated size → not cached
    monkeypatch.setattr(dag, "_CACHE_MAX_BYTES", 1)
    assert dag._cache_policy("stg_orders", df) is False


def test_state_aware_rebuild_skips_unchanged_and_rebuilds_edited_subtree(
    spark, sf_dir, tmp_path, monkeypatch
):
    """dbt state:modified analogue: a no-change state-aware rebuild
    re-materializes NOTHING (snapshot versions and data files untouched);
    editing one model's code rebuilds exactly its downstream subtree."""
    import dataclasses
    import glob as _glob
    import os as _os

    from dbt_jaffleshop_spark.plans import dag
    from dbt_jaffleshop_spark.plans.acid import AcidTable

    wh = str(tmp_path / "wh")
    results = run_pipeline(spark, sf_dir, warehouse_dir=wh)
    assert all(v["status"] == "ok" for v in results.values())

    tables = [n for n, s in dag.MODELS.items() if s.materialization == "table"]
    v_before = {n: AcidTable(f"{wh}/{n}").current_version() for n in tables}
    mtimes = {
        f: _os.path.getmtime(f)
        for f in _glob.glob(f"{wh}/**/*.parquet", recursive=True)
    }

    # no-change rebuild: everything reused, nothing written
    results2 = run_pipeline(spark, sf_dir, warehouse_dir=wh, state_aware=True)
    for n in tables:
        assert results2[n]["status"] == "reused", (n, results2[n])
        assert AcidTable(f"{wh}/{n}").current_version() == v_before[n]
    for e in [k for k in results2 if k.startswith("export:")]:
        assert results2[e]["status"] == "reused", (e, results2[e])
    for f, mt in mtimes.items():
        assert _os.path.getmtime(f) == mt, f"rewritten: {f}"

    # edit one model's code (same output, different source): its subtree
    # rebuilds, everything else stays reused
    orig = dag.MODELS["orders"].builder

    def orders_edited(spark, sf_dir=None):  # new source text = new fingerprint
        return orig(spark, sf_dir)

    monkeypatch.setitem(
        dag.MODELS, "orders",
        dataclasses.replace(dag.MODELS["orders"], builder=orders_edited),
    )
    results3 = run_pipeline(spark, sf_dir, warehouse_dir=wh, state_aware=True)
    subtree = {"orders", "customers", "products", "locations",
               "customer_segmentation", "time_analytics"}
    for n in tables:
        want = "ok" if n in subtree else "reused"
        assert results3[n]["status"] == want, (n, results3[n])
        want_v = v_before[n] + (1 if n in subtree else 0)
        assert AcidTable(f"{wh}/{n}").current_version() == want_v
    # exports follow their mart
    assert results3["export:order_metrics"]["status"] == "ok"
    assert results3["export:revenue_metrics"]["status"] == "reused"


def test_incremental_fold_reuses_untouched_partition_files(spark, sf_dir):
    """The r7 driver-verified fold (plans/incremental.py) must do real
    incremental work: the catch-up commit carries every pre-cutoff
    month's files forward BY REFERENCE (same relative paths, untouched
    mtimes) and rewrites only the months past the watermark."""
    import os as _os

    from dbt_jaffleshop_spark.plans import incremental as inc
    from dbt_jaffleshop_spark.plans.acid import AcidTable
    from dbt_jaffleshop_spark.plans.dag import materialize_table_snapshot
    from dbt_jaffleshop_spark.sources import load_table
    from pyspark.sql import functions as F

    orders = load_table(spark, "orders", sf_dir)
    table = AcidTable(_os.path.join(str(__import__("tempfile").mkdtemp()), "t"))
    kwargs = dict(part_col="month", partition_by=["month"],
                  watermark_col="o_orderdate", fingerprint=None)
    early = inc._mart(orders.where(F.col("o_orderdate") < F.lit(inc.CUTOFF)))
    full = inc._mart(orders)
    assert materialize_table_snapshot(
        spark, table, early, incremental=False, **kwargs) == "full"
    m1 = table.manifest()
    untouched = [f for f in m1["files"] if "month=1996-06" not in f]
    assert untouched
    mt1 = {f: _os.path.getmtime(_os.path.join(table.data_dir, f))
           for f in untouched}
    assert materialize_table_snapshot(
        spark, table, full, incremental=True, **kwargs) == "incremental"
    m2 = table.manifest()
    # every pre-cutoff partition file survives by reference, untouched
    for f, mt in mt1.items():
        assert f in set(m2["files"]), f"dropped: {f}"
        assert _os.path.getmtime(_os.path.join(table.data_dir, f)) == mt
    # the cutoff month was REBUILT (new files), not appended to
    assert not (set(m1["files"]) & set(m2["files"]) & {
        f for f in m1["files"] if "month=1996-06" in f})
    # and months past the cutoff now exist
    assert any("month=1997" in f or "month=1996-07" in f for f in m2["files"])
    # replay is a no-op
    v = table.current_version()
    assert materialize_table_snapshot(
        spark, table, full, incremental=True, **kwargs) == "noop"
    assert table.current_version() == v
