"""Pipeline DAG: the engine's analogue of `dbt build` (SURVEY §3.1).

The reference's pipeline semantics: models form a dependency DAG via
ref()/source() (SURVEY §0.2), staging models materialize as views
(dbt_project.yml:33-34), marts as tables (:35-36), and each model's
attached data tests run right after it materializes — failures skip
descendants (dbt `build` semantics).

Spark mapping:

* **view** → the model stays a lazy DataFrame registered as a temp view;
  Catalyst inlines it into consumers, so filters/pruning push through to
  the parquet scans and nothing is computed twice unless used twice.
* **table** → the DataFrame is written to parquet under the warehouse dir
  and re-read, exactly the reference's compute-once/read-many contract for
  marts consumed by many downstreams (`orders` feeds 5 models — SURVEY
  §4.1). At 100 TB this is where you'd write Delta/Iceberg partitioned by
  order month; partitioning hooks are on ModelSpec.
* scheduling → topological order; independent models could run on separate
  scheduler pools (local mode runs them serially; the order is the
  contract).

The registry also records each model's declared tests (SURVEY §5-1/2) so
``run_pipeline`` is a faithful `dbt build`: materialize → test → continue
or skip descendants.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable, Literal

from pyspark.sql import DataFrame, SparkSession

from ..models import marts_analytics, marts_core, marts_segmentation, staging

Materialization = Literal["view", "table"]


@dataclass
class ModelSpec:
    name: str
    builder: Callable[[SparkSession, str | None], DataFrame]
    depends_on: list[str]
    materialization: Materialization = "view"
    # (test_name, factory(df_by_name) -> violations DataFrame)
    tests: list[tuple[str, Callable[[dict[str, DataFrame]], DataFrame]]] = field(
        default_factory=list
    )
    partition_by: list[str] = field(default_factory=list)
    # partition columns derived at WRITE time (name -> SQL expr over the
    # model's output): added before the partitioned write, dropped from
    # the re-read so the model's declared schema contract is unchanged.
    # The 100 TB layout: month-partitioned marts let any month-bounded
    # consumer read via partition pruning instead of a full scan.
    partition_expr: dict[str, str] = field(default_factory=dict)
    # event-time watermark column enabling incremental materialization
    # (run_pipeline(incremental=True)): partitions containing rows newer
    # than the stored max(watermark_col) are recomputed and dynamically
    # overwritten; untouched partitions are never rewritten. Requires
    # partition_by/partition_expr. The dbt `incremental` materialization,
    # done the Spark-native way — at 100 TB this rewrites days/months,
    # not the table.
    watermark_col: str | None = None
    # declared (column, data_type) schema contract (dbt `contract:
    # enforced`; config/contracts.yml), checked at materialization —
    # deviation fails the model before anything is written.
    contract: list[tuple[str, str]] | None = None


# Declarative test surface: every generic data test (the reference's 13
# unique+not_null PK pairs, 3 FK relationships, 4 row-level invariants,
# 1 accepted_values) is declared in config/models.yml — the engine
# analogue of the reference's per-model schema YAML, honoring the nested
# `arguments:` form — and parsed into (name, factory) tuples here.
from .yaml_config import load_model_tests

_YAML_TESTS = load_model_tests()


MODELS: dict[str, ModelSpec] = {}


def _register(spec: ModelSpec) -> None:
    MODELS[spec.name] = spec


_register(ModelSpec("stg_customers", staging.stg_customers, [],
                    tests=_YAML_TESTS["stg_customers"]))
_register(ModelSpec(
    "stg_orders", staging.stg_orders, [],
    tests=_YAML_TESTS["stg_orders"],
))
_register(ModelSpec(
    "stg_order_items", staging.stg_order_items, ["stg_orders"],
    tests=_YAML_TESTS["stg_order_items"],
))
_register(ModelSpec("stg_products", staging.stg_products, [],
                    tests=_YAML_TESTS["stg_products"]))
_register(ModelSpec("stg_supplies", staging.stg_supplies, [],
                    tests=_YAML_TESTS["stg_supplies"]))
_register(ModelSpec("stg_locations", staging.stg_locations, [],
                    tests=_YAML_TESTS["stg_locations"]))

_register(ModelSpec(
    "order_items", marts_core.order_items,
    ["stg_order_items", "stg_orders", "stg_products", "stg_supplies"],
    materialization="table",
    tests=_YAML_TESTS["order_items"],
    # SURVEY §7.4 (r8): month-partition the line-item fact like its
    # parent `orders` — the largest mart by rows; incremental catch-up
    # then commits O(changed months), and month-bounded consumers prune.
    partition_by=["order_month"],
    partition_expr={"order_month": "cast(date_trunc('month', ordered_at) as date)"},
    watermark_col="ordered_at",
))
_register(ModelSpec(
    # stg_customers is a declared dep because fk_orders_customers reads it:
    # a stg_customers failure must skip orders (dbt skip-descendants), and
    # topological_order(['orders']) must include it or the test KeyErrors.
    "orders", marts_core.orders, ["stg_orders", "order_items", "stg_customers"],
    materialization="table",
    # SURVEY §7.4: partition the orders mart by ordered_at month — the
    # 5-consumer mart whose downstream reads are typically month-bounded.
    partition_by=["order_month"],
    partition_expr={"order_month": "cast(date_trunc('month', ordered_at) as date)"},
    watermark_col="ordered_at",
    tests=_YAML_TESTS["orders"],
))
_register(ModelSpec(
    "customers", marts_core.customers, ["stg_customers", "orders"],
    materialization="table",
    tests=_YAML_TESTS["customers"],
))
_register(ModelSpec("metricflow_time_spine", marts_segmentation.metricflow_time_spine,
                    [], materialization="table",
                    tests=_YAML_TESTS["metricflow_time_spine"]))
_register(ModelSpec("products", marts_analytics.products,
                    ["stg_products", "order_items", "orders"],
                    materialization="table",
                    tests=_YAML_TESTS["products"]))
_register(ModelSpec("supplies", marts_analytics.supplies,
                    ["stg_supplies", "order_items"],
                    materialization="table",
                    tests=_YAML_TESTS["supplies"]))
_register(ModelSpec("locations", marts_analytics.locations,
                    ["stg_locations", "orders", "customers"],
                    materialization="table",
                    tests=_YAML_TESTS["locations"]))
_register(ModelSpec("customer_segmentation", marts_segmentation.customer_segmentation,
                    ["customers", "orders", "order_items"],
                    materialization="table",
                    tests=_YAML_TESTS["customer_segmentation"]))
_register(ModelSpec("time_analytics", marts_segmentation.time_analytics,
                    ["orders", "metricflow_time_spine"],
                    materialization="table",
                    tests=_YAML_TESTS["time_analytics"]))

# Attach declared schema contracts (config/contracts.yml — the reference's
# per-model column declarations, enforced at materialization).
from .yaml_config import load_model_contracts

for _name, _contract in load_model_contracts().items():
    if _name in MODELS:
        MODELS[_name].contract = _contract


def topological_order(names: list[str] | None = None) -> list[str]:
    order: list[str] = []
    seen: set[str] = set()

    def visit(n: str, stack: tuple[str, ...] = ()) -> None:
        if n in seen:
            return
        if n in stack:
            raise ValueError(f"cycle: {' -> '.join(stack)} -> {n}")
        for d in MODELS[n].depends_on:
            visit(d, stack + (n,))
        seen.add(n)
        order.append(n)

    for n in names or list(MODELS):
        visit(n)
    return order


def build(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Build one model (and implicitly its upstream lazy graph)."""
    return MODELS[name].builder(spark, sf_dir)


# Which row-level column each derived partition column truncates, per
# model: lets read_mart() INJECT partition predicates from row filters
# (SURVEY §4.3-5 stretch — "date-partition pruning injection", done as an
# engine-level rewrite: the same effect a custom Catalyst rule would
# have, without a JVM extension).
_PARTITION_SOURCE: dict[str, dict[str, str]] = {
    "orders": {"order_month": "ordered_at"},
    "order_items": {"order_month": "ordered_at"},
}


def read_mart(
    spark: SparkSession,
    warehouse_dir: str,
    name: str,
    date_between: tuple[str, str] | None = None,
    published: bool = False,
) -> DataFrame:
    """Read a materialized mart; a (start, end) date range on the mart's
    event-time column is applied as BOTH a row filter and an injected
    month-partition predicate, so the scan prunes whole partitions
    (PartitionFilters) instead of reading every file and filtering rows.
    At 100 TB this is the difference between touching ~n months and the
    full table.

    ``published=True`` resolves the mart through the warehouse's
    write-audit-publish pointer (plans/wap.py) instead of the table's
    live ``_CURRENT``: readers see the last PUBLISHED state — a
    mid-flight or failed-audit pipeline run's staged snapshots are
    invisible, across every mart consistently."""
    from .acid import AcidTable

    table = AcidTable(os.path.join(warehouse_dir, name))
    if published:
        from .wap import PublishPointer

        df = PublishPointer(warehouse_dir).read_table(spark, name)
    elif table.exists():  # snapshot table (marts written by run_pipeline)
        df = table.read(spark)
    else:  # plain parquet directory (external/legacy layout)
        df = spark.read.parquet(os.path.join(warehouse_dir, name))
    if date_between is None:
        return df
    start, end = date_between
    from pyspark.sql import functions as F

    for part_col, src_col in _PARTITION_SOURCE.get(name, {}).items():
        if part_col not in df.columns:
            continue
        df = df.filter(
            (F.col(src_col) >= F.lit(start)) & (F.col(src_col) <= F.lit(end))
        ).filter(
            (F.col(part_col) >= F.expr(f"cast(date_trunc('month', date'{start}') as date)"))
            & (F.col(part_col) <= F.expr(f"cast(date_trunc('month', date'{end}') as date)"))
        )
    return df


# View-cache policy ceiling: don't pin plans whose Catalyst-estimated
# output exceeds this (default 8 GiB; env-overridable). At 100 TB a
# staging view projects the full fact table — blind caching would thrash
# executor storage memory and evict genuinely-reused small frames.
_CACHE_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_CACHE_MAX_BYTES", 8 * 1024**3)
)


def _cache_policy(name: str, df: DataFrame) -> bool:
    """Cache a view model only when the run will actually replay its plan
    (≥2 consumers: downstream models + its own attached tests, each a
    separate action) AND the Catalyst size estimate fits under
    _CACHE_MAX_BYTES. Estimate comes from the optimized logical plan —
    parquet row-count stats with per-column sizing, no job runs."""
    spec = MODELS[name]
    plan_reuses = sum(
        name in m.depends_on for m in MODELS.values()
    ) + len(spec.tests)
    if plan_reuses < 2:
        return False
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return est <= _CACHE_MAX_BYTES


def materialize_table_snapshot(
    spark: SparkSession,
    table,
    out: DataFrame,
    part_col: str | None,
    partition_by: list[str],
    watermark_col: str | None,
    fingerprint: str | None,
    incremental: bool,
) -> str:
    """The ONE table-materialization commit path — run_pipeline's table
    branch and the driver-verified ``incremental_orders_state`` fold
    (plans/incremental.py) both go through here, so the digest verifies
    the production machinery, not a re-implementation.

    Full build: atomic snapshot overwrite. Incremental
    (dbt `incremental`, the Spark-native way): find partitions
    containing rows newer than the stored max(watermark), recompute
    ONLY those from the full frame (late rows inside an existing
    partition get their whole partition rebuilt — idempotent), and
    commit ONE new snapshot that reuses every untouched partition's
    files by reference (plans/acid.py — atomic under concurrent
    readers; cost O(changed partitions)). Returns which path ran:
    'full' | 'incremental' | 'noop'."""
    from pyspark.sql import functions as F

    meta = {"fingerprint": fingerprint} if fingerprint else {}
    if incremental and watermark_col and part_col and table.exists():
        existing = table.read(spark)
        hwm = existing.agg(F.max(watermark_col)).collect()[0][0]
        affected = [
            r[0]
            for r in out.where(F.col(watermark_col) > F.lit(hwm))
            .select(part_col)
            .distinct()
            .collect()
        ]
        if not affected:
            return "noop"
        table.overwrite_partitions(out, part_col, affected, meta=meta)
        return "incremental"
    table.overwrite(out, partition_by, meta=meta)
    return "full"


def run_pipeline(
    spark: SparkSession,
    sf_dir: str | None = None,
    warehouse_dir: str | None = None,
    fail_fast: bool = True,
    threads: int = 8,
    incremental: bool = False,
    state_aware: bool = False,
    publish=None,
) -> dict[str, dict]:
    """`dbt build`: materialize every model in DAG order, run its tests,
    skip descendants of failures. Returns per-model status.

    ``publish`` (a plans/wap.py PublishPointer, normally passed via
    ``run_pipeline_wap``) marks this as the write+audit phase of a
    write-audit-publish run: materialization is unchanged (new
    immutable snapshot versions behind each table's own pointer), but
    per-model vacuum PROTECTS each table's currently-published version
    so repeated failed-audit runs can never reclaim the live published
    snapshot's files. The pointer swap itself happens in
    run_pipeline_wap, only on an all-green result.

    Independent models materialize CONCURRENTLY (the dbt `threads`
    analogue): a wave scheduler submits every dependency-satisfied model
    to a thread pool; each thread drives its own Spark actions, so
    independent mart writes overlap instead of serializing driver-side.
    On a real cluster this is scheduler-pool parallelism; on local[N]
    it overlaps IO/codegen phases that leave cores idle. threads=1
    reproduces the serial behavior exactly. Default 8: measured A/B at
    sf0.1 on local[32] (3 runs each) — threads=4 median 36.5 s,
    threads=8 27.7 s, threads=12 25.7 s, with identical ~25 s minimums
    (the stg_orders→order_items→orders→segmentation→export critical
    path); 8 captures most of the win without oversubscribing smaller
    drivers.

    ``state_aware=True`` (dbt state:modified / defer analogue,
    plans/state.py): a table model whose stored snapshot fingerprint
    (code + config + upstream fingerprints + source-data identity)
    matches the current one is NOT re-materialized — its existing
    snapshot is re-read and registered for downstreams, status
    `reused`. A no-change rebuild therefore writes nothing; an edit
    rebuilds exactly its subtree."""
    import threading as _threading
    import time as _time
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

    results: dict[str, dict] = {}
    materialized: dict[str, DataFrame] = {}
    failed: set[str] = set()
    done: set[str] = set()
    lock = _threading.Lock()
    # set by a model's own worker the moment it raises, before that
    # worker can dequeue an export: no export writes after a model
    # failure. (Cancelling the queued futures from this thread would
    # race the worker that just freed up.)
    aborted = _threading.Event()

    def _run_model(name: str) -> None:
        spec = MODELS[name]
        _t0 = _time.perf_counter()
        df = spec.builder(spark, sf_dir)
        # Contract enforcement (dbt `contract: enforced`): the built
        # schema must equal the declared one exactly — names, order, and
        # types — BEFORE anything is materialized or tested. Schema-only
        # check: free (no job runs), catches drift at plan time.
        if spec.contract is not None:
            actual = [
                (f.name, f.dataType.simpleString()) for f in df.schema.fields
            ]
            if actual != spec.contract:
                declared = dict(spec.contract)
                got = dict(actual)
                detail = {
                    "missing": [c for c, _ in spec.contract if c not in got],
                    "unexpected": [c for c, _ in actual if c not in declared],
                    "type_drift": {
                        c: {"declared": declared[c], "actual": got[c]}
                        for c in declared
                        if c in got and declared[c] != got[c]
                    },
                }
                with lock:
                    results[name] = {
                        "status": "contract_failed",
                        "contract": detail,
                        "seconds": round(_time.perf_counter() - _t0, 2),
                    }
                    if fail_fast:
                        failed.add(name)
                return
        if spec.materialization == "view" and _cache_policy(name, df):
            # Engine cache policy (SURVEY §4.1): a view consumed by N
            # downstream models + its own tests would recompute its plan
            # N+k times within one pipeline run; cache for the run's
            # duration (unpersisted at the end) — but only when reuse is
            # real and the size estimate fits (_cache_policy). Matches
            # dbt view semantics externally either way.
            df = df.cache()
        if spec.materialization == "table" and warehouse_dir:
            from pyspark.sql import functions as F

            from .acid import AcidTable
            from .state import model_fingerprint

            path = os.path.join(warehouse_dir, name)
            out = df
            for col, expr in spec.partition_expr.items():
                out = out.withColumn(col, F.expr(expr))
            part_col = spec.partition_by[0] if spec.partition_by else None
            table = AcidTable(path)
            fp = model_fingerprint(MODELS, name, sf_dir)
            if (
                state_aware
                and table.exists()
                and table.manifest().get("meta", {}).get("fingerprint") == fp
            ):
                # state:modified skip — code, config, upstreams, and
                # source data all unchanged: re-read the committed
                # snapshot, write nothing, skip re-testing (the snapshot
                # passed its tests when it was built).
                df = table.read(spark).drop(*spec.partition_expr.keys())
                df.createOrReplaceTempView(name)
                with lock:
                    materialized[name] = df
                    results[name] = {
                        "status": "reused",
                        "seconds": round(_time.perf_counter() - _t0, 2),
                    }
                return
            materialize_table_snapshot(
                spark,
                table,
                out,
                part_col=part_col,
                partition_by=spec.partition_by,
                watermark_col=spec.watermark_col,
                fingerprint=fp,
                incremental=incremental,
            )
            # Bound on-disk growth: keep the committed snapshot plus its
            # predecessor (readers that resolved the pointer just before
            # this commit still see an intact snapshot), drop older files.
            # Under WAP, additionally protect the PUBLISHED version —
            # failed-audit runs stack unpublished versions above it and
            # a count-based window alone would eventually reclaim the
            # version branch-aware readers are still serving.
            pub_v = (
                publish.published_version(name) if publish is not None
                else None
            )
            table.vacuum(
                keep_last=2,
                protect_versions={pub_v} if pub_v is not None else None,
            )
            df = table.read(spark).drop(*spec.partition_expr.keys())
        df.createOrReplaceTempView(name)
        with lock:
            materialized[name] = df

        test_failures = {}
        if spec.tests:
            from functools import reduce as _reduce

            from pyspark.sql import functions as F

            # ONE action for all of this model's tests (r14, guide
            # §1.2): each violations frame collapses to a marker row per
            # violation; the union's groupBy counts every test in a
            # single job instead of one driver-blocking .count() per
            # test. Counts are identical to the per-test counts.
            parts = [
                factory(materialized).select(F.lit(tn).alias("__test"))
                for tn, factory in spec.tests
            ]
            by_name = {
                r["__test"]: r["count"]
                for r in _reduce(DataFrame.unionByName, parts)
                .groupBy("__test")
                .count()
                .collect()
            }
            test_failures = {
                tn: by_name[tn] for tn, _ in spec.tests if by_name.get(tn)
            }
        _secs = round(_time.perf_counter() - _t0, 2)
        with lock:
            if test_failures:
                results[name] = {"status": "test_failed",
                                 "failures": test_failures, "seconds": _secs}
                if fail_fast:
                    failed.add(name)
            else:
                results[name] = {"status": "ok", "seconds": _secs}

    def _model_task(name: str) -> None:
        try:
            _run_model(name)
        except BaseException:
            aborted.set()
            raise

    # ref() resolution: builders consume already-materialized upstream
    # models (for table marts: the re-read of the written parquet)
    # instead of recomputing their lineage — compute-once/read-many
    # (SURVEY §4.1; `orders` feeds 5 downstream models). The context is
    # active for the whole run; wave ordering guarantees every upstream
    # entry exists before a downstream builder runs.
    from ..models import materialization_context
    from ..models.base import release_cached

    # -------- saved-query exports (`export_as: table`, plans/exports.py)
    # dbt builds each mart YAML's export right after the mart; same
    # contract here: evaluate inside the materialization context (the
    # query's base resolves via ref() to the written mart — no lineage
    # recompute) and commit as an atomic snapshot table. Exports whose
    # mart failed/skipped are skipped, like any other descendant.
    # Exports LAUNCH AS SOON AS their mart lands (r15): they read the
    # written mart and feed nothing downstream, so running the 8-export
    # tail only after the LAST model serialized ~2 s of independent work
    # behind the critical path (measured timeline, sf0.1).
    export_by_mart: dict[str, list] = {}
    if warehouse_dir:
        from ..semantic.jaffle_models import SAVED_QUERIES
        from .acid import AcidTable
        from .exports import EXPORTS

        from .state import export_fingerprint

        for _spec in EXPORTS.values():
            export_by_mart.setdefault(_spec.depends_on, []).append(_spec)

        def _run_export(spec) -> None:
            if aborted.is_set():
                return
            _t0 = _time.perf_counter()
            query = SAVED_QUERIES[spec.saved_query]
            table = AcidTable(os.path.join(warehouse_dir, spec.name))
            efp = export_fingerprint(MODELS, spec, query, sf_dir)
            if (
                state_aware
                and table.exists()
                and table.manifest().get("meta", {}).get("fingerprint")
                == efp
            ):
                with lock:
                    results[f"export:{spec.name}"] = {
                        "status": "reused",
                        "seconds": round(_time.perf_counter() - _t0, 2),
                    }
                return
            edf = query.to_df(spark, sf_dir)
            table.overwrite(edf, meta={"fingerprint": efp})
            # same retention policy as the marts (each run otherwise
            # accumulates one export snapshot forever), same publish
            # pin under WAP
            epub_v = (
                publish.published_version(spec.name)
                if publish is not None
                else None
            )
            table.vacuum(
                keep_last=2,
                protect_versions=(
                    {epub_v} if epub_v is not None else None
                ),
            )
            with lock:
                results[f"export:{spec.name}"] = {
                    "status": "ok",
                    "seconds": round(_time.perf_counter() - _t0, 2),
                }

    order = topological_order()
    pending = list(order)
    efutures: dict = {}
    try:
        with materialization_context(materialized), ThreadPoolExecutor(
            max_workers=max(1, threads)
        ) as pool:
            futures: dict = {}
            while pending or futures:
                ready = []
                for name in pending:
                    deps = MODELS[name].depends_on
                    if any(d in failed for d in deps):
                        results[name] = {"status": "skipped",
                                         "reason": "upstream failure"}
                        failed.add(name)
                    elif all(d in done for d in deps):
                        ready.append(name)
                pending = [n for n in pending
                           if n not in failed and n not in ready]
                for name in ready:
                    futures[pool.submit(_model_task, name)] = name
                if not futures:
                    continue
                finished, _ = wait(list(futures), return_when=FIRST_COMPLETED)
                for fut in finished:
                    name = futures.pop(fut)
                    fut.result()  # propagate builder/test exceptions
                    done.add(name)
                    # eager exports (r15): _run_model recorded this
                    # model's final status (and any fail_fast failure)
                    # before returning, so the submit/skip decision here
                    # equals the old end-of-run decision
                    if name not in failed:
                        for spec in export_by_mart.get(name, []):
                            efutures[pool.submit(_run_export, spec)] = (
                                spec.name
                            )

            # exports whose mart failed or was skipped (dbt
            # skip-descendants), recorded exactly as before
            for mart, specs in export_by_mart.items():
                if mart in failed:
                    for spec in specs:
                        results[f"export:{spec.name}"] = {
                            "status": "skipped", "reason": "upstream failure"
                        }
            for fut in efutures:
                fut.result()
    except BaseException as exc:
        # a model raised (exports queued behind it returned unwritten,
        # see `aborted`): the pool has joined every export, so attach
        # what the ones that ran did instead of dropping it
        for fut, ename in efutures.items():
            err = fut.exception()
            if err is not None and err is not exc:
                exc.add_note(f"export {ename} failed: {err!r}")
        committed = [
            ename for ename in efutures.values()
            if results.get(f"export:{ename}", {}).get("status") == "ok"
        ]
        if committed:
            exc.add_note(f"exports committed before the failure: {committed}")
        raise
    finally:
        # Release every memoized cache this run populated (r15): inside
        # the run, cached() memoizes non-materialized sub-analyses
        # (supply_performance etc.) whose lineage reads THIS run's
        # written tables — a memo entry outliving the warehouse dir
        # would serve a deleted path on eviction, and a later timed run
        # reusing it would not be computing from its own inputs.
        release_cached(spark)

    export_keys = [k for k in results if k.startswith("export:")]
    results = {
        n: results[n] for n in order if n in results
    } | {k: results[k] for k in export_keys}
    for name, df in materialized.items():
        if MODELS[name].materialization == "view":
            df.unpersist()
    return results
