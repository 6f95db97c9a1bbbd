"""The benchmark's two workloads, each a closed loop driven from one
process through the engine's public functions.

``warehouse`` — one pass is a ``dbt build`` (``plans.dag.run_pipeline``
into a fresh warehouse: every model, its declared data tests, and the
saved-query exports), then a serve stream from two client threads over
the marts it just wrote: saved queries (``SAVED_QUERIES[..].to_df``
inside ``models.materialization_context`` bound to ``read_mart``
tables), date-ranged ``read_mart`` scans (partition pruning), declared
data-test requests, and ``dbt show``-style model previews. Chosen
because the DAG scheduler, shuffle sizing and mart writes dominate its
write phase and driver planning plus fixed per-job cost dominate its
read phase; Python workers do nothing here.

``corpus`` — set-up builds a dedup index, a month-partitioned
``AcidTable`` and a streaming state table. One pass applies one seeded
transaction of each kind in order (``incremental_update`` fold,
``AcidTable.merge_rows`` upsert, a one-month
``overwrite_partitions`` restatement, a streaming micro-batch upsert,
``vacuum``), then runs the curate operators, two per module
(``llm.text`` quality and language id, the ``llm.multimodal`` WAV
decoder and field extraction, ``llm.dedup`` SimHash near-dup and
embedding cosine, ``llm.similarity`` LSH and exact top-k search) over a
seeded corpus sample. Chosen because its write phase
is chains of short jobs plus the commit protocol (the job-serial dedup
lifecycle) and its read phase is the only place where Python workers
(the ``mapInPandas`` codecs) do most of the work; the DAG and the
semantic layer do nothing here.

Both write phases and both read phases report under the same end-to-end
names, so every optimisation has one workload that exercises it and one
that bypasses it. Each pass runs cold, in the run's fresh JVM, as a
``dbt build`` or a maintenance job launched on its own would, but never
as the session's first job: the corpus set-up runs jobs of its own, and
the warehouse set-up runs one (``warm_up``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import checks
import gen
from probe import SparkRecord, Tracer

# Serve stream: concurrent clients sharing the one session.
SERVE_CLIENTS = 2
SHOW_ROWS = 20

# Curate operators, by module. Each is forced by collecting its result,
# which is also the frame the oracle check reads.
CURATE_OPS = {
    "text": ["text_quality", "text_langid"],
    "multimodal": ["multimodal_audio", "multimodal_extract"],
    "dedup": ["dedup_simhash", "dedup_embedding_cosine"],
    "similarity": ["sim_lsh_topk", "sim_topk_cosine"],
}


@dataclass
class Pass:
    """What one pass measured, before any correctness check."""

    write_s: float = 0.0
    read_s: float = 0.0
    write_lat: list[float] = field(default_factory=list)
    read_lat: list[float] = field(default_factory=list)
    # seconds and wall-clock window (ms) of each named transaction or operator
    op_s: dict[str, float] = field(default_factory=dict)
    op_ms: dict[str, tuple[float, float]] = field(default_factory=dict)
    bytes_written: int = 0
    files_written: int = 0
    bytes_in: int = 0
    attempted: int = 0
    failed: int = 0


def _log_failure(what: str) -> None:
    print(f"[perfbench] {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _live_files(paths: list[str]) -> int:
    from dbt_jaffleshop_spark.plans.acid import AcidTable

    n = 0
    for p in paths:
        t = AcidTable(p)
        if t.exists():
            n += len(t.manifest()["files"])
    return n


class Workload:
    name = ""
    # whether a second pass may follow the first without a new set-up
    repeatable = True

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, tracer: Tracer,
                 record: SparkRecord | None):
        self.spark = spark
        self.data = data_dir
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.record = record
        self.problems: list[str] = []

    def setup(self) -> None:
        """The program's one-time set-up (counted in ``setup_s``)."""

    def run_pass(self) -> Pass:
        """The timed work of one pass, and nothing else."""
        raise NotImplementedError

    def measure(self, p: Pass) -> None:
        """After the timed window: the bytes the pass wrote and read."""

    def layer_metrics(self, p: Pass, first_job: int) -> dict[str, float]:
        """Traced runs only, after the timed window: the workload's
        per-layer metrics (``first_job`` is the last job id before the
        pass)."""
        return {}

    def check(self, p: Pass) -> int:
        """Compare the pass's results with the oracles; returns the number
        of operations whose result was wrong (details in ``problems``)."""
        raise NotImplementedError

    # per-layer names of the pass's write and read latency percentiles
    write_lat_name = read_lat_name = ""

    def latency_metrics(self, p: Pass) -> dict[str, float]:
        """Median latency of the pass's write and read operations, and the
        read p90. These sit with the per-layer metrics: over one pass's
        few operations a percentile moves more between runs than the
        end-to-end bounds allow."""
        out = {}
        for name, lat in ((self.write_lat_name, p.write_lat), (self.read_lat_name, p.read_lat)):
            if lat:
                out[f"{name}_p50_s"] = statistics.median(lat)
        if p.read_lat:
            lat = sorted(p.read_lat)
            out[f"{self.read_lat_name}_p90_s"] = lat[min(len(lat) - 1, int(0.9 * len(lat)))]
        return out


# ---------------------------------------------------------------- warehouse


class Warehouse(Workload):
    name = "warehouse"
    write_lat_name, read_lat_name = "dag.model", "serve.query"

    def setup(self) -> None:
        from dbt_jaffleshop_spark.plans.dag import MODELS

        self.stream = gen.serve_plan(self.seed)
        shutil.rmtree(self.work, ignore_errors=True)
        self.n_pass = 0
        # The session's first job, through an engine builder: its one-time
        # costs (executor start, class loading, the first code generation)
        # count in set-up, not in the build's first model. The corpus
        # set-up runs jobs of its own before its pass.
        with self.tracer.span("warm_up", "models", "setup"):
            MODELS["stg_orders"].builder(self.spark, self.data).count()

    def run_pass(self) -> Pass:
        from dbt_jaffleshop_spark.plans.dag import run_pipeline

        p = Pass()
        # a fresh warehouse per pass
        self.wh = os.path.join(self.work, f"warehouse-{self.n_pass}")
        self.n_pass += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("run_pipeline", "dag", "build"):
                self.results = run_pipeline(self.spark, self.data, self.wh)
        except Exception:  # noqa: BLE001 — counted, the serve phase still runs
            _log_failure("run_pipeline")
            self.results = {}
        p.write_s = time.perf_counter() - t0
        p.write_lat = [r["seconds"] for r in self.results.values() if "seconds" in r]
        self._serve(p)
        return p

    def measure(self, p: Pass) -> None:
        written = _files(self.wh)
        p.bytes_written = sum(written.values())
        p.files_written = len(written)
        p.bytes_in = sum(
            os.path.getsize(os.path.join(self.data, f"{t}.parquet"))
            for t in checks.TABLES if t not in ("documents", "embeddings")
        )

    def layer_metrics(self, p: Pass, first_job: int) -> dict[str, float]:
        out = self._dag_layer(p.write_s)
        out["acid.live_files"] = _live_files(
            [os.path.join(self.wh, d) for d in os.listdir(self.wh)] if os.path.isdir(self.wh) else []
        )
        out["acid.files_written"] = p.files_written
        out["acid.bytes_written_mb"] = p.bytes_written / 2**20
        return out

    def _bind_marts(self, bound: dict) -> None:
        """Fill ``bound`` with model name -> frame, as a reader of the
        built warehouse sees them: marts through ``read_mart``, staging
        views through their builders (which resolve their own refs
        against ``bound``, the active materialization context)."""
        from dbt_jaffleshop_spark.plans.dag import MODELS, read_mart, topological_order

        for name in topological_order():
            spec = MODELS[name]
            if spec.materialization == "table":
                bound[name] = read_mart(self.spark, self.wh, name).drop(*spec.partition_expr)
            else:
                bound[name] = spec.builder(self.spark, self.data)

    def _serve(self, p: Pass) -> None:
        from dbt_jaffleshop_spark.models import materialization_context

        self.served: list[dict] = []
        lock = threading.Lock()
        bound: dict = {}
        parent = self.tracer.current()
        with materialization_context(bound):
            try:
                with self.tracer.span("bind_marts", "dag", "serve"):
                    self._bind_marts(bound)
            except Exception:  # noqa: BLE001
                _log_failure("binding the marts")

            # a closed loop: each client takes the stream's next request
            # once its previous one has completed
            pending = iter(enumerate(self.stream))

            def client() -> None:
                while True:
                    with lock:
                        i, req = next(pending, (None, None))
                    if req is None:
                        return
                    tid = f"req-{i}"
                    t = time.perf_counter()
                    try:
                        with self.tracer.span(req["kind"], "bench", tid, parent):
                            out = self._request(req, bound)
                        ok = True
                    except Exception:  # noqa: BLE001 — counted as a failed request
                        _log_failure(f"request {req}")
                        out, ok = None, False
                    dt = time.perf_counter() - t
                    with lock:
                        self.served.append({**req, "seconds": dt, "ok": ok, "out": out})

            # the read phase is the closed loop; binding the marts before it
            # counts in the pass's wall time only
            t1 = time.perf_counter()
            threads = [threading.Thread(target=client) for _ in range(SERVE_CLIENTS)]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            p.read_s = time.perf_counter() - t1
        p.read_lat = [r["seconds"] for r in self.served if r["ok"]]
        p.attempted += len(self.served)
        p.failed += sum(not r["ok"] for r in self.served)

    def _action_plan_s(self, df) -> None:
        if self.tracer.enabled:
            # the Dataset's physical plan is a lazy value the following
            # action reuses, so timing it adds no work
            with self.tracer.span("plan", "spark"):
                df._jdf.queryExecution().executedPlan()

    def _request(self, req: dict, bound: dict):
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from dbt_jaffleshop_spark.plans.dag import MODELS, read_mart
        from dbt_jaffleshop_spark.semantic.jaffle_models import SAVED_QUERIES

        kind, name = req["kind"], req["name"]
        if kind == "saved_query":
            with self.tracer.span(name, "semantic"):
                df = SAVED_QUERIES[name].to_df(self.spark, self.data)
            self._action_plan_s(df)
            with self.tracer.span("collect", "spark"):
                return df.toPandas()
        if kind == "scan":
            with self.tracer.span(name, "dag"):
                df = read_mart(self.spark, self.wh, name, date_between=tuple(req["range"]))
            with self.tracer.span("count", "spark"):
                return df.count()
        if kind == "tests":
            spec = MODELS[name]
            with self.tracer.span(name, "testing"):
                parts = [f(bound).select(F.lit(tn).alias("t")) for tn, f in spec.tests]
                union = parts[0]
                for part in parts[1:]:
                    union = DataFrame.unionByName(union, part)
                with self.tracer.span("count", "spark"):
                    return union.count()
        if kind == "show":
            with self.tracer.span(name, "models"):
                df = MODELS[name].builder(self.spark, self.data)
            with self.tracer.span("collect", "spark"):
                return len(df.limit(SHOW_ROWS).collect())
        raise ValueError(f"unknown request kind {kind!r}")

    def _dag_layer(self, wall: float) -> dict[str, float]:
        from dbt_jaffleshop_spark.plans.dag import MODELS, topological_order
        from dbt_jaffleshop_spark.plans.exports import EXPORTS

        out: dict[str, float] = {}
        secs = {n: r.get("seconds", 0.0) for n, r in self.results.items()}
        for m in MODELS:
            out[f"dag.model_s.{m}"] = secs.get(m, 0.0)
        for e in EXPORTS:
            out[f"dag.export_s.{e}"] = secs.get(f"export:{e}", 0.0)
        finish: dict[str, float] = {}
        for m in topological_order():
            finish[m] = secs.get(m, 0.0) + max((finish[d] for d in MODELS[m].depends_on), default=0.0)
        out["dag.critical_path_s"] = max(finish.values(), default=0.0)
        out["dag.overlap"] = sum(secs.values()) / wall if wall > 0 else 0.0
        return out

    def check(self, p: Pass) -> int:
        from dbt_jaffleshop_spark.plans.dag import MODELS
        from dbt_jaffleshop_spark.plans.exports import EXPORTS

        con = checks.connect(self.data)
        ops = list(MODELS) + [f"export:{e}" for e in EXPORTS]
        p.attempted += len(ops)
        self.problems += checks.status_problems(self.results)
        self.problems += [f"{n}: no result" for n in ops if n not in self.results]
        failed_ops = {n for n in ops if self.results.get(n, {}).get("status") != "ok"}
        # every committed mart and export against its oracle
        tables = [(n, n, checks.mart_sql(n)) for n, m in MODELS.items() if m.materialization == "table"]
        tables += [(f"export:{e}", e, checks.saved_query_sql(x.saved_query)) for e, x in EXPORTS.items()]
        for key, directory, sql in tables:
            if key in failed_ops:
                continue
            got = checks.committed_frame(con, os.path.join(self.wh, directory))
            probs = checks.frame_problems(con, sql, got, key)
            if probs:
                failed_ops.add(key)
                self.problems += probs
        wrong = len(failed_ops) + self.check_served(con, self.served)
        con.close()
        return wrong

    def check_served(self, con, served: list[dict]) -> int:
        """Each distinct saved query against its oracle SQL (the result a
        request got, not a re-run), each scan and preview against the
        oracle's row count, each test request against zero violations."""
        wrong = 0
        verdict: dict[str, list[str]] = {}
        for r in served:
            if not r["ok"]:
                continue
            kind, name = r["kind"], r["name"]
            if kind == "saved_query":
                if name not in verdict:
                    verdict[name] = checks.frame_problems(con, checks.saved_query_sql(name), r["out"], name)
                probs = verdict[name]
            elif kind == "scan":
                probs = checks.count_problems(
                    con, checks.scan_count_sql(name, tuple(r["range"])), r["out"], f"scan {name} {r['range']}"
                )
            elif kind == "tests":
                probs = [] if r["out"] == 0 else [f"tests {name}: {r['out']} violations"]
            else:
                want = min(SHOW_ROWS, int(con.sql(f"SELECT count(*) FROM ({checks.mart_sql(name)})").fetchone()[0]))
                probs = [] if r["out"] == want else [f"show {name}: {r['out']} rows, oracle {want}"]
            if probs:
                wrong += 1
                self.problems += probs
        return wrong


# ------------------------------------------------------------------- corpus

_TXN_METRIC = {
    "fold": "dedup_inc.fold_s",
    "stream_batch": "streaming.batch_s",
}


class Corpus(Workload):
    name = "corpus"
    # a pass consumes the set-up's state (the fold advances the index's
    # high-water mark), so one set-up serves one pass
    repeatable = False
    write_lat_name, read_lat_name = "txn", "llm.op"

    def setup(self) -> None:
        from dbt_jaffleshop_spark.llm.dedup_incremental import build_dedup_index
        from dbt_jaffleshop_spark.plans.acid import AcidTable
        from dbt_jaffleshop_spark.streaming.upsert import streaming_events_upsert_to_acid

        self.plan = gen.corpus_plan(self.seed)
        self.maint = os.path.join(self.data, "maintain")
        self.root = os.path.join(self.work, "corpus")
        shutil.rmtree(self.root, ignore_errors=True)
        self.feed = os.path.join(self.root, "feed")
        os.makedirs(self.feed)
        shutil.copy(os.path.join(self.maint, "part-0.parquet"), self.feed)
        spark = self.spark
        with self.tracer.span("build_dedup_index", "dedup_inc", "setup"):
            self.idx = build_dedup_index(
                spark, spark.read.parquet(os.path.join(self.maint, "base_docs.parquet")),
                os.path.join(self.root, "index"),
            )
        self.table = AcidTable(os.path.join(self.root, "orders"))
        with self.tracer.span("overwrite", "acid", "setup"):
            t = time.perf_counter()
            self.table.overwrite(self._fact("fact.parquet"), partition_by=["order_month"])
            self.overwrite_s = time.perf_counter() - t
        with self.tracer.span("stream_init", "streaming", "setup"):
            self.state = streaming_events_upsert_to_acid(
                spark, self.feed, os.path.join(self.root, "state"),
                max_files_per_trigger=1, glob="part-*.parquet",
            )
        # the micro-batch the pass's streaming trigger picks up
        shutil.copy(os.path.join(self.maint, "part-1.parquet"), self.feed)
        self.before = self._table_files()

    def _fact(self, fname: str):
        from pyspark.sql import functions as F

        return (
            self.spark.read.parquet(os.path.join(self.maint, fname))
            .withColumn("ordered_at", F.col("ordered_at").cast("timestamp"))
            .withColumn("order_month", F.expr("cast(date_trunc('month', ordered_at) as date)"))
        )

    def _tables(self) -> list[str]:
        idx = [os.path.join(self.root, "index", t) for t in ("shingles", "bands", "bucket_mins", "pairs", "clusters", "meta")]
        return idx + [self.table.path, self.state.path]

    def _table_files(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for t in self._tables():
            out.update(_files(t))
        return out

    def run_pass(self) -> Pass:
        from dbt_jaffleshop_spark.llm import dedup_incremental as di
        from dbt_jaffleshop_spark.streaming.upsert import streaming_events_upsert_to_acid

        spark, p = self.spark, Pass()

        def restate():
            df = self._fact("restate.parquet")
            months = [r[0] for r in df.select("order_month").distinct().collect()]
            return self.table.overwrite_partitions(df, "order_month", months)

        def stream():
            return streaming_events_upsert_to_acid(
                spark, self.feed, self.state.path, max_files_per_trigger=1, glob="part-*.parquet"
            )

        def vacuum():
            return [self.table.vacuum(), self.state.vacuum()]

        txns = [
            ("fold", "dedup_inc", lambda: di.incremental_update(
                spark, spark.read.parquet(os.path.join(self.maint, "delta_docs.parquet")), self.idx)),
            ("merge_rows", "acid", lambda: self.table.merge_rows(
                spark, self._fact("updates.parquet"), "order_id")),
            ("overwrite_partitions", "acid", restate),
            ("stream_batch", "streaming", stream),
            ("vacuum", "acid", vacuum),
        ]
        t0 = time.perf_counter()
        for name, layer, fn in txns:
            ok, out = self._timed(p, name, layer, f"transaction {name}", fn)
            if name == "fold":
                self.clusters = out
            if ok:
                p.write_lat.append(p.op_s[name])
        p.write_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        self._curate(p)
        p.read_s = time.perf_counter() - t1
        return p

    def _timed(self, p: Pass, name: str, layer: str, what: str, fn) -> tuple[bool, object]:
        """Run one operation of the pass, recording its time and window;
        a failure is counted and logged."""
        w = time.time() * 1e3
        t = time.perf_counter()
        try:
            with self.tracer.span(name, layer, f"op-{name}"):
                out, ok = fn(), True
        except Exception:  # noqa: BLE001 — counted as a failed operation
            _log_failure(what)
            out, ok = None, False
        p.op_s[name] = time.perf_counter() - t
        p.op_ms[name] = (w, time.time() * 1e3)
        p.attempted += 1
        p.failed += not ok
        return ok, out

    def measure(self, p: Pass) -> None:
        inputs = ["delta_docs.parquet", "updates.parquet", "restate.parquet", "part-1.parquet"]
        p.bytes_in = sum(os.path.getsize(os.path.join(self.maint, f)) for f in inputs)
        new = {f: n for f, n in self._table_files().items() if f not in self.before}
        p.bytes_written = sum(new.values())
        p.files_written = len(new)

    def layer_metrics(self, p: Pass, first_job: int) -> dict[str, float]:
        out = {_TXN_METRIC.get(name, f"acid.commit_s.{name}"): p.op_s[name]
               for name in ("fold", "merge_rows", "overwrite_partitions", "stream_batch", "vacuum")}
        out.update({f"llm.op_s.{op}": p.op_s[op] for ops in CURATE_OPS.values() for op in ops})
        out["acid.commit_s.overwrite"] = self.overwrite_s
        out["acid.bytes_written_mb"] = p.bytes_written / 2**20
        out["acid.files_written"] = p.files_written
        out["acid.live_files"] = _live_files(self._tables())
        # the fold is the only dedup-index transaction of a pass
        out["dedup_inc.jobs_per_txn"] = self.record.jobs_submitted(first_job, *p.op_ms["fold"])
        return out

    def _curate(self, p: Pass) -> None:
        import importlib

        curate_dir = os.path.join(self.data, "curate")
        self.curated: dict[str, object] = {}

        def run(mod, op):
            df = getattr(mod, op)(self.spark, curate_dir)
            with self.tracer.span("collect", "spark"):
                self.curated[op] = df.toPandas()

        for mod_name, ops in CURATE_OPS.items():
            mod = importlib.import_module(f"dbt_jaffleshop_spark.llm.{mod_name}")
            for op in ops:
                ok, _ = self._timed(p, op, "llm", f"operator {op}", lambda: run(mod, op))
                if ok:
                    p.read_lat.append(p.op_s[op])

    def check(self, p: Pass) -> int:
        wrong = 0
        con = checks.connect(self.data)
        ends = [
            ("dedup index", lambda: self.clusters.toPandas(),
             lambda: checks.dedup_expected(con, self.plan["delta"][1])),
            ("maintained table", lambda: self.table.read(self.spark).toPandas(),
             lambda: con.sql(checks.merge_sql(self.maint)).df()),
            ("stream state", lambda: self.state.read(self.spark).select(
                "user_id", "bucket", "n_events", "value_cents", "last_ts_us",
                "last_event_id", "last_event_type").toPandas(),
             lambda: con.sql(checks.stream_sql()).df()),
        ]
        for label, read, expected in ends:
            try:
                probs = checks.problems(read(), expected(), label)
            except Exception:  # noqa: BLE001 — an unreadable end state is wrong
                _log_failure(f"reading the {label}")
                probs = [f"{label}: unreadable"]
            if probs:
                wrong += 1
                self.problems += probs
        con.close()
        sample = os.path.join(self.data, "curate")
        con = checks.connect(self.data, {
            "documents": os.path.join(sample, "documents.parquet"),
            "embeddings": os.path.join(sample, "embeddings.parquet"),
        })
        for op, got in self.curated.items():
            probs = checks.frame_problems(con, checks.operator_sql(op), got, op)
            if probs:
                wrong += 1
                self.problems += probs
        con.close()
        return wrong


WORKLOADS = {w.name: w for w in (Warehouse, Corpus)}
