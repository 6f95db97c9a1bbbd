"""Benchmark entry point.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the seed's inputs (outside every
timed window), starts the engine's session, runs the workload's set-up
and then passes until ``--seconds`` of pass time have elapsed (at least
one; one for a workload whose pass consumes its set-up), checks every
pass's results against DuckDB oracles after it, and prints one JSON
object as the last line of stdout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` records spans and Spark's job record and reports
the per-layer metrics instead (spans are written to
``.perfbench/traces/``). Exits non-zero without a result line when the
engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

def _stop_spark(spark, proc) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until it and the processes it started have ended."""
    gateway = spark.sparkContext._gateway
    children = proc.descendants()
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{pid}") for pid in children):
        time.sleep(0.1)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _deployment_env() -> dict[str, str]:
    """The only deployment settings the benchmark makes; the engine
    otherwise runs on its own defaults."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
    }
    os.environ.update(env)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    return env


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import dbt_jaffleshop_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import gen
    from probe import ProcTree, SparkRecord, Tracer, fingerprint
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    env = _deployment_env()
    t_start = time.perf_counter()
    data = gen.write_inputs(args.seed, os.path.join(WORK, "inputs"))
    inputs_s = time.perf_counter() - t_start
    work = os.path.join(WORK, "work", f"{args.workload}-{args.seed}")
    tracer = Tracer(enabled=bool(args.trace))

    from dbt_jaffleshop_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("get_spark", "session", "setup"):
        spark = get_spark()
    session_s = time.perf_counter() - t0
    host = fingerprint(spark, {**env, "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT)})
    proc = ProcTree(spark.sparkContext._gateway.proc.pid)
    record = SparkRecord(spark) if args.trace else None
    if record:
        proc.start()
    try:
        wl = WORKLOADS[args.workload](spark, data, work, args.seed, tracer, record)
        wl.setup()
        setup_s = time.perf_counter() - t0

        passes, walls, cpus, layers = [], [], [], []
        elapsed = check_s = 0.0
        wrong = 0
        while not passes or (wl.repeatable and elapsed < args.seconds):
            first_job = record.last_job_id() if record else None
            c0 = proc.read()
            if record:
                proc.reset_peak()
            w0, wall0_ms = time.perf_counter(), time.time() * 1e3
            with tracer.span("pass", "bench", f"pass-{len(passes)}"):
                p = wl.run_pass()
            wall = time.perf_counter() - w0
            wall1_ms = time.time() * 1e3
            c1 = proc.read()
            wl.measure(p)
            elapsed += wall
            passes.append(p)
            walls.append(wall)
            cpus.append(c1["jvm_cpu_s"] + c1["python_cpu_s"] - c0["jvm_cpu_s"] - c0["python_cpu_s"])
            if record:
                _, jvm_peak, py_peak = proc.peak()
                t_read = time.perf_counter()
                lay = {f"spark.{k}": v for k, v in record.read(first_job, wall0_ms, wall1_ms).items()}
                lay["spark.cached_mb"] = record.cached_mb()
                lay["spark.busy_frac"] = lay["spark.executor_run_s"] / (wall * int(env["SPARK_GRAFT_CPUS"]))
                lay["proc.jvm_cpu_s"] = c1["jvm_cpu_s"] - c0["jvm_cpu_s"]
                lay["proc.python_cpu_s"] = c1["python_cpu_s"] - c0["python_cpu_s"]
                lay["proc.jvm_rss_mb"] = jvm_peak / 2**20
                lay["proc.python_rss_mb"] = py_peak / 2**20
                lay.update(wl.latency_metrics(p))
                lay.update(wl.layer_metrics(p, first_job))
                lay["trace.wall_s"] = wall
                lay["trace.status_read_s"] = time.perf_counter() - t_read
                layers.append(lay)
            t_check = time.perf_counter()
            wrong += wl.check(p)
            check_s += time.perf_counter() - t_check
    finally:
        proc.stop()
        t_stop = time.perf_counter()
        _stop_spark(spark, proc)
        stop_s = time.perf_counter() - t_stop

    attempted = sum(p.attempted for p in passes)
    failed = min(attempted, sum(p.failed for p in passes) + wrong)
    for msg in wl.problems[:20]:
        print(f"[perfbench] wrong result: {msg}", file=sys.stderr)

    if args.trace:
        metrics = _layer_metrics(layers, tracer, session_s, len(passes))
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump([s.__dict__ for s in tracer.spans], f)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (_median(walls), "s"),
            "cpu_s": (_median(cpus), "s"),
            "write_s": (_median([p.write_s for p in passes]), "s"),
            "reads_per_s": (
                sum(len(p.read_lat) for p in passes) / max(sum(p.read_s for p in passes), 1e-9),
                "1/s",
            ),
            "write_amp": (
                sum(p.bytes_written for p in passes) / max(sum(p.bytes_in for p in passes), 1),
                "ratio",
            ),
        }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": len(passes),
        "failed_frac": failed / max(attempted, 1),
        "host": host,
        "timing_s": {
            "inputs": round(inputs_s, 2),
            "setup": round(setup_s, 2),
            "passes": round(sum(walls), 2),
            "checks": round(check_s, 2),
            "stop": round(stop_s, 2),
            "total": round(time.perf_counter() - t_start, 2),
        },
    }
    print("[perfbench] " + json.dumps(summary, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


# Span layers whose self time is reported: the engine's modules, plus
# ``bench`` (the benchmark's own code) and ``spark`` (actions and planning).
LAYERS = (
    "bench", "session", "dag", "models", "semantic", "testing", "acid",
    "dedup_inc", "streaming", "llm", "spark",
)


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _layer_metrics(layers: list[dict], tracer, session_s: float, n_passes: int) -> dict:
    """Per-layer metrics, per pass: the median over passes of every
    counter a pass recorded, time inside each layer's calls, each
    layer's self time, and the span recorder's own time. A metric of a
    layer the workload does not exercise reads 0."""
    from probe import self_times

    spans = [s for s in tracer.spans if s.trace_id != "setup"]

    def inside(layer: str, name: str | None = None) -> float:
        return sum(
            s.end - s.start for s in spans if s.layer == layer and name in (None, s.name)
        ) / n_passes

    derived = {
        "session.start_s": session_s,
        "models.build_df_s": inside("models"),
        "semantic.compile_s": inside("semantic"),
        "testing.tests_s": inside("testing"),
        "spark.plan_s": inside("spark", "plan"),
        "trace.recorder_s": tracer.recorder_s / n_passes,
        "trace.spans": len(spans) / n_passes,
    }
    st = self_times(spans)
    for layer in LAYERS:
        derived[f"self_s.{layer}"] = st.get(layer, 0.0) / n_passes
    out: dict[str, tuple[float, str]] = {}
    for name, unit in per_layer_units().items():
        if name in derived:
            out[name] = (derived[name], unit)
        else:
            out[name] = (_median([lay[name] for lay in layers if name in lay]), unit)
    return out


if __name__ == "__main__":
    sys.exit(main())
