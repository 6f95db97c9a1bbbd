"""Run the benchmark over several seeds and report each metric's median
and quartile spread.

    python3 perfbench/spread.py --workload warehouse --seeds 1-10 [--trace 0] [--out runs.json]

Runs are sequential, from the repository root, with the command and run
length in BENCHMARK.json. For each metric it prints the median, the
first and third quartiles (``statistics.quantiles(values, n=4)``) and
their distance as a share of the median, next to the metric's bound.
Compare two commits only on the same host fingerprint (the
``[perfbench]`` summary line of each run).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median); one value has no spread."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        took = time.perf_counter() - t
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        result["seed"], result["process_s"] = seed, took
        result["summary"] = next(
            (json.loads(x.split(" ", 1)[1]) for x in lines if x.startswith("[perfbench] {")), None
        )
        runs.append(result)
        print(f"seed {seed}: {took:.1f}s correct={result['correct']} failed={result['failed']}/{result['attempted']}",
              flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'bound':>6s}")
    for name in runs[0]["metrics"]:
        med, q1, q3, rel = spread([r["metrics"][name]["value"] for r in runs])
        b = bounds.get(name)
        print(f"{name:40s} {med:12.4f} {q1:12.4f} {q3:12.4f} {rel:8.3f} {b if b is not None else '':>6}")
    med, *_ = spread([r["process_s"] for r in runs])
    print(f"median process time {med:.1f}s over {len(runs)} runs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
