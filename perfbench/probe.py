"""Outside-in measurement: spans, Spark's own job record, and /proc.

Nothing here reaches into the engine package. Spans wrap the benchmark's
own calls into each layer; Spark counters come from the status store the
driver JVM already keeps; CPU and memory come from /proc.
"""

from __future__ import annotations

import os
import platform
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    sid: int


@dataclass
class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch, so
    the untraced runs that give the end-to-end numbers carry no
    bookkeeping. ``recorder_s`` is the time spent inside the recorder."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    recorder_s: float = 0.0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    def current(self) -> Span | None:
        """The innermost open span of the calling thread."""
        stack = self._local.__dict__.get("stack")
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, layer: str, trace_id: str | None = None,
             parent: Span | None = None):
        """Record one span. ``parent`` defaults to the calling thread's
        innermost open span; pass it explicitly for work handed to
        another thread."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = parent or (stack[-1] if stack else None)
        if trace_id is None:
            trace_id = parent.trace_id if parent else name
        with self._lock:
            sid = len(self.spans)
            sp = Span(name, layer, 0.0, 0.0, parent.sid if parent else None, trace_id, sid)
            self.spans.append(sp)
        stack.append(sp)
        t1 = time.perf_counter()
        sp.start = t1
        try:
            yield
        finally:
            t2 = time.perf_counter()
            sp.end = t2
            stack.pop()
            self.recorder_s += (t1 - t0) + (time.perf_counter() - t2)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval that its child spans cover (children may overlap when a
    span fans out to threads, so the union is subtracted)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out: dict[str, float] = {}
    for sp in spans:
        own = (sp.end - sp.start) - _covered(children.get(sp.sid, []), sp.start, sp.end)
        out[sp.layer] = out.get(sp.layer, 0.0) + own
    return out


# ------------------------------------------------------- Spark job record


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class SparkRecord:
    """Reads the driver's status store (the data behind the Spark UI,
    kept with the UI disabled). Jobs are attributed to a pass by job-id
    range, because job groups set on a client thread do not reach the
    engine's own thread pools. The store keeps about 1,000 jobs, so each
    pass is read right after it ends."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def last_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def read(self, after_job: int, t0_ms: float, t1_ms: float) -> dict[str, float]:
        """Totals over jobs with id > ``after_job``; ``driver_only_s`` is
        the part of [t0_ms, t1_ms] (wall-clock ms) with no job running."""
        jobs = self._store.jobsList(None)
        tot = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"),
            0.0,
        )
        busy: list[tuple[float, float]] = []
        mb = 1024.0 * 1024.0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= after_job:
                continue
            tot["jobs"] += 1
            sub, done = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if sub is not None:
                busy.append((sub, done if done is not None else t1_ms))
            sids = j.stageIds()
            for k in range(sids.size()):
                try:
                    s = self._store.lastStageAttempt(sids.apply(k))
                except Exception:  # noqa: BLE001 — stage evicted from the store
                    continue
                if str(s.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += s.numCompleteTasks()
                tot["executor_run_s"] += s.executorRunTime() / 1e3
                tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
                tot["gc_s"] += s.jvmGcTime() / 1e3
                tot["shuffle_read_mb"] += s.shuffleReadBytes() / mb
                tot["shuffle_write_mb"] += s.shuffleWriteBytes() / mb
                tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
                tot["input_mb"] += s.inputBytes() / mb
                tot["output_mb"] += s.outputBytes() / mb
        span_ms = max(t1_ms - t0_ms, 1e-9)
        tot["driver_only_s"] = (span_ms - _covered(busy, t0_ms, t1_ms)) / 1e3
        return tot

    def jobs_submitted(self, after_job: int, t0_ms: float, t1_ms: float) -> int:
        """Jobs with id > ``after_job`` submitted within [t0_ms, t1_ms]
        (wall-clock ms): attribution of one operation's jobs, read after
        the pass so that timing it costs the pass nothing."""
        jobs = self._store.jobsList(None)
        n = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub = _opt_ms(j.submissionTime())
            n += j.jobId() > after_job and sub is not None and t0_ms <= sub <= t1_ms
        return n

    def cached_mb(self) -> float:
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / (1024.0 * 1024.0)


# ------------------------------------------------------------------- /proc


def _stat(pid: int) -> tuple[int, str, float, int] | None:
    """(ppid, command name, cpu seconds incl. reaped children, rss bytes)
    of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, rest = f.read().rsplit(")", 1)
    except (OSError, ValueError):
        return None
    comm = head.split("(", 1)[1]
    rest = rest.split()
    # fields after the comm: state ppid ... utime(11) stime(12) cutime(13)
    # cstime(14) ... rss(21), counted from state = 0
    cpu = sum(int(x) for x in rest[11:15]) / _TICK
    return int(rest[1]), comm, cpu, int(rest[21]) * _PAGE


class ProcTree:
    """The Spark JVM and its Python worker processes, read from /proc.

    CPU is read exactly at pass boundaries (a worker's CPU survives its
    exit in its parent's reaped-children counters). In traced runs one
    sampler thread (``start``) also records the tree's peak resident
    memory; untraced runs do not start it, so it takes no CPU from the
    passes whose end-to-end numbers they report."""

    INTERVAL_S = 0.1

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._peak = 0
        self._peak_parts = (0, 0)
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None

    def _tree(self) -> tuple[dict[int, tuple], set[int]]:
        """/proc stats of every process, and the pids of the JVM and its
        descendants."""
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    stats[int(d)] = st
        tree = {self.jvm_pid}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, *_) in stats.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return stats, tree

    def descendants(self) -> set[int]:
        """Pids of the JVM's live descendants (its Python workers, helpers)."""
        return self._tree()[1] - {self.jvm_pid}

    def read(self) -> dict[str, float]:
        """CPU seconds and RSS bytes, JVM and Python workers apart. Other
        descendants are left out: the JVM forks short-lived shell helpers
        whose RSS, until they exec, reads as a copy of the JVM's."""
        stats, tree = self._tree()
        jvm = stats.get(self.jvm_pid, (0, "", 0.0, 0))
        workers = [stats[p] for p in tree if p != self.jvm_pid and stats[p][1].startswith("python")]
        return {
            "jvm_cpu_s": jvm[2],
            "python_cpu_s": sum(w[2] for w in workers),
            "jvm_rss": jvm[3],
            "python_rss": sum(w[3] for w in workers),
        }

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            r = self.read()
            with self._lock:
                if r["jvm_rss"] + r["python_rss"] > self._peak:
                    self._peak = r["jvm_rss"] + r["python_rss"]
                    self._peak_parts = (r["jvm_rss"], r["python_rss"])

    def reset_peak(self) -> None:
        r = self.read()
        with self._lock:
            self._peak = r["jvm_rss"] + r["python_rss"]
            self._peak_parts = (r["jvm_rss"], r["python_rss"])

    def peak(self) -> tuple[int, int, int]:
        """(total, jvm, python) peak RSS bytes since ``reset_peak``."""
        with self._lock:
            return (self._peak, *self._peak_parts)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="proc-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


# ------------------------------------------------------------- host


def fingerprint(spark, env: dict[str, str]) -> dict:
    """What a comparison must hold equal: cores, memory, software
    versions, and the deployment env the benchmark sets."""
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "env": env,
    }
