"""Shared machinery of the benchmark: tracing, percentiles, the Spark
session lifecycle, resource probes and the exact numpy kNN reference.

Nothing here imports the engine at module load, so the unit tests and
the missing-package check run without Spark.
"""

from __future__ import annotations

import glob
import math
import os
import resource
import shutil
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# --- percentiles ------------------------------------------------------------

TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(samples, pct: float) -> float:
    """Nearest-rank percentile of ``samples`` (pct in (0, 100])."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def latency_summary(samples) -> dict:
    """Median plus the highest tail percentile that leaves at least
    ``MIN_BEYOND`` samples beyond it. With too few samples for any tail
    the tail is the median itself, and ``tail_pct`` says so."""
    n = len(samples)
    out = {"n": n, "p50": percentile(samples, 50.0), "tail_pct": 50.0}
    out["tail"] = out["p50"]
    for pct in TAIL_CANDIDATES:
        beyond = n - max(1, math.ceil(pct / 100.0 * n))
        if beyond >= MIN_BEYOND:
            out["tail_pct"] = pct
            out["tail"] = percentile(samples, pct)
            break
    return out


# --- tracing ----------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


@dataclass
class Tracer:
    """In-memory spans and counters. Disabled tracers cost one branch per
    call, so untraced runs time the same code path."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    counts: dict = field(default_factory=lambda: defaultdict(float))
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)
    _next: int = 0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_thread_active(self, on: bool) -> None:
        """Switch recording on or off for the calling thread. Threads start
        off, so set-up, warm-up and checks leave no spans."""
        self._local.on = on

    def active(self) -> bool:
        return self.enabled and getattr(self._local, "on", False)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.active():
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent[1]
        with self._lock:
            sid = self._next
            self._next += 1
        stack.append((sid, request))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent[0] if parent else None, request)
                )

    def count(self, name: str, value: float = 1.0) -> None:
        if self.active():
            with self._lock:
                self.counts[name] += value

    def write(self, path: str) -> None:
        import json

        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start_s": s.start - t0,
                    "end_s": s.end - t0, "parent": s.parent, "request": s.request,
                }) + "\n")


def bookkeeping_share(tracer: Tracer, engine) -> float:
    """Tracing overhead: the time the tracer itself spent (span records
    and job-group polling, each costed by timing it here) as a share of
    the traced requests' time. A difference of traced and untraced runs
    would drown this in run-to-run noise."""
    probe = Tracer(enabled=True)
    probe.set_thread_active(True)
    t0 = time.perf_counter()
    for _ in range(1000):
        with probe.span("probe"):
            pass
    per_span = (time.perf_counter() - t0) / 1000
    t0 = time.perf_counter()
    for i in range(10):
        with engine.job_group(probe, f"probe{i}", "probe"):
            pass
    per_group = (time.perf_counter() - t0) / 10
    groups = sum(v for k, v in tracer.counts.items() if k.endswith(".n"))
    traced = sum(s.end - s.start for s in tracer.spans if s.name == "request")
    return (len(tracer.spans) * per_span + groups * per_group) / traced if traced else 0.0


def covered(intervals, lo: float, hi: float) -> float:
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


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: (s.end - s.start) - covered(kids[s.sid], s.start, s.end) for s in spans}


def layer_self_seconds(spans) -> dict[str, float]:
    """Self time summed per span name."""
    st = self_times(spans)
    out = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.sid]
    return dict(out)


# --- resources ----------------------------------------------------------------


def cpu_count() -> int:
    """CPUs this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """Heap for the driver JVM: an eighth of physical memory, capped at
    1 GiB so the benchmark leaves the machine's memory to whatever else
    runs on it (the engine's test suite alone takes a 24 GiB heap)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return int(max(512, min(1024, phys // 8)))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# --- the Spark session ----------------------------------------------------------


class Engine:
    """One SparkSession pinned to this machine's cores and a bounded heap,
    with every local artifact under ``run_dir``. ``close`` stops the
    session and waits for the driver JVM to exit."""

    def __init__(self, run_dir: str, app: str):
        self.run_dir = run_dir
        self.cpus = cpu_count()
        self.driver_mem = f"{driver_mem_mb()}m"
        local = os.path.join(run_dir, "spark-local")
        tmp = os.path.join(run_dir, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = self.driver_mem
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # no JVM perf-data file in /tmp, for Spark's launcher JVM or the driver
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:+PerfDisableSharedMem"
        from chatdata_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app, extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
            "spark.ui.showConsoleProgress": "false",
        })
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        jvm = self.sc._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.storage_mem_mb = self.sc._jsc.sc().getExecutorMemoryStatus().values().head()._1() / (1 << 20)
        self._rdds0 = self.persistent_rdds()

    def settings(self) -> dict:
        return {
            "SPARK_GRAFT_CPUS": self.cpus,
            "SPARK_GRAFT_DRIVER_MEM": self.driver_mem,
            "spark_storage_memory_mb": round(self.storage_mem_mb, 1),
            "jvm_start_s": round(self.start_s, 3),
        }

    def persistent_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def cache_residue(self) -> int:
        return self.persistent_rdds() - self._rdds0

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (py_kb + _vm_hwm_kb(self.jvm_pid)) / 1024.0

    @contextmanager
    def job_group(self, tracer: Tracer, group: str, counter: str):
        """Count the Spark jobs started under ``group`` (traced runs only)."""
        if not tracer.active():
            yield
            return
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setJobGroup("", "")
            n = len(self.sc.statusTracker().getJobIdsForGroup(group))
            tracer.count(counter, n)
            tracer.count(counter + ".n", 1)

    def close(self) -> None:
        gw = getattr(self.sc, "_gateway", None)
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gw is not None:
                from py4j.protocol import Py4JError

                try:
                    gw.shutdown()
                except Py4JError:
                    pass  # the gateway may already be gone; the wait below still runs
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=20)


def remove_run_dir(run_dir: str) -> None:
    """Delete the run directory and any /tmp artifact the engine derived
    from files under it (``catalog.shared_cache_path`` names them after
    the source directory)."""
    safe = run_dir.strip("/").replace("/", "_").replace(".", "_")
    for p in glob.glob(f"/tmp/chatdata_spark_*/{safe}*"):
        shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_dir))
    except OSError:
        pass  # another run still uses it


# --- exact references -------------------------------------------------------------


def round6(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the exact binary value."""
    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def cosine_dist_seq(mat: np.ndarray, q) -> np.ndarray:
    """1 - cos(row, q) with the engine's operand order: left-to-right
    float64 sums over dimensions, the query norm folded in Python."""
    qf = [float(x) for x in q]
    nq = math.sqrt(sum(x * x for x in qf))
    dot = np.zeros(mat.shape[0])
    sq = np.zeros(mat.shape[0])
    for d, qd in enumerate(qf):
        col = mat[:, d]
        dot = dot + col * qd
        sq = sq + col * col
    return 1.0 - dot / (np.sqrt(sq) * nq)


def exact_topk(mat: np.ndarray, ids: np.ndarray, q, k: int, mask=None) -> list[tuple[int, float]]:
    """Exact cosine top-k as the engine orders it: round-6 distance
    ascending, id ascending on ties."""
    idx = np.arange(len(ids)) if mask is None else np.flatnonzero(mask)
    if len(idx) == 0:
        return []
    d = cosine_dist_seq(mat[idx], q)
    kk = min(k, len(idx))
    cut = np.partition(d, kk - 1)[kk - 1]
    cand = np.flatnonzero(d <= cut + 2e-6)
    rows = sorted((round6(float(d[c])), int(ids[idx[c]])) for c in cand)[:kk]
    return [(i, dist) for dist, i in rows]
