"""State shared by the workloads: the Spark session, the optional
tracer, the closed-loop request log and the correctness tally."""

from __future__ import annotations

import gc
import os
import resource
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from spans import Tracer


@dataclass
class Request:
    kind: str
    latency_s: float
    queries: int  # queries answered (0 for writes)
    ok: bool
    req_id: str
    results: int = 0  # result rows returned


@dataclass
class Context:
    seed: int
    seconds: float
    work_dir: str
    inject_wrong: bool = False
    injected: bool = False
    spark: object = None
    tracer: Tracer | None = None
    requests: list[Request] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    t_start: float = field(default_factory=time.perf_counter)
    setup_s: float = 0.0
    bookkeeping_at_setup: float = 0.0
    passes: int = 0
    # per-workload samples outside the request log, e.g. recall per batch
    samples: dict[str, list] = field(default_factory=dict)
    # traced runs: Spark counters per request of the timed loop
    request_counts: dict[str, dict] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    _n: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; a failed one is logged by name."""
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(what)
                print(f"# check failed: {what}", file=sys.stderr)
        return ok

    def timed(self, kind: str, fn, queries: int = 0, results=None):
        """Run one closed-loop request; returns (result, ok). A request
        that raises counts as a failed operation here; the caller counts
        the others with ``check`` once it has checked the result.
        ``results(out)`` gives the number of result rows, if wanted."""
        with self._lock:
            self._n += 1
            req_id = f"req-{self._n}-{kind}"
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.request(kind, req_id):
                    out = fn()
            else:
                out = fn()
            ok = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        lat = time.perf_counter() - t0
        n_out = results(out) if ok and results is not None else 0
        self.requests.append(Request(kind, lat, queries, ok, req_id, n_out))
        if not ok:
            self.check(False, f"{kind} raised")
        return out, ok

    def sample(self, key: str, value) -> None:
        self.samples.setdefault(key, []).append(value)

    def setup_done(self) -> None:
        """Everything before the timed loop is set-up time. The garbage
        set-up left behind is collected here, Python's first so that the
        JVM objects it held are released too; otherwise the timed loop
        pays for it at a moment that varies from run to run."""
        gc.collect()
        if self.spark is not None:
            self.spark.sparkContext._jvm.java.lang.System.gc()
        self.setup_s = time.perf_counter() - self.t_start
        if self.tracer is not None:
            self.bookkeeping_at_setup = self.tracer.bookkeeping_s

    def latencies(self, *kinds: str) -> list[float]:
        return [r.latency_s for r in self.requests if r.kind in kinds and r.ok]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def jvm_pid(spark) -> int | None:
    """Pid of the driver JVM this process launched (spark-submit execs
    java in place), or None for an attached session."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit
    (SparkContext.stop leaves the JVM running until Python exits)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of this Python process and of the
    driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = jvm_pid(spark)
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return py_kb / 1024.0, jvm_kb / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
