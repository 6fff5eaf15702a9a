"""Session lifetime, outside-the-program counters, spans and statistics.

Every number here is read from outside ``trisk_spark``: wall clocks
around calls into its public functions, Spark's ``statusTracker``,
streaming progress records, the JVM's ``CodegenMetrics`` over py4j,
and the JVM's peak RSS from ``/proc``.
"""

from __future__ import annotations

import itertools
import json
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

import numpy as np

# ------------------------------------------------------------ stats ----


def median(values) -> float:
    return float(statistics.median(values)) if len(values) else 0.0


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def tail_pct(n: int) -> float:
    """Highest of p50/p90/p99/p99.9 with at least ten samples beyond it."""
    best = 50.0
    for q in (90.0, 99.0, 99.9):
        if n * (1 - q / 100) >= 10:
            best = q
    return best


# ---------------------------------------------------------- session ----


class Session:
    """The program's own session, from ``trisk_spark.session.get_spark``,
    timed. Its core count and driver memory come from the
    ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` variables that
    ``get_spark`` reads."""

    def __init__(self):
        from trisk_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.jvm = self.spark._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    # -------------------------------------------------- counters ----

    def job_ids(self) -> set[int]:
        """Every job the status tracker knows. The program sets no job
        groups, so every job it runs is in the ungrouped set."""
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def job_cost(self, ids) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) for the given job ids. A stage
        that reused shuffle output ran no tasks and is not counted."""
        st = self.sc.statusTracker()
        stages: set[int] = set()
        for jid in ids:
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = n_tasks = 0
        for sid in stages:
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += s.numCompletedTasks
        return len(ids), n_stages, n_tasks

    def codegen(self) -> tuple[int, float]:
        """(compiles, approximate compile seconds) so far in this JVM.
        The count is exact; the time histogram is a sampled reservoir,
        so its mean times the count is an estimate."""
        h = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        n = int(h.getCount())
        return n, n * float(h.getSnapshot().getMean()) / 1000.0

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    # -------------------------------------------------- shutdown ----

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


@contextmanager
def jobs_in(sess: Session, into: list):
    """Append the (jobs, stages, tasks) of every job started inside the
    block to ``into``. Counting runs after the block ends."""
    before = sess.job_ids()
    try:
        yield
    finally:
        into.append(sess.job_cost(sess.job_ids() - before))


# ----------------------------------------------------------- spans ----


class Tracer:
    """In-memory spans: (trace id, span id, parent id, name, start, end)
    with perf-counter times. ``span`` nests per thread; ``add`` records a
    span whose times are known only afterwards (streaming progress).
    Disabled, it records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[int, int, int | None, str, float, float]] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # wall clock -> perf counter, for Spark's wall-clock timestamps
        self.wall_to_pc = time.perf_counter() - time.time()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, new_trace: bool = False):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        trace = next(self._traces) if new_trace or parent is None else parent[1]
        sid = next(self._ids)
        stack.append((sid, trace))
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((trace, sid, parent[0] if parent else None, name, t0, t1))

    def add(self, name: str, t0: float, t1: float, parent: int | None) -> int:
        sid = next(self._ids)
        trace = next((s[0] for s in self.spans if s[1] == parent), 0)
        with self._lock:
            self.spans.append((trace, sid, parent, name, t0, t1))
        return sid

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned call-through."""
        fn = getattr(module, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, spanned)

    def self_times(self) -> dict[str, float]:
        """Per layer (span-name prefix): span time not covered by the
        span's own children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for _t, _sid, parent, _n, t0, t1 in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((t0, t1))
        out: dict[str, float] = {}
        for _t, sid, _p, name, t0, t1 in self.spans:
            covered, edge = 0.0, t0
            for c0, c1 in sorted(children.get(sid, [])):
                c0, c1 = max(c0, edge), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    edge = c1
            layer = name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + (t1 - t0 - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"trace": t, "span": s, "parent": p, "name": n, "start": a, "end": b}
                    for t, s, p, n, a, b in self.spans
                ],
                f,
            )
