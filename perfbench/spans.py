"""Spans around the benchmark's calls into the package, and the Spark
engine counters of each timed op.

Spans are ``[name, start, end, parent, op_id, job_first, job_end]``
rows kept in memory. ``job_first``/``job_end`` bracket the Spark job
ids launched while the span was open: jobs are attributed by id
interval rather than by job group, because jobs that the package
submits from pool threads lose the group. An untraced run makes
``span`` a shared no-op context, so the timed code path is the same
in both modes.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()

# Per-stage counters summed over an op's jobs: (metric, StageData
# getter, scale to the metric's unit).
STAGE_COUNTERS = (
    ("spark.tasks", "numTasks", 1),
    ("spark.executor_run_s", "executorRunTime", 1e-3),
    ("spark.executor_cpu_s", "executorCpuTime", 1e-9),
    ("spark.jvm_gc_s", "jvmGcTime", 1e-3),
    ("spark.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spark.spill_bytes", "memoryBytesSpilled", 1),
    ("spark.spill_bytes", "diskBytesSpilled", 1),
)


def proc_cpu_s(pid: int) -> float:
    """utime + stime of a process, from /proc."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self._next_job = None
        self.overhead_s = 0.0
        # op_id -> {metric: value}; filled by harvest()
        self.op_counters: dict[int, dict[str, float]] = {}

    def bind(self, spark) -> None:
        """Attach to a (new) SparkContext."""
        sc = spark.sparkContext._jsc.sc()
        self._sc = sc
        self._next_job = sc.dagScheduler().nextJobId
        self._jvm_pid = int(spark._jvm.ProcessHandle.current().pid())

    def span(self, name: str):
        if not self.enabled:
            return _NULL
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        t = time.perf_counter()
        rec = [name, 0.0, None, self._stack[-1] if self._stack else None,
               self.op_id, self._next_job() if self._next_job else None, None]
        sid = len(self.spans)
        self.spans.append(rec)
        self._stack.append(sid)
        rec[1] = time.perf_counter()
        self.overhead_s += rec[1] - t
        try:
            yield
        finally:
            t = time.perf_counter()
            rec[2] = t
            rec[6] = self._next_job() if self._next_job else None
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t

    # ---- per-op engine counters -----------------------------------------
    def op_start(self, op_id: int) -> None:
        self.op_id = op_id
        if self.enabled:
            self._op_t = (time.time(), proc_cpu_s(os.getpid()), proc_cpu_s(self._jvm_pid))

    def op_end(self, root_span: list | None) -> None:
        """Harvest the status store for the op's jobs; runs after the
        op's timed span closed, so it adds no op latency."""
        op_id, self.op_id = self.op_id, None
        if not self.enabled or root_span is None:
            return
        wall0, py0, jvm0 = self._op_t
        wall1 = time.time()
        py_cpu = proc_cpu_s(os.getpid()) - py0
        jvm_cpu = proc_cpu_s(self._jvm_pid) - jvm0
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        c: dict[str, float] = defaultdict(float)
        busy = []
        stages = set()
        for jid in range(root_span[5], root_span[6]):
            try:
                job = store.job(jid)
            except Exception:  # evicted from the store: count it, no detail
                c["spark.jobs"] += 1
                continue
            c["spark.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                busy.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = job.stageIds()
            for i in range(ids.size()):
                stages.add(ids.apply(i))
        for sid in stages:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            c["spark.stages"] += 1
            for metric, getter, scale in STAGE_COUNTERS:
                c[metric] += getattr(st, getter)() * scale
        c["driver.gap_s"] = max(0.0, (wall1 - wall0) - _union_len(busy, wall0, wall1))
        # Driver CPU: the Python client plus the JVM's CPU that no
        # executor task accounts for (planning, scheduling, py4j).
        c["driver.cpu_s"] = py_cpu + max(0.0, jvm_cpu - c["spark.executor_cpu_s"])
        self.op_counters[op_id] = dict(c)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "op_counters": self.op_counters, **extra}, f)


def _union_len(intervals, lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans, keep) -> dict[str, float]:
    """Span name -> summed self time (duration minus the part of it
    that child spans cover), over the spans whose op id ``keep``
    accepts (None: outside any op, i.e. set-up)."""
    child = defaultdict(float)
    for name, t0, t1, parent, *_ in spans:
        if parent is not None:
            child[parent] += t1 - t0
    out: dict[str, float] = defaultdict(float)
    for i, (name, t0, t1, _, op_id, *_) in enumerate(spans):
        if keep(op_id):
            out[name] += (t1 - t0) - child[i]
    return dict(out)


def jobs_in(spans, name: str) -> int:
    """Jobs launched inside spans called ``name`` (outermost only)."""
    return sum(
        s[6] - s[5] for s in spans
        if s[0] == name and (s[3] is None or spans[s[3]][0] != name)
    )
