"""Measurement primitives: spans, self time, percentiles, prefix-difference
attribution, and Spark status-store readers.

Spans are kept in memory and written out once at the end of a traced run.
With tracing off, ``Tracer.span`` is a no-op context manager, so the
untraced run pays for nothing but the call.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``span`` nests: the innermost open span is
    the parent of the next one opened."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None, **counts):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(),
                 parent=parent.span_id if parent else None,
                 op_id=op_id if op_id is not None else (parent.op_id if parent else None),
                 counts=dict(counts))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": selfs[s.span_id]}) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the intervals; overlaps count once and
    empty intervals not at all."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its direct
    children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.span_id: s.duration - union_length(
                [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.span_id, [])])
            for s in spans}


def tail_percentile(n: int, beyond: int = 10) -> int:
    """The highest whole percentile, at least the median, with at least
    ``beyond`` of ``n`` samples above it.  With fewer than ``2 * beyond``
    samples no tail above the median qualifies and 50 is returned."""
    best = 50
    for p in range(50, 100):
        if n - math.ceil(n * p / 100) >= beyond:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p % of
    the samples at or below it)."""
    xs = sorted(values)
    k = max(1, math.ceil(len(xs) * p / 100))
    return xs[k - 1]


def prefix_differences(prefix_s: list[float]) -> list[float]:
    """Attribute execution time to successive layers from timings of
    growing plan prefixes: layer k costs prefix k minus prefix k-1 (the
    first layer costs its whole prefix)."""
    return [t - (prefix_s[k - 1] if k else 0.0) for k, t in enumerate(prefix_s)]


def quartile_spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median) with ``statistics.quantiles(n=4)``."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


# ------------------------------------------------------------- Spark side

class StatusProbe:
    """Per-op runtime counters from Spark's ``AppStatusStore``, filtered by
    the job group the benchmark sets around each op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.gw = self.sc._gateway
        self.spark = spark

    def op_runtime(self, group: str, t0: float, t1: float) -> dict:
        """Counters of every job in ``group``.  ``t0``/``t1`` are the op's
        wall-clock bounds (``time.time()``); driver time is the op wall
        minus the union of its job intervals."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)  # let the listener catch up
        store = self.jsc.statusStore()
        jobs = store.jobsList(None)
        empty_tasks = self.jvm.java.util.ArrayList()
        no_q = self.gw.new_array(self.jvm.double, 0)
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_mb": 0.0,
               "shuffle_read_mb": 0.0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "gc_s": 0.0, "spill_mb": 0.0}
        intervals = []
        seen = set()
        for k in range(jobs.size()):
            j = jobs.apply(k)
            g = j.jobGroup()
            if not g.isDefined() or g.get() != group:
                continue
            out["jobs"] += 1
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                intervals.append((j.submissionTime().get().getTime() / 1000.0,
                                  j.completionTime().get().getTime() / 1000.0))
            sids = j.stageIds()
            for m in range(sids.size()):
                sid = sids.apply(m)
                if sid in seen:
                    continue
                seen.add(sid)
                for a in _seq(store.stageData(sid, False, empty_tasks, False, no_q)):
                    if a.numCompleteTasks() == 0 and a.numFailedTasks() == 0:
                        continue  # skipped stage (reused shuffle output)
                    out["stages"] += 1
                    out["tasks"] += a.numCompleteTasks() + a.numFailedTasks()
                    out["shuffle_write_mb"] += a.shuffleWriteBytes() / 1e6
                    out["shuffle_read_mb"] += a.shuffleReadBytes() / 1e6
                    out["executor_run_s"] += a.executorRunTime() / 1e3
                    out["executor_cpu_s"] += a.executorCpuTime() / 1e9
                    out["gc_s"] += a.jvmGcTime() / 1e3
                    out["spill_mb"] += (a.memoryBytesSpilled() + a.diskBytesSpilled()) / 1e6
        wall = t1 - t0
        clipped = [(max(s, t0), min(e, t1)) for s, e in intervals]
        out["driver_s"] = max(0.0, wall - union_length(clipped))
        slots = self.sc.defaultParallelism
        out["slot_idle_frac"] = max(0.0, 1.0 - out["executor_run_s"] / (slots * wall)) if wall > 0 else 0.0
        return out

    def session_left(self) -> dict:
        """What an op left behind in the session: CacheManager entries,
        persistent RDDs and their storage footprint."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        f = cm.getClass().getDeclaredField("cachedData")
        f.setAccessible(True)
        entries = f.get(cm).size()
        rdds = self.sc._jsc.getPersistentRDDs().size()
        infos = self.jsc.getRDDStorageInfo()
        mb = sum((infos[k].memSize() + infos[k].diskSize()) for k in range(len(infos))) / 1e6
        return {"cache_entries_left": entries, "persistent_rdds_left": rdds,
                "storage_mb_left": mb}


def _seq(scala_seq):
    return [scala_seq.apply(k) for k in range(scala_seq.size())]


def clean_session(spark) -> None:
    """Drop every cached plan and persisted RDD an op left behind."""
    spark.catalog.clearCache()
    for _, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        rdd.unpersist(True)
