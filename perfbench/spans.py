"""Spans around the benchmark's calls into the engine's layers.

A span records name, start, end, parent and request id. While a span is
the innermost open one, every Spark job the thread starts carries the
span's job group, so after the request the span's jobs are read back
from Spark's status tracker and its stage metrics (task CPU, run time,
shuffle bytes, spill, input rows) from the status store. Spans stay in
memory; ``Tracer.records`` returns them when the run ends.

With ``enabled=False`` a span is a no-op, which is how the untraced
run measures its end-to-end numbers.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024
STAGE_FIELDS = ("task_cpu_s", "task_run_s", "tasks", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "input_rows")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    request: int | None
    start: float = 0.0          # time.time(), comparable to job timestamps
    end: float = 0.0
    out_rows: int = 0
    jobs: list = field(default_factory=list)   # (submit_s, complete_s)
    stages: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._request: int | None = None
        self._pending: list[Span] = []
        self.overhead_s = 0.0   # time spent reading Spark's status store

    @contextlib.contextmanager
    def request(self, rid: int):
        """Group the spans of one operation under one request id."""
        self._request = rid
        try:
            yield
        finally:
            self._request = None
            self.resolve()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.sid if parent else None,
                  self._request)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self._pending.append(sp)

    def resolve(self) -> None:
        """Attach jobs and stage metrics to every span closed since the
        last call. Waits for Spark's listener bus to drain first, so the
        status store holds every finished job."""
        if not self.enabled or not self._pending:
            return
        t0 = time.perf_counter()
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.spark.sparkContext.statusTracker()
        store = jsc.statusStore()
        for sp in self._pending:
            for jid in tracker.getJobIdsForGroup(sp.group):
                try:
                    jd = store.job(int(jid))
                except Py4JJavaError:
                    continue
                sub, done = jd.submissionTime(), jd.completionTime()
                start = sub.get().getTime() / 1e3 if sub.isDefined() else sp.start
                end = done.get().getTime() / 1e3 if done.isDefined() else sp.end
                sp.jobs.append((start, end))
                info = tracker.getJobInfo(int(jid))
                for sid in (info.stageIds if info else []):
                    self._add_stage(store, int(sid), sp.stages)
        self._pending = []
        self.overhead_s += time.perf_counter() - t0

    @staticmethod
    def _add_stage(store, stage_id: int, acc: dict) -> None:
        try:
            st = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # never ran (skipped): nothing to add
            return
        if str(st.status()) != "COMPLETE":
            return
        acc["task_cpu_s"] += st.executorCpuTime() / 1e9
        acc["task_run_s"] += st.executorRunTime() / 1e3
        acc["tasks"] += st.numCompleteTasks()
        acc["shuffle_read_mb"] += st.shuffleReadBytes() / MB
        acc["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        acc["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        acc["input_rows"] += st.inputRecords()

    # ------------------------------------------------------------ queries

    def descendants(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(kids.get(sp.sid, []))
        return out

    def totals(self, root: Span) -> dict:
        """Jobs, stage metrics, driver gap and busy share of ``root``
        and everything under it."""
        tree = self.descendants(root)
        acc = dict.fromkeys(STAGE_FIELDS, 0.0)
        intervals = []
        for sp in tree:
            for k in STAGE_FIELDS:
                acc[k] += sp.stages[k]
            intervals += [(max(a, root.start), min(b, root.end)) for a, b in sp.jobs]
        covered = _union(intervals)
        acc["jobs"] = sum(len(sp.jobs) for sp in tree)
        acc["driver_gap_s"] = max(0.0, root.wall - covered)
        return acc

    def self_time(self, sp: Span) -> float:
        kids = [c for c in self.spans if c.parent == sp.sid]
        return max(0.0, sp.wall - _union([(c.start, c.end) for c in kids]))

    def records(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "parent": s.parent, "request": s.request,
             "start": s.start, "end": s.end, "jobs": len(s.jobs),
             "self_s": round(self.self_time(s), 6)}
            for s in self.spans
        ]


def _union(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class HeapSampler:
    """JVM heap high-water mark, sampled every 50 ms from the
    MemoryMXBean (driver and executors share the one JVM in local mode)."""

    def __init__(self, spark) -> None:
        self._bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            try:
                self.peak = max(self.peak, int(self._bean.getHeapMemoryUsage().getUsed()))
            except Exception:  # session torn down under the sampler
                return

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / MB
