"""Spans around the benchmark's calls into the program, the Spark work
inside each span, and the resident memory of the process tree.

Spans are recorded from outside the program: the benchmark wraps each
public call it makes.  The Spark jobs of a span are the jobs submitted
between its start and end, read from the engine's status store right
after the span closes (the writer threads inside ``run_waves`` do not
inherit job groups, so groups cannot attribute them).
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional

COGROUP_NODE_PREFIX = "FlatMapCoGroupsIn"  # the crawl wave UDF's plan node


@dataclass
class StageFacts:
    stage_id: int
    tasks: int
    run_s: float
    gc_s: float
    shuffle_read: int
    shuffle_write: int
    cogroup: bool
    task_run_p50_s: float
    task_run_max_s: float


@dataclass
class Span:
    name: str
    start: float  # perf_counter seconds
    end: float = 0.0
    parent: Optional[str] = None
    jobs: int = 0
    stages: list[StageFacts] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SparkStatus:
    """Reads finished jobs and stages from the status store of one
    SparkContext; each stage is reported once, to the first span whose
    window holds its job's submission."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen_jobs: set[int] = set()
        gateway = spark.sparkContext._gateway
        self._quantiles = gateway.new_array(gateway.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def skip_finished(self) -> None:
        """Attribute every job submitted so far to no span."""
        self.drain()
        jobs = self._store.jobsList(None)
        self._seen_jobs.update(jobs.apply(i).jobId() for i in range(jobs.size()))

    def jobs_between(self, t0_ms: int, t1_ms: int) -> tuple[int, list[StageFacts]]:
        self.drain()
        jobs = self._store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            sub = job.submissionTime()
            if jid in self._seen_jobs or not sub.isDefined():
                continue
            if not t0_ms <= sub.get().getTime() <= t1_ms:
                continue
            self._seen_jobs.add(jid)
            n_jobs += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        return n_jobs, [f for f in map(self._stage, sorted(stage_ids)) if f is not None]

    def _stage(self, sid: int) -> Optional[StageFacts]:
        s = self._store.lastStageAttempt(sid)
        if s.status().toString() != "COMPLETE":
            return None  # skipped stages reuse an earlier shuffle
        p50 = mx = 0.0
        summ = self._store.taskSummary(sid, s.attemptId(), self._quantiles)
        if summ.isDefined():
            run = summ.get().executorRunTime()
            p50, mx = run.apply(0) / 1e3, run.apply(1) / 1e3
        return StageFacts(
            stage_id=sid,
            tasks=s.numTasks(),
            run_s=s.executorRunTime() / 1e3,
            gc_s=s.jvmGcTime() / 1e3,
            shuffle_read=s.shuffleReadBytes(),
            shuffle_write=s.shuffleWriteBytes(),
            cogroup=self._has_cogroup(sid),
            task_run_p50_s=p50,
            task_run_max_s=mx,
        )

    def _has_cogroup(self, sid: int) -> bool:
        stack = [self._store.operationGraphForStage(sid).rootCluster()]
        while stack:
            c = stack.pop()
            if c.name().startswith(COGROUP_NODE_PREFIX):
                return True
            kids = c.childClusters()
            stack.extend(kids.apply(k) for k in range(kids.size()))
        return False


class Tracer:
    """Collects spans.  Without a ``SparkStatus`` it only keeps walls,
    which is what the untraced (timed) iterations use."""

    def __init__(self, status: Optional[SparkStatus] = None):
        self.status = status
        self.spans: list[Span] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(name, time.perf_counter(), parent=self._open[-1] if self._open else None)
        wall0 = int(time.time() * 1000)
        self._open.append(name)
        try:
            yield sp
        finally:
            self._open.pop()
            sp.end = time.perf_counter()
            self.spans.append(sp)
            if self.status is not None:
                sp.jobs, sp.stages = self.status.jobs_between(wall0, int(time.time() * 1000))

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def tree_pids(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _resident_kib(pid: int) -> int:
    """Proportional set size of a Python process: pages shared between
    forked workers are split among them, so the sum over a tree counts
    each page once.  The JVM shares next to nothing, and reading its PSS
    walks the page tables of its whole heap under its memory-map lock
    (about 70 ms for 3 GB, stalling the JVM's own mappings), so it counts
    its resident set size."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            jvm = f.read().strip() == "java"
        path, key = (f"/proc/{pid}/status", "VmRSS:") if jvm else (f"/proc/{pid}/smaps_rollup", "Pss:")
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass  # exited while reading
    return 0


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants (the
    driver interpreter, the JVM and the Python workers)."""
    return sum(_resident_kib(p) for p in tree_pids(os.getpid())) / 1024.0


class RssSampler:
    """Background sampler of ``tree_rss_mb``; ``peak_mb`` is the highest
    sum seen since ``start``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb


def jvm_heap_peaks_mb(spark) -> dict:
    """Peak used memory of the driver JVM's heap since it started, from
    its memory-pool beans: the sum over heap pools, and the old
    generation alone (what survives young collections).  The heap is
    committed up front, so the process's resident size does not show
    these."""
    pools = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    heap = old = 0
    for i in range(pools.size()):
        pool = pools.get(i)
        if pool.getType().name() != "HEAP":
            continue
        used = pool.getPeakUsage().getUsed()
        heap += used
        if "Old Gen" in pool.getName():
            old += used
    return {"jvm.heap_peak_mb": heap / 2**20, "jvm.old_gen_peak_mb": old / 2**20}


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
