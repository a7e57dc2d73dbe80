"""Run environment, tracing and measurement helpers shared by the
workloads.

Tracing follows the benchmark's own call sites: a span is opened
around each call the benchmark makes into a layer of the engine, named
``<layer>.<call>`` after the engine module (``tfidf.search``,
``dedup.minhash_dedup`` ...). Spans are kept in memory and written out
when the run ends. Spark work is attributed per request through a job
group per request; the jobs, stages and tasks of a group are read from
Spark's status tracker after the timed window, so the reads add no time
inside it.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024


def work_dir(root: str) -> str:
    """Everything the run writes lives under the checkout."""
    path = os.path.join(root, ".ragbench_work")
    os.makedirs(os.path.join(path, "tmp"), exist_ok=True)
    return path


def configure_environment(root: str) -> dict[str, str]:
    """Environment for the engine and Spark's Python workers; must run
    before pyspark starts its JVM.

    - The repo root goes on ``PYTHONPATH``: the ingest pandas UDFs and
      ``mapInPandas`` steps pickle functions by module path, so worker
      processes must import ``data_engineering_rag_spark`` themselves.
    - ``SPARK_GRAFT_CPUS`` is pinned to the cores this process may use;
      ``session.get_spark`` otherwise defaults to ``local[32]``.

    The JVM keeps the engine's own settings (driver heap, JIT).
    """
    work = work_dir(root)
    cpus = str(len(os.sched_getaffinity(0)))
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(env)
    return env


def spark_conf(root: str) -> dict[str, str]:
    work = work_dir(root)
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise write its monitoring
        # counters (hsperfdata) to the system temp directory, outside the
        # checkout; it changes neither the JIT nor the collector.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        # Keep every job of a run in the status tracker (defaults drop
        # all but the last 1000 jobs/stages) so per-request counts are
        # complete; the same in traced and untraced runs.
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    rid: str | None
    thread: int
    end: float = 0.0
    idx: int = -1


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sp = Span(
            name=name,
            start=time.perf_counter(),
            parent=parent.idx if parent else None,
            rid=rid or (parent.rid if parent else None),
            thread=threading.get_ident(),
        )
        with self._lock:
            sp.idx = len(self.spans)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def self_seconds_by_layer(self) -> dict[str, float]:
        """Self time per layer over the run: a span's duration minus the
        part of it its child spans cover (children of one span run on its
        thread, one after another, so the covered part is their summed
        duration)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, float] = {}
        for sp, c in zip(self.spans, child):
            layer = sp.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (sp.end - sp.start) - c
        return out

    def durations(self, name: str) -> list[float]:
        return [sp.end - sp.start for sp in self.spans if sp.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                     "request": s.rid, "thread": s.thread}
                    for s in self.spans
                ],
                fh,
            )


class JobGroups:
    """Per-request Spark job groups. ``enter`` tags the calling
    thread's next jobs; ``counts`` reads a group's jobs, the stages that
    ran tasks, and their completed tasks from the status tracker."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled

    def enter(self, rid: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(rid, rid)

    def counts(self, rid: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(rid)
        stages: set[int] = set()
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if s not in stages and si is not None and si.numCompletedTasks > 0:
                    stages.add(s)
                    tasks += si.numCompletedTasks
        return len(jobs), len(stages), tasks


def instrumentation_ms(groups: JobGroups, n: int = 200) -> float:
    """Median cost of the instrumentation one search carries in a traced
    run: its job-group call and its three spans (on a scratch tracer)."""
    tracer = Tracer(enabled=True)
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        groups.enter("instrumentation")
        with tracer.span("bench.request", "instrumentation"):
            with tracer.span("tfidf.search_call"):
                pass
            with tracer.span("tfidf.search_collect"):
                pass
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1000


# --------------------------------------------------------------------------
# Memory
# --------------------------------------------------------------------------

def block_storage_mb(sc) -> float:
    """Memory plus disk held by Spark's block manager for cached
    datasets (persisted tables and checkpoints).

    JVM high-water RSS (``VmHWM``) is deliberately not used: with a
    multi-GB heap the JVM grows toward its heap limit as garbage
    accumulates between collections, so its peak tracks the heap
    setting and collector timing rather than what the program keeps.
    """
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def unpersist_all(spark) -> None:
    """Drop every cached table and persisted RDD, including local
    checkpoints, so each repetition starts from empty storage."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def py_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
