"""Out-of-program tracing for the benchmark.

Nothing here edits the engine.  ``StageTracer`` wraps
``SnapshotCatalog.stage`` and ``SnapshotCatalog.commit`` for the duration
of one build: each committed stage runs under its own Spark job group and
leaves one span (wall clock plus Python CPU).  After the build the Spark
stage metrics of every group are harvested from the status store, which
works with ``spark.ui.enabled=false``.  Spans stay in memory until the
benchmark writes them out.

``ProcessTree`` reads ``/proc`` for the benchmark's own process tree
(this Python process, the gateway JVM, the Python daemon and workers):
CPU time of the whole tree and of its Python processes, and the summed
resident set size.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from kgraphmemory_spark.io.snapshots import SnapshotCatalog

STAGES = ("docs_clean", "mentions", "raw_triples", "alias_table", "linked",
          "canonical_map", "entities", "relations", "frames", "slots",
          "triples", "provenance")

# per-stage metric → unit
STAGE_FIELDS = {"wall_s": "s", "exec_cpu_s": "s", "py_cpu_s": "s",
                "shuffle_write_mb": "MB", "spill_mb": "MB", "out_rows": "count",
                "out_mb": "MB", "jobs": "count", "task_skew": "ratio"}

_MB = 1 << 20

# PeakRss samples every RSS_PERIOD_S; listing /proc costs far more than
# reading a few statm files, so it refreshes the process list only every
# RSS_RESCAN_EVERY samples
RSS_PERIOD_S = 0.1
RSS_RESCAN_EVERY = 10


class ProcessTree:
    """The process tree rooted at this process."""

    def __init__(self):
        self.root = os.getpid()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def descendants(self) -> list[int]:
        return [p for p in self.pids() if p != self.root]

    def python_cpu_s(self) -> float:
        """CPU seconds of every Python process in the tree, at nanosecond
        resolution (``/proc/<pid>/schedstat``)."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
                with open(f"/proc/{pid}/schedstat") as f:
                    total += int(f.read().split()[0])
            except OSError:
                continue          # exited between listing and reading
        return total / 1e9

    def cpu_s(self) -> float:
        """User + system CPU seconds of every process in the tree,
        including children each has reaped."""
        tick = os.sysconf("SC_CLK_TCK")
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            total += sum(int(x) for x in fields[11:15])
        return total / tick

    def rss_mb(self, pids: list[int]) -> float:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except OSError:
                continue
        return total * self._page / _MB


class PeakRss:
    """Background sampler of the peak resident set of the process tree.

    The root (the benchmark's own Python process, which also holds the
    oracle) counts only by what it grows past its size at ``__enter__``,
    so the figure is the engine's: gateway JVM, Python workers and the
    driver-side Python work of the run."""

    def __init__(self, tree: ProcessTree):
        self.tree = tree
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = self.tree.root
        base = self.tree.rss_mb([root])
        n = 0
        while not self._stop.is_set():
            if n % RSS_RESCAN_EVERY == 0:
                others = self.tree.descendants()
            n += 1
            grown = max(0.0, self.tree.rss_mb([root]) - base)
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb(others) + grown)
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


@dataclass
class Span:
    stage: str
    group: str
    start: float
    end: float
    py_cpu_s: float
    metrics: dict = field(default_factory=dict)


class StageTracer:
    """Per-stage spans and Spark metrics of one checkpointed build.

    Use as a context manager around ``run_pipeline``; the snapshot catalog
    methods are restored on exit.  ``stage()`` spans cover the build
    closure and the commit; ``commit()`` calls made outside a ``stage()``
    (frames and slots) get their own span.  Jobs outside any span run
    under the ``<tag>:driver`` group.  ``overhead_s`` is the time the
    build spent in the tracer's own code."""

    def __init__(self, spark, tag: str, tree: ProcessTree | None = None):
        self.sc = spark.sparkContext
        self.tag = tag
        self.tree = tree or ProcessTree()
        self.spans: list[Span] = []
        # seconds the build spent in the tracer itself, outside every span
        self.overhead_s = 0.0
        self._open: str | None = None

    @property
    def driver_group(self) -> str:
        return f"{self.tag}:driver"

    def _wrap(self, orig, name_arg: int):
        tracer = self

        def traced(cat, *args, **kwargs):
            if tracer._open is not None:          # commit() inside stage()
                return orig(cat, *args, **kwargs)
            t_in = time.perf_counter()
            name = args[name_arg]
            group = f"{tracer.tag}:{name}"
            tracer._open = name
            tracer.sc.setJobGroup(group, name)
            cpu0, t0 = tracer.tree.python_cpu_s(), time.perf_counter()
            tracer.overhead_s += t0 - t_in
            try:
                return orig(cat, *args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer.spans.append(Span(name, group, t0, t1,
                                         tracer.tree.python_cpu_s() - cpu0))
                tracer._open = None
                tracer.sc.setJobGroup(tracer.driver_group, "driver")
                tracer.overhead_s += time.perf_counter() - t1

        return traced

    def __enter__(self) -> "StageTracer":
        self._saved = (SnapshotCatalog.stage, SnapshotCatalog.commit)
        SnapshotCatalog.stage = self._wrap(self._saved[0], 1)
        SnapshotCatalog.commit = self._wrap(self._saved[1], 0)
        self.sc.setJobGroup(self.driver_group, "driver")
        return self

    def __exit__(self, *exc) -> None:
        SnapshotCatalog.stage, SnapshotCatalog.commit = self._saved
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # -- harvest -----------------------------------------------------------
    def harvest(self, workdir: str) -> None:
        """Fill ``span.metrics`` for every span from the status store and
        the committed snapshot on disk."""
        cat = SnapshotCatalog(workdir)
        for span in self.spans:
            span.metrics = self._group_metrics(span.group)
            span.metrics["wall_s"] = span.end - span.start
            span.metrics["py_cpu_s"] = span.py_cpu_s
            span.metrics["out_rows"] = cat.manifest(span.stage)["rows"]
            span.metrics["out_mb"] = _dir_bytes(
                os.path.join(workdir, span.stage, "data")) / _MB

    def _group_metrics(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for job in job_ids:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        cpu_ns = shuffle = spill = 0
        heaviest, heaviest_rt = None, -1
        for sid in stage_ids:
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                       False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                cpu_ns += st.executorCpuTime()
                shuffle += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.executorRunTime() > heaviest_rt:
                    heaviest, heaviest_rt = st, st.executorRunTime()
        return {
            "exec_cpu_s": cpu_ns / 1e9,
            "shuffle_write_mb": shuffle / _MB,
            "spill_mb": spill / _MB,
            "jobs": len(job_ids),
            "task_skew": _task_skew(store, heaviest),
        }


def _task_skew(store, stage) -> float:
    """max ÷ median task run time of the stage that ran longest (1.0 when
    it had a single task)."""
    if stage is None:
        return 1.0
    tasks = store.taskList(stage.stageId(), stage.attemptId(), 1 << 20)
    times = []
    for i in range(tasks.size()):
        metrics = tasks.apply(i).taskMetrics()
        if metrics.isDefined():
            times.append(max(metrics.get().executorRunTime(), 1))
    if len(times) < 2:
        return 1.0
    return max(times) / statistics.median(times)


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total
