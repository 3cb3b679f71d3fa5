"""Measurement from outside the engine: process CPU, peak RSS and live
JVM heap, host
steal and load, Spark job/stage/task counts, and the span tracer.

Nothing here imports the engine package; the Spark counters read the
driver's StatusTracker-backed REST API on localhost and the
DAGScheduler's job-id counter through py4j.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from dataclasses import dataclass, field

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


# -- processes ---------------------------------------------------------


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, its Python workers)."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as fh:
                todo.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the tree, reaped children included."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                total += _cpu_ticks(fh.read(), children=True)
        except OSError:
            continue
    return total * _TICK_S


def _cpu_ticks(stat: str, children: bool) -> int:
    # fields after "(comm)": [11..14] = utime, stime, cutime, cstime
    fields = stat.rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11 : 15 if children else 13])


def jit_threads(pid: int) -> list[int]:
    """Thread ids of the JVM's JIT compiler threads (``C1/C2
    CompilerThread<n>``). The benchmark's JVM runs with a fixed set of
    them (``-XX:-UseDynamicNumberOfCompilerThreads``), so the list taken
    once holds for the whole window."""
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    out.append(int(tid))
        except OSError:
            pass
    return out


def threads_cpu_s(pid: int, tids: list[int]) -> float:
    total = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                total += _cpu_ticks(fh.read(), children=False)
        except OSError:
            pass
    return total * _TICK_S


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def tree_threads(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("Threads:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


def heap_live_mb(spark, max_gcs: int = 10) -> float:
    """JVM heap in use after full GCs: what the engine retains. Python
    first drops its py4j references. Memory is freed in steps (a GC
    clears the references Spark's ContextCleaner then acts on, which
    frees more for the next GC), so full GCs repeat, 0.5 s apart, until
    one frees less than 1 MB; measured, that takes 3-4 GCs, and a single
    GC read 144 or 180 MB at random."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = float("inf")
    for _ in range(max_gcs):
        jvm.System.gc()
        prev, used = used, bean.getHeapMemoryUsage().getUsed() / 2**20
        if prev - used < 1.0:
            break
        time.sleep(0.5)
    return used


# -- host ----------------------------------------------------------------


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


@dataclass
class Window:
    """Host counters and peak RSS over the timed window. CPU is read
    over the whole process tree of ``root``, and separately for the JIT
    compiler threads of ``jvm``; peak RSS over ``rss_pids`` (the Python
    driver and its JVM: Python worker processes come and go with Spark's
    worker reuse, which would make the sum jump)."""

    root: int
    jvm: int
    rss_pids: list[int]
    _jit: list[int] = field(default_factory=list)
    _steal0: tuple[int, int] = (0, 0)
    steal_share: float = 0.0
    loadavg: float = 0.0
    peak_rss_mb: float = 0.0
    threads: int = 0

    def start(self) -> None:
        reset_peak_rss(self.rss_pids)
        self._jit = jit_threads(self.jvm)
        self._steal0 = host_cpu_ticks()

    def cpu_s(self) -> tuple[float, float]:
        """(CPU of the process tree, CPU of its JIT compiler threads)."""
        return tree_cpu_s(self.root), threads_cpu_s(self.jvm, self._jit)

    def stop(self) -> None:
        steal, total = host_cpu_ticks()
        d_total = total - self._steal0[1]
        self.steal_share = (steal - self._steal0[0]) / d_total if d_total else 0.0
        self.loadavg = loadavg_1m()
        self.peak_rss_mb = peak_rss_mb(self.rss_pids)
        self.threads = tree_threads(self.root)


# -- Spark counts --------------------------------------------------------


class SparkCounts:
    """Jobs are attributed to an op by the job-id interval the op spans
    (one client thread, so every job in the interval is the op's, the
    live stream's background jobs included); stages and tasks come from
    the REST API once the run has ended."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._url = self._sc.uiWebUrl
        self._app = self._sc.applicationId

    def next_job_id(self) -> int:
        """The id the next submitted job will get (py4j hands the
        scheduler's AtomicInteger back as its value)."""
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    def _get(self, path: str):
        url = f"{self._url}/api/v1/applications/{self._app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def snapshot(self) -> "JobTable":
        """Every job and stage the UI store holds, after the listener
        bus has delivered all events."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        jobs = {j["jobId"]: j for j in self._get("jobs")}
        stages: dict[int, dict] = {}
        for s in self._get("stages"):
            if s["status"] != "SKIPPED":
                prev = stages.get(s["stageId"])
                stages[s["stageId"]] = s if prev is None else _add_attempt(prev, s)
        return JobTable(jobs, stages)


def _add_attempt(a: dict, b: dict) -> dict:
    out = dict(a)
    for k in ("numCompleteTasks", "executorRunTime", "shuffleWriteBytes", "shuffleReadBytes"):
        out[k] = a.get(k, 0) + b.get(k, 0)
    return out


@dataclass
class JobTable:
    jobs: dict
    stages: dict

    def totals(self, lo: int, hi: int) -> dict[str, float]:
        """Jobs, stages, tasks, executor run ms and shuffle bytes of the
        job ids in ``[lo, hi)``."""
        job_ids = [j for j in range(lo, hi) if j in self.jobs]
        stage_ids = {s for j in job_ids for s in self.jobs[j]["stageIds"] if s in self.stages}
        st = [self.stages[s] for s in sorted(stage_ids)]
        return {
            "jobs": float(len(job_ids)),
            "stages": float(len(st)),
            "tasks": float(sum(s.get("numCompleteTasks", 0) for s in st)),
            "executor_run_ms": float(sum(s.get("executorRunTime", 0) for s in st)),
            "shuffle_bytes": float(
                sum(s.get("shuffleWriteBytes", 0) + s.get("shuffleReadBytes", 0) for s in st)
            ),
        }


# -- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: tuple[int, int] = (0, 0)  # job-id interval [lo, hi)
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled, ``span`` is a no-op context manager, so the untraced run
    pays one attribute check per call. Job ids are recorded only when a
    ``SparkCounts`` is attached. The stream's ``foreachBatch`` thread may
    open spans (sink write, dimension provider) while the main thread
    waits inside ``streaming.wait_commit``; they nest under that span,
    which stays open until the batch has committed."""

    def __init__(self, enabled: bool, counts: SparkCounts | None = None) -> None:
        self.enabled = enabled
        self.counts = counts
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs) if self.enabled else _NOOP

    def self_ms(self) -> dict[str, list[float]]:
        """Per span name, each span's self time (duration minus the
        union of its direct children), in ms."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            covered, last = 0.0, s.start
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out.setdefault(s.name, []).append((s.end - s.start - covered) * 1000.0)
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        rows = [
            {"id": i, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, "jobs": list(s.jobs), **s.attrs}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1] if t._stack else None
        job0 = t.counts.next_job_id() if t.counts else 0
        s = Span(self.name, t.op, parent, time.perf_counter(), attrs=self.attrs)
        s.jobs = (job0, job0)
        t.spans.append(s)
        t._stack.append(len(t.spans) - 1)
        self.s = s
        return s

    def __exit__(self, *exc) -> None:
        s = self.s
        s.end = time.perf_counter()
        if self.t.counts:
            s.jobs = (s.jobs[0], self.t.counts.next_job_id())
        self.t._stack.pop()


class _Noop:
    def __enter__(self):
        return None

    def __exit__(self, *exc) -> None:
        return None


_NOOP = _Noop()
