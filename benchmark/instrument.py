"""Measurement from outside the program: spans around public calls,
Spark job/task counts per op, and a /proc sampler for the process tree.

None of this reaches into the library: spans wrap the benchmark's own
calls into each layer's public functions, Spark counts come from the
status tracker, and CPU/RSS come from /proc.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
from typing import Dict, List, Optional


class Tracer:
    """In-memory spans: (name, start, end, parent, op, thread).

    Disabled, ``span`` is a no-op context, so the untraced run pays one
    attribute test per call. Spans are kept in a list and written out
    once at exit; ``self_ms`` derives per-name self time (duration minus
    the part covered by child spans).
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def new_op(self) -> int:
        return next(self._ops)

    @contextlib.contextmanager
    def span(self, name: str, op: int = 0, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "op": op,
               "parent": stack[-1] if stack else None,
               "thread": threading.get_ident(),
               "start": time.perf_counter(), "end": None, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations_ms(self, name: str) -> List[float]:
        return [1000 * (s["end"] - s["start"])
                for s in self.spans if s["name"] == name]

    def self_ms(self) -> Dict[str, dict]:
        """Per span name: count, total and self time (ms)."""
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: Dict[str, dict] = {}
        for s in self.spans:
            total = s["end"] - s["start"]
            covered, edge = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []),
                            key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            agg = out.setdefault(s["name"],
                                 {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            agg["count"] += 1
            agg["total_ms"] += 1000 * total
            agg["self_ms"] += 1000 * (total - covered)
        return out


class SparkCounter:
    """Spark jobs and tasks per op, read through the status tracker.

    Each op runs under its own job group (set in the calling thread).
    Jobs that library code launches from its own helper threads carry no
    group; ``ungrouped`` collects those. They are added to an op only
    when that op ran alone (the set-up build); for the query clients
    they are counted over the whole window (``Bench.clients``).
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.tracker = sc.statusTracker()

    @contextlib.contextmanager
    def op(self, group: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(group, group, interruptOnCancel=False)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def ungrouped(self) -> set:
        return set(self.tracker.getJobIdsForGroup(None))

    def count(self, job_ids) -> Dict[str, int]:
        """(jobs, tasks) over ``job_ids``; tasks are those that ran
        (a stage skipped because its shuffle output was reused adds 0)."""
        job_ids = list(job_ids)
        tasks = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        return {"jobs": len(job_ids), "tasks": tasks}

    def group(self, group: str) -> Dict[str, int]:
        return self.count(self.tracker.getJobIdsForGroup(group))


def _proc_tree(root: int) -> List[int]:
    """``root`` and all its descendants, from /proc/*/stat ppid links."""
    parent: Dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def tree_cpu_mem(root: int):
    """(CPU seconds incl. reaped children, memory bytes) of the process
    tree. Memory is the proportional set size: forked Python workers
    share pages with their daemon, and summing RSS would count those
    pages once per worker."""
    hz = os.sysconf("SC_CLK_TCK")
    cpu_ticks, pss_kb = 0, 0
    for pid in _proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read()
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                pss_kb += next(int(line.split()[1]) for line in fh
                               if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        # utime stime cutime cstime are fields 14-17 of /proc/pid/stat
        cpu_ticks += sum(int(x) for x in f[f.rindex(")") + 2:].split()[11:15])
    return cpu_ticks / hz, pss_kb * 1024


class ProcSampler:
    """Background sampler of the benchmark's process tree (driver JVM and
    Python workers included): peak memory, and CPU seconds on demand."""

    def __init__(self, interval: float = 0.25):
        self.root = os.getpid()
        self.interval = interval
        self.peak_mem = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def start(self) -> "ProcSampler":
        self._thread = threading.Thread(target=self._run, name="proc-sampler",
                                        daemon=True)
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self):
        cpu, mem = tree_cpu_mem(self.root)
        self.peak_mem = max(self.peak_mem, mem)
        return cpu

    def stop(self):
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.sample()

    def children(self) -> List[int]:
        return _proc_tree(self.root)[1:]
