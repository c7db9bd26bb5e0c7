"""Spans around calls into the program, Spark job attribution from the
status store, and CPU/memory counters of the process tree.

A span records a name, start and end (epoch seconds), its parent, the
cycle it belongs to and the range of Spark job ids submitted while it
was open. Spans stay in memory and are written out once, at the end.
Jobs are attributed by id range rather than by job group because
``pin_concurrently`` submits pins from pool threads, which do not
inherit the caller's job group.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    cycle: int
    job_lo: int
    job_hi: int
    py_cpu_s: float = 0.0


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children.get(i, ()), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def cycle_self_times(spans: list[Span], cycle: int) -> list[tuple[Span, float]]:
    """(span, self time) for the spans of one cycle. Self times are
    taken over the whole list, which parent indices point into."""
    return [(s, t) for s, t in zip(spans, self_times(spans)) if s.cycle == cycle]


class Tracer:
    """Collects spans while ``enabled``; otherwise ``span`` only yields.

    ``next_job_id`` reads the scheduler's next job id (one py4j call);
    ``py_cpu`` returns the CPU seconds of the Python worker processes.
    ``cost_s`` accumulates the time spent in this bookkeeping."""

    def __init__(self, next_job_id, py_cpu):
        self._next_job_id = next_job_id
        self._py_cpu = py_cpu
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.enabled = False
        self.cycle = -1
        self.cost_s = 0.0

    @contextmanager
    def span(self, name: str, py: bool = False):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        s = Span(
            name,
            start=0.0,
            end=0.0,
            parent=self._stack[-1] if self._stack else None,
            cycle=self.cycle,
            job_lo=self._next_job_id(),
            job_hi=0,
        )
        cpu0 = self._py_cpu() if py else 0.0
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        s.start = time.time()
        self.cost_s += time.perf_counter() - c0
        try:
            yield
        finally:
            s.end = time.time()
            c1 = time.perf_counter()
            self._stack.pop()
            s.job_hi = self._next_job_id()
            if py:
                s.py_cpu_s = self._py_cpu() - cpu0
            self.cost_s += time.perf_counter() - c1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class StatusStore:
    """A snapshot of Spark's status store: jobs with their wall
    intervals, and stages attributed to the first job that lists them
    (a later job lists a reused map stage as SKIPPED). Works with the
    UI disabled."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = spark._jvm
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(scala_module)
        store = jsc.statusStore()
        no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            mapper.writeValueAsString(
                store.stageList(None, False, False, no_quantiles, None)
            )
        )
        self.jobs = {}
        owner: dict[int, int] = {}
        for j in jobs:
            start = j["submissionTime"] / 1e3
            end = (j.get("completionTime") or j["submissionTime"]) / 1e3
            self.jobs[j["jobId"]] = (start, end)
            for sid in j["stageIds"]:
                owner[sid] = min(owner.get(sid, j["jobId"]), j["jobId"])
        self.stages = [
            (owner[s["stageId"]], s)
            for s in stages
            if s["status"] in ("COMPLETE", "FAILED") and s["stageId"] in owner
        ]

    def job_intervals(self, lo: int, hi: int) -> list[tuple[float, float]]:
        return [v for k, v in self.jobs.items() if lo <= k < hi]

    def stage_totals(self, lo: int, hi: int) -> dict[str, float]:
        """Summed stage metrics of the jobs with ids in ``[lo, hi)``."""
        t = dict(stages=0, task_s=0.0, gc_s=0.0, shuffle_mb=0.0, output_mb=0.0)
        for job, s in self.stages:
            if lo <= job < hi:
                t["stages"] += 1
                t["task_s"] += s["executorRunTime"] / 1e3
                t["gc_s"] += s["jvmGcTime"] / 1e3
                t["shuffle_mb"] += (s["shuffleReadBytes"] + s["shuffleWriteBytes"]) / 1e6
                t["output_mb"] += s["outputBytes"] / 1e6
        return t


def _procs() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, command name, CPU clock ticks incl. reaped children)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        # fields[0] is state; utime, stime, cutime, cstime are 11..14
        out[int(entry)] = (int(fields[1]), comm, sum(map(int, fields[11:15])))
    return out


def descendants(root: int, procs=None) -> list[int]:
    procs = _procs() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class ProcessTree:
    """CPU and resident memory of this process, the JVM it launched
    and the JVM's Python workers."""

    def __init__(self):
        self.root = os.getpid()

    def cpu_s(self) -> float:
        procs = _procs()
        return sum(procs[p][2] for p in descendants(self.root, procs) if p in procs) / _CLK_TCK

    def python_worker_cpu_s(self) -> float:
        procs = _procs()
        jvms = [p for p in descendants(self.root, procs) if procs.get(p, (0, ""))[1] == "java"]
        pids = {w for j in jvms for w in descendants(j, procs) if w != j}
        return sum(procs[p][2] for p in pids if p in procs) / _CLK_TCK

    def reset_peak_rss(self) -> None:
        """Reset each process's peak resident set to its current one,
        so that ``peak_rss_mb`` covers only what runs after this call."""
        for pid in descendants(self.root):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:  # exited since the listing
                continue

    def peak_rss_by_command(self) -> dict[str, tuple[int, float]]:
        """Command name -> (processes, summed peak resident set (VmHWM)
        since the last ``reset_peak_rss``, in MB) over the tree: the
        Python driver (``python3``), the JVM (``java``) and the Python
        workers (``python``), as the system names them."""
        procs = _procs()
        out: dict[str, tuple[int, float]] = {}
        for pid in descendants(self.root, procs):
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
                comm = procs[pid][1]
            except (OSError, KeyError, StopIteration):  # exited, or a zombie
                continue
            n, mb = out.get(comm, (0, 0.0))
            out[comm] = (n + 1, mb + kb * 1024 / 1e6)
        return out
