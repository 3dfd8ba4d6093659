"""Measurement plumbing shared by every workload.

Everything here observes the package from outside: wall clocks around
calls into its public functions, one Spark job group per call read back
through ``statusTracker()``, node counts from the executed physical
plan, the process tree's peak RSS from ``/proc``, and ERROR lines on
the captured stderr. Nothing starts a thread or opens a connection.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------- spans
@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    request: str
    end: float = 0.0


class Tracer:
    """In-memory spans: name, start, end, parent span and the request
    id shared by the spans of one query or batch. Disabled tracers
    record nothing and cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        # callbacks from the streaming engine arrive on py4j threads;
        # they nest under whatever span the main thread has open
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(
                len(self.spans), name, time.perf_counter(),
                parent.sid if parent else None,
                request or (parent.request if parent else name),
            )
            self.spans.append(s)
            on_main = threading.current_thread() is threading.main_thread()
            if on_main:
                self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            if on_main:
                with self._lock:
                    self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval that its
        children cover (children are merged, so overlap counts once)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
            out[s.sid] = (s.end - s.start) - covered
        return out

    def self_time_by_layer(self) -> dict[str, float]:
        """Self time summed per layer (the span name up to its first
        dot, e.g. ``bindings`` or ``pipelines``)."""
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + st[s.sid]
        return out

    def dump(self, path: str) -> None:
        st = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {
                            "id": s.sid, "name": s.name, "parent": s.parent,
                            "request": s.request, "start": s.start, "end": s.end,
                            "self_s": st[s.sid],
                        }
                        for s in self.spans
                    ],
                    "self_s_by_layer": self.self_time_by_layer(),
                },
                f,
            )


# ------------------------------------------------------------ job stats
class Jobs:
    """Tags the calls of the current thread with their own job group and
    reads back job, task and failed-task counts per group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")

    def counts(self, gid: str) -> tuple[int, int, int]:
        """(jobs, completed tasks, failed tasks) of one group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return len(jobs), tasks, failed


# ------------------------------------------------------------ plan scan
_PY_NODE = re.compile(r"InPandas|EvalPython|InArrow|PythonUDTF|PythonRunner")


def plan_nodes(df) -> dict[str, int]:
    """Node counts of the executed physical plan (the final plan when
    adaptive execution re-planned it): exchanges, Python/Arrow
    crossings and scans of checkpointed RDDs (barrier materializations)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    nodes = [re.sub(r"^[\s:+\-|*()0-9]*", "", line) for line in text.splitlines()]
    first = [n.split(" ", 1)[0].split("[", 1)[0] for n in nodes]
    return {
        "exchanges": sum(1 for w in first if w.endswith("Exchange")),
        "python_nodes": sum(1 for w in first if _PY_NODE.search(w)),
        "checkpoint_scans": sum(1 for n in nodes if n.startswith("Scan ExistingRDD")),
    }


def force_plan(df) -> None:
    """Run analysis, optimization and physical planning without
    executing; the action that follows reuses the planned query."""
    df._jdf.queryExecution().executedPlan()


# --------------------------------------------------------- process tree
def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def tree_pids() -> list[int]:
    """This process and its live descendants."""
    todo, seen = [os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM) over this
    process and its descendants: the JVM and the Python workers."""
    total_kb = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_jvm(timeout: float = 60.0) -> None:
    """Shut the py4j gateway JVM down and wait until every process this
    one started has exited (the JVM and the Python workers it forked)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway server exits when stdin closes
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    while len(tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------- stderr
class StderrCapture:
    """Redirects file descriptor 2 (this process and the JVM it
    launches) into a file, so a run can count the ERROR lines it
    caused; ``restore`` puts the original stream back."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self._saved = os.dup(2)
        self._f = open(path, "wb")
        os.dup2(self._f.fileno(), 2)

    def error_lines(self) -> int:
        with open(self.path, "rb") as f:
            return sum(1 for line in f if b" ERROR " in line)

    def restore(self) -> None:
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self._f.close()

    def tail(self, n: int = 40) -> str:
        with open(self.path, "rb") as f:
            return b"".join(f.readlines()[-n:]).decode(errors="replace")


# --------------------------------------------------------------- layers
@dataclass
class Layers:
    """Per-layer accumulators of one run. Lists hold per-call samples
    (reported as medians), plain numbers are totals."""

    samples: dict[str, list[float]] = field(default_factory=dict)
    totals: dict[str, float] = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def count(self, name: str, value: float = 1) -> None:
        self.totals[name] = self.totals.get(name, 0.0) + float(value)

    def med(self, name: str) -> float:
        return median(self.samples.get(name, []))

    def total(self, name: str) -> float:
        return self.totals.get(name, 0.0)
