"""Measurement plumbing: spans and self time, process-tree CPU and memory,
and readers for Spark's own planning, stage and Python-node metrics.

Nothing here changes what the program does; the Spark readers only read the
application's status stores (populated whether or not the UI runs).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.fullmatch(name)) and len(name) <= 64 and name[0].isalnum()


# --- spans ---------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), float("nan"), parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list) -> list:
    """Per span: its duration minus the part of it its children cover
    (children clipped to the parent, overlaps counted once)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return [(s.end - s.start) - covered(kids.get(i, [])) for i, s in enumerate(spans)]


def self_time_by_name(spans: list) -> dict:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out


# --- process tree ------------------------------------------------------------------

def _proc_table() -> dict:
    """pid -> (ppid, cpu ticks incl. reaped children)."""
    info = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks = int(parts[11]) + int(parts[12]) + int(parts[13]) + int(parts[14])
        info[int(d)] = (int(parts[1]), ticks)
    return info


def _tree(info: dict, root: int) -> list:
    children: dict[int, list] = {}
    for p, (pp, _) in info.items():
        children.setdefault(pp, []).append(p)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in info:
            out.append(p)
        stack.extend(children.get(p, []))
    return out


_CLK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (the Spark JVM
    and its Python workers), including children they have reaped."""
    info = _proc_table()
    return sum(info[p][1] for p in _tree(info, os.getpid())) / _CLK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
    except OSError:
        return 0


def tree_pss_mb(rss_pids=frozenset()) -> float:
    """Resident memory of the process tree, as proportional set size: pages
    the forked Python workers share are counted once, not once per worker.
    For ``rss_pids`` (the Spark JVM, whose pages no other process maps, so
    its PSS equals its RSS) the RSS is read instead: reading a warm JVM's
    PSS walks all its page tables (about 20 ms), its RSS takes well under 1 ms."""
    info = _proc_table()
    return sum(_rss_kb(p) if p in rss_pids else _pss_kb(p) for p in _tree(info, os.getpid())) / 1024


class PeakMemory:
    """Samples the process tree's resident memory on a thread; ``peak`` is
    the largest sum seen while the ``with`` block runs."""

    INTERVAL_S = 0.25

    def __init__(self, rss_pids=frozenset()):
        self.rss_pids = rss_pids
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.INTERVAL_S):
            self.peak = max(self.peak, tree_pss_mb(self.rss_pids))

    def __enter__(self):
        self.peak = tree_pss_mb(self.rss_pids)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# --- Spark's own metrics -----------------------------------------------------------

PHASES = ("analysis", "optimization", "planning")


def plan_phases_ms(df) -> dict:
    """Plan ``df`` and return Spark's analysis/optimization/planning ms
    (QueryPlanningTracker phases of the DataFrame's QueryExecution)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    ph = qe.tracker().phases()
    return {k: float(ph.get(k).get().durationMs()) if ph.contains(k) else 0.0 for k in PHASES}


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Total of a Spark SQL metric string ('12.1 s (…)', '785.8 KiB', '3')
    in base units (bytes or seconds)."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    m = re.match(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# Python-node metric names (Spark 4.1) -> arrow.* key
_PY_METRICS = {
    "time to start Python workers": "py_init_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "to_py_bytes",
    "data returned from Python workers": "from_py_bytes",
}


class SparkMetrics:
    """Reads jobs, stages, tasks and SQL-node metrics recorded since the
    last ``mark``, from Spark's status stores."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.gw = spark.sparkContext._gateway
        self.mark()

    def _stages(self):
        empty = self.gw.new_array(self.gw.jvm.double, 0)
        seq = self.store.stageList(None, False, False, empty, None)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> None:
        jobs = self.store.jobsList(None)
        self._job0 = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        self._stage0 = max((s.stageId() for s in self._stages()), default=-1)
        execs = self.sql.executionsList()
        self._exec0 = max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    def read(self) -> dict:
        jobs = self.store.jobsList(None)
        n_jobs = sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() > self._job0)
        stages = [s for s in self._stages() if s.stageId() > self._stage0]
        task_ms = []
        for s in stages:
            tasks = self.store.taskList(s.stageId(), s.attemptId(), 1 << 30)
            for i in range(tasks.size()):
                tm = tasks.apply(i).taskMetrics()
                if tm.isDefined():
                    task_ms.append(float(tm.get().executorRunTime()))
        task_ms.sort()
        py = {"py_init_s": 0.0, "py_run_s": 0.0, "to_py_bytes": 0.0, "from_py_bytes": 0.0}
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= self._exec0:
                continue
            vals = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                ms = nodes.apply(n).metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    key = _PY_METRICS.get(m.name())
                    v = vals.get(m.accumulatorId()) if key else None
                    if v is not None and v.isDefined():
                        py[key] += parse_metric(v.get())
        mb = 2**20
        return {
            "exec.jobs": n_jobs,
            "exec.stages": len(stages),
            "exec.tasks": sum(s.numCompleteTasks() for s in stages),
            "exec.run_ms": float(sum(s.executorRunTime() for s in stages)),
            "exec.cpu_ms": sum(s.executorCpuTime() for s in stages) / 1e6,
            "exec.shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) / mb,
            "exec.shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / mb,
            "exec.max_task_ms": task_ms[-1] if task_ms else 0.0,
            "exec.median_task_ms": task_ms[len(task_ms) // 2] if task_ms else 0.0,
            "arrow.py_init_ms": py["py_init_s"] * 1e3,
            "arrow.py_run_ms": py["py_run_s"] * 1e3,
            "arrow.to_py_mb": py["to_py_bytes"] / mb,
            "arrow.from_py_mb": py["from_py_bytes"] / mb,
        }
