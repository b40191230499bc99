"""Spans around calls into the engine's layers, with Spark counters
attributed to each span, plus a process-tree memory sampler.

A span is opened by the benchmark around one operation and around each
call it makes into a layer (build, sink, lakehouse, incremental). With
tracing on, every leaf span runs under its own Spark job group; when it
closes, the listener bus is drained and the span's jobs, stages, tasks
and SQL executions are read from Spark's in-process status stores. With
tracing off, a span only records its start and end, so untimed
bookkeeping stays out of the measured wall time.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric names (as Spark displays them) -> counter name.
_SQL_METRICS = {
    "sort time": "sql.sort_s",
    "time in aggregation build": "sql.agg_s",
    "data sent to Python workers": "kernel.python_bytes",
    "data returned from Python workers": "kernel.python_bytes",
}
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow", re.I)
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_STAGE_REF = re.compile(r"stage (\d+)\.\d+")


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric: '1,234', '12 ms', '3.4 KiB', or
    the multi-line 'total (min, med, max ...)\\n3.4 KiB (...)' form."""
    line = text.split("\n")[-1].strip() if "\n" in text else text.strip()
    tok = line.split(" (")[0].replace(",", "").split()
    if not tok:
        return 0.0
    scale = _UNITS.get(tok[1], 1.0) if len(tok) > 1 else 1.0
    try:
        return float(tok[0]) * scale
    except ValueError:
        return 0.0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, leaf: bool = False):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(sid, name, parent, 0.0)
        self.spans.append(sp)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        group = None
        if self.enabled and leaf:
            self._seq += 1
            group = f"perfbench-{os.getpid()}-{self._seq}"
            sc.setJobGroup(group, name)
            n_exec = self._sql_store().executionsCount()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._collect(sp, group, n_exec)

    def self_time(self, sid: int) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == sid)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.spans[sid].duration - covered

    def dump(self) -> list[dict]:
        return [
            {
                "id": i, "name": s.name, "parent": s.parent,
                "start": round(s.start, 6), "end": round(s.end, 6),
                "self_s": round(self.self_time(i), 6), "counters": s.counters,
            }
            for i, s in enumerate(self.spans)
        ]

    # -- Spark status -----------------------------------------------------

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _collect(self, sp: Span, group: str, n_exec_before: int) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        c = {
            "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0, "input_rows": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_records": 0, "spill_disk_bytes": 0, "task_skew": 1.0,
        }
        stage_run: dict[int, float] = {}
        slowest = (-1.0, None)
        for job_id in tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for sid in info.stageIds if info else []:
                if sid in stage_run:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                run_s = sd.executorRunTime() / 1e3
                stage_run[sid] = run_s
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["task_run_s"] += run_s
                c["task_cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["input_bytes"] += sd.inputBytes()
                c["input_rows"] += sd.inputRecords()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_records"] += sd.shuffleWriteRecords()
                c["spill_disk_bytes"] += sd.diskBytesSpilled()
                if run_s > slowest[0]:
                    slowest = (run_s, (sid, sd.attemptId()))
        if slowest[1] is not None:
            gw = sc._gateway
            q = gw.new_array(gw.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summary = store.taskSummary(slowest[1][0], slowest[1][1], q)
            if summary.isDefined():
                dist = summary.get().executorRunTime()
                med, mx = dist.apply(0), dist.apply(1)
                c["task_skew"] = mx / med if med > 0 else 1.0
        c.update(self._sql_counters(n_exec_before, stage_run))
        sp.counters = c

    def _sql_counters(self, n_exec_before: int, stage_run: dict[int, float]) -> dict:
        """Per-operator SQL metrics of the executions the span started."""
        out = {
            "sql.sort_s": 0.0, "sql.agg_s": 0.0, "sql.join_rows_out": 0,
            "kernel.python_rows": 0, "kernel.python_bytes": 0, "kernel.stage_run_s": 0.0,
        }
        store = self._sql_store()
        n_new = store.executionsCount() - n_exec_before
        if n_new <= 0:
            return out
        execs = store.executionsList(n_exec_before, n_new)
        py_stages: set[int] = set()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                nname = node.name()
                python = bool(_PYTHON_NODE.search(nname))
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    got = values.get(metric.accumulatorId())
                    if not got.isDefined():
                        continue
                    text, mname = got.get(), metric.name()
                    if python:
                        py_stages.update(int(s) for s in _STAGE_REF.findall(text))
                    if mname == "number of output rows":
                        if "Join" in nname:
                            out["sql.join_rows_out"] += int(_metric_value(text))
                        elif python:
                            out["kernel.python_rows"] += int(_metric_value(text))
                    elif mname in _SQL_METRICS:
                        key = _SQL_METRICS[mname]
                        if key.startswith("sql.") or python:
                            out[key] += _metric_value(text)
        out["kernel.stage_run_s"] = sum(stage_run.get(s, 0.0) for s in py_stages)
        return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and
    its Python workers), sampled from /proc every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
