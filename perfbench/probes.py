"""What a benchmark run observes besides its own clocks.

- ``Tracer``: in-memory spans (name, start, end, parent, query id) recorded
  around the engine's public functions, which ``Tracer.wrap`` patches from
  outside the engine.
- ``SparkCounters``: job, stage, SQL and Python-crossing metrics read from
  Spark's own status stores for one query's job group. Both stores are
  populated with ``spark.ui.enabled=false``.
- ``RssSampler``: peak resident memory of this process and every process
  under it (the JVM and its Python workers), sampled from ``/proc``.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import threading
import time

_MB = 1024 * 1024


class Tracer:
    """Spans kept in memory until the run writes them out."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.query_id: str | None = None
        self.active = False
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span while the
        tracer is active, also in every engine module that imported the
        function by name."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("datapipeline_ops_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)

    def total(self, name: str, since: int = 0) -> tuple[int, float]:
        """(calls, seconds) of spans called ``name`` recorded at index >= since."""
        hits = [s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name]
        return len(hits), sum(hits)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        self.idx = len(t.spans)
        t.spans.append({"name": self.name, "start": time.perf_counter(), "end": None,
                        "parent": parent, "query": t.query_id})
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.idx]["end"] = time.perf_counter()
        t._stack.pop()
        return False


_SIZE = {"B": 1, "KiB": 1024, "MiB": _MB, "GiB": 1024 * _MB, "TiB": 1024 * 1024 * _MB}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),(\w+)\)")

# SQL metric name -> counter it adds to, for Python/Arrow crossings and file
# sinks. "time to initialize Python workers" is left out: with worker reuse it
# grows with the worker's age (up to 16 s for a 1 s query was seen).
SQL_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "data sent to Python workers": "to_py_bytes",
    "data returned from Python workers": "from_py_bytes",
    "written output": "write_bytes",
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric in seconds, bytes or a count.

    With more than one task Spark renders ``"total (min, med, max ...)\\n<total>
    (<min>, ...)"``; the total is the first value after the newline."""
    m = _VALUE.search(text.rsplit("\n", 1)[-1])
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2) or ""
    if unit in _TIME:
        return number * _TIME[unit]
    return number * _SIZE.get(unit, 1)


class SparkCounters:
    """Reads one query's Spark work from the application status stores."""

    STAGE_FIELDS = {
        "task_s": ("executorRunTime", 1e-3),
        "task_cpu_s": ("executorCpuTime", 1e-9),
        "gc_s": ("jvmGcTime", 1e-3),
        "shuffle_read_bytes": ("shuffleReadBytes", 1),
        "shuffle_write_bytes": ("shuffleWriteBytes", 1),
        "spill_bytes": ("diskBytesSpilled", 1),
        "input_rows": ("inputRecords", 1),
        "failed_tasks": ("numFailedTasks", 1),
    }

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.exec_mark = 0

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def begin(self) -> None:
        """Start a query: SQL executions before this point are not its own."""
        self._drain()
        self.exec_mark = self.sql_store.executionsCount()

    def job_count(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def cached_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())

    def read(self, group: str) -> dict[str, float]:
        """Totals over every job of ``group`` and every SQL execution started
        since ``begin``."""
        self._drain()
        store = self._jsc.statusStore()
        out = dict.fromkeys(["jobs", "stages", "tasks", *self.STAGE_FIELDS, *SQL_METRICS.values()], 0.0)
        stage_ids: set[int] = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            ids = store.job(job_id).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
            for key, (getter, scale) in self.STAGE_FIELDS.items():
                out[key] += getattr(stage, getter)() * scale
        count = self.sql_store.executionsCount()
        if count > self.exec_mark:
            execs = self.sql_store.executionsList(self.exec_mark, count - self.exec_mark)
            for i in range(execs.size()):
                ex = execs.apply(i)
                values = self.sql_store.executionMetrics(ex.executionId())
                # An adaptive re-plan lists a metric again under the same accumulator.
                accs = {int(acc): SQL_METRICS[name] for name, acc, _kind in
                        _PLAN_METRIC.findall(ex.metrics().toString()) if name in SQL_METRICS}
                for acc_id, key in accs.items():
                    value = values.get(acc_id)
                    if not value.isEmpty():
                        out[key] += parse_metric(value.get())
        return out


class RssSampler:
    """Peak summed RSS of this process tree, sampled on a daemon thread."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
        return False

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)


def alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process under ``root`` (default: this process)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root or os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out
