"""Per-layer tracing of a benchmark run, recorded from outside the program.

Nothing here changes the engine. The tracer
- records spans (name, start, end, parent; one trace id per op) around the
  benchmark's calls into each layer and around the engine's public
  `sources.*` functions, which it wraps at run time;
- counts py4j commands by wrapping the gateway client's `send_command`;
- reads Spark's own status stores for the jobs, stages, tasks and SQL plan
  metrics of each op, found through a job group unique to the (pass, op).

Counting rule for `py4j_calls`: the number of `send_command` calls the
driver's main thread makes on the py4j gateway client while the op's
query function builds its DataFrame (the `construct` span). Calls from
other threads and from the benchmark itself are not counted.
"""

from __future__ import annotations

import functools
import re
import threading
import time
from contextlib import contextmanager

# Public functions of `sources.delta_interop` timed as spans, by layer.
# `metadata` is the log replay that resolves a version's live files.
SOURCE_FUNCS = {
    "sources": ("write_delta", "merge_delta", "read_delta", "read_delta_cdf"),
    "metadata": ("delta_live_files",),
}

# Spans whose self time is reported, by the layer they time.
LAYERS = ("op", "construct", "plan", "execute", "sources", "metadata")

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_LABEL = re.compile(r'label="(.*?)" tooltip=')
_PY_ROWS = re.compile(r"number of output rows: ([\d,]+)")


def _py_bytes(label: str, metric: str) -> float:
    # One task prints "name: 1.2 KiB"; several print "name total (min, med,
    # max ...)<br>1.2 KiB (...)".
    m = re.search(re.escape(metric) + r"(?:: | total[^<]*<br>)([\d.,]+) (B|KiB|MiB|GiB|TiB)", label)
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


def python_boundary(dot: str) -> dict:
    """Rows and Arrow bytes crossing the JVM/Python boundary, summed over the
    Python nodes (mapInPandas, Arrow UDFs, Python data sources) of one SQL
    execution's plan graph, as Spark's SQL status store formats them."""
    out = {"python_rows": 0, "arrow_bytes_to_python": 0.0, "arrow_bytes_from_python": 0.0}
    for label in _LABEL.findall(dot):
        if "Python workers" not in label:
            continue
        rows = _PY_ROWS.search(label)
        out["python_rows"] += int(rows.group(1).replace(",", "")) if rows else 0
        out["arrow_bytes_to_python"] += _py_bytes(label, "data sent to Python workers")
        out["arrow_bytes_from_python"] += _py_bytes(label, "data returned from Python workers")
    return out


class Tracer:
    """Spans and counters of one traced run. Recording is on only while an
    op is open (`op()`), so the benchmark's own bookkeeping is not traced."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace_id: str | None = None
        self._main = threading.get_ident()
        self.py4j_calls = 0
        self._install_py4j_counter()
        self._install_wrappers()

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if self._trace_id is None:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "trace": self._trace_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, trace_id: str):
        self._trace_id = trace_id
        try:
            with self.span("op"):
                yield
        finally:
            self._trace_id = None

    def self_times(self, trace_ids: set[str]) -> dict[str, float]:
        """Self time per layer over the given ops: each span's duration
        minus the part of it its child spans cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and s["trace"] in trace_ids:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            if s["trace"] in trace_ids:
                layer = s["name"].split(".")[0]
                out[layer] += s["end"] - s["start"] - child.get(s["id"], 0.0)
        return out

    # -- instrumentation ---------------------------------------------------

    def _install_py4j_counter(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def send_command(*args, **kwargs):
            if self._trace_id is not None and threading.get_ident() == self._main:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = send_command

    def _wrap(self, owner, name: str, layer: str) -> None:
        fn = getattr(owner, name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(f"{layer}.{name}"):
                return fn(*args, **kwargs)

        setattr(owner, name, traced)

    def _install_wrappers(self) -> None:
        from atlas_migration_repo_spark.sources import delta_interop

        for layer, names in SOURCE_FUNCS.items():
            for n in names:
                self._wrap(delta_interop, n, layer)

    # -- status stores -----------------------------------------------------

    def last_execution_id(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    def job_stats(self, group: str, construct_jobs: set[int], timeout: float = 10.0) -> dict:
        """Stage metrics summed over the op's job group, once every job in it
        has finished in the status store. `exec_task_run_s` counts only the
        jobs of the final action (those not launched while constructing)."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            infos = [tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.01)
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "input_rows",
             "input_bytes", "shuffle_write_bytes", "spill_bytes", "exec_task_run_s"),
            0,
        )
        out["jobs"] = len(jobs)
        seen: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info is not None else ():
                if s in seen:
                    continue
                seen.add(s)
                sd = store.lastStageAttempt(s)
                if sd.status().toString() == "SKIPPED":
                    continue
                run_s = sd.executorRunTime() / 1e3
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_run_s"] += run_s
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["input_rows"] += sd.inputRecords()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                if j not in construct_jobs:
                    out["exec_task_run_s"] += run_s
        return out

    def python_stats(self, after_execution: int) -> dict:
        """Python/Arrow boundary metrics of the SQL executions that started
        after `after_execution`."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        total = python_boundary("")
        for eid in range(after_execution + 1, self.last_execution_id() + 1):
            if not store.execution(eid).isDefined():
                continue
            dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
            for k, v in python_boundary(dot).items():
                total[k] += v
        return total
