"""Spans around the benchmark's calls into the engine, and the Spark event
log read back per span.

A span is (id, parent, name, start, end). Entering a span also makes it the
Spark job group of the calling thread, so every job, task and SQL execution
the call triggers carries the span id in the event log; ``read_event_log``
folds the log into per-span task and SQL-metric totals afterwards. Spans are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from collections import defaultdict

# SQL metrics by the names the event log gives them: Spark 4.1's
# PythonSQLMetrics, and two of the file scan's.
PY_BOOT = "time to start Python workers"        # ms
PY_INIT = "time to initialize Python workers"   # ms
PY_TOTAL = "time to run Python workers"         # ms
PY_SENT = "data sent to Python workers"         # bytes
PY_RECV = "data returned from Python workers"   # bytes
FILES_READ = "number of files read"
FILE_BYTES = "size of files read"               # bytes


class Tracer:
    """Records spans; ``enabled=False`` makes every span a no-op."""

    def __init__(self, spark_context, enabled: bool):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wall(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def ids(self, name: str) -> list[int]:
        return [s["id"] for s in self.spans if s["name"] == name]


class SpanStats:
    """Task and SQL-metric totals of the jobs one span triggered."""

    def __init__(self):
        self.task_run_ms: list[int] = []
        self.shuffle_write_bytes = 0
        self.sql: dict[str, float] = defaultdict(float)
        self.python_nodes = 0

    def skew(self) -> float:
        """Slowest task over the median task (executor run time)."""
        if not self.task_run_ms:
            return 0.0
        med = statistics.median(self.task_run_ms)
        return max(self.task_run_ms) / med if med > 0 else 0.0


def _plan_walk(node, acc_names: dict, python_nodes: list):
    n_py = 0
    for m in node.get("metrics", []):
        acc_names[m["accumulatorId"]] = m["name"]
        if m["name"] == PY_TOTAL:
            n_py = 1
    python_nodes[0] += n_py
    for c in node.get("children", []):
        _plan_walk(c, acc_names, python_nodes)


def read_event_log(log_dir: str) -> dict[int, SpanStats]:
    """{span id -> SpanStats} from the (uncompressed) event logs in
    ``log_dir``. Jobs outside any span are ignored."""
    events = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    acc_names: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith("span-"):
                sid = int(group[5:])
                for st in e["Stage IDs"]:
                    stage_span[st] = sid
                ex = e["Properties"].get("spark.sql.execution.id")
                if ex is not None:
                    exec_span[int(ex)] = sid
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            final_plan[e["executionId"]] = e["sparkPlanInfo"]
            _plan_walk(e["sparkPlanInfo"], acc_names, [0])
    stats: dict[int, SpanStats] = defaultdict(SpanStats)
    for ex, plan in final_plan.items():
        if ex in exec_span:
            count = [0]
            _plan_walk(plan, {}, count)
            stats[exec_span[ex]].python_nodes += count[0]
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            if sid is None or "Task Metrics" not in e:
                continue
            s = stats[sid]
            tm = e["Task Metrics"]
            s.task_run_ms.append(tm["Executor Run Time"])
            s.shuffle_write_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    s.sql[acc["Name"]] += float(acc["Update"])
        elif kind.endswith("DriverAccumUpdates"):
            sid = exec_span.get(e["executionId"])
            if sid is None:
                continue
            for acc_id, value in e["accumUpdates"]:
                name = acc_names.get(acc_id)
                if name is not None:
                    stats[sid].sql[name] += float(value)
    return stats


def merge(stats: dict[int, SpanStats], ids: list[int]) -> SpanStats:
    """One SpanStats over several spans."""
    out = SpanStats()
    for i in ids:
        s = stats.get(i)
        if s is None:
            continue
        out.task_run_ms += s.task_run_ms
        out.shuffle_write_bytes += s.shuffle_write_bytes
        out.python_nodes += s.python_nodes
        for k, v in s.sql.items():
            out.sql[k] += v
    return out
