"""Spans around the benchmark's calls into the engine, and a parser that
turns Spark's event log into per-span execution metrics.

Every call the benchmark makes into a layer runs inside ``Tracer.span``,
which tags the Spark jobs it starts with a job group unique to that call.
The same tagging runs with tracing off, so job counts (read from the
status tracker) are available in both modes and tracing adds no job.
With tracing on the session also writes an uncompressed event log;
``parse_event_log`` reads it back after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str          # metric prefix, e.g. "api.search"
    group: str          # Spark job group id, unique per call
    start: float        # epoch seconds
    end: float = 0.0
    jobs: int = 0       # jobs counted by the status tracker

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; one job group per span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str):
        sp = Span(layer, f"{layer}#{len(self.spans)}", time.time())
        self.sc.setJobGroup(sp.group, layer)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.sc.setJobGroup("idle", "idle")
            sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(sp.group))
            self.spans.append(sp)

    def of(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

#: mapInPandas kernels are told apart by a column only their output has
KERNEL_COLUMNS = {"lsh.code": "code_key", "query.route": "part_ham",
                  "crypto.decrypt_score": "distance"}
_PY_TIME = "time to run Python workers"


@dataclass
class GroupStats:
    jobs: list = field(default_factory=list)     # (submit_ms, end_ms)
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    python_ms: dict = field(default_factory=lambda: defaultdict(float))
    executions: dict = field(default_factory=dict)   # sql id -> (action, ms)


def _walk(plan):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def _kernel_of(node) -> str | None:
    if "MapInPandas" not in node.get("nodeName", ""):
        return None
    m = re.search(r"\[([^\]]*)\]", node.get("simpleString", ""))
    out = {re.sub(r"#\d+L?$", "", c.strip()) for c in (m.group(1) if m else "").split(",")}
    for kernel, col in KERNEL_COLUMNS.items():
        if col in out:
            return kernel
    return None


def _action(details: str) -> str:
    m = re.search(r"Dataset\.(\w+)\(", details or "")
    return m.group(1) if m else "other"


def event_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir`` (plain
    or rolling ``eventlog_v2_*`` layout)."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files += [p for p in glob.glob(os.path.join(log_dir, "*"))
              if os.path.isfile(p) and not os.path.basename(p).startswith(".")]
    return sorted(files, key=lambda p: (os.path.dirname(p), _file_index(p)))


def _file_index(path: str) -> int:
    m = re.match(r"events_(\d+)_", os.path.basename(path))
    return int(m.group(1)) if m else 0


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """job group id -> execution metrics of the jobs run in that group."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    acc_kernel: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_action: dict[int, str] = {}
    exec_start: dict[int, int] = {}
    exec_ms: dict[int, int] = {}
    # AQE may log the plan that defines an accumulator after the tasks
    # that updated it, so updates are resolved once the whole log is read
    py_updates: list[tuple[GroupStats, int, float]] = []

    def note_plan(plan):
        for node in _walk(plan):
            kernel = _kernel_of(node)
            if kernel:
                for m in node.get("metrics", []):
                    if m.get("name") == _PY_TIME:
                        acc_kernel[m["accumulatorId"]] = kernel

    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "none"
                    job_group[e["Job ID"]] = g
                    job_submit[e["Job ID"]] = e.get("Submission Time", 0)
                    sql_id = props.get("spark.sql.execution.id")
                    if sql_id is not None:
                        exec_group.setdefault(int(sql_id), g)
                elif kind == "SparkListenerJobEnd":
                    j = e["Job ID"]
                    groups[job_group.get(j, "none")].jobs.append(
                        (job_submit.get(j, 0), e.get("Completion Time", 0)))
                elif kind == "SparkListenerStageSubmitted":
                    props = e.get("Properties") or {}
                    sid = e["Stage Info"]["Stage ID"]
                    g = props.get("spark.jobGroup.id") or "none"
                    stage_group[sid] = g
                    groups[g].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(e["Stage ID"], "none")]
                    tm = e.get("Task Metrics") or {}
                    g.tasks += 1
                    g.run_ms += tm.get("Executor Run Time", 0)
                    g.cpu_ns += tm.get("Executor CPU Time", 0)
                    g.gc_ms += tm.get("JVM GC Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    g.shuffle_read += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                    g.shuffle_write += (tm.get("Shuffle Write Metrics") or {}) \
                        .get("Shuffle Bytes Written", 0)
                    g.spill += (tm.get("Memory Bytes Spilled", 0)
                                + tm.get("Disk Bytes Spilled", 0))
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == _PY_TIME:
                            py_updates.append((g, acc.get("ID"),
                                               _number(acc.get("Update"))))
                elif kind.endswith("SQLExecutionStart"):
                    exec_action[e["executionId"]] = _action(e.get("details"))
                    exec_start[e["executionId"]] = e.get("time", 0)
                    note_plan(e.get("sparkPlanInfo") or {})
                elif kind.endswith("SQLExecutionEnd"):
                    sql_id = e["executionId"]
                    exec_ms[sql_id] = e.get("time", 0) - exec_start.get(sql_id, 0)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    note_plan(e.get("sparkPlanInfo") or {})
    for g, acc_id, value in py_updates:
        kernel = acc_kernel.get(acc_id)
        if kernel:
            g.python_ms[kernel] += value
    for sql_id, g in exec_group.items():
        groups[g].executions[sql_id] = (exec_action.get(sql_id, "other"),
                                        exec_ms.get(sql_id, 0))
    return dict(groups)


def _number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end] intervals."""
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


def driver_ms(span: Span, stats: GroupStats) -> float:
    """Wall time of the call that no Spark job of it accounts for."""
    return max(0.0, span.wall * 1000.0 - union_ms(stats.jobs))
