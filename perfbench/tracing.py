"""Spans, and counters read from outside the engine.

Spans are recorded only around the benchmark's own calls into the
engine's public functions. A span's name is ``<layer>.<call>``; spans of
one benchmark operation share a request id. They stay in memory and are
written once, when the run ends.

Engine counters come from Spark itself (the status store and the
executed physical plan) and process counters from ``/proc``; the engine
is not asked to count anything.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

_NULL = nullcontext()
OP_GROUP = "op"  # Spark job group of the timed part of an operation


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_req = 0

    def span(self, name: str, request: bool = False):
        """Context manager timing ``name``; ``request=True`` opens a new
        request id, otherwise the span joins its parent's request."""
        if not self.enabled:
            return _NULL
        return self._span(name, request)

    @contextmanager
    def _span(self, name: str, request: bool):
        parent = self._stack[-1] if self._stack else None
        if request or parent is None:
            req = self._next_req
            self._next_req += 1
        else:
            req = self.spans[parent]["req"]
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "req": req, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> tuple[float, int]:
        """(summed seconds, count) of the spans called ``name``."""
        ds = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return sum(ds), len(ds)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_seconds(spans: list[dict]) -> dict[str, float]:
    """Per layer: time of ``spans`` minus the time their child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"].split(".", 1)[0]] += s["end"] - s["start"] - child[s["id"]]
    return dict(out)


# --- Spark's status store ---------------------------------------------------


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((j.jobId() for j in _seq(jobs)), default=-1)


def _in_group(job, group: str) -> bool:
    g = job.jobGroup()
    return g.isDefined() and g.get() == group


def spark_counters(spark, after_job: int) -> dict[str, float]:
    """Jobs, tasks run and shuffle bytes written by the timed-operation jobs
    (job group ``OP_GROUP``) with id greater than ``after_job``, from
    Spark's status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [j for j in _seq(store.jobsList(None)) if j.jobId() > after_job and _in_group(j, OP_GROUP)]
    stage_ids = {int(s) for j in jobs for s in _seq(j.stageIds())}
    shuffle = sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in stage_ids)
    return {
        "jobs": float(len(jobs)),
        "tasks": float(sum(j.numCompletedTasks() for j in jobs)),
        "shuffle_write_bytes": float(shuffle),
    }


# --- the executed physical plan ---------------------------------------------


def plan_nodes(df) -> list:
    """Every node of ``df``'s executed plan, looking through adaptive
    query stages and reused exchanges."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(n.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(n.plan())
            continue
        out.append(n)
        stack.extend(_seq(n.children()))
    return out


def _metric(node, key: str) -> int:
    m = node.metrics().get(key)
    return int(m.get().value()) if m.isDefined() else 0


def scan_stats(df) -> dict:
    """Rows produced by the parquet scans of an executed query, and
    whether any scan carried bbox comparisons in its PushedFilters."""
    rows, pushed = 0, False
    for n in plan_nodes(df):
        if not n.nodeName().startswith("Scan parquet"):
            continue
        rows += _metric(n, "numOutputRows")
        pf = n.metadata().get("PushedFilters")
        if pf.isDefined() and "bbox.xmin" in pf.get():
            pushed = True
    return {"scan_rows": rows, "bbox_pushed": pushed}


def generate_rows(df) -> int:
    """Rows emitted by explode (Generate) nodes: the PBSM cell fan-out."""
    return sum(_metric(n, "numOutputRows") for n in plan_nodes(df) if n.nodeName() == "Generate")


# --- /proc -------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
        return -1


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (the JVM's Python workers)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            children[_ppid(int(d))].append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def peak_rss_mb(jvm_pid: int, slots: int) -> float:
    """High-water resident set of the JVM, the Python worker daemon and the
    ``slots`` largest Python workers (one per task slot). Idle extra
    workers the daemon happens to keep are left out: their number varies
    from run to run with task timing, not with the work."""
    below = descendants(jvm_pid)
    daemon = [p for p in below if _ppid(p) == jvm_pid]
    workers = sorted((_status_kb(p, "VmHWM") for p in below if p not in daemon), reverse=True)
    return (sum(_status_kb(p, "VmHWM") for p in [jvm_pid, *daemon]) + sum(workers[:slots])) / 1024.0
