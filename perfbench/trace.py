"""Spans around calls into the engine's modules, and the Spark work under them.

A ``Tracer`` keeps spans in memory: name, start, end, parent, the id of the
operation (cycle, request or query) they belong to, and the Spark job group
set while they ran.  With tracing off every method is a no-op, so the
workloads run the same code either way.

Each span records how many jobs the status tracker saw in its job group.
The fuller Spark counts come from the event log the benchmark's own session
confs turn on (``event_log_confs``).  Jobs and stages carry the job group of
the span that submitted them; jobs a streaming query runs carry its run id
instead and are given to the innermost span open at their submission time.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from perfbench.common import median

SPARK_COUNTS = (
    "jobs",
    "stages",
    "tasks",
    "task_cpu_s",
    "task_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
)


def event_log_confs(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._prefix = f"span-{os.getpid()}-"

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": f"{self._prefix}{sid}",
            "start": time.time(),
        }
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                rec["jobs_in_group"] = len(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
                if prev_group:
                    self.sc.setJobGroup(prev_group, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (module attribute or dict entry) with a spanned call."""
        if not self.enabled:
            return
        is_dict = isinstance(owner, dict)
        fn = owner[attr] if is_dict else getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        if is_dict:
            owner[attr] = traced
        else:
            setattr(owner, attr, traced)

    def attach_spark(self, log_dir: str) -> None:
        """Add Spark counts to every span from the (closed) event log in ``log_dir``."""
        if not self.enabled:
            return
        by_group = {s["group"]: s for s in self.spans}

        def owner(props: dict, t_ms: float):
            s = by_group.get((props or {}).get("spark.jobGroup.id"))
            if s is not None:
                return s
            t = t_ms / 1000.0
            inside = [s for s in self.spans if s["start"] <= t <= s["end"]]
            return max(inside, key=lambda s: s["start"]) if inside else None

        for s in self.spans:
            s["spark"] = dict.fromkeys(SPARK_COUNTS, 0)
        stage_owner: dict[int, dict] = {}
        for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
            if not os.path.isfile(path):
                continue
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        s = owner(ev.get("Properties"), ev.get("Submission Time", 0))
                        if s is not None:
                            s["spark"]["jobs"] += 1
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        s = owner(ev.get("Properties"), info.get("Submission Time", 0))
                        if s is not None:
                            stage_owner[info["Stage ID"]] = s
                            s["spark"]["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        s = stage_owner.get(ev["Stage ID"])
                        m = ev.get("Task Metrics")
                        if s is None or not m:
                            continue
                        c = s["spark"]
                        c["tasks"] += 1
                        c["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                        c["task_run_s"] += m["Executor Run Time"] / 1e3
                        c["gc_s"] += m["JVM GC Time"] / 1e3
                        c["spill_bytes"] += m["Disk Bytes Spilled"]
                        rd = m["Shuffle Read Metrics"]
                        c["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                        c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]

    def finish(self) -> list[dict]:
        """Spans in start order, each with its duration, self time and subtree Spark totals."""
        spans = sorted(self.spans, key=lambda s: (s["start"], s["id"]))
        children: dict[int, list[dict]] = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)
        for s in reversed(spans):
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - covered(s, children.get(s["id"], []))
            if "spark" in s:
                total = dict(s["spark"])
                for c in children.get(s["id"], []):
                    for k in SPARK_COUNTS:
                        total[k] += c["spark_total"][k]
                s["spark_total"] = total
        return spans


def covered(span: dict, kids: list[dict]) -> float:
    """Seconds of ``span`` covered by the union of its children's intervals."""
    total, reach = 0.0, span["start"]
    for k in sorted(kids, key=lambda k: k["start"]):
        lo, hi = max(k["start"], reach), min(k["end"], span["end"])
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def spark_layers(spans: list[dict], op_name: str, ops: set[str], cores: int) -> dict[str, float]:
    """Per-operation medians of the Spark work under each ``op_name`` span of ``ops``."""
    per_op = [s for s in spans if s["name"] == op_name and s["op"] in ops]
    out = {f"spark.{k}": median([s["spark_total"][k] for s in per_op]) for k in SPARK_COUNTS}
    out["spark.cpu_ratio"] = median(
        [s["spark_total"]["task_cpu_s"] / (s["dur_s"] * cores) for s in per_op]
    )
    return out
