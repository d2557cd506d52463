"""Benchmark-side tracing: spans around calls into each layer, Spark job
groups read back through ``statusTracker``, task metrics from the event log,
and peak memory from ``/proc``.

Spans are kept in memory and written out once, when the run ends. A span is
``(op, id, parent, name, start, end)``; the spans of one operation share
``op``. The layer of a span is its name up to the first dot.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Spans and job groups for traced operations; free for untraced ones."""

    def __init__(self, sc=None):
        self.sc = sc  # SparkContext whose jobs are grouped; None disables groups
        self.spans: list[dict] = []
        self.ops: dict[int, str] = {}  # traced op id -> op kind
        self._stack: list[int] = []
        self._op: int | None = None

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str, traced: bool = True):
        """Root span of one operation; its Spark jobs go into one job group."""
        if not traced:
            yield
            return
        self._op = op_id
        self.ops[op_id] = kind
        if self.sc is not None:
            self.sc.setJobGroup(f"op{op_id}", kind)
        try:
            with self.span(f"bench.{kind}"):
                yield
        finally:
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None):
        """A span under the innermost open one (a root span if none is open)."""
        op = self._op if op_id is None else op_id
        if op is None:
            yield
            return
        sid = len(self.spans)
        rec = {
            "op": op,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
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

    def self_times(self) -> dict[int, dict[str, float]]:
        """Per traced op: each layer's time not covered by child spans."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            # root spans outside an operation's own span (routing the
            # benchmark times for its oracle) are not part of the operation
            outside = s["parent"] is None and not s["name"].startswith("bench.")
            if s["op"] not in self.ops or outside:
                continue
            covered = _union_length(
                [(c["start"], c["end"]) for c in children[s["id"]]]
            )
            layer = s["name"].split(".", 1)[0]
            out[s["op"]][layer] += (s["end"] - s["start"]) - covered
        return out

    def job_counts(self, timeout_s: float = 10.0) -> dict[int, dict[str, int]]:
        """Jobs, stages and tasks per traced op, from the status tracker.

        Listener events arrive asynchronously, so this waits (bounded) until
        every grouped job has finished before counting."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = {
                op: [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(f"op{op}")]
                for op in self.ops
            }
            done = all(
                info is not None and info.status in ("SUCCEEDED", "FAILED")
                for infos in jobs.values()
                for info in infos
            )
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        out = {}
        for op, infos in jobs.items():
            stages = {sid for info in infos if info for sid in info.stageIds}
            ran = [tracker.getStageInfo(sid) for sid in stages]
            ran = [st for st in ran if st is not None and st.numCompletedTasks > 0]
            out[op] = {
                "jobs": len(infos),
                "stages": len(ran),
                "tasks": sum(st.numCompletedTasks for st in ran),
            }
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"ops": self.ops, "spans": self.spans, **extra}, fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for an uncompressed event log under ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",  # one file per application
    }


def event_log_task_metrics(log_dir: str, app_id: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group, read from a finished event log."""
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not paths:
        return {}
    stage_group: dict[int, str] = {}
    sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                s = sums[group]
                s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return sums


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each live process, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total_kb / 1024.0
