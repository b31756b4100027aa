"""Tracing from outside the library.

Spans wrap each call the benchmark makes into a layer's public functions.
Every span tags its Spark jobs with a job group of its own, so that
``statusTracker()`` counts and the Spark event log (stage and task metrics)
can be attributed to the span afterwards. Nothing inside the library is
changed; spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

GROUP_PREFIX = "perfbench-"


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.op = "setup"  # operation id shared by the spans of one operation
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Yields the span record (None when disabled), so the caller can
        annotate it, e.g. with the number of result rows."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"{GROUP_PREFIX}{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def patch(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` in a span, so that calls the library makes
        to its own public functions (``build_index`` calling
        ``build_one_batch``) get spans too. Undone by :meth:`unpatch`."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapped)
        self._patched.append((module, attr, orig))

    def unpatch(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def attach_counts(self) -> None:
        """Jobs, stages and tasks per span, from ``statusTracker()``,
        including those of the span's child spans. Stages count once per
        span even when several of its jobs list them; skipped stages (no
        completed task) do not count."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stage_tasks = {}
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si is not None and si.numCompletedTasks:
                        stage_tasks[s] = si.numCompletedTasks
            rec.update(
                jobs=len(jobs),
                stages=len(stage_tasks),
                tasks=sum(stage_tasks.values()),
            )
        for rec in reversed(self.spans):  # children come after their parent
            if rec["parent"] is not None:
                parent = self.spans[rec["parent"]]
                for k in ("jobs", "stages", "tasks"):
                    parent[k] += rec[k]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer (the span name up to its first dot) not covered
    by the span's children."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
    return out


# --- Spark event log ----------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir`` (plain or
    rolling ``eventlog_v2_*`` layout, uncompressed)."""
    events = []
    for root, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            with open(os.path.join(root, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _new_stage(sid: int) -> dict:
    return {
        "stage": sid, "group": None, "execution": None, "job": None,
        "task_s": [], "gc_s": 0.0, "input_bytes": 0, "input_records": 0,
        "shuffle_read": 0, "shuffle_write": 0, "output_bytes": 0, "spill": 0,
    }


def stage_table(events: list[dict]) -> dict[int, dict]:
    """Per stage: the job group and SQL execution of the job that first
    ran it, task run times, and byte and record counts summed over tasks."""
    stages: dict[int, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            execution = props.get("spark.sql.execution.id")
            for sid in e.get("Stage IDs", ()):
                st = stages.setdefault(sid, _new_stage(sid))
                if st["job"] is None:
                    st["job"] = e["Job ID"]
                    st["group"] = props.get("spark.jobGroup.id")
                    st["execution"] = int(execution) if execution is not None else None
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            st = stages.setdefault(e["Stage ID"], _new_stage(e["Stage ID"]))
            st["task_s"].append(m.get("Executor Run Time", 0) / 1000)
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000
            inp = m.get("Input Metrics") or {}
            st["input_bytes"] += inp.get("Bytes Read", 0)
            st["input_records"] += inp.get("Records Read", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return stages


def stages_by_group(stages: dict[int, dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for st in stages.values():
        if st["group"] is not None and st["task_s"]:
            out.setdefault(st["group"], []).append(st)
    return out


def executor_peaks(events: list[dict]) -> dict[str, float]:
    """Peak executor metrics (JVM heap, Python worker RSS, cumulative GC
    time) over every metrics record in the log."""
    keys = ("JVMHeapMemory", "ProcessTreePythonRSSMemory", "TotalGCTime")
    peak = dict.fromkeys(keys, 0)

    def take(metrics):
        for k in keys:
            peak[k] = max(peak[k], (metrics or {}).get(k, 0))

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerExecutorMetricsUpdate":
            for upd in e.get("Executor Metrics Updated", ()):
                take(upd.get("Executor Metrics"))
        elif kind == "SparkListenerStageExecutorMetrics":
            take(e.get("Executor Metrics"))
        elif kind == "SparkListenerTaskEnd":
            take(e.get("Task Executor Metrics"))
    return peak


def build_roles(stages: list[dict]) -> dict[str, list[dict]]:
    """Split the stages of one ``build_one_batch`` call into its phases.

    The segment write is the SQL execution with a stage that writes output:
    its shuffle-writing stage is the map side (tokenize, pack, combine) and
    its output-writing stage the reduce side (merge, encode, write). SQL
    executions before it are the heavy-term sample; those after it are the
    manifest read-back and counts."""
    writes = [s["execution"] for s in stages if s["output_bytes"] > 0]
    if not writes:
        return {"sample": [], "map": [], "reduce": [], "other": stages}
    w = min(writes)
    roles: dict[str, list[dict]] = {"sample": [], "map": [], "reduce": [], "other": []}
    for s in stages:
        if s["execution"] is not None and s["execution"] < w:
            roles["sample"].append(s)
        elif s["execution"] == w and s["output_bytes"] > 0:
            roles["reduce"].append(s)
        elif s["execution"] == w and s["shuffle_write"] > 0:
            roles["map"].append(s)
        else:
            roles["other"].append(s)
    return roles


def query_roles(stages: list[dict]) -> dict[str, list[dict]]:
    """Split the stages of one query's ``.collect()``: stages that read no
    shuffle are the producing side (segment scan and bucket splitter, or
    the serving kernel over cached buckets), stages that read one are the
    consuming side (the scoring kernel, or the top-k merge)."""
    return {
        "produce": [s for s in stages if s["shuffle_read"] == 0 and s["shuffle_write"] > 0],
        "consume": [s for s in stages if s["shuffle_read"] > 0],
    }


def task_seconds(stages: list[dict]) -> float:
    return sum(sum(s["task_s"]) for s in stages)


def skew(stages: list[dict]) -> float:
    """Slowest task over the median task, across the given stages."""
    ts = [t for s in stages for t in s["task_s"]]
    med = statistics.median(ts) if ts else 0.0
    return max(ts) / med if med > 0 else 1.0
