"""Spans around the benchmark's calls into each layer, and Spark's own
per-job counters attributed to those spans.

A span records name, start, end, parent span and the run it belongs to.
Spans live in memory and are written out once, when the benchmark ends.
Each span sets a Spark job group named after it, so every job Spark
launches inside a span carries the span's id in its properties; the event
log then ties stages, tasks and SQL plan metrics back to spans.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    run_id: int
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.span_id}"


class NullTracer:
    """Tracing off: spans cost one context-manager entry and nothing else."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Records nested spans; tags Spark jobs when given a SparkContext."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.run_id = 0
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, len(self.spans),
                  parent.span_id if parent else None, self.run_id,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent_id is not None:
            kids.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        inner = [(max(c.start, s.start), min(c.end, s.end))
                 for c in kids.get(s.span_id, [])]
        inner = [(a, b) for a, b in inner if b > a]
        out[s.span_id] = s.duration - covered(inner)
    return out


# ------------------------------------------------------------------ #
# Spark event log

#: Python exec nodes -> layer, keyed by node type and the UDF's function
#: name as it appears in the node's plan string.
NODE_LAYERS = (
    ("FlatMapCoGroupsInPandas", r"", "operators.reproject"),
    ("FlatMapGroupsInPandas", r"\b(scatter|densify)_kernel\(",
     "operators.rectify"),
    ("FlatMapGroupsInPandas", r"\bwrite_chunk\(", "sources.zarr"),
    ("FlatMapGroupsInPandas", r"\bkernel\(", "operators.affine"),
    ("MapInPandas", r"\b(decode|fetch)\(", "sources.zarr"),
    ("ArrowEvalPython", r"\b_tr\(", "crs"),
)

PY_METRICS = {
    "time to run Python workers": "python_run",
    "data sent to Python workers": "python_in",
    "data returned from Python workers": "python_out",
    "number of output rows": "rows_out",
}

_UNIT = {"nsTiming": 1e-9, "timing": 1e-3, "size": 1.0, "sum": 1.0}


def node_layer(node_name: str, plan_string: str) -> str | None:
    for kind, pat, layer in NODE_LAYERS:
        if node_name == kind and re.search(pat, plan_string):
            return layer
    return None


@dataclass
class StageStats:
    stage_id: int
    job_group: str | None = None
    parents: tuple = ()
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: float = 0.0
    shuffle_write_records: float = 0.0
    shuffle_read_b: float = 0.0
    fetch_wait_s: float = 0.0
    spill_b: float = 0.0
    layer: str | None = None


class EventLog:
    """Stage, task and SQL-plan facts from one uncompressed event log."""

    def __init__(self, path: str):
        self.stages: dict[int, StageStats] = {}
        # accumulator id -> (layer, metric key, scale, execution id, depth)
        self.py_accs: dict[int, tuple] = {}
        # per stage: accumulator id -> summed task update
        self.stage_accs: dict[int, dict[int, float]] = {}
        self.jobs: dict[int, str | None] = {}
        # stage id -> id of the stage's last RDD; a stage that AQE or a
        # later job re-lists for an already-written shuffle (and skips)
        # shares it with the stage that ran
        self.rdd_key: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))
        self._attribute()

    @staticmethod
    def find(log_dir: str) -> str:
        logs = [os.path.join(log_dir, n) for n in os.listdir(log_dir)
                if not n.startswith(".")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, "
                               f"found {len(logs)}")
        return logs[0]

    def _plan(self, info: dict, exec_id: int, depth: int = 0) -> None:
        layer = node_layer(info.get("nodeName", ""),
                           info.get("simpleString", ""))
        if layer is not None:
            for m in info.get("metrics", []):
                key = PY_METRICS.get(m["name"])
                if key is not None:
                    self.py_accs.setdefault(m["accumulatorId"], (
                        layer, key, _UNIT.get(m.get("metricType"), 1.0),
                        exec_id, depth))
        for child in info.get("children", []):
            self._plan(child, exec_id, depth + 1)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[ev["Job ID"]] = group
            for info in ev.get("Stage Infos", []):
                sid = info["Stage ID"]
                st = self.stages.setdefault(sid, StageStats(sid))
                if st.job_group is None:
                    st.job_group = group
                st.parents = tuple(info.get("Parent IDs", ()))
                rdds = [r["RDD ID"] for r in info.get("RDD Info", [])]
                if rdds:
                    self.rdd_key[sid] = max(rdds)
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(ev["sparkPlanInfo"], ev["executionId"])

    def _task(self, ev: dict) -> None:
        m = ev.get("Task Metrics")
        if not m:
            return
        sid = ev["Stage ID"]
        st = self.stages.setdefault(sid, StageStats(sid))
        st.tasks += 1
        st.run_s += m.get("Executor Run Time", 0) / 1e3
        st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        st.gc_s += m.get("JVM GC Time", 0) / 1e3
        st.spill_b += m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics", {})
        st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
        st.shuffle_write_records += sw.get("Shuffle Records Written", 0)
        sr = m.get("Shuffle Read Metrics", {})
        st.shuffle_read_b += (sr.get("Remote Bytes Read", 0)
                              + sr.get("Local Bytes Read", 0))
        st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
        accs = self.stage_accs.setdefault(sid, {})
        for a in ev.get("Task Info", {}).get("Accumulables", []):
            upd = a.get("Update")
            if isinstance(upd, (int, float)) or (
                    isinstance(upd, str) and upd.lstrip("-").isdigit()):
                accs[a["ID"]] = accs.get(a["ID"], 0.0) + float(upd)

    def stage_py(self, sid: int) -> dict[str, dict[str, float]]:
        """Layer -> python metric totals of the stage (scaled to s/B)."""
        out: dict[str, dict[str, float]] = {}
        for acc, val in self.stage_accs.get(sid, {}).items():
            hit = self.py_accs.get(acc)
            if hit is None:
                continue
            layer, key, scale = hit[:3]
            d = out.setdefault(layer, {})
            d[key] = d.get(key, 0.0) + val * scale
        return out

    def rows_out(self, layer: str, stage_ids) -> float:
        """Rows out of the layer: per SQL execution, the output rows of
        the layer's python node nearest the plan root (rectify's densify
        kernel, not its scatter kernel), summed over executions."""
        top: dict[int, tuple[int, float]] = {}
        for sid in stage_ids:
            for acc, val in self.stage_accs.get(sid, {}).items():
                hit = self.py_accs.get(acc)
                if not hit or hit[0] != layer or hit[1] != "rows_out":
                    continue
                _, _, _, ex, depth = hit
                cur = top.get(ex)
                if cur is None or depth < cur[0]:
                    top[ex] = (depth, val)
                elif depth == cur[0]:
                    top[ex] = (depth, cur[1] + val)
        return sum(v for _, v in top.values())

    def _attribute(self) -> None:
        """A stage belongs to the layer whose python node ran longest in
        it; a stage with no python node (a scan or exchange feeding a
        kernel, or an aggregate after one) takes the layer of the stage
        that consumes its output, else of the stage it reads from."""
        for sid, st in self.stages.items():
            py = self.stage_py(sid)
            if py:
                st.layer = max(py, key=lambda k: py[k].get("python_run", 0))
        ran = {self.rdd_key[sid]: sid for sid, st in self.stages.items()
               if st.tasks and sid in self.rdd_key}

        def canon(sid):
            return ran.get(self.rdd_key.get(sid), sid)

        consumers: dict[int, list[int]] = {}
        for sid, st in self.stages.items():
            st.parents = tuple(canon(p) for p in st.parents)
            for p in st.parents:
                consumers.setdefault(p, []).append(sid)
        for _ in range(len(self.stages)):
            changed = False
            for sid, st in self.stages.items():
                if st.layer is not None:
                    continue
                near = [self.stages[c].layer for c in consumers.get(sid, [])
                        if c in self.stages]
                near = [x for x in near if x] or [
                    self.stages[p].layer for p in st.parents
                    if p in self.stages and self.stages[p].layer]
                if near:
                    st.layer = near[0]
                    changed = True
            if not changed:
                break

    def jobs_in(self, group: str) -> int:
        return sum(1 for g in self.jobs.values() if g == group)

    def stages_in(self, group: str) -> list[StageStats]:
        return [st for st in self.stages.values()
                if st.job_group == group and st.tasks]
