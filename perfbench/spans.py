"""Spans recorded around calls into the engine, and the Spark task metrics
of each span read back from Spark's event log.

Every span tags the jobs it starts with ``sc.setJobGroup(span_id, name)``.
Spark writes the group into the properties of each stage it submits, so after
the session stops the event log tells, per span: task run time, CPU, GC,
shuffle read/write, spill, records, and the Python-worker metrics Spark keeps
for ``mapInPandas``/``applyInPandas`` stages.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans kept in memory, written once at exit. Disabled, it costs one
    generator step per call and tags nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = f"s{self._next}"
        self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "start": time.time(),
            **attrs,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(sid, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")

    def self_times(self) -> dict[str, float]:
        """span id -> duration minus the part its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}


def _get(m: dict, *path: str) -> float:
    for key in path:
        m = m.get(key) or {}
    return float(m or 0)


_TASK_FIELDS = {
    "run_s": lambda m: _get(m, "Executor Run Time") / 1e3,
    "cpu_s": lambda m: _get(m, "Executor CPU Time") / 1e9,
    "gc_s": lambda m: _get(m, "JVM GC Time") / 1e3,
    "shuffle_read_mb": lambda m: (
        _get(m, "Shuffle Read Metrics", "Local Bytes Read")
        + _get(m, "Shuffle Read Metrics", "Remote Bytes Read")
    ) / 2**20,
    "shuffle_read_records": lambda m: _get(m, "Shuffle Read Metrics", "Total Records Read"),
    "shuffle_write_mb": lambda m: _get(m, "Shuffle Write Metrics", "Shuffle Bytes Written") / 2**20,
    "shuffle_write_records": lambda m: _get(m, "Shuffle Write Metrics", "Shuffle Records Written"),
    "spill_mb": lambda m: (_get(m, "Memory Bytes Spilled") + _get(m, "Disk Bytes Spilled")) / 2**20,
    "input_records": lambda m: _get(m, "Input Metrics", "Records Read"),
}
_PYTHON_ACCUMS = {
    "time to run Python workers": ("python_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("arrow_in_mb", 2.0**-20),
    "data returned from Python workers": ("arrow_out_mb", 2.0**-20),
}


def read_eventlog(log_dir: Path) -> dict[str, dict]:
    """job group -> summed task and Python metrics of its stages, plus
    ``jobs``, ``tasks``, ``busy_python_tasks`` (tasks of a Python stage that
    read at least one shuffled record) and ``scan_stage_s`` (wall time of
    the stages that read table input)."""
    files = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    python_stage: dict[int, dict] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_wall: dict[int, float] = {}
    with files[0].open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    groups[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                stage_tasks[ev["Stage ID"]].append(ev["Task Metrics"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stage_wall[info["Stage ID"]] = (
                    info.get("Completion Time", 0) - info.get("Submission Time", 0)
                ) / 1e3
                acc = defaultdict(float)
                for a in info.get("Accumulables", []):
                    if a.get("Name") in _PYTHON_ACCUMS:
                        key, scale = _PYTHON_ACCUMS[a["Name"]]
                        acc[key] += float(a.get("Value") or 0) * scale
                if acc:
                    python_stage[info["Stage ID"]] = acc
    for sid, g in stage_group.items():
        out = groups[g]
        if sum(_get(m, "Input Metrics", "Records Read") for m in stage_tasks.get(sid, [])):
            out["scan_stage_s"] += stage_wall.get(sid, 0.0)
        for m in stage_tasks.get(sid, []):
            out["tasks"] += 1
            for key, fn in _TASK_FIELDS.items():
                out[key] += fn(m)
            if sid in python_stage and _get(m, "Shuffle Read Metrics", "Total Records Read") > 0:
                out["busy_python_tasks"] += 1
        for key, v in python_stage.get(sid, {}).items():
            out[key] += v
    return {g: dict(v) for g, v in groups.items()}


def layer_rows(tracer: Tracer, by_group: dict[str, dict]) -> dict[str, dict]:
    """layer name -> calls, median self time per call, and every event-log
    metric summed over the layer's spans then divided by its calls."""
    self_t = tracer.self_times()
    acc: dict[str, dict] = {}
    for s in tracer.spans:
        row = acc.setdefault(s["name"], {"calls": 0, "self": [], "sums": defaultdict(float)})
        row["calls"] += 1
        row["self"].append(self_t[s["id"]])
        for key, v in by_group.get(s["id"], {}).items():
            row["sums"][key] += v
    out = {}
    for name, row in acc.items():
        n = row["calls"]
        out[name] = {
            "calls": n,
            "self_s": statistics.median(row["self"]),
            "self_mean_s": statistics.fmean(row["self"]),
            **{f"{k}_per_call": v / n for k, v in sorted(row["sums"].items())},
        }
    return out
