"""Spans around calls into the engine's layers, and Spark task counters
folded onto them from the event log.

A span is recorded by replacing a module (or class) attribute with a
wrapper for the duration of a traced op, so the engine's code runs
unchanged and only the lookups it already makes are intercepted. Each
span runs its Spark jobs under its own job group; after the session
stops, ``fold_event_log`` reads the event log and sums each group's task
metrics onto the span that owned it.

A *lazy* layer only builds a plan and returns; the action that runs the
plan happens later in its caller. Its span therefore stays open after
the call returns and ends when the next sibling span starts (or its
parent ends), so it covers the plan build plus whatever the caller
does with the plan before calling the next layer, and the Spark jobs
started in that interval count against it.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import time
from collections import defaultdict
from typing import Callable, Dict, List, Optional, Tuple

# (module, attribute path, span name, lazy)
LAYERS: List[Tuple[str, str, str, bool]] = [
    ("schema_inference_spark.pipeline", "validate", "pipeline.validate", False),
    ("schema_inference_spark.sources.catalog", "SnapshotCatalog.pending_partitions",
     "catalog.pending", False),
    ("schema_inference_spark.sources.catalog", "SnapshotCatalog.append_violations",
     "catalog.append_violations", False),
    ("schema_inference_spark.sources.catalog", "SnapshotCatalog.read_violations",
     "catalog.read_violations", False),
    ("schema_inference_spark.sources.catalog", "SnapshotCatalog.append_audit",
     "catalog.append_audit", False),
    ("schema_inference_spark.operators.infer", "snapshot_census",
     "infer.census", False),
    ("schema_inference_spark.pipeline", "infer_snapshot", "infer.states", False),
    ("schema_inference_spark.operators.infer", "finalize_infer",
     "infer.finalize", False),
    ("schema_inference_spark.operators.checks", "check_rowlevel_fused",
     "checks.fused", True),
    ("schema_inference_spark.operators.clustered", "check_rowlevel_clustered",
     "clustered.check", False),
    # the length of its result is the clustered.splits count
    ("schema_inference_spark.operators.clustered", "_plan_splits",
     "clustered.plan_splits", False),
]

ROOT_SPAN = "pipeline.validate"


class Tracer:
    """Keeps spans in memory; ``install``/``uninstall`` swap the wrappers
    in and out so untraced ops run the engine's own functions."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: List[Dict] = []
        self._stack: List[int] = []     # indices of open (non-lazy) spans
        self._lazy: Dict[Optional[int], int] = {}  # parent -> open lazy span
        self._saved: List[Tuple[object, str, object]] = []
        self.op_id: Optional[int] = None

    # -- wrappers -------------------------------------------------------------

    def install(self) -> None:
        for mod_name, attr, name, lazy in LAYERS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(orig, name, lazy))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved.clear()

    def _wrap(self, fn: Callable, name: str, lazy: bool) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.op_id is None:
                return fn(*args, **kwargs)
            idx = self._open(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                self._close(idx)
                raise
            if name == "clustered.plan_splits":
                self.spans[idx]["count"] = len(out)
            if lazy:
                self._stack.pop()
                self._lazy[self.spans[idx]["parent"]] = idx
            else:
                self._close(idx)
            return out
        return wrapper

    def _set_group(self, idx: Optional[int]) -> None:
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self.spans[idx]["group"],
                                self.spans[idx]["name"])

    def _end_lazy(self, parent: Optional[int], now: float) -> None:
        idx = self._lazy.pop(parent, None)
        if idx is not None:
            self.spans[idx]["end"] = now

    def _open(self, name: str) -> int:
        now = time.monotonic()
        parent = self._stack[-1] if self._stack else None
        self._end_lazy(parent, now)
        idx = len(self.spans)
        self.spans.append({"name": name, "start": now, "end": None,
                           "parent": parent, "op": self.op_id,
                           "group": f"pb-{self.op_id}-{idx}"})
        self._stack.append(idx)
        self._set_group(idx)
        return idx

    def _close(self, idx: int) -> None:
        now = time.monotonic()
        self._end_lazy(idx, now)
        self.spans[idx]["end"] = now
        self._stack.remove(idx)
        self._set_group(self._stack[-1] if self._stack else None)

    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id

    def end_op(self) -> None:
        now = time.monotonic()
        self._end_lazy(None, now)
        self.op_id = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- Spark event log ---------------------------------------------------------

COUNTERS = ["cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
            "fetch_wait_s", "spill_bytes", "tasks", "task_skew",
            "failed_tasks"]


def _event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    return os.path.join(log_dir, files[0])


def fold_event_log(log_dir: str) -> Dict[str, Dict[str, float]]:
    """{job group -> Spark counters} summed over the tasks of every stage
    the group's jobs ran. ``task_skew`` is the largest max/median task
    time over the group's stages with at least two tasks."""
    stage_group: Dict[int, str] = {}
    stage_tasks: Dict[int, List[float]] = defaultdict(list)
    sums: Dict[str, Dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(COUNTERS, 0.0))
    task_events = []
    with open(_event_log_file(log_dir)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                task_events.append(ev)
    for ev in task_events:
        group = stage_group.get(ev["Stage ID"])
        if group is None:
            continue
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        s = sums[group]
        s["tasks"] += 1
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        s["failed_tasks"] += int(bool(info.get("Failed")) or reason != "Success")
        s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        s["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        s["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        stage_tasks[ev["Stage ID"]].append(float(dur))
    for sid, durs in stage_tasks.items():
        if len(durs) < 2:
            continue
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
        s = sums[stage_group[sid]]
        s["task_skew"] = max(s["task_skew"], skew)
    return dict(sums)


def self_time(spans: List[Dict], idx: int) -> float:
    """Span duration minus the part of it covered by its child spans."""
    s = spans[idx]
    kids = sorted((c["start"], c["end"]) for c in spans
                  if c["parent"] == idx and c["end"] is not None)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in kids:
        a, b = max(a, s["start"]), min(b, s["end"])
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (s["end"] - s["start"]) - covered
