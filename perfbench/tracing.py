"""Spans around the package's layer functions, and per-op Spark engine
statistics read back from Spark's event log.

Wrappers are installed from the benchmark's own files: each target
function is replaced in every loaded package module that holds it,
so modules that imported the function by name are traced too. Spans
(name, start, end, parent) stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time
from bisect import bisect_right
from pathlib import Path

from harness import PACKAGE


class NullTracer:
    enabled = False

    def span(self, name, **attrs):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self):
        # [name, start, end, parent index, attrs]; start/end are epoch
        # seconds so they line up with Spark's event-log timestamps
        self.spans: list[list] = []
        self._open: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name, **attrs):
        # One shared stack: the closed loop keeps one op in flight, and a
        # foreachBatch callback runs on another thread while the op's own
        # thread waits, so the innermost open span is its parent.
        with self._lock:
            idx = len(self.spans)
            parent = self._open[-1] if self._open else None
            self.spans.append([name, time.time(), None, parent, attrs])
            self._open.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx][2] = time.time()
                self._open.remove(idx)

    def install(self, targets) -> None:
        """Wrap ``module.attr`` for each ``(module, attr, span)`` target,
        in every package module that holds the same function object."""
        for modname, attr, name in targets:
            orig = getattr(importlib.import_module(modname), attr)
            wrapper = self._wrap(orig, name)
            for mod in list(sys.modules.values()):
                if (
                    getattr(mod, "__name__", "").startswith(PACKAGE)
                    and getattr(mod, attr, None) is orig
                ):
                    setattr(mod, attr, wrapper)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- queries over recorded spans -------------------------------------

    def spans_named(self, name: str, within=None) -> list[list]:
        out = [s for s in self.spans if s[0] == name and s[2] is not None]
        if within is not None:
            out = [s for s in out if within[0] <= s[1] and s[2] <= within[1]]
        return out

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        _n, start, end, _p, _a = self.spans[idx]
        kids = sorted(
            (s[1], s[2]) for s in self.spans if s[3] == idx and s[2] is not None
        )
        return (end - start) - union_length(kids)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for i, (name, start, end, parent, attrs) in enumerate(self.spans):
                rec = {
                    "id": i,
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "self_s": self.self_time(i) if end is not None else None,
                }
                rec.update(attrs)
                fh.write(json.dumps(rec) + "\n")


def union_length(intervals) -> float:
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


# -- Spark event log ------------------------------------------------------

SPARK_METRICS = (
    "jobs", "job_s", "driver_gap_s", "task_s", "sched_delay_s", "gc_s",
    "shuffle_bytes", "exchanges",
)


def _count_exchanges(plan: dict) -> int:
    n = 1 if plan.get("nodeName") in ("Exchange", "BroadcastExchange") else 0
    return n + sum(_count_exchanges(c) for c in plan.get("children", []))


def read_event_log(events_dir: Path) -> list[dict]:
    files = [p for p in events_dir.iterdir() if p.is_file()]
    events = []
    for p in files:
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def spark_op_stats(events: list[dict], ops: list[dict]) -> dict[str, dict]:
    """Per-op Spark engine statistics keyed by op label. A job belongs to
    the op whose job group it carries; jobs started on other threads
    (streaming micro-batches) carry the stream's group and are assigned
    by submission time, which is unambiguous in a closed loop."""
    by_label = {o["label"]: o for o in ops}
    starts = sorted((o["t0"], o["t1"], o["label"]) for o in ops)
    t0s = [s[0] for s in starts]

    def op_at(t_ms):
        t = t_ms / 1000.0
        i = bisect_right(t0s, t) - 1
        if i >= 0 and t <= starts[i][1]:
            return starts[i][2]
        return None

    stats = {
        label: {k: 0.0 for k in SPARK_METRICS} | {"_intervals": []}
        for label in by_label
    }
    job_op, stage_op, job_start = {}, {}, {}
    exec_plan, exec_op = {}, {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            label = props.get("spark.jobGroup.id")
            if label not in by_label:
                label = op_at(ev["Submission Time"])
            if label is None:
                continue
            job_op[ev["Job ID"]] = label
            job_start[ev["Job ID"]] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_op[sid] = label
            stats[label]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            label = job_op.get(ev["Job ID"])
            if label is not None:
                stats[label]["_intervals"].append(
                    (job_start[ev["Job ID"]] / 1000.0, ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            label = stage_op.get(ev["Stage ID"])
            if label is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            overhead = (
                m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + (info.get("Getting Result Time") or 0)
            )
            duration = info["Finish Time"] - info["Launch Time"]
            st = stats[label]
            st["task_s"] += run_ms / 1000.0
            st["sched_delay_s"] += max(0, duration - run_ms - overhead) / 1000.0
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
        elif kind.endswith("SQLExecutionStart"):
            label = op_at(ev["time"])
            if label is not None:
                exec_op[ev["executionId"]] = label
                exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            if ev["executionId"] in exec_op:
                exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
    for eid, label in exec_op.items():
        stats[label]["exchanges"] += _count_exchanges(exec_plan[eid])
    for label, st in stats.items():
        o = by_label[label]
        st["job_s"] = union_length(st.pop("_intervals"))
        st["driver_gap_s"] = max(0.0, (o["t1"] - o["t0"]) - st["job_s"])
    return stats


def first_job_after(events: list[dict], start: float, end: float) -> float | None:
    """Seconds from ``start`` to the first job submitted in [start, end]."""
    subs = [
        ev["Submission Time"] / 1000.0
        for ev in events
        if ev.get("Event") == "SparkListenerJobStart"
        and start <= ev["Submission Time"] / 1000.0 <= end
    ]
    return min(subs) - start if subs else None
