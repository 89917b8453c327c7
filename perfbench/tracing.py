"""Spans recorded around calls into the package, and the Spark event log.

A span has a name, a start and end (epoch seconds), the span that caused
it, and the shared identifier of its round or query (``trace``).  Spans
live in memory and are written out once, when the run ends.

Package layers are traced from outside: :meth:`Tracer.wrap` swaps a
module or object attribute for a wrapper that opens a span around each
call, and :meth:`Tracer.restore` puts the originals back.  Spark jobs are
attributed to spans by time: each job belongs to the innermost span open
when it was submitted, which also covers jobs the engine submits from its
own staging threads.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a span opened on a worker thread hangs under the main thread's
        # innermost open span (the engine's staging pool runs inside a round)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sp = {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                "trace": trace or (parent["trace"] if parent else name),
                "start": time.time(),
                "end": None,
                "attrs": attrs,
            }
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()

    @contextmanager
    def paused(self):
        """Run a block untraced, as the baseline the traced units are
        compared with."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` by a wrapper that spans every call.
        ``name`` is the span name, or a function of the call's arguments
        that returns it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def closed(self, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["end"] is not None and (name is None or s["name"] == name)
        ]

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **(extra or {})}, fh)


# ---------------------------------------------------------------------------
# Spark event log


SPARK_KEYS = (
    "jobs", "tasks", "task_s", "sched_delay_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "py_bytes_sent", "py_bytes_returned",
)


def _zero() -> dict:
    return {k: 0 for k in SPARK_KEYS}


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the (single) finished application log in ``log_dir``, each
    with its submit time in epoch seconds and its summed task and stage
    metrics."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        return []
    with open(max(files, key=os.path.getmtime)) as fh:
        events = [json.loads(line) for line in fh]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"submit": ev["Submission Time"] / 1000.0, **_zero()}
            jobs[jid]["jobs"] = 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            tm = ev.get("Task Metrics") or {}
            if job is None or not tm:
                continue
            info = ev["Task Info"]
            run_ms = tm.get("Executor Run Time", 0)
            wall_ms = info["Finish Time"] - info["Launch Time"]
            overhead_ms = (
                tm.get("Executor Deserialize Time", 0)
                + tm.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)
            )
            rd = tm.get("Shuffle Read Metrics") or {}
            wr = tm.get("Shuffle Write Metrics") or {}
            job["tasks"] += 1
            job["task_s"] += run_ms / 1000.0
            job["sched_delay_s"] += max(wall_ms - run_ms - overhead_ms, 0) / 1000.0
            job["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            job["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            job["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            if job is None:
                continue
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == "data sent to Python workers":
                    job["py_bytes_sent"] += int(acc.get("Value") or 0)
                elif acc.get("Name") == "data returned from Python workers":
                    job["py_bytes_returned"] += int(acc.get("Value") or 0)
    return list(jobs.values())


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> dict[int, dict]:
    """Sum each job's metrics into the innermost closed span that was open
    at its submit time; returns span id -> metrics (self, not inclusive)."""
    closed = [s for s in spans if s["end"] is not None]
    by_span: dict[int, dict] = {}
    for job in jobs:
        best = None
        for s in closed:
            if s["start"] <= job["submit"] <= s["end"] and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        if best is None:
            continue
        acc = by_span.setdefault(best["id"], _zero())
        for k in SPARK_KEYS:
            acc[k] += job[k]
    return by_span


def inclusive(by_span: dict[int, dict], spans: list[dict], root_ids: set[int]) -> dict:
    """Sum attributed metrics over the span trees rooted at ``root_ids``."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    total = _zero()
    todo = list(root_ids)
    while todo:
        sid = todo.pop()
        for k, v in by_span.get(sid, {}).items():
            total[k] += v
        todo.extend(children.get(sid, []))
    return total
