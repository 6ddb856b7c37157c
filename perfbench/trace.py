"""Python spans around public engine calls, and the Spark event-log fold.

The fold is the benchmark's own copy of the fields `bench/profile_replay.py`
derives (jobs, stages, task seconds, shuffle and spill bytes, driver-only gap
seconds, occupancy), so moving that fold into the engine cannot break the
benchmark.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


class Tracer:
    """In-memory spans (id, name, start, end, parent). Disabled tracers record
    nothing, so untraced runs pay one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def fold_event_log(path: str, windows: list[tuple[float, float]],
                   cores: int) -> dict:
    """Fold a Spark event log over the union of wall-clock `windows`
    (epoch seconds). Jobs count when submitted inside a window, stages when
    they complete inside one; task time and byte counters come from the
    task-end events, clipped to the windows."""
    win = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def inside(ts: float) -> bool:
        return any(a <= ts <= b for a, b in win)

    jobs = stages = tasks = 0
    task_ms = shuffle_w = spill = 0.0
    edges: list[tuple[float, int]] = []
    with open(path) as f:
        for line in f:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue  # a torn last line of a still-open log
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jobs += inside(float(e.get("Submission Time", 0)))
            elif ev == "SparkListenerStageCompleted":
                info = e.get("Stage Info", {})
                stages += inside(float(info.get("Completion Time", 0)))
            elif ev == "SparkListenerTaskEnd":
                ti = e.get("Task Info", {})
                a, b = float(ti.get("Launch Time", 0)), float(ti.get("Finish Time", 0))
                if not inside(b) or b <= a:
                    continue
                tasks += 1
                for wa, wb in win:
                    lo, hi = max(a, wa), min(b, wb)
                    if hi > lo:
                        task_ms += hi - lo
                        edges += [(lo, 1), (hi, -1)]
                tm = e.get("Task Metrics") or {}
                shuffle_w += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                spill += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
    # driver-only time: stretches of each window where no task runs
    busy = 0.0
    edges.sort()
    running, prev = 0, None
    for ts, d in edges:
        if running > 0 and prev is not None:
            busy += ts - prev
        running += d
        prev = ts
    wall_ms = sum(b - a for a, b in win)
    return {
        "jobs": jobs, "stages": stages, "tasks": tasks,
        "task_s": task_ms / 1000.0,
        "shuffle_write_bytes": shuffle_w, "spill_bytes": spill,
        "gap_s": max(wall_ms - busy, 0.0) / 1000.0,
        "occupancy": task_ms / (cores * wall_ms) if wall_ms else 0.0,
    }
