"""Spans around calls into the program's public functions, for the traced
run only.

A span has a name, start, end, parent span and run id. Spans stay in
memory and are written once, at the end of the run. A span's self time is
its duration minus the durations of its direct children (calls are
single-threaded, so children never overlap).

Spark work inside a span is attributed through a job group named after
the span; ``event_log_tasks`` reads the task metrics of each group back
from Spark's JSON event log.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(sp)
        self._open.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._open.pop()

    def wrap(self, fn, name: str, count=None):
        """``fn`` inside a span; ``count(args, result)`` adds to
        ``counts[name]`` (work done by the call)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if count is not None:
                self.counts[name] += count(args, out)
            return out

        return traced

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """name → summed self time over all its spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run": self.run_id, "spans": self.spans,
                 "counts": dict(self.counts), **extra},
                f,
            )


@contextlib.contextmanager
def patched(obj, attr: str, replacement):
    """Replace ``obj.attr`` for the duration of the block."""
    had = attr in vars(obj)
    old = getattr(obj, attr)
    setattr(obj, attr, replacement)
    try:
        yield
    finally:
        if had:
            setattr(obj, attr, old)
        else:
            delattr(obj, attr)


@contextlib.contextmanager
def job_group(sc, name: str):
    """Tag every Spark job started in the block with job group ``name``."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def event_log_tasks(event_dir: str) -> dict[str, list[dict]]:
    """Job group → finished tasks [{ms, shuffle_write_bytes, spill_bytes}]
    from the (uncompressed) event logs in ``event_dir``; read after the
    session has stopped, when the log is complete."""
    stage_group: dict[int, str] = {}
    tasks: list[tuple[int, dict]] = []
    # Spark 4 writes each application's log as files under a directory
    for path in glob.glob(f"{event_dir}/**/events_*", recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    tasks.append((ev["Stage ID"], {
                        "ms": info["Finish Time"] - info["Launch Time"],
                        "shuffle_write_bytes":
                            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    }))
    out: dict[str, list[dict]] = defaultdict(list)
    for sid, t in tasks:
        if sid in stage_group:
            out[stage_group[sid]].append(t)
    return dict(out)


def task_summary(tasks: list[dict]) -> dict[str, float]:
    ms = [t["ms"] for t in tasks]
    return {
        "task_p50_ms": float(statistics.median(ms)) if ms else 0.0,
        "task_max_ms": float(max(ms)) if ms else 0.0,
        "shuffle_write_bytes": float(sum(t["shuffle_write_bytes"] for t in tasks)),
        "spill_bytes": float(sum(t["spill_bytes"] for t in tasks)),
    }
