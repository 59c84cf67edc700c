"""In-memory spans and Spark counts, recorded from outside the engine.

A span is opened around each call into a layer's public function. Its
name is ``<layer>.<call>``; spans of one query invocation or one ingest
cycle share a ``trace`` id. Spans stay in memory and are written with
the run record when the run ends. With tracing off every call is a
no-op, so untraced runs time the same code path.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per layer (span name up to the first dot).

    Children of one span never overlap (the client is single-threaded),
    so a span's self time is its duration minus its children's.
    """
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        own = (s["end"] - s["start"]) - child_s.get(s["id"], 0.0)
        out[layer] = out.get(layer, 0.0) + own
    return out


class SparkCounter:
    """Jobs, stages and tasks run since the last call, read from the
    application's status store through ``SparkContext.statusTracker()``.

    Job ids are dense, so the jobs of one operation are the ids above
    the last one seen; this also catches the jobs a streaming drain runs
    on its own thread under its own job group.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.next_job = 0
        self.take()

    def take(self) -> tuple[int, int, int]:
        # The status store is fed asynchronously; drain the listener bus
        # so every finished job is visible before counting.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs, stages = 0, set()
        while True:
            # Look a few ids ahead so one id without a status entry does
            # not stall the count.
            ahead = next(
                (
                    (i, info)
                    for i in range(self.next_job, self.next_job + 8)
                    if (info := self.tracker.getJobInfo(i)) is not None
                ),
                None,
            )
            if ahead is None:
                break
            jobs += 1
            stages.update(ahead[1].stageIds)
            self.next_job = ahead[0] + 1
        tasks, ran = 0, 0
        for sid in stages:
            st = self.tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks:
                ran += 1
                tasks += st.numCompletedTasks
        return jobs, ran, tasks


def python_workers(root_pid: int) -> set[int]:
    """PIDs of pyspark worker processes descending from ``root_pid``."""
    children: dict[int, list[int]] = {}
    cmd: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            stat = Path(f"/proc/{entry}/stat").read_text()
            cmd[int(entry)] = (
                Path(f"/proc/{entry}/cmdline").read_bytes().replace(b"\0", b" ").decode()
            )
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out: set[int] = set()
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            todo.append(c)
            # Workers are forked from the daemon and keep its command
            # line; the daemon itself is their parent.
            if "pyspark.daemon" in cmd.get(c, "") and "pyspark.daemon" in cmd.get(
                pid, ""
            ):
                out.add(c)
    return out
