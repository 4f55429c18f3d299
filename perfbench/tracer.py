"""Spans and job-group attribution for the traced benchmark run.

A span is ``{name, start, end, parent, trace_id}`` plus attributes. Spans
live in memory and are written out once, when the run ends.

A span opened with ``group=True`` gives the Spark jobs started inside it
their own job group. When it closes, the group's jobs and stages are read
from the driver's in-JVM status store (``AppStatusStore``; it is kept with
``spark.ui.enabled=false``) and summed onto the span. Attribution is by
group, never by a window over global totals, so concurrent work in other
threads does not leak in.

With tracing off, ``span`` still times its block (the untraced run needs
the walls) but records nothing and sets no job group.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

# StageData accessor -> span attribute, summed over a group's stages
_STAGE_FIELDS = {
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_rows",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
}
_STAT_KEYS = ("jobs", "stages", *_STAGE_FIELDS.values())


def group_stats(sc, group: str) -> dict[str, int]:
    """Sum the status-store metrics of every job tagged ``group``.

    Drains the listener bus first: the store is fed asynchronously, so a
    read right after a job ends could otherwise miss its last stage."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(_STAT_KEYS, 0)
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        stage_ids = store.job(job_id).stageIds()
        for i in range(stage_ids.size()):
            st = store.lastStageAttempt(stage_ids.apply(i))
            if st.status().toString() == "SKIPPED":
                continue  # its output was reused; it ran in another job
            out["stages"] += 1
            for acc, key in _STAGE_FIELDS.items():
                out[key] += int(getattr(st, acc)())
    return out


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # attributes stamped on every span opened while set (phase, pass)
        self.tags: dict = {}

    @property
    def current(self) -> dict | None:
        return getattr(self._local, "span", None)

    @contextmanager
    def span(self, name: str, group: bool = False, trace_id: str | None = None, **attrs):
        """Time a block; when tracing, record it and (``group``) attribute
        its Spark jobs. Yields the span dict, whose ``end`` is set on exit."""
        parent = self.current
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace_id": trace_id or (parent["trace_id"] if parent else None),
            **self.tags,
            **attrs,
        }
        gid = f"bench-{sp['id']}" if self.enabled and group else None
        if gid:
            sp["group"] = gid
            self.sc.setJobGroup(gid, name)
        self._local.span = sp
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._local.span = parent
            if gid:
                prev = parent and parent.get("group")
                if prev:
                    self.sc.setJobGroup(prev, parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                sp.update(group_stats(self.sc, gid))
            if self.enabled:
                with self._lock:
                    self.spans.append(sp)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as span ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def dur(span: dict) -> float:
    return span["end"] - span["start"]
