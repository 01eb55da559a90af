"""Tracing of the benchmark: spans around the calls into each layer,
Spark job/stage counts per tagged call and streaming progress.

Everything is recorded from outside the program: spans are taken by
the benchmark around public calls, job counts come from Spark's status
tracker via job tags, and per-trigger costs from a listener the
benchmark registers itself.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans: name, start, end, the enclosing span on the same
    thread as parent, and a group id shared by the spans of one
    micro-batch, read or job. Spans are only kept when ``enabled``;
    ``dump`` writes them out at the end."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if self.enabled:
                with self._lock:
                    self.spans.append(
                        {"id": sid, "name": name, "group": group, "parent": parent,
                         "start": start, "end": end}
                    )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class JobCounter:
    """Counts the Spark jobs, stages and shuffle bytes of a call by
    tagging the calling thread's jobs (``SparkContext.addJobTag``) and
    reading the status tracker afterwards. A tag is added to, never
    replaces, the thread's job group, so a streaming query's own
    group is left alone."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextlib.contextmanager
    def tagged(self, tag: str):
        self.sc.addJobTag(tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(tag)

    def counts(self, tag: str) -> tuple[int, int, int]:
        """(jobs, stages, shuffle write bytes) of every job run under ``tag``."""
        tracker = self._jsc.statusTracker()
        store = self._jsc.statusStore()
        jobs = list(tracker.getJobIdsForTag(tag))
        stages = 0
        shuffle = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info.isEmpty():
                continue
            for sid in info.get().stageIds():
                stages += 1
                try:
                    shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    pass
        return len(jobs), stages, shuffle


class ProgressRecorder(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` of the run as a dict of
    the fields the benchmark reads."""

    def __init__(self) -> None:
        self.progress: dict[int, dict] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators
        record = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "dropped": sum(o.numRowsDroppedByWatermark for o in ops),
            "updated": sum(o.numRowsUpdated for o in ops),
        }
        with self._lock:
            self.progress[p.batchId] = record

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self) -> list[dict]:
        with self._lock:
            return [self.progress[b] for b in sorted(self.progress)]
