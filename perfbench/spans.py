"""Spans around the package's layer entry points, and Spark's own counts.

Entry points are wrapped from outside, at the name the caller looks up:
``sources.lookup`` imports ``fetch_with_retry``/``parse_payload``/
``deserialize_nodes`` by name, so those are patched on ``sources.lookup``,
not on ``http_client``/``rows``.  Spans stay in memory (id, parent id,
name, start, end, a small result summary); a span's self time is its
duration minus the durations of its children.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    info: Any = None  # rows / body chars / "did it reload"
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def _summary(name: str, out: Any) -> Any:
    if name in ("http_client.fetch", "rows.deserialize"):
        return len(out)
    if name == "streaming.refresh.check_and_reload":
        return bool(out)
    return None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name,
                 time.perf_counter())
        self.spans.append(s)
        if s.parent is not None:
            self.spans[s.parent].children.append(s.sid)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
            s.info = _summary(name, out)
            return out

        return traced

    @contextlib.contextmanager
    def installed(self):
        """Patch every layer entry point for the duration of the block."""
        from flink_http_full_cache_connector_spark.operators import lookup_join as lj
        from flink_http_full_cache_connector_spark.sources import lookup
        from flink_http_full_cache_connector_spark.streaming import refresh

        targets = [
            (lookup, "fetch_with_retry", "http_client.fetch"),
            (lookup, "parse_payload", "http_client.parse"),
            (lookup, "deserialize_nodes", "rows.deserialize"),
            (lookup, "fetch_rows", "sources.lookup.fetch_rows"),
            (refresh, "create_lookup_df", "sources.lookup.create_lookup_df"),
            (refresh.RefreshingLookupCache, "check_and_reload",
             "streaming.refresh.check_and_reload"),
            (lj, "lookup_join", "operators.lookup_join.lookup_join"),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        for obj, attr, name in targets:
            setattr(obj, attr, self.wrap(name, getattr(obj, attr)))
        try:
            yield
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        return s.dur - sum(self.spans[c].dur for c in s.children)

    def child(self, s: Span, name: str) -> Span | None:
        return next((self.spans[c] for c in s.children if self.spans[c].name == name), None)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# --- Spark status store ----------------------------------------------------

SPARK_METRICS = ("jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb",
                 "spill_mb", "job_busy_s")


def last_job_id(spark) -> int:
    """Highest job id submitted so far (waits for the status store)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


def spark_counts(spark, job_ranges: list[tuple[int, int]]) -> list[dict[str, float]]:
    """Per operation, the jobs with ids in ``(lo, hi]`` summed from the
    status store: jobs, stages, tasks, shuffle and spill MB, and the time
    at least one of its jobs was running."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for lo, hi in job_ranges:
        row = dict.fromkeys(SPARK_METRICS, 0.0)
        intervals = []
        for jid in range(lo + 1, hi + 1):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # NoSuchElementException: not in the store
                continue
            row["jobs"] += 1
            st, ct = job.submissionTime(), job.completionTime()
            if st.isDefined() and ct.isDefined():
                intervals.append((st.get().getTime(), ct.get().getTime()))
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                for attempt in _stage_attempts(store, stage_ids.apply(k)):
                    if attempt.status().toString() == "SKIPPED":
                        continue
                    row["stages"] += 1
                    row["tasks"] += attempt.numTasks()
                    row["shuffle_write_mb"] += attempt.shuffleWriteBytes() / 1e6
                    row["shuffle_read_mb"] += (
                        attempt.shuffleRemoteBytesRead() + attempt.shuffleLocalBytesRead()
                    ) / 1e6
                    row["spill_mb"] += (
                        attempt.memoryBytesSpilled() + attempt.diskBytesSpilled()
                    ) / 1e6
        row["job_busy_s"] = _union_ms(intervals) / 1000.0
        out.append(row)
    return out


def _stage_attempts(store, stage_id: int) -> list:
    seq = store.stageData(stage_id, False, None, False, None)
    return [seq.apply(i) for i in range(seq.size())]


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
