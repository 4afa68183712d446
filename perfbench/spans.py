"""Traced-run instruments: a span recorder, wrappers around the package's
public entry points, and Spark job/stage/task counting.

Nothing here edits the program. Wrappers replace attributes on the
package's classes and modules from outside, record a span around each
call, and delegate. Spans carry the streaming ``batch_id``; calls that do
not receive one (schema inference) take the id of the batch in flight,
which the ``process_batch`` wrapper publishes. One batch runs at a time, so
the id is shared across the driver's table threads instead of being kept
per thread.
"""

from __future__ import annotations

import functools
import threading
import time
from typing import NamedTuple


class Span(NamedTuple):
    name: str
    attr: str | None  # table root, table name, read kind
    batch_id: int | None
    start: float
    end: float

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Recorder:
    """Thread-safe in-memory span list; read once the run has ended."""

    def __init__(self):
        self._lock = threading.Lock()
        self.spans: list[Span] = []
        self.batch_id: int | None = None
        self.enabled = False

    def add(self, name: str, attr, batch_id, start: float, end: float) -> None:
        with self._lock:
            self.spans.append(Span(name, attr, batch_id, start, end))

    def wrap(self, owner, attr_name: str, span_name: str, label, batch_arg=None):
        """Replace ``owner.attr_name`` by a recording wrapper. ``label(args,
        kwargs)`` names the span's subject; ``batch_arg(args, kwargs)``
        returns the call's own batch id (None -> the batch in flight)."""
        orig = getattr(owner, attr_name)
        rec = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not rec.enabled:
                return orig(*args, **kwargs)
            bid = batch_arg(args, kwargs) if batch_arg else None
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                rec.add(span_name, label(args, kwargs), rec.batch_id if bid is None else bid,
                        t0, time.perf_counter())

        setattr(owner, attr_name, wrapper)

    def for_batch(self, batch_id: int) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.batch_id == batch_id]


def span_cost_ms(n: int = 20_000) -> float:
    """Time one recording wrapper adds to a call: a wrapped no-op against
    the bare one, on a recorder of its own."""

    class Noop:
        @staticmethod
        def call():
            return None

    bare = Noop.call
    rec = Recorder()
    rec.enabled = True
    rec.wrap(Noop, "call", "noop", lambda a, k: None)

    def per_call(fn) -> float:
        t0 = time.perf_counter()
        for _ in range(n):
            fn()
        return (time.perf_counter() - t0) / n

    return max(0.0, per_call(Noop.call) - per_call(bare)) * 1000.0


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to
    ``[lo, hi]``: children on parallel table threads overlap, and self time
    is the parent's wall minus the time any child was running."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def install(rec: Recorder) -> None:
    """Wrap the public entry points of the streaming driver, the keyed sink
    and the SCD2 maintainer. Must run before ``CdcStreamDriver.start``,
    which binds ``process_batch``."""
    from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable
    from kafka_cdc_hudi_spark.streaming import driver as driver_mod
    from kafka_cdc_hudi_spark.streaming.scd2 import Scd2HistoryMaintainer

    drv = driver_mod.CdcStreamDriver
    orig_pb = drv.process_batch

    @functools.wraps(orig_pb)
    def process_batch(self, batch_df, batch_id):
        if not rec.enabled:
            return orig_pb(self, batch_df, batch_id)
        rec.batch_id = batch_id
        t0 = time.perf_counter()
        try:
            return orig_pb(self, batch_df, batch_id)
        finally:
            rec.add("batch", None, batch_id, t0, time.perf_counter())

    drv.process_batch = process_batch

    def kw_or_pos(name, pos):
        return lambda a, k: k.get(name, a[pos] if len(a) > pos else None)

    rec.wrap(KeyedParquetTable, "merge_batch", "merge_batch",
             lambda a, k: a[0].root, kw_or_pos("batch_id", 3))
    rec.wrap(Scd2HistoryMaintainer, "apply_batch", "scd2",
             lambda a, k: a[0].root, kw_or_pos("batch_id", 3))
    # the driver imported the function by name: patch its namespace
    rec.wrap(driver_mod, "infer_payload_schema", "infer",
             lambda a, k: k.get("what"))


class JobCounter:
    """Spark jobs, stages and tasks run since the last call, from the
    status tracker. Job ids are allocated sequentially, so the jobs of one
    batch are the ids past the last one seen. The tracker is fed by the
    listener bus, which lags the jobs themselves: each call polls until
    every job it sees has finished and two polls agree."""

    SETTLE_S = 5.0

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.next_job = 0
        self.advance()

    def _jobs(self):
        jobs, misses, j = [], 0, self.next_job
        while misses < 3:
            info = self.tracker.getJobInfo(j)
            if info is None:
                misses += 1
            else:
                misses = 0
                jobs.append(info)
            j += 1
        return jobs

    def _scan(self):
        deadline = time.perf_counter() + self.SETTLE_S
        prev = None
        while True:
            jobs = self._jobs()
            ids = [(info.jobId, info.status) for info in jobs]
            settled = ids == prev and all(st in ("SUCCEEDED", "FAILED") for _j, st in ids)
            if settled or time.perf_counter() > deadline:
                break
            prev = ids
            time.sleep(0.02)
        if jobs:
            self.next_job = jobs[-1].jobId + 1
        return jobs

    def advance(self) -> None:
        self._scan()

    def delta(self) -> dict:
        jobs = self._scan()
        stages = {s for info in jobs for s in info.stageIds}
        tasks = failed = 0
        for s in stages:
            st = self.tracker.getStageInfo(s)
            if st is not None:
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks, "failed_tasks": failed}
