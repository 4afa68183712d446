"""Streaming observability: a query-progress listener capturing the
per-micro-batch numbers an operator watches in production (input rows,
processing rate, batch duration, state rows) without any external metrics
stack. The reference logs free-form strings per batch
(/root/reference/glue/cdc_hudi.py logger_msg); this is the structured
equivalent, queryable from the driver.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class BatchMetricsListener(StreamingQueryListener):
    """Collects one record per completed micro-batch. Attach with
    ``spark.streams.addListener(listener)`` (or :func:`attach_metrics`);
    read ``listener.progress`` afterwards. Keeps the last ``max_records``
    entries — bounded memory for long-running jobs."""

    def __init__(self, max_records: int = 10_000):
        self.progress: list[dict[str, Any]] = []
        self.max_records = max_records

    # StreamingQueryListener abstract interface
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API name)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        durations = dict(p.get("durationMs") or {})
        rec = {
            "query_id": p.get("id"),
            "batch_id": p.get("batchId"),
            "num_input_rows": p.get("numInputRows"),
            "input_rows_per_second": p.get("inputRowsPerSecond"),
            "process_rows_per_second": p.get("processedRowsPerSecond"),
            "batch_duration_ms": durations.get("triggerExecution"),
            # the trigger's full phase split: addBatch (the foreachBatch
            # body), latestOffset, getBatch, queryPlanning, walCommit,
            # commitOffsets — idle triggers carry only some of them
            "duration_ms": durations,
            "state_rows": sum(
                s.get("numRowsTotal", 0) for s in p.get("stateOperators") or []
            ),
        }
        self.progress.append(rec)
        if len(self.progress) > self.max_records:
            del self.progress[: -self.max_records]

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def totals(self) -> dict[str, Any]:
        """Aggregate view across recorded batches."""
        rows = [r for r in self.progress if r["num_input_rows"] is not None]
        return {
            "n_batches": len(self.progress),
            "total_input_rows": sum(r["num_input_rows"] or 0 for r in rows),
            "max_batch_duration_ms": max(
                (r["batch_duration_ms"] or 0 for r in self.progress), default=0
            ),
        }


def attach_metrics(spark: SparkSession, max_records: int = 10_000) -> BatchMetricsListener:
    """Create + register a listener; returns it for reading. Caller removes
    with ``spark.streams.removeListener(listener)`` when done."""
    listener = BatchMetricsListener(max_records)
    spark.streams.addListener(listener)
    return listener
