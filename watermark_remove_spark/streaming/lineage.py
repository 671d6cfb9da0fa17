"""O-27: streaming lineage & metrics via StreamingQueryListener.

Complements the sink-side per-partition row counts (written inside the
same commit protocol — see sink.py): the listener captures per-batch
engine metrics (input rows, processing durations, state-store rows and
commit times, watermark progression) into a JSONL ledger for
observability / post-hoc lineage audits.

Reference counterpart: the reference logs per-item processing events
(``lama_wrapper.py:40,60,64``); the engine's unit of work is the
micro-batch, so metrics are per (query, batch).
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql.streaming import StreamingQueryListener


class JsonlLineageListener(StreamingQueryListener):
    """Append one JSON line per micro-batch progress event."""

    def __init__(self, path: str):
        self.path = path
        self._lock = threading.Lock()
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def onQueryStarted(self, event) -> None:
        self._write({"event": "started", "id": str(event.id), "name": event.name})

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "event": "progress",
            "id": str(p.id),
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs) if p.durationMs else {},
            "event_time": dict(p.eventTime) if p.eventTime else {},
            "state_operators": [
                {
                    "operator": getattr(s, "operatorName", None),
                    "rows_total": s.numRowsTotal,
                    "rows_updated": s.numRowsUpdated,
                    "memory_used_bytes": s.memoryUsedBytes,
                    "commit_time_ms": s.commitTimeMs,
                    "rows_dropped_by_watermark": s.numRowsDroppedByWatermark,
                    # provider-specific; RocksDB's include
                    # rocksdbCommitFileSyncLatencyMs and
                    # rocksdbChangeLogWriterCommitLatencyMs
                    "custom_metrics": dict(s.customMetrics or {}),
                }
                for s in (p.stateOperators or [])
            ],
            "sources": [
                {"description": s.description, "input_rows": s.numInputRows}
                for s in (p.sources or [])
            ],
        }
        self._write(rec)

    def onQueryTerminated(self, event) -> None:
        self._write(
            {
                "event": "terminated",
                "id": str(event.id),
                "exception": event.exception,
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def _write(self, rec: dict) -> None:
        with self._lock:
            with open(self.path, "a") as f:
                f.write(json.dumps(rec, default=str) + "\n")


def attach_lineage_listener(spark, path: str) -> JsonlLineageListener:
    listener = JsonlLineageListener(path)
    spark.streams.addListener(listener)
    return listener
