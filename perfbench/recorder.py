"""Micro-batch recorder: a ``StreamingQueryListener`` that keeps every
progress event of the benchmark's streams.

The engine's ``stream_*`` wrappers block until the stream drains and
return nothing, so per-batch latency and input rows are taken from the
progress events Spark posts for each trigger. Events arrive on the
listener bus; :meth:`BatchRecorder.take` drains the bus before reading,
so every trigger of a finished drain is present.
"""

from __future__ import annotations

import datetime as dt
import threading
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener


@dataclass(frozen=True)
class Trigger:
    query: str
    batch_id: int
    rows: int
    start: float  # epoch seconds at trigger start
    ms: float  # triggerExecution duration


class BatchRecorder(StreamingQueryListener):
    def __init__(self, spark):
        super().__init__()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._lock = threading.Lock()
        self._events: list[Trigger] = []
        spark.streams.addListener(self)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        t = Trigger(p.name or "", p.batchId, int(p.numInputRows), start,
                    float(p.durationMs.get("triggerExecution", 0)))
        with self._lock:
            self._events.append(t)

    def take(self, query: str) -> list[Trigger]:
        """Remove and return the recorded triggers of ``query``."""
        self._bus.waitUntilEmpty()
        with self._lock:
            mine = [e for e in self._events if e.query == query]
            self._events = [e for e in self._events if e.query != query]
        return mine
