"""Spark-native monitor/scaler feed: a StreamingQueryListener emitting the
reference's ConsumerMetrics rows from query progress (SURVEY S11/S12/S15
— the monitor sweep becomes a driver-side progress callback; S16-S18 —
backlog is offset arithmetic from the progress's source offsets, no
materialization).

Mapping: one streaming query ≈ one consumer; queries reading the same
stream ≈ the consumer group.  pending ≈ planned-minus-committed rows of
the current epoch (the PEL analog); idle ≈ time since the last progress
event.
"""

from __future__ import annotations

import json
import time

from pyspark.sql.streaming import StreamingQueryListener

from redis_streams_spark.streaming.common import health_status, scale_ladder
from redis_streams_spark.streaming.monitor import ConsumerMetrics


def _pos(offset_json: str | None) -> int | None:
    if not offset_json:
        return None
    try:
        data = json.loads(offset_json)
    except (TypeError, ValueError):
        return None
    if isinstance(data, dict) and "pos" in data:
        return int(data["pos"])
    return None


class MonitorListener(StreamingQueryListener):
    """Collects per-query health rows with the reference's exact status
    strings and threshold priority (monitor.py:85-91)."""

    def __init__(
        self,
        batch_size: int = 100,
        idle_time_ms_warning_threshold: int = 30_000,
    ):
        self.batch_size = batch_size
        self.idle_threshold = idle_time_ms_warning_threshold
        self.last_progress_ms: dict[str, int] = {}
        self.backlog: dict[str, int] = {}
        self.inflight: dict[str, int] = {}
        self._latest: dict[str, ConsumerMetrics] = {}

    @property
    def metrics(self) -> list[ConsumerMetrics]:
        """The latest health row of each query seen, in first-seen order
        (one row per query, not per progress event, so a long-running
        query holds constant memory)."""
        return list(self._latest.values())

    # -- listener hooks --------------------------------------------------
    def onQueryStarted(self, event) -> None:
        self.last_progress_ms[str(event.id)] = int(time.time() * 1000)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        qid = str(p.id)
        now = int(time.time() * 1000)
        idle = now - self.last_progress_ms.get(qid, now)
        self.last_progress_ms[qid] = now
        pending = int(p.numInputRows)
        backlog = 0
        for src in p.sources:
            latest = _pos(getattr(src, "latestOffset", None))
            end = _pos(getattr(src, "endOffset", None))
            if latest is not None and end is not None:
                backlog += max(0, latest - end)
        self.backlog[qid] = backlog
        self.inflight[qid] = pending
        status = health_status(pending, idle, self.batch_size, self.idle_threshold)
        self._latest[qid] = ConsumerMetrics(
            consumer_id=qid, pending_items=pending, idle_time=idle, status=status
        )

    def onQueryTerminated(self, event) -> None:
        self.last_progress_ms.pop(str(event.id), None)

    def onQueryIdle(self, event) -> None:
        pass

    def scale_decision(
        self, scale_out_rate: int = 50, scale_in_rate: int = 10
    ) -> tuple[float, str]:
        """Scaler ladder (:func:`scale_ladder`) over listener-derived
        backlog (= stream_length) and in-flight rows (= pending), with the
        number of live queries as consumers_of_group."""
        return scale_ladder(
            sum(self.backlog.values()),
            sum(self.inflight.values()),
            len(self.last_progress_ms),
            scale_out_rate,
            scale_in_rate,
        )
