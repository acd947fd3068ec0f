"""Scaler — backlog-based autoscaling advisor.

Parity with reference scaler.py: identical rate formula
``round(clamp(length/pending*100, 1, 100), 4)`` (scaler.py:74-83), the
lazy re-collect quirk (metrics re-gathered when either is falsy), the
exact decision ladder (scaler.py:85-97), default thresholds out=50/in=10
and their validation (scaler.py:65-72).

Intentional divergence (SURVEY S16): backlog length is pure offset
arithmetic over group metadata — O(1), counts correctly — instead of the
reference's O(backlog) XRANGE materialization with its acknowledged
off-by-one undercount (test_scaler.py:125-126).
"""

from __future__ import annotations

from redis_streams_spark.sources.stream_log import StreamLog
from redis_streams_spark.streaming.common import (
    BaseStreamClass,
    pel_counts,
    scale_ladder,
)


class Scaler(BaseStreamClass):
    def __init__(self, log: StreamLog, stream: str, consumer_group: str):
        super().__init__(log=log, stream=stream, consumer_group=consumer_group)
        self.stream_length = 0
        self.stream_pending = 0
        self.length_pending_rate: float = 0
        self.consumers_of_group = 0

    def collect_metrics(self) -> tuple[int, int]:
        """(backlog length, pending) — metadata-only, no materialization:
        length = appended − last_delivered_pos; pending = |PEL|."""
        state = self.log.group_state(self.consumer_group)
        self.stream_pending = sum(pel_counts(state).values())
        self.consumers_of_group = len(state["consumers"])
        self.stream_length = max(0, self.log.count() - state["last_delivered_pos"])
        return self.stream_length, self.stream_pending

    def get_scale_decision(
        self, scale_out_rate: int = 50, scale_in_rate: int = 10
    ) -> tuple[float, str]:
        """Returns (rate, 'OUT'|'IN'|'NO_SCALE') from :func:`scale_ladder`;
        metrics are re-collected only when either is falsy (the
        reference's lazy quirk)."""
        if not all([self.stream_pending, self.stream_length]):
            self.collect_metrics()
        self.length_pending_rate, decision = scale_ladder(
            self.stream_length,
            self.stream_pending,
            self.consumers_of_group,
            scale_out_rate,
            scale_in_rate,
        )
        return self.length_pending_rate, decision
