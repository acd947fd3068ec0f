"""Monitor — consumer health sweep, reassignment, eviction, report.

Parity with reference monitor.py: identical status strings and threshold
priority (pending > batch_size beats idle, monitor.py:85-91), identical
report columns (monitor.py:195-209), XCLAIM-style freshness guard
(min_wait_time_ms, monitor.py:65-68,132-138).  Intentional divergence
(SURVEY S13): the assignee is the healthy consumer with MINIMUM pending —
the reference's tracker update is reversed (monitor.py:163-164) so
effectively the last healthy consumer wins; we implement the intended
min-pending semantics.

In the Spark-native path this surface is fed by a StreamingQueryListener
(see redis_streams_spark.streaming.listener); here it reads StreamLog
group state directly so it also monitors parity Consumers.
"""

from __future__ import annotations

import json
import sys
from dataclasses import dataclass

from redis_streams_spark.sources.stream_log import StreamLog
from redis_streams_spark.streaming.common import (
    BaseStreamClass,
    Status,
    health_status,
    now_ms,
    pel_counts,
    pel_reown,
    pel_scan,
)


@dataclass
class ConsumerMetrics:
    """One report row (monitor.py:19-44); str() is the same JSON shape."""

    consumer_id: str
    pending_items: int
    idle_time: int
    status: str

    def __str__(self) -> str:
        return json.dumps(
            {
                "consumer_id": self.consumer_id,
                "pending_items": self.pending_items,
                "idle_time": self.idle_time,
                "status": self.status,
            }
        )


class Monitor(BaseStreamClass):
    def __init__(
        self,
        log: StreamLog,
        stream: str,
        consumer_group: str,
        batch_size: int = 2,
        min_wait_time_ms: int = 1000,
        idle_time_ms_warning_threshold: int = 30000,
    ):
        super().__init__(log=log, stream=stream, consumer_group=consumer_group)
        self.batch_size = batch_size
        self.min_wait_time_ms = min_wait_time_ms
        self.idle_time_ms_warning_threshold = idle_time_ms_warning_threshold
        self.collected_consumers_data: list[ConsumerMetrics] = []
        self.consumer_to_assign = ""
        self.unhealthy_consumers: dict[str, dict[str, int]] = {}

    def _get_status_by_metrics(self, pending: int, idle: int) -> str:
        return health_status(
            pending, idle, self.batch_size, self.idle_time_ms_warning_threshold
        )

    def assign_items_to_active_consumer(
        self, items: list[dict], consumer_to_assign: str
    ) -> int:
        """XCLAIM with min_idle_time: re-own entries idle for at least
        min_wait_time_ms (fresher ones may still be processing); bumps the
        delivery counter.  Returns claimed count."""
        msgids = [item["message_id"] for item in items]
        return self.log.update_group(
            self.consumer_group,
            lambda state: pel_reown(
                state, msgids, consumer_to_assign, self.min_wait_time_ms, now_ms()
            ),
        )

    def cleanup_unhealthy_consumer(
        self, pending_count: int, consumer_to_delete: str
    ) -> None:
        """In one group-state transaction: ① scan the victim's oldest
        ``pending_count`` entries → ② XCLAIM them to the assignee →
        ③ delete the victim once it holds no entries (monitor.py:93-127).
        Unlike the reference, which deletes the victim with whatever
        entries were too fresh to claim and logs them as lost, a victim
        still holding entries stays registered, so a later sweep can
        re-own them: the group cursor is past them, and a deleted owner
        would leave them undelivered for good."""
        assignee = self.consumer_to_assign

        def reown_then_evict(state: dict) -> None:
            if assignee:
                oldest = list(pel_scan(state, consumer_to_delete))[:pending_count]
                pel_reown(state, oldest, assignee, self.min_wait_time_ms, now_ms())
            if consumer_to_delete not in pel_counts(state):
                state["consumers"].pop(consumer_to_delete, None)

        self.log.update_group(self.consumer_group, reown_then_evict)

    def cleanup(self) -> None:
        for group, victims in list(self.unhealthy_consumers.items()):
            for consumer, pending in victims.items():
                self.cleanup_unhealthy_consumer(
                    pending_count=pending, consumer_to_delete=consumer
                )
        self.unhealthy_consumers = {}

    def collect_monitoring_data(self, auto_cleanup: bool = True) -> list[ConsumerMetrics]:
        """Sweep all groups of the stream: classify every consumer, pick
        the assignee (min-pending healthy consumer of the monitored
        group — a consumer of another group would hold the victims'
        entries in a PEL it is not a member of), optionally clean up
        (monitor.py:140-193).  Default auto_cleanup=True matches the
        reference signature (monitor.py:140)."""
        self.collected_consumers_data = []
        self.unhealthy_consumers = {}
        self.consumer_to_assign = ""
        best_pending: int | None = None
        now = now_ms()
        for group in self.log.list_groups():
            state = self.log.group_state(group)
            if not state["consumers"]:
                continue
            pending_of = pel_counts(state)
            for consumer_id in sorted(state["consumers"]):
                pending = pending_of.get(consumer_id, 0)
                idle = now - state["consumers"][consumer_id].get("last_seen_ms", now)
                status = self._get_status_by_metrics(pending=pending, idle=idle)
                self.collected_consumers_data.append(
                    ConsumerMetrics(
                        consumer_id=consumer_id,
                        pending_items=pending,
                        idle_time=idle,
                        status=status,
                    )
                )
                if group != self.consumer_group:
                    continue
                if status == Status.OK.value:
                    if best_pending is None or pending < best_pending:
                        best_pending = pending
                        self.consumer_to_assign = consumer_id
                else:
                    self.unhealthy_consumers.setdefault(group, {})[
                        consumer_id
                    ] = pending
        if auto_cleanup and self.consumer_to_assign and self.unhealthy_consumers:
            self.cleanup()
        return self.collected_consumers_data

    def _generate_table(self) -> str:
        headers = ["Consumer id", "Idle time", "Pending items", "Status"]
        rows = [
            [m.consumer_id, str(m.idle_time), str(m.pending_items), m.status]
            for m in self.collected_consumers_data
        ]
        widths = [
            max(len(headers[i]), *(len(r[i]) for r in rows)) if rows else len(headers[i])
            for i in range(4)
        ]
        sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
        lines = [sep, "|" + "|".join(f" {headers[i]:<{widths[i]}} " for i in range(4)) + "|", sep]
        for r in rows:
            lines.append("|" + "|".join(f" {r[i]:<{widths[i]}} " for i in range(4)) + "|")
        lines.append(sep)
        return "\n".join(lines)

    def print_monitoring_data(self, output_stream=sys.stdout) -> None:
        """Tabulated report to any .write-able; a non-writeable argument
        falls back to print() — the reference's exact guard
        (monitor.py:205-209, asserted by its test_monitor_long_idle which
        passes a plain string)."""
        if hasattr(output_stream, "write"):
            output_stream.write(self._generate_table() + "\n")
        else:
            print(self._generate_table())
