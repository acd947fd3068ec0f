"""Shared value objects + group bootstrap (reference common.py semantics).

Citations refer to /root/reference/redis_streams/ for behavioral parity
(no code copied — from-scratch implementation over StreamLog).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from enum import Enum

from redis_streams_spark.sources.stream_log import StreamLog


@dataclass
class RedisMsg:
    """One delivered message (consumer.py:14-23)."""

    msgid: str
    content: dict


class Status(Enum):
    """Monitor health states — exact strings (monitor.py:13-16)."""

    OK = "OK"
    PENDING = "WARNING - too many pending items"
    IDLE = "WARNING - idle for long time"


class Scale(Enum):
    """Scaler suggestions (scaler.py:9-12)."""

    OUT = "OUT"
    IN = "IN"
    NOSCALE = "NO_SCALE"


def now_ms() -> int:
    return int(time.time() * 1000)


def health_status(pending: int, idle: int, batch_size: int, idle_threshold: int) -> str:
    """Consumer health for Monitor and MonitorListener: the pending check
    takes priority over the idle check (monitor.py:85-91)."""
    if pending > batch_size:
        return Status.PENDING.value
    if idle > idle_threshold:
        return Status.IDLE.value
    return Status.OK.value


def scale_ladder(
    length: int,
    pending: int,
    consumers: int,
    scale_out_rate: int,
    scale_in_rate: int,
) -> tuple[float, str]:
    """Scaling advice for Scaler and MonitorListener: the rate
    ``round(clamp(length/pending*100, 1, 100), 4)`` (0 without pending,
    scaler.py:74-83) on the reference's decision ladder (scaler.py:85-97),
    after its threshold validation (scaler.py:65-72).  Returns
    ``(rate, 'OUT'|'IN'|'NO_SCALE')``."""
    if scale_in_rate > scale_out_rate:
        raise ValueError("Scale out rate must be bigger than scale in rate")
    if scale_in_rate < 0 or scale_in_rate > 100:
        raise ValueError("Scale in rate must be within 0 and 100")
    if scale_out_rate < 0 or scale_out_rate > 100:
        raise ValueError("Scale out rate must be within 0 and 100")
    rate = round(max(min(length / pending * 100, 100), 1), 4) if pending else 0
    if rate == 0 and length == 0:
        return rate, Scale.NOSCALE.value
    if rate == 0 and length >= 1:
        return rate, Scale.OUT.value
    if rate < scale_in_rate and consumers > 1:
        return rate, Scale.IN.value
    if rate >= scale_out_rate:
        return rate, Scale.OUT.value
    return rate, Scale.NOSCALE.value


class BaseStreamClass:
    """Creates the stream + consumer group idempotently on construction,
    delivering from the beginning of the stream (common.py:20-41: id
    ``0-0`` + MKSTREAM; BUSYGROUP swallowed — i.e. create is a no-op if
    the group exists)."""

    def __init__(self, log: StreamLog, stream: str, consumer_group: str):
        self.log = log
        self.stream = stream
        self.consumer_group = consumer_group
        self.prepare_redis_instance()

    def prepare_redis_instance(self) -> None:
        self.log.create_group(self.consumer_group)

    # -- PEL ops shared by Consumer and Monitor (common.py:48-85) -------
    def get_pending_items_of_consumer(
        self, item_count: int, consumer_id: str
    ) -> list[dict]:
        """Oldest ``item_count`` PEL rows owned by ``consumer_id`` in the
        reference's row shape (common.py:61-64)."""
        pel = self.log.group_state(self.consumer_group)["pel"]
        mine = sorted(m for m, e in pel.items() if e["consumer"] == consumer_id)
        now = now_ms()
        return [
            {
                "message_id": msgid,
                "consumer": consumer_id,
                "time_since_delivered": now - pel[msgid]["delivered_ms"],
                "times_delivered": pel[msgid]["times_delivered"],
            }
            for msgid in mine[:item_count]
        ]

    def remove_consumer(self, consumer_to_delete: str) -> int:
        """XGROUP DELCONSUMER: drop the consumer and its PEL entries;
        returns the number of pending messages lost with it
        (common.py:75-85)."""
        def evict(state: dict) -> int:
            lost = [
                m
                for m, e in state["pel"].items()
                if e["consumer"] == consumer_to_delete
            ]
            for m in lost:
                del state["pel"][m]
            state["consumers"].pop(consumer_to_delete, None)
            return len(lost)

        return self.log.update_group(self.consumer_group, evict)
