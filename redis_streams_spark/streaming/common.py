"""Shared value objects + group bootstrap (reference common.py semantics).

Citations refer to /root/reference/redis_streams/ for behavioral parity
(no code copied — from-scratch implementation over StreamLog).
"""

from __future__ import annotations

import time
from collections.abc import Iterable
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


# -- the PEL (pending entries list) --------------------------------------
# Only the functions below know its layout.  ``state["pel"]`` maps each
# consumer with pending entries to parallel columns in position order:
#     {consumer: {"pos": [..], "ids": [msgid, ..], "delivered_ms": [..],
#                 "times_delivered": [..]}}
# A consumer's key goes once its last entry leaves, so an empty PEL is an
# empty dict.  Columns keep a group-state rewrite cheap to encode and
# decode; a file in the earlier one-object-per-message layout
# ({msgid: {"pos", "consumer", "delivered_ms", "times_delivered"}}) is
# converted by the first PEL function that touches it.

_COLUMNS = ("pos", "ids", "delivered_ms", "times_delivered")


def _pel(state: dict) -> dict:
    pel = state["pel"]
    if pel and "ids" not in next(iter(pel.values())):
        rows: dict[str, list] = {}
        for msgid, e in sorted(pel.items(), key=lambda kv: kv[1]["pos"]):
            rows.setdefault(e["consumer"], []).append(
                (e["pos"], msgid, e["delivered_ms"], e["times_delivered"])
            )
        state["pel"] = pel = {}
        for consumer, own in rows.items():
            _put_rows(pel, consumer, own)
    return pel


def _rows(cols: dict | None) -> list[tuple[int, str, int, int]]:
    """(pos, msgid, delivered_ms, times_delivered) per entry."""
    return list(zip(*(cols[c] for c in _COLUMNS))) if cols else []


def _put_rows(pel: dict, consumer: str, rows: list) -> None:
    if rows:
        pel[consumer] = dict(zip(_COLUMNS, map(list, zip(*rows))))
    else:
        pel.pop(consumer, None)


def _give(pel: dict, consumer: str, rows: list) -> None:
    """Merge ``rows`` into ``consumer``'s entries, in position order."""
    if rows:
        _put_rows(pel, consumer, sorted(_rows(pel.get(consumer)) + rows))


def _take(pel: dict, pick) -> list[tuple[int, str, int, int]]:
    """Remove and return the entries (rows) for which ``pick`` holds."""
    taken = []
    for consumer in list(pel):
        keep, out = [], []
        for row in _rows(pel[consumer]):
            (out if pick(row) else keep).append(row)
        if out:
            taken += out
            _put_rows(pel, consumer, keep)
    return taken


def pel_claim(
    state: dict, consumer: str, rows: Iterable[tuple[int, str]], now: int
) -> None:
    """Add freshly delivered ``(pos, msgid)`` rows to ``consumer``'s
    entries (the '>' read of XREADGROUP): delivered now, once."""
    _give(_pel(state), consumer, [(pos, msgid, now, 1) for pos, msgid in rows])


def pel_own(
    state: dict, consumer: str, n: int, redeliver: bool = False
) -> tuple[list[tuple[int, str]], int]:
    """``consumer``'s oldest ``n`` entries as ``(pos, msgid)`` and its
    total pending count (the '0' re-read of XREADGROUP).  With
    ``redeliver`` those ``n`` are handed out again: their
    ``times_delivered`` goes up by one."""
    cols = _pel(state).get(consumer)
    if not cols:
        return [], 0
    if redeliver:
        times = cols["times_delivered"]
        for k in range(min(n, len(times))):
            times[k] += 1
    return list(zip(cols["pos"][:n], cols["ids"][:n])), len(cols["ids"])


def pel_ack(state: dict, msgids: Iterable[str]) -> int:
    """XACK: drop the given entries, whoever owns them; returns how
    many were pending."""
    todo = set(msgids)
    return len(_take(_pel(state), lambda row: row[1] in todo))


def pel_scan(state: dict, consumer: str | None = None) -> dict[str, dict]:
    """XPENDING: msgid -> ``{"pos", "consumer", "delivered_ms",
    "times_delivered"}``, of one consumer or of the whole group, each
    consumer's entries in position order."""
    pel = _pel(state)
    owners = [consumer] if consumer is not None else list(pel)
    return {
        msgid: {
            "pos": pos,
            "consumer": owner,
            "delivered_ms": delivered,
            "times_delivered": times,
        }
        for owner in owners
        for pos, msgid, delivered, times in _rows(pel.get(owner))
    }


def pel_counts(state: dict) -> dict[str, int]:
    """Pending entries per consumer (consumers with none are absent)."""
    return {consumer: len(cols["ids"]) for consumer, cols in _pel(state).items()}


def pel_reown(
    state: dict, msgids: Iterable[str], consumer: str, min_idle_ms: int, now: int
) -> int:
    """XCLAIM with min-idle-time: give ``consumer`` those of the entries
    that were delivered at least ``min_idle_ms`` before ``now`` (fresher
    ones may still be in work), as delivered now once more.  Returns the
    number re-owned."""
    todo = set(msgids)
    pel = _pel(state)
    moved = _take(pel, lambda row: row[1] in todo and now - row[2] >= min_idle_ms)
    _give(pel, consumer, [(pos, msgid, now, times + 1) for pos, msgid, _, times in moved])
    return len(moved)


def pel_evict(state: dict, consumer: str) -> int:
    """Drop all of ``consumer``'s entries; returns how many there were."""
    cols = _pel(state).pop(consumer, None)
    return len(cols["ids"]) if cols else 0


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
        mine = pel_scan(self.log.group_state(self.consumer_group), consumer_id)
        now = now_ms()
        return [
            {
                "message_id": msgid,
                "consumer": consumer_id,
                "time_since_delivered": now - e["delivered_ms"],
                "times_delivered": e["times_delivered"],
            }
            for msgid, e in list(mine.items())[:item_count]
        ]

    def remove_consumer(self, consumer_to_delete: str) -> int:
        """XGROUP DELCONSUMER: drop the consumer and its PEL entries;
        returns the number of pending messages lost with it
        (common.py:75-85)."""
        def evict(state: dict) -> int:
            state["consumers"].pop(consumer_to_delete, None)
            return pel_evict(state, consumer_to_delete)

        return self.log.update_group(self.consumer_group, evict)
