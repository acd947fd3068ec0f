"""Consumer — time+count bounded batch collection with per-message ack.

Re-implements the reference's core dataflow (SURVEY §3.1 trace of
consumer.py:92-103) over StreamLog group state:

1. arm a hard deadline (now + max_wait_time_ms);
2. claim loop, ONE locked group-state update per iteration: touch the
   consumer, claim up to the deficit of never-delivered messages ('>'
   read, one read_slice) and return this consumer's own PEL sorted by
   position and capped at batch_size (the '0' re-read) — so already
   assigned (PEL) messages count first, which is crash recovery; the
   first iteration bumps times_delivered on those redelivered entries;
3. while now ≤ deadline and the PEL holds fewer than batch_size, sleep
   poll_time_ms after a claim that came back short (the BLOCK
   emulation) and claim again;
4. build the batch from the rows the claims already parsed; only
   recovered or XCLAIMed entries are read again, in one read_slice
   outside the lock — idempotent across crashes;
5. caller processes items and acks each via
   remove_item_from_consumer_group (XACK: removes from PEL, does NOT
   delete from the stream — consumer.py:180-191).
"""

from __future__ import annotations

import os
import threading
import time
import warnings
from typing import Union

from redis_streams_spark.sources.stream_log import StreamLog
from redis_streams_spark.streaming.common import (
    BaseStreamClass,
    RedisMsg,
    now_ms,
    pel_ack,
    pel_claim,
    pel_own,
)


class Consumer(BaseStreamClass):
    def __init__(
        self,
        log: StreamLog,
        stream: str,
        consumer_group: str,
        consumer_id: Union[str, int, None] = None,
        batch_size: int = 2,
        max_wait_time_ms: int = 10000,
        poll_time_ms: int = 1000,
        cleanup_on_exit: bool = True,
    ):
        # cleanup_on_exit: accepted for API parity; the reference stores
        # it without ever acting on it (consumer.py:46,72 — dead
        # parameter), and Spark-side consumer identity is managed by the
        # scheduler, so it is likewise a no-op here.
        super().__init__(log=log, stream=stream, consumer_group=consumer_group)
        # default identity = pid+thread-id (consumer.py:42)
        self.consumer_id = str(
            consumer_id
            if consumer_id is not None
            else f"{os.getpid()}{threading.get_ident()}"
        )
        self.batch_size = batch_size
        self.max_wait_time_ms = max_wait_time_ms
        self.poll_time_ms = poll_time_ms
        self.cleanup_on_exit = cleanup_on_exit
        self._hard_stop_ms = 0

    # -- internals -------------------------------------------------------
    def _set_hard_stop_time(self) -> None:
        self._hard_stop_ms = now_ms() + self.max_wait_time_ms

    def _keep_fetching(self, assigned: int) -> bool:
        return now_ms() <= self._hard_stop_ms and assigned < self.batch_size

    def _touch(self, state: dict) -> None:
        state["consumers"].setdefault(self.consumer_id, {})["last_seen_ms"] = now_ms()

    def _claim(self, state: dict, first: bool):
        """One locked step of the fill loop: touch the consumer, claim up
        to the deficit of never-delivered messages ('>' read) with a
        single ``read_slice`` advancing the group cursor, then return
        this consumer's own PEL sorted by position and capped at
        batch_size (the '0' re-read) with the claimed rows.  On the
        first step of a ``get_items`` the entries this consumer already
        had pending are a redelivery, so the counter of those the batch
        hands out again is bumped.  Runs under the group lock so
        concurrent consumers claim disjoint messages (the Redis-server
        serialization of XREADGROUP); it only mutates ``state``, so it
        is safe to re-run."""
        self._touch(state)
        own, pending = pel_own(state, self.consumer_id, self.batch_size, redeliver=first)
        want = max(0, self.batch_size - pending)
        rows = []
        if want:
            start = state["last_delivered_pos"]
            end = self.log.count()
            rows = self.log.read_slice(start, min(start + want, end))
            if not rows and start < end:
                # the cursor fell behind the trim point: like Redis's '>'
                # read, claim from the oldest surviving entry
                start = max(start, self.log.first_pos())
                rows = self.log.read_slice(start, min(start + want, end))
        claimed = [(pos, msgid) for pos, msgid, _ in rows]
        pel_claim(state, self.consumer_id, claimed, now_ms())
        if rows:
            state["last_delivered_pos"] = rows[-1][0] + 1
        # the cursor only advances, so every claimed row sorts after
        # every entry already in the PEL
        return (own + claimed)[: self.batch_size], rows

    # -- public API ------------------------------------------------------
    def get_items(self) -> list[RedisMsg]:
        """Collect up to batch_size messages, returning after at most
        ~max_wait_time_ms even when the batch is incomplete."""
        self._set_hard_stop_time()
        content: dict[str, dict] = {}
        first = True
        while True:
            mine, rows = self.log.update_group(
                self.consumer_group, lambda state: self._claim(state, first)
            )
            first = False
            content.update((msgid, c) for _, msgid, c in rows)
            if not self._keep_fetching(len(mine)):
                break
            # a claim that left the batch short found the stream dry:
            # the BLOCK emulation
            remaining = self._hard_stop_ms - now_ms()
            time.sleep(max(0.0, min(self.poll_time_ms, remaining) / 1000.0))
        # recovered and XCLAIMed entries were not parsed by a claim
        missing = [pos for pos, msgid in mine if msgid not in content]
        if missing:
            content.update(
                (msgid, c)
                for _, msgid, c in self.log.read_slice(min(missing), max(missing) + 1)
            )
        return [RedisMsg(msgid=msgid, content=content.get(msgid, {})) for _, msgid in mine]

    def remove_item_from_consumer_group(self, item_id: str) -> int:
        """XACK: drop one message from the PEL; the message itself stays
        in the stream (physical deletion is a retention concern —
        consumer.py:184-187 points at xdel/compaction)."""
        return self.log.update_group(
            self.consumer_group, lambda state: pel_ack(state, [item_id])
        )

    def remove_items_from_consumer_group(self, item_ids: list[str]) -> int:
        """Batch XACK (engine extension): one locked state update for a
        whole batch — the high-throughput ack path (the reference only
        offers per-item ack; per-item remains for parity)."""
        return self.log.update_group(
            self.consumer_group, lambda state: pel_ack(state, item_ids)
        )

    def remove_item_from_stream(self, item_id: str) -> int:
        """Deprecated alias kept for API parity (consumer.py:193-207)."""
        warnings.warn(
            "remove_item_from_stream is deprecated; use "
            "remove_item_from_consumer_group",
            DeprecationWarning,
            stacklevel=2,
        )
        return self.remove_item_from_consumer_group(item_id)
