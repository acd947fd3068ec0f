"""StreamLog — a file-backed append-only message log with consumer-group
state, shaped like a Redis Stream (SURVEY §1.1).

Layout (one directory per stream):
    <root>/<stream>/log.jsonl           {"msgid": "...", "content": {...}} per line
    <root>/<stream>/meta.json           {"appended": N, "first_pos": F,
                                         "last_ms": .., "last_seq": ..,
                                         "bytes": committed log length,
                                         "sinks": {sink_id: last batch}}
    <root>/<stream>/groups/<name>.json  cursor + PEL + consumer registry

Semantics mirrored from the reference:
- msgid is ``"<ms-epoch>-<seq>"``, monotonically increasing
  (redis_streams_test/test_producer.py:14); seq disambiguates same-ms adds,
  and a clock step-back continues the last millisecond's sequence
  (:func:`mint_ids`, shared with the Redis backend).
- positions are global append indexes: they never shift on trim, exactly
  like Redis msgids (trim advances ``first_pos``;
  producer.py:26-35 ``maxlen``).
- group state carries ``last_delivered_pos`` (the ``last-delivered-id``),
  a PEL (common.py:48-73) whose layout only the PEL functions of
  ``streaming/common.py`` know, and per-consumer ``last_seen_ms`` (the
  monitor's idle source, monitor.py:154).
- the log is written before meta, and meta records the committed byte
  length: lines past it are a torn tail from a crash between the two
  writes, cut off under the stream lock before the next append.  A meta
  without ``bytes`` (written before the length was recorded) is trusted
  as is.

This is the test/reference implementation of the storage contract; at
100 TB the same interface maps onto segmented object storage with a
manifest (meta.json generalizes to a manifest of sealed segments, and
read_slice becomes a segment-range scan).  All group-state mutations go
through atomic write-replace so concurrent readers never see torn JSON.

Locking honesty: the advisory flocks assume a POSIX-coherent filesystem
(local disk, or a shared FS with working byte-range locks).  NFS flock
semantics vary by mount options, and object stores have no flock at all
— an object-store deployment replaces both locks with conditional-put
(compare-and-swap on the manifest/group-state etag), which the
update_group(mutator) API is shaped for: the mutator re-runs on a CAS
conflict.
"""

from __future__ import annotations

import fcntl
import json
import os
import threading
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager


_INDEX_STEP = 256  # sparse offset-index granularity for read_slice
Epoch = tuple[str, int]  # (sink_id, batch_id) of a Spark sink epoch


def _atomic_write(path: str, payload: dict) -> None:
    # tmp name must be unique per writer (pid AND thread — concurrent
    # consumers may share a process), else writers clobber each other's
    # staging file mid-rename
    tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as f:
        # json.dump would run the pure-Python encoder with one write per
        # token; dumps uses the C encoder and writes the same bytes once
        f.write(json.dumps(payload).encode())
    os.replace(tmp, path)


def mint_ids(meta: dict, n: int) -> tuple[int, range]:
    """Mint the ids of an ``n``-message batch from the meta blob, for both
    backends: the batch shares one millisecond ``ms`` and takes the
    sequence numbers ``seqs``; message ``k`` is ``f"{ms}-{seqs[k]:06d}"``.
    ``ms`` never falls below the last minted one, so ids stay unique and
    strictly increasing when the clock steps back.  Advances ``appended``,
    ``last_ms`` and ``last_seq`` in ``meta``; the caller persists it.  An
    empty batch (a sink epoch without rows) mints nothing."""
    if not n:
        return meta["last_ms"], range(0)
    ms = max(int(time.time() * 1000), meta["last_ms"])
    seq = meta["last_seq"] + 1 if ms == meta["last_ms"] else 0
    meta.update(appended=meta["appended"] + n, last_ms=ms, last_seq=seq + n - 1)
    return ms, range(seq, seq + n)


def record_epoch(meta: dict, epoch: Epoch) -> bool:
    """Record a sink epoch in the meta blob, for both backends:
    ``meta["sinks"][sink_id]`` is the sink's last appended batch.  False,
    recording nothing, for a batch at or below it: a replay whose rows
    are already in the log."""
    sink_id, batch_id = epoch
    sinks = meta.setdefault("sinks", {})
    if batch_id <= sinks.get(sink_id, -1):
        return False
    sinks[sink_id] = batch_id
    return True


def check_serialized(payloads: list[str]) -> None:
    """Shape check for pre-serialized content payloads: each is spliced
    into a line-oriented log, so it must be brace-delimited JSON object
    text with no raw newline.  Cheap (no json.loads): a malformed payload
    raises here instead of corrupting the log framing."""
    for payload in payloads:
        if "\n" in payload or not payload.startswith("{") or not payload.endswith("}"):
            raise ValueError(
                "append_many_serialized payload must be single-line "
                f"JSON object text, got: {payload[:80]!r}"
            )


class StreamLog:
    def __init__(self, root: str, stream: str):
        self.root = root
        self.stream = stream
        self.dir = os.path.join(root, stream)
        self.log_path = os.path.join(self.dir, "log.jsonl")
        self.meta_path = os.path.join(self.dir, "meta.json")
        self.groups_dir = os.path.join(self.dir, "groups")
        # created eagerly: a lazy check-then-set in stream_lock() would let
        # racing threads clobber each other's threading.local and leak fds
        self._lock_tl = threading.local()
        os.makedirs(self.groups_dir, exist_ok=True)

    # threading.local (and any cached lock fd / offset index) cannot and
    # must not cross a pickle boundary — DataSource partitions serialize
    # StreamLog to executors; each deserialized copy gets fresh locals
    def __getstate__(self) -> dict:
        state = self.__dict__.copy()
        for k in ("_lock_tl", "_offset_index", "_index_first"):
            state.pop(k, None)
        return state

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._lock_tl = threading.local()

    # -- meta ------------------------------------------------------------
    def _meta(self) -> dict:
        try:
            with open(self.meta_path, "rb") as f:
                return json.loads(f.read())
        except FileNotFoundError:
            return {
                "appended": 0, "first_pos": 0, "last_ms": 0, "last_seq": -1, "bytes": 0
            }

    def count(self) -> int:
        """Total messages ever appended (= next position)."""
        return self._meta()["appended"]

    def first_pos(self) -> int:
        return self._meta()["first_pos"]

    def xlen(self) -> int:
        """Messages currently retained (post-trim) — Redis XLEN."""
        m = self._meta()
        return m["appended"] - m["first_pos"]

    def last_msgid(self) -> str | None:
        m = self._meta()
        if m["appended"] == 0:
            return None
        return f"{m['last_ms']}-{m['last_seq']:06d}"

    # -- append / read / trim -------------------------------------------
    @contextmanager
    def stream_lock(self):
        """Advisory exclusive lock serializing log+meta read-modify-write
        (append/trim).  Redis XADD is atomic server-side; without this,
        two concurrent producers both read appended=N and one message
        becomes permanently invisible (meta undercount) or duplicate
        msgids get minted from a clobbered last_ms/last_seq.

        The lock-file handle is cached per (instance, thread) — reopening
        per append measurably halves single-message producer throughput.
        flock excludes per open-file-description, so the cache must be
        thread-local: two threads sharing one fd would both "hold" the
        lock; with per-thread fds, threads, instances, and processes all
        exclude each other correctly."""
        tl = self._lock_tl
        f = getattr(tl, "f", None)
        if f is None or f.closed:
            f = tl.f = open(os.path.join(self.dir, "stream.lock"), "w")
        fcntl.flock(f, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(f, fcntl.LOCK_UN)

    def append(self, content: dict, maxlen: int | None = None) -> str:
        """Append one message; returns its msgid.  With ``maxlen`` the log
        is trimmed to the newest ``maxlen`` entries (reference
        producer.py:44-48 — ours is exact rather than ``MAXLEN ~``
        approximate: a strictly stronger guarantee, noted divergence)."""
        return self.append_many([content], maxlen)[0]

    def append_many(self, contents: list[dict], maxlen: int | None = None) -> list[str]:
        """Batch append: one meta write for the whole batch (the
        amortization the reference lacks — producer.py:44-49 is one XADD
        round trip per message)."""
        return self._append_payloads(
            [json.dumps({k: str(v) for k, v in c.items()}) for c in contents], maxlen
        )

    def append_many_serialized(
        self, payloads: list[str], maxlen: int | None = None, epoch: Epoch | None = None
    ) -> list[str]:
        """Batch append of PRE-SERIALIZED content objects: each element
        is the JSON text of a ``{str: str}`` content dict (exactly what
        ``json.dumps`` inside :meth:`append_many` would produce), spliced
        into the log byte-for-byte — no per-message parse/re-serialize on
        the hot sink path (the Spark sink serializes content JSON once at
        task side and the commit appends it; the read path does the only
        json.loads).  Malformed payloads raise before anything is written
        (:func:`check_serialized`).  ``epoch=(sink_id, batch_id)`` is a
        sink epoch (:func:`record_epoch`): recorded by the same meta
        write, and a replayed one appends nothing."""
        check_serialized(payloads)
        return self._append_payloads(payloads, maxlen, epoch)

    def _append_payloads(
        self, payloads: list[str], maxlen: int | None, epoch: Epoch | None = None
    ) -> list[str]:
        """The one locked write every append goes through: mint the
        batch's ids, cut any torn tail, one buffered write of the spliced
        lines, one meta write (with the sink epoch, if any), then trim."""
        if not payloads and epoch is None:
            return []
        with self.stream_lock():
            m = self._meta()
            if epoch is not None and not record_epoch(m, epoch):
                return []
            ms, seqs = mint_ids(m, len(payloads))
            ids = [f"{ms}-{seq:06d}" for seq in seqs]
            # byte-identical to json.dumps({"msgid": id, "content": c})
            data = "".join(
                '{"msgid": "' + msgid + '", "content": ' + payload + "}\n"
                for msgid, payload in zip(ids, payloads)
            ).encode()
            with open(self.log_path, "ab") as f:
                end = f.seek(0, os.SEEK_END)
                if end > m.get("bytes", end):
                    end = m["bytes"]
                    f.truncate(end)
                f.write(data)
            m["bytes"] = end + len(data)
            _atomic_write(self.meta_path, m)
            if maxlen is not None and m["appended"] - m["first_pos"] > maxlen:
                self._trim_locked(maxlen)
        return ids

    def read_slice(self, start_pos: int, end_pos: int) -> list[tuple[int, str, dict]]:
        """Messages with position in [start_pos, end_pos) as
        (pos, msgid, content).  Positions below first_pos are gone
        (trimmed) and silently skipped — same as XRANGE after XTRIM.

        A sparse per-instance (pos → byte offset) index (one entry per
        _INDEX_STEP lines, built as a side effect of scans) makes any
        range read O(step + range) instead of O(log length); invalidated
        by trim (first_pos changes)."""
        if not os.path.exists(self.log_path):
            return []
        first = self.first_pos()
        if getattr(self, "_index_first", None) != first:
            self._index_first = first
            self._offset_index: dict[int, int] = {first: 0}
        idx = self._offset_index
        seek_pos = max(
            (p for p in idx if p <= start_pos), default=first
        )
        lines: list[bytes] = []
        # binary mode: TextIOWrapper.tell() re-derives codec state per call
        # and was >50% of scan time under profile (round 8); on a binary
        # stream tell() is a buffered-offset read and json.loads accepts
        # the utf-8 bytes directly
        with open(self.log_path, "rb") as f:
            pos = seek_pos
            f.seek(idx[seek_pos])
            while True:
                if pos % _INDEX_STEP == 0:
                    idx[pos] = f.tell()
                line = f.readline()
                if not line or pos >= end_pos:
                    break
                if pos >= start_pos:
                    lines.append(line)
                pos += 1
        # one parse of the whole range as a JSON array: a third of the
        # cost of one json.loads per line
        recs = json.loads(b"[" + b",".join(lines) + b"]")
        lo = max(start_pos, seek_pos)
        return [(lo + k, r["msgid"], r["content"]) for k, r in enumerate(recs)]

    def trim(self, maxlen: int) -> int:
        """Keep only the newest ``maxlen`` messages; returns removed count."""
        with self.stream_lock():
            return self._trim_locked(maxlen)

    def _trim_locked(self, maxlen: int) -> int:
        m = self._meta()
        retained = m["appended"] - m["first_pos"]
        excess = retained - maxlen
        if excess <= 0:
            return 0
        with open(self.log_path, "rb") as f:
            data = f.read(m.get("bytes", -1))
        cut = 0
        for _ in range(excess):
            cut = data.index(b"\n", cut) + 1
        tmp = f"{self.log_path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(data[cut:])
        os.replace(tmp, self.log_path)
        m["first_pos"] += excess
        m["bytes"] = len(data) - cut
        _atomic_write(self.meta_path, m)
        return excess

    def delete(self) -> None:
        """Reset the stream entirely (test-harness op, SURVEY S19).  Meta
        goes first: a crash before the log is removed leaves a log that
        the default meta's zero length marks as a torn tail."""
        with self.stream_lock():
            for p in (self.meta_path, self.log_path):
                if os.path.exists(p):
                    os.remove(p)
        for g in self.list_groups():
            self.destroy_group(g)

    # -- consumer groups -------------------------------------------------
    def _group_path(self, group: str) -> str:
        return os.path.join(self.groups_dir, f"{group}.json")

    def create_group(self, group: str) -> None:
        """Idempotent group creation from position 0 (= XGROUP CREATE
        <stream> <group> 0-0 MKSTREAM, common.py:20-41: deliver-from-
        beginning, BUSYGROUP tolerated).

        The existence check re-runs under the group lock: an unlocked
        check-then-write is a TOCTOU — with N consumers constructed
        concurrently on a fresh group, one constructor's delayed empty
        write could land AFTER another consumer's first claim and reset
        last_delivered_pos/PEL, re-delivering the head of the stream
        (caught as an exact-batch-size duplicate burst by
        test_concurrent_consumers.py once the drain was synchronized)."""
        if not os.path.exists(self._group_path(group)):
            with self.group_lock(group):
                if not os.path.exists(self._group_path(group)):
                    _atomic_write(self._group_path(group), self._empty_group())

    @staticmethod
    def _empty_group() -> dict:
        return {
            "last_delivered_pos": 0,
            "pel": {},
            "consumers": {},
            "last_planned": 0,
            "last_committed": 0,
        }

    def group_state(self, group: str) -> dict:
        try:
            with open(self._group_path(group), "rb") as f:
                return json.loads(f.read())
        except FileNotFoundError:
            return self._empty_group()

    @contextmanager
    def group_lock(self, group: str):
        """Advisory exclusive lock for read-modify-write of group state —
        serializes concurrent consumers/readers of the same group the way
        Redis serializes XREADGROUP/XACK (single-threaded server)."""
        lock_path = self._group_path(group) + ".lock"
        with open(lock_path, "w") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)

    def update_group(self, group: str, mutator: Callable[[dict], object]) -> object:
        """Atomically read-modify-write group state under the lock; the
        mutator's return value is passed through."""
        with self.group_lock(group):
            state = self.group_state(group)
            result = mutator(state)
            _atomic_write(self._group_path(group), state)
            return result

    def list_groups(self) -> list[str]:
        if not os.path.isdir(self.groups_dir):
            return []
        return sorted(
            f[:-5] for f in os.listdir(self.groups_dir) if f.endswith(".json")
        )

    def destroy_group(self, group: str) -> None:
        p = self._group_path(group)
        if os.path.exists(p):
            os.remove(p)
