"""Spark Python DataSource exposing a StreamLog as ``format("redislog")``.

Structured-Streaming mapping of the reference's delivery semantics
(SURVEY §3.1):

- ``initialOffset`` = the group's commit point (``last_committed``,
  clamped to the oldest retained position): position 0 for a new group —
  the reference's group creation at id ``0-0`` / deliver-from-beginning
  (common.py:20-41) — but a fresh checkpoint on a group that already
  committed resumes there instead of re-reading its history.
- ``latestOffset`` plans at most ``batch_size`` rows per trigger — the
  COUNT bound of the reference's time+count batch contract
  (consumer.py:92-103); the TIME bound is the query's trigger interval.
  This is the same planning idea as Kafka's ``maxOffsetsPerTrigger``.
- The planned cursor is persisted in the log's group state
  (``last_planned``) so a restarted query never regresses behind the
  checkpoint — the group file plays the role Redis plays for
  ``last-delivered-id``.
- ``commit(end)`` records ``last_committed`` — the epoch-level ACK (S7).
  Delivered-but-uncommitted positions (planned > committed) are exactly
  the PEL: after a crash they are re-read from the offset log and
  redelivered (at-least-once, like unacked messages, README.md:10).
- The stream writer stages rows per task and appends on driver-side
  ``commit`` with a per-batch marker for idempotent retry; ``maxlen``
  retention runs inside commit (S2's trim-on-write).

Options: path (log root), stream, group (default "spark"),
batch_size (default 100), maxlen (writer only), redis_url (Redis
backend; travels with the serialized plan into executor workers, see
``connect_log``).

Backend: logs are opened through ``connect_log`` — file-backed
StreamLog by default, RedisStreamLog when the ``redis_url`` option (or
the ``RSS_REDIS_URL`` env var) points at a server.  The option is
carried inside the serialized RangePartition / writer objects, so
executor python workers open the SAME backend the driver planned
against, regardless of env skew.
"""

from __future__ import annotations

import json
import os
import sys
import uuid
import zipimport
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from redis_streams_spark.sources.redis_log import connect_log

SCHEMA = "msgid string, content map<string,string>"


def _drop_zip_importers() -> None:
    """Make the next Python-worker call into this process cheap.

    Every pyspark worker call starts with ``importlib.invalidate_caches()``
    (``worker_util.setup_spark_files``).  On CPython < 3.13 that makes each
    cached ``zipimporter`` re-read its archive's central directory at once:
    with ``pyspark.zip`` (one importer per imported sub-package), the py4j
    zip and the spark-core jar on the worker's path, about 28k entries and
    125-130 ms per call.  CPython 3.13 made ``zipimporter.invalidate_caches``
    lazy: it only drops the archive's listing, which is re-read on the next
    lookup.  Doing the same here (forget the importers and their listings,
    so the next lookup rebuilds them from the archive as it is then) gives
    that behaviour on older versions.  Delete once 3.13 is the minimum."""
    if sys.version_info >= (3, 13):
        return
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)
            zipimport._zip_directory_cache.pop(finder.archive, None)


def _arrow_batches(records: list[tuple[int, str, dict]], chunk: int = 4096):
    """Yield Arrow RecordBatches for (pos, msgid, content) records —
    columnar transfer instead of per-row pickling (~10x on the read
    path)."""
    import pyarrow as pa

    schema = pa.schema(
        [
            pa.field("msgid", pa.string()),
            pa.field("content", pa.map_(pa.string(), pa.string())),
        ]
    )
    for k in range(0, len(records), chunk):
        part = records[k : k + chunk]
        # flat (offsets, keys, values) MapArray build instead of a
        # list-of-tuples python object per row: one str-array allocation
        # per column, ~3x on the conversion path (round-8 profile)
        keys: list[str] = []
        vals: list[str] = []
        offsets = [0]
        for _, _, content in part:
            keys.extend(content.keys())
            vals.extend(content.values())
            offsets.append(len(keys))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([msgid for _, msgid, _ in part], type=pa.string()),
                pa.MapArray.from_arrays(
                    pa.array(offsets, type=pa.int32()),
                    pa.array(keys, type=pa.string()),
                    pa.array(vals, type=pa.string()),
                ),
            ],
            schema=schema,
        )


@dataclass
class RangePartition(InputPartition):
    root: str
    stream: str
    start: int
    end: int
    # backend URL travels WITH the plan into executor workers — immune
    # to driver/worker env skew (None = file backend / env default)
    url: str | None = None


def _read_partition(partition: RangePartition):
    """Both readers' ``read``: the partition's range as Arrow batches."""
    _drop_zip_importers()
    log = connect_log(partition.root, partition.stream, url=partition.url)
    yield from _arrow_batches(log.read_slice(partition.start, partition.end))


@dataclass
class StagedCommit(WriterCommitMessage):
    staging_path: str
    n_rows: int


def _content_jsons(batch) -> list[str]:
    """Serialize one Arrow RecordBatch of sink input to content-JSON
    lines (the staged format, byte-identical to what append_many would
    write as each message's ``content`` object).  A ``content`` map
    column passes through; any other schema is serialized field→string
    (the reference's flat str|int|float payload, producer.py:37).
    Columnar ``to_pylist`` + one json.dumps per row replaces the r08
    per-Row ``asDict(recursive=True)`` hot path."""
    import pyarrow as pa

    names = list(batch.schema.names)
    if "content" in names:
        ctype = batch.schema.field("content").type
        col = batch.column(names.index("content"))
        if pa.types.is_map(ctype):
            # a NULL content row becomes an empty payload, not a crash
            # (second r09 review pass)
            return [
                json.dumps(
                    {} if pairs is None else {k: str(v) for k, v in pairs}
                )
                for pairs in col.to_pylist()
            ]
        if pa.types.is_struct(ctype):
            # struct-typed content passes through field→string, same as
            # the pre-Arrow writer's isinstance(d['content'], dict) path
            # (review finding, r09: it must not fall to the generic
            # branch, which would repr() the whole struct as one string)
            return [
                json.dumps(
                    {} if row is None else {k: str(v) for k, v in row.items()}
                )
                for row in col.to_pylist()
            ]
    cols = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
    return [
        json.dumps({n: str(v) for n, v in zip(names, vals)})
        for vals in zip(*cols)
    ]


def _stage_batches(root: str, stream: str, iterator) -> StagedCommit:
    """Task-side staging: serialize every RecordBatch to content-JSON
    lines in one staging file (buffered, one write per batch)."""
    _drop_zip_importers()
    staging_dir = os.path.join(root, stream, "staging")
    os.makedirs(staging_dir, exist_ok=True)
    path = os.path.join(staging_dir, f"{uuid.uuid4().hex}.jsonl")
    n = 0
    with open(path, "w") as f:
        for batch in iterator:
            lines = _content_jsons(batch)
            if lines:
                f.write("\n".join(lines) + "\n")
                n += len(lines)
    return StagedCommit(staging_path=path, n_rows=n)


def _append_staged(log, messages, maxlen: int | None) -> int:
    """Driver-side commit: concatenate staged content-JSON lines and
    append them in ONE batch through ``append_many_serialized`` (the
    file backend splices the lines byte-for-byte, the Redis backend
    parses them into fields).  Returns the number of rows appended.

    Staging files are removed only AFTER the append succeeds: if the
    backend raises (lock contention, disk full, Redis error), the
    epoch's staged rows stay on disk so a commit retry replays them and
    ``abort()`` has something to clean (r09 advice)."""
    lines: list[str] = []
    for msg in messages:
        if msg is None:
            continue
        with open(msg.staging_path) as f:
            lines.extend(ln.rstrip("\n") for ln in f if ln.strip())
    if lines:
        log.append_many_serialized(lines, maxlen=maxlen)
    _discard_staged(messages)
    return len(lines)


def _discard_staged(messages) -> None:
    """Remove the staging files of a committed, replayed or aborted epoch."""
    for msg in messages:
        if msg and os.path.exists(msg.staging_path):
            os.remove(msg.staging_path)


def _opts(options) -> tuple[str, str, str, int, str | None]:
    root = options.get("path")
    if not root:
        raise ValueError("option 'path' (stream log root dir) is required")
    stream = options.get("stream", "stream")
    group = options.get("group", "spark")
    batch_size = int(options.get("batch_size", "100"))
    url = options.get("redis_url")  # None → env / file backend
    return root, stream, group, batch_size, url


class RedisLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "redislog"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema: StructType) -> "RedisLogBatchReader":
        return RedisLogBatchReader(self.options)

    def streamReader(self, schema: StructType) -> "RedisLogStreamReader":
        return RedisLogStreamReader(self.options)

    # both driver-side sink runners (writer set-up and epoch commit) create
    # the writer through these
    def streamWriter(self, schema: StructType, overwrite: bool) -> "RedisLogStreamWriter":
        _drop_zip_importers()
        return RedisLogStreamWriter(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "RedisLogBatchWriter":
        _drop_zip_importers()
        return RedisLogBatchWriter(self.options, overwrite)


class RedisLogBatchReader(DataSourceReader):
    """Batch scan of the whole retained log (XRANGE - +)."""

    def __init__(self, options):
        self.root, self.stream, _, _, self.url = _opts(options)

    def partitions(self):
        log = connect_log(self.root, self.stream, url=self.url)
        return [
            RangePartition(
                self.root, self.stream, log.first_pos(), log.count(), self.url
            )
        ]

    def read(self, partition: RangePartition):
        yield from _read_partition(partition)


class RedisLogStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.root, self.stream, self.group, self.batch_size, self.url = _opts(options)
        self._log = connect_log(self.root, self.stream, url=self.url)
        self._log.create_group(self.group)

    def initialOffset(self) -> dict:
        committed = self._log.group_state(self.group)["last_committed"]
        return {"pos": max(committed, self._log.first_pos())}

    def latestOffset(self) -> dict:
        """Plan the next micro-batch: advance the group cursor by at most
        batch_size undelivered messages (deficit math of consumer.py:96
        lives here).  ``batch_size=0`` disables the cap — required for
        Trigger.AvailableNow, which snapshots ONE latestOffset() as its
        end and would otherwise stop after a single capped batch."""
        log = self._log

        def plan(state: dict) -> int:
            # never plan below the trim point, where initialOffset starts
            base = max(
                state["last_planned"], state["last_committed"], log.first_pos()
            )
            total = log.count()
            planned = (
                total if self.batch_size <= 0 else min(total, base + self.batch_size)
            )
            if planned != state["last_planned"]:
                state["last_planned"] = planned
                state["last_delivered_pos"] = max(
                    state["last_delivered_pos"], planned
                )
            return planned

        return {"pos": log.update_group(self.group, plan)}

    def partitions(self, start: dict, end: dict):
        return [
            RangePartition(self.root, self.stream, start["pos"], end["pos"], self.url)
        ]

    def read(self, partition: RangePartition):
        yield from _read_partition(partition)

    def commit(self, end: dict) -> None:
        """Epoch ack: everything below end.pos is processed (S7)."""

        def ack(state: dict) -> None:
            if end["pos"] > state["last_committed"]:
                state["last_committed"] = end["pos"]

        self._log.update_group(self.group, ack)

    def stop(self) -> None:
        pass


class RedisLogStreamWriter(DataSourceStreamArrowWriter):
    """Sink: every input row becomes one appended message.

    Rows with a ``content`` map column pass through; any other schema is
    serialized field→string (the reference's flat str|int|float payload,
    producer.py:37).  Two-phase: tasks stage Arrow batches as
    content-JSON lines, driver commit splices them into the log in one
    batch append + trim; a batch marker makes replayed commits no-ops
    (idempotent).  Arrow transfer + serialized splice is the write-path
    mirror of the r08 read-path rebuild (one epoch = one lock acquire,
    one buffered write, one meta write — vs the reference's one XADD
    round trip per message, producer.py:44-49)."""

    def __init__(self, options):
        self.root, self.stream, _, _, self.url = _opts(options)
        self.maxlen = int(options["maxlen"]) if "maxlen" in options else None

    def write(self, iterator) -> StagedCommit:
        return _stage_batches(self.root, self.stream, iterator)

    def _marker(self, batch_id: int) -> str:
        commits = os.path.join(self.root, self.stream, "commits")
        os.makedirs(commits, exist_ok=True)
        return os.path.join(commits, str(batch_id))

    def commit(self, messages, batchId: int) -> None:
        marker = self._marker(batchId)
        if os.path.exists(marker):  # replayed epoch → already appended
            _discard_staged(messages)
            return
        log = connect_log(self.root, self.stream, url=self.url)
        appended = _append_staged(log, messages, self.maxlen)
        if not appended and self.maxlen is not None:
            # empty epoch still re-enforces retention (another writer may
            # have grown the stream past maxlen since the last batch)
            log.trim(self.maxlen)
        with open(marker, "w") as f:
            f.write("ok")

    def abort(self, messages, batchId: int) -> None:
        _discard_staged(messages)


class RedisLogBatchWriter(DataSourceArrowWriter):
    """Batch sink: ``df.write.format("redislog")`` appends every row as a
    message (overwrite mode resets the stream first).  Same Arrow-staged
    two-phase commit as the stream writer, minus epoch markers (a batch
    job commits once)."""

    def __init__(self, options, overwrite: bool):
        self.root, self.stream, _, _, self.url = _opts(options)
        self.maxlen = int(options["maxlen"]) if "maxlen" in options else None
        self.overwrite = overwrite

    def write(self, iterator) -> StagedCommit:
        return _stage_batches(self.root, self.stream, iterator)

    def commit(self, messages) -> None:
        log = connect_log(self.root, self.stream, url=self.url)
        if self.overwrite:
            log.delete()
        _append_staged(log, messages, self.maxlen)

    def abort(self, messages) -> None:
        _discard_staged(messages)
