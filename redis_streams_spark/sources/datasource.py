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
- The stream writer's tasks return their rows as content-JSON lines in
  their commit messages, and the driver-side ``commit`` appends them in
  one batch whose meta write also records the epoch
  (``meta["sinks"][sink_id] = batchId``): a replayed commit appends
  nothing, and the sink keeps no file or key beside the log.  ``maxlen``
  retention runs inside the append (S2's trim-on-write).

Options: path (log root), stream, group (default "spark"),
batch_size (default 100), maxlen (writer only), redis_url (Redis
backend; travels with the serialized plan into executor workers, see
``connect_log``).  The stream writer also reads the query's
``checkpointLocation`` as its sink id.

Backend: logs are opened through ``connect_log`` — file-backed
StreamLog by default, RedisStreamLog when the ``redis_url`` option (or
the ``RSS_REDIS_URL`` env var) points at a server.  The option is
carried inside the serialized RangePartition / writer objects, so
executor python workers open the SAME backend the driver planned
against, regardless of env skew.
"""

from __future__ import annotations

import json
import sys
import zipimport
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
class EpochRows(WriterCommitMessage):
    """One write task's rows as content-JSON lines: pyspark pickles the
    message back to the driver, which appends the lines on commit."""

    lines: list[str]


def _content_jsons(batch) -> list[str]:
    """Serialize one Arrow RecordBatch of sink input to content-JSON
    lines (the commit-message format, byte-identical to what append_many
    would write as each message's ``content`` object).  A ``content`` map
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


def _stage_batches(iterator) -> EpochRows:
    """Write task: serialize every RecordBatch to content-JSON lines and
    return them in the task's commit message."""
    _drop_zip_importers()
    lines: list[str] = []
    for batch in iterator:
        lines.extend(_content_jsons(batch))
    return EpochRows(lines)


def _epoch_lines(messages) -> list[str]:
    """Driver side: the epoch's lines, task by task (a failed task's
    message is None)."""
    return [line for msg in messages if msg is not None for line in msg.lines]


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


class RedisLogStreamWriter(DataSourceStreamArrowWriter):
    """Sink: every input row becomes one appended message.

    Rows with a ``content`` map column pass through; any other schema is
    serialized field→string (the reference's flat str|int|float payload,
    producer.py:37).  Write tasks return content-JSON lines in their
    commit messages; the driver's commit is one batch append + trim (one
    lock acquire, one buffered write, one meta write per epoch — vs the
    reference's one XADD round trip per message, producer.py:44-49) that
    records ``meta["sinks"][sink_id] = batchId`` and skips a batch at or
    below the record, so a replayed commit is a no-op.  ``sink_id`` is
    the query's ``checkpointLocation`` option; a query whose checkpoint
    comes from ``spark.sql.streaming.checkpointLocation`` does not pass
    it and shares the record ``""`` with every such query on the stream."""

    def __init__(self, options):
        self.root, self.stream, _, _, self.url = _opts(options)
        self.maxlen = int(options["maxlen"]) if "maxlen" in options else None
        self.sink_id = options.get("checkpointlocation", "")

    def write(self, iterator) -> EpochRows:
        return _stage_batches(iterator)

    def commit(self, messages, batchId: int) -> None:
        # an empty epoch still records its batch and re-enforces retention
        # (another writer may have grown the stream past maxlen)
        connect_log(self.root, self.stream, url=self.url).append_many_serialized(
            _epoch_lines(messages), maxlen=self.maxlen, epoch=(self.sink_id, batchId)
        )


class RedisLogBatchWriter(DataSourceArrowWriter):
    """Batch sink: ``df.write.format("redislog")`` appends every row as a
    message (overwrite mode resets the stream first).  Same task-side
    serialization and one driver-side append as the stream writer, minus
    the epoch record (a batch job has a single commit).  The rows reach the
    driver as task results, so one write is bounded by
    ``spark.driver.maxResultSize``; the driver holds every line in memory
    for the append either way."""

    def __init__(self, options, overwrite: bool):
        self.root, self.stream, _, _, self.url = _opts(options)
        self.maxlen = int(options["maxlen"]) if "maxlen" in options else None
        self.overwrite = overwrite

    def write(self, iterator) -> EpochRows:
        return _stage_batches(iterator)

    def commit(self, messages) -> None:
        log = connect_log(self.root, self.stream, url=self.url)
        if self.overwrite:
            log.delete()
        log.append_many_serialized(_epoch_lines(messages), maxlen=self.maxlen)
