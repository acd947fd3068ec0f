"""Structured-Streaming source/sink tests for format("redislog").

Covers the reference's delivery contract on Spark (SURVEY M2): deliver
from beginning, ≤ batch_size rows per micro-batch, epoch commit as ack,
no offset regression across reader restarts (replay-after-failure), sink
append with idempotent commit + maxlen retention.
"""

from __future__ import annotations

import json
import os

import pytest

from redis_streams_spark.sources import stream_log
from redis_streams_spark.sources.datasource import (
    EpochRows,
    RedisLogDataSource,
    RedisLogStreamReader,
    RedisLogStreamWriter,
)
from redis_streams_spark.sources.fake_redis import FakeRedis
from redis_streams_spark.sources.redis_log import RedisStreamLog
from redis_streams_spark.sources.resp import RespServer
from redis_streams_spark.sources.stream_log import StreamLog
from redis_streams_spark.streaming import Producer


@pytest.fixture()
def seeded_log(tmp_path):
    log = StreamLog(str(tmp_path), "s1")
    prod = Producer(log, "s1")
    for i in range(23):
        prod.add({"i": i, "payload": f"msg{i}"})
    return str(tmp_path), log


def _register(spark):
    try:
        spark.dataSource.register(RedisLogDataSource)
    except Exception:
        pass  # already registered in this session


def test_batch_read(spark, seeded_log):
    root, _ = seeded_log
    _register(spark)
    df = (
        spark.read.format("redislog").option("path", root).option("stream", "s1").load()
    )
    rows = df.collect()
    assert len(rows) == 23
    assert df.columns == ["msgid", "content"]
    assert rows[0]["content"]["payload"] == "msg0"


def test_stream_reader_batch_cap_and_restart(seeded_log):
    """Offset planning honors batch_size; a restarted reader resumes from
    persisted group state instead of regressing (the last-delivered-id
    role of the group cursor)."""
    root, log = seeded_log
    opts = {"path": root, "stream": "s1", "group": "g1", "batch_size": "10"}
    r = RedisLogStreamReader(opts)
    assert r.initialOffset() == {"pos": 0}
    o1 = r.latestOffset()
    assert o1 == {"pos": 10}  # capped at batch_size
    parts = r.partitions({"pos": 0}, o1)
    n_rows = sum(b.num_rows for b in r.read(parts[0]))  # arrow batches
    assert n_rows == 10
    r.commit(o1)
    o2 = r.latestOffset()
    assert o2 == {"pos": 20}
    # crash before commit of batch 2; new reader (restart)
    r2 = RedisLogStreamReader(opts)
    o3 = r2.latestOffset()
    assert o3["pos"] >= 20  # no regression below planned
    replay = sum(
        b.num_rows for b in r2.read(r2.partitions({"pos": 10}, {"pos": 20})[0])
    )
    assert replay == 10  # uncommitted range is replayable (PEL)
    o4 = r2.latestOffset()
    assert o4 == {"pos": 23}  # tail

    state = log.group_state("g1")
    assert state["last_committed"] == 10
    assert state["last_planned"] == 23


@pytest.fixture(params=["file", "redis"])
def log_opts(tmp_path, request):
    """Data-source options and the log they open, on the file backend
    and on the Redis backend behind a RESP socket (the reader or writer
    dials the ``redis_url`` option, as executor workers do)."""
    opts = {"path": str(tmp_path), "stream": "s", "group": "g", "batch_size": "10"}
    if request.param == "file":
        return opts, StreamLog(str(tmp_path), "s")
    name = f"src-{tmp_path.name}"
    request.addfinalizer(lambda: FakeRedis.reset_server(name))
    server = RespServer(FakeRedis(name)).start()
    request.addfinalizer(server.stop)
    opts["redis_url"] = server.url
    return opts, RedisStreamLog(str(tmp_path), "s", client=FakeRedis(name))


def _first_batch(reader) -> tuple[int, int, list[str]]:
    """(start, end, row contents) of a fresh query's first micro-batch."""
    start, end = reader.initialOffset(), reader.latestOffset()
    contents = [
        content
        for part in reader.partitions(start, end)
        for batch in reader.read(part)
        for content in batch.column("content").to_pylist()
    ]
    return start["pos"], end["pos"], [dict(c)["i"] for c in contents]


def test_fresh_checkpoint_starts_at_group_commit_point(log_opts):
    """A query started with a fresh checkpoint on a group that already
    committed through 30 resumes there: its first batch is the next
    batch_size rows, not the 30 committed ones plus 10 new."""
    opts, log = log_opts
    Producer(log, "s").add_many([{"i": i} for i in range(50)])
    first = RedisLogStreamReader(opts)
    assert first.initialOffset() == {"pos": 0}  # a new group starts at 0
    for _ in range(3):
        first.commit(first.latestOffset())
    assert log.group_state("g")["last_committed"] == 30

    start, end, rows = _first_batch(RedisLogStreamReader(opts))
    assert (start, end) == (30, 40)
    assert rows == [str(i) for i in range(30, 40)]


def test_fresh_group_on_trimmed_stream_starts_at_oldest_survivor(log_opts):
    opts, log = log_opts
    Producer(log, "s", maxlen=15).add_many([{"i": i} for i in range(50)])
    assert log.first_pos() == 35
    start, end, rows = _first_batch(RedisLogStreamReader(opts))
    assert (start, end) == (35, 45)
    assert rows == [str(i) for i in range(35, 45)]


def test_streaming_end_to_end_with_batch_cap(spark, seeded_log, tmp_path):
    root, _ = seeded_log
    _register(spark)
    stream_df = (
        spark.readStream.format("redislog")
        .option("path", root)
        .option("stream", "s1")
        .option("group", "e2e")
        .option("batch_size", "7")
        .load()
    )
    q = (
        stream_df.writeStream.format("memory")
        .queryName("redislog_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM redislog_out").collect()
        assert len(out) == 23
        batch_sizes = [
            p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0
        ]
        assert batch_sizes and max(batch_sizes) <= 7  # count bound per trigger
    finally:
        q.stop()


def test_stream_writer_sink(spark, seeded_log, tmp_path):
    """Copy one stream into another through the sink; commit is the
    append point; maxlen retention applies on commit.  The epochs'
    replay record is the output meta's ``sinks`` entry, and the sink
    leaves no file of its own beside the log."""
    root, _ = seeded_log
    _register(spark)
    src = (
        spark.readStream.format("redislog")
        .option("path", root)
        .option("stream", "s1")
        .option("group", "copy")
        .option("batch_size", "7")
        .load()
    )
    q = (
        src.writeStream.format("redislog")
        .option("path", root)
        .option("stream", "s2")
        .option("maxlen", "15")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = StreamLog(root, "s2")
    assert out.count() == 23  # all appended
    assert out.xlen() <= 15  # retention bound
    kept = out.read_slice(out.first_pos(), out.count())
    assert kept[-1][2]["payload"] == "msg22"  # newest retained
    assert out._meta()["sinks"] == {str(tmp_path / "ckpt2"): 3}  # 4 epochs
    left = sorted(os.listdir(out.dir))
    assert left == ["groups", "log.jsonl", "meta.json", "stream.lock"]


def test_available_now_uncapped(spark, seeded_log, tmp_path):
    """Trigger.AvailableNow snapshots one latestOffset() as its end, so
    the per-trigger cap must be disabled (batch_size=0) to drain the
    stream; with a cap it stops after one batch (documented)."""
    root, _ = seeded_log
    _register(spark)
    src = (
        spark.readStream.format("redislog")
        .option("path", root)
        .option("stream", "s1")
        .option("group", "an")
        .option("batch_size", "0")
        .load()
    )
    q = (
        src.writeStream.format("memory")
        .queryName("an_out")
        .option("checkpointLocation", str(tmp_path / "ckan"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)  # availableNow terminates on its own; guard only
    assert spark.sql("SELECT count(*) c FROM an_out").collect()[0].c == 23


def test_batch_writer_roundtrip(spark, tmp_path, sf_dir):
    """df.write.format('redislog') batch sink: arbitrary flat rows become
    messages; read back via the batch reader."""
    _register(spark)
    from redis_streams_spark.session import load_table

    nation = load_table(spark, sf_dir, "nation").limit(10)
    (
        nation.write.format("redislog")
        .option("path", str(tmp_path))
        .option("stream", "dim")
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("redislog")
        .option("path", str(tmp_path))
        .option("stream", "dim")
        .load()
    )
    rows = back.collect()
    assert len(rows) == 10
    names = {r["content"]["n_name"] for r in rows}
    assert all(n.startswith("NATION_") for n in names)
    # overwrite mode resets the stream
    (
        nation.limit(3)
        .write.format("redislog")
        .option("path", str(tmp_path))
        .option("stream", "dim")
        .mode("overwrite")
        .save()
    )
    assert (
        spark.read.format("redislog")
        .option("path", str(tmp_path))
        .option("stream", "dim")
        .load()
        .count()
        == 3
    )


def test_batch_writer_struct_content_passthrough(spark, tmp_path):
    """A STRUCT-typed `content` column passes through field→string like
    the map path — not repr()'d into one blob by the generic branch
    (r09 review finding on the Arrow writer rewrite)."""
    _register(spark)
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.struct(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
            F.col("id").alias("n"),
        ).alias("content")
    )
    (
        df.write.format("redislog")
        .option("path", str(tmp_path))
        .option("stream", "structed")
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("redislog")
        .option("path", str(tmp_path))
        .option("stream", "structed")
        .load()
        .collect()
    )
    contents = sorted(
        (r["content"]["k"], r["content"]["n"]) for r in back
    )
    assert contents == [("k0", "0"), ("k1", "1"), ("k2", "2")]


def _rows(*keys: str) -> list[EpochRows]:
    """One write task's commit message carrying rows ``{"k": key}``."""
    return [EpochRows([json.dumps({"k": k}) for k in keys])]


def test_stream_writer_commit_replay_idempotent(tmp_path):
    """A replayed epoch commit (same batchId after a driver failure) must
    not double-append: the sink's record in the log meta makes the
    second commit a no-op."""
    root, ckpt = str(tmp_path), str(tmp_path / "ck")
    writer = RedisLogStreamWriter(
        {"path": root, "stream": "rw", "checkpointlocation": ckpt}
    )
    writer.commit(_rows("1", "2"), batchId=7)
    log = StreamLog(root, "rw")
    assert log.xlen() == 2
    # replay of the SAME epoch (same rows, same batchId)
    writer.commit(_rows("1", "2"), batchId=7)
    assert log.xlen() == 2  # idempotent — no double append
    # next epoch appends normally
    writer.commit(_rows("3"), batchId=8)
    assert log.xlen() == 3
    assert log._meta()["sinks"] == {ckpt: 8}


def test_sink_epochs_of_two_queries_do_not_collide(log_opts):
    """Two queries (two checkpoint locations) write one output stream
    and each commits its epoch 0: the stream holds both rows.  A replay
    record keyed by batchId alone took B's epoch 0 for a replay of A's
    and dropped it."""
    opts, log = log_opts
    a = RedisLogStreamWriter({**opts, "checkpointlocation": "/ck/a"})
    b = RedisLogStreamWriter({**opts, "checkpointlocation": "/ck/b"})
    a.commit(_rows("a"), batchId=0)
    b.commit(_rows("b"), batchId=0)
    assert [c["k"] for _, _, c in log.read_slice(0, log.count())] == ["a", "b"]
    # each query's own replay is still a no-op
    a.commit(_rows("a"), batchId=0)
    assert log.count() == 2


def test_union_of_two_stream_sources(spark, tmp_path):
    """Two redislog streams compose with plain DataFrame union — the
    multi-stream ingestion shape (per-topic logs unioned into one
    pipeline)."""
    from redis_streams_spark.sources.stream_log import StreamLog
    from redis_streams_spark.streaming import Producer
    from redis_streams_spark.streaming.bridge import open_stream

    for name, vals in (("s_a", [1, 2]), ("s_b", [3])):
        prod = Producer(StreamLog(str(tmp_path), name), name)
        for v in vals:
            prod.add({"v": v})

    a = open_stream(spark, str(tmp_path), "s_a", group="u", batch_size=10)
    b = open_stream(spark, str(tmp_path), "s_b", group="u", batch_size=10)
    q = (
        a.unionByName(b)
        .writeStream.format("memory")
        .queryName("union_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(240)  # availableNow terminates on its own; guard only
    finally:
        q.stop()
    vals = sorted(
        r.content["v"] for r in spark.sql("SELECT * FROM union_out").collect()
    )
    assert vals == ["1", "2", "3"]


def test_batch_writer_null_content_rows(spark, tmp_path):
    """NULL content rows serialize as empty payloads instead of crashing
    the write task (second r09 review pass)."""
    _register(spark)
    from pyspark.sql import functions as F

    df = spark.range(2).select(
        F.when(
            F.col("id") == 0, F.create_map(F.lit("k"), F.lit("v"))
        ).alias("content")
    )
    (
        df.write.format("redislog")
        .option("path", str(tmp_path))
        .option("stream", "nullable")
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("redislog")
        .option("path", str(tmp_path))
        .option("stream", "nullable")
        .load()
        .collect()
    )
    contents = sorted((dict(r["content"]) for r in back), key=len)
    assert contents == [{}, {"k": "v"}]


def test_commit_failure_preserves_staged_rows_for_retry(tmp_path, monkeypatch):
    """If the append fails mid-commit (here: the meta write, after the
    rows reached the log file), the epoch is neither visible nor
    recorded, so Spark's retry of the commit with the same messages
    appends it exactly once."""
    root = str(tmp_path)
    writer = RedisLogStreamWriter(
        {"path": root, "stream": "rf", "checkpointlocation": str(tmp_path / "ck")}
    )
    messages = _rows("1")

    def boom(path, payload):
        raise OSError("disk full")

    monkeypatch.setattr(stream_log, "_atomic_write", boom)
    with pytest.raises(OSError):
        writer.commit(messages, batchId=1)
    monkeypatch.undo()
    log = StreamLog(root, "rf")
    assert log.xlen() == 0 and "sinks" not in log._meta()
    writer.commit(messages, batchId=1)  # retry appends the epoch
    writer.commit(messages, batchId=1)  # and a further replay is a no-op
    assert [c for _, _, c in log.read_slice(0, log.count())] == [{"k": "1"}]


def test_append_many_serialized_rejects_malformed_payloads(tmp_path):
    """Pre-serialized payloads are spliced byte-for-byte into the
    line-oriented log, so a newline-bearing or non-object payload must
    raise instead of silently corrupting the framing (r09 advice)."""
    import pytest as _pytest

    from redis_streams_spark.sources.stream_log import StreamLog

    log = StreamLog(str(tmp_path), "val")
    ok = log.append_many_serialized(['{"k": "1"}', '{"k": "2"}'])
    assert len(ok) == 2
    for bad in ['{"k": "1"}\n{"k": "x"}', '"just a string"', "[1, 2]"]:
        with _pytest.raises(ValueError, match="single-line JSON object"):
            log.append_many_serialized([bad])
    assert log.xlen() == 2  # nothing partial appended
