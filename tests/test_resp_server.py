"""RESP wire layer tests: protocol round trips, RedisStreamLog over an
actual socket, the three Lua lock scripts, crash self-heal, and — the
round-7 headline — the Spark DataSource reading and committing
micro-batches through the Redis backend FROM EXECUTOR PROCESSES.

The server is a thread wrapping :class:`FakeRedis` (real RESP2 on the
wire — a real ``redis-cli`` could talk to it); the client is the
pure-stdlib :class:`RespClient` that ``RedisStreamLog`` falls back to
when redis-py is absent, which is exactly what Spark's python workers
do when handed a ``redis_url`` option.  Reference contract exercised
over the wire: ``/root/reference/redis_streams/consumer.py:121-191``
(claim + batch + ack) and ``producer.py:26-49`` (append + retention).
"""

from __future__ import annotations

import pickle
import threading
import time
from types import SimpleNamespace

import pytest

from redis_streams_spark.sources.fake_redis import FakeRedis
from redis_streams_spark.sources.redis_log import (
    GUARDED_SET_SCRIPT,
    RELEASE_SCRIPT,
    RENEW_SCRIPT,
    LockLostError,
    RedisStreamLog,
)
from redis_streams_spark.sources.resp import RespClient, RespServer, ResponseError


@pytest.fixture()
def server(tmp_path, request):
    name = f"resp-{tmp_path.name}"
    request.addfinalizer(lambda: FakeRedis.reset_server(name))
    srv = RespServer(FakeRedis(name)).start()
    request.addfinalizer(srv.stop)
    return srv


@pytest.fixture()
def client(server) -> RespClient:
    return RespClient.from_url(server.url)


@pytest.fixture()
def wire_log(tmp_path, client) -> RedisStreamLog:
    return RedisStreamLog(str(tmp_path), "s", client=client)


# -- raw protocol --------------------------------------------------------

def test_wire_commands_round_trip(client):
    assert client.set("k", "v") is True
    assert client.get("k") == "v"
    assert client.set("k", "other", nx=True) is None  # NX refuses
    assert client.exists("k") == 1
    assert client.delete("k") == 1
    assert client.get("k") is None

    assert client.sadd("s", "a", "b") == 2
    assert client.smembers("s") == {"a", "b"}
    assert client.srem("s", "a") == 1

    rid = client.xadd("st", {"f": "1", "_msgid": "100-000000"}, id="100-0")
    assert rid == "100-0"
    client.xadd("st", {"f": "2"}, id="100-1")
    assert client.xlen("st") == 2
    entries = client.xrange("st")
    assert entries[0] == ("100-0", {"f": "1", "_msgid": "100-000000"})
    assert client.xrevrange("st", count=1)[0][0] == "100-1"
    with pytest.raises(ValueError, match="equal or smaller"):
        client.xadd("st", {"f": "3"}, id="100-0")  # id regression refused


def test_wire_pipeline_flushes_in_one_send(client):
    client.set("pk", "v")
    pipe = client.pipeline(transaction=False)
    pipe.xadd("p", {"i": "0"}, id="5-0")
    pipe.xadd("p", {"i": "1"}, id="5-1")
    pipe.get("pk")
    out = pipe.execute()
    assert out == ["5-0", "5-1", "v"]
    assert client.xlen("p") == 2


def test_wire_pipeline_error_keeps_connection_framed(client):
    """ADVICE r07 medium: a failed command mid-pipeline must not stop
    the reply drain — an error reply is still a framed reply, and
    abandoning the rest desyncs the shared connection permanently
    (reproduced there: GET of a missing key returned '200-0').  redis-py
    behavior: drain everything, then raise the first error."""
    client.xadd("fr", {"i": "0"}, id="200-0")
    client.set("frk", "v")
    pipe = client.pipeline(transaction=False)
    pipe.xadd("fr", {"i": "1"}, id="100-0")  # id regression → error reply
    pipe.xadd("fr", {"i": "2"}, id="200-1")  # must still drain (and apply)
    pipe.get("frk")  # its reply must be drained too, not left on the socket
    # pipelined xadd surfaces the same exception type as single xadd
    with pytest.raises(ValueError, match="equal or smaller"):
        pipe.execute()
    # the connection is still framed: every later command reads ITS reply
    assert client.get("missing-key") is None
    assert client.xlen("fr") == 2  # 200-0 and the post-error 200-1
    # and a clean pipeline on the same connection still works end-to-end
    pipe2 = client.pipeline(transaction=False)
    pipe2.get("missing-key")
    pipe2.xrevrange("fr", count=1)
    out = pipe2.execute()
    assert out[0] is None
    assert out[1][0][0] == "200-1"


def test_wire_unknown_command_is_error_not_hang(client):
    with pytest.raises(ResponseError, match="unknown command"):
        client._call("FLUSHALL")


def test_client_pickle_redials(server, client):
    client.set("pk", "pv")
    clone = pickle.loads(pickle.dumps(client))
    assert clone.get("pk") == "pv"  # separate connection, same server


# -- RedisStreamLog over the socket -------------------------------------

def test_stream_log_full_contract_over_wire(wire_log):
    ids = wire_log.append_many([{"i": i} for i in range(20)])
    assert len(ids) == 20
    assert wire_log.count() == 20
    assert wire_log.trim(5) == 15
    rows = wire_log.read_slice(0, 20)
    assert [pos for pos, _, _ in rows] == list(range(15, 20))
    wire_log.create_group("g")
    wire_log.update_group("g", lambda s: s.__setitem__("last_committed", 9))
    assert wire_log.group_state("g")["last_committed"] == 9
    assert wire_log.list_groups() == ["g"]


def test_wire_concurrent_appends_stay_serialized(server, tmp_path):
    # each thread its own connection — contention happens server-side
    logs = [
        RedisStreamLog(str(tmp_path), "s", client=RespClient.from_url(server.url))
        for _ in range(4)
    ]

    def worker(lg):
        for _ in range(25):
            lg.append({"x": 1})

    threads = [threading.Thread(target=worker, args=(lg,)) for lg in logs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert logs[0].count() == 100
    rows = logs[0].read_slice(0, 100)
    assert len({msgid for _, msgid, _ in rows}) == 100


# -- Lua lock scripts ----------------------------------------------------

def test_release_is_compare_and_delete(client):
    """The classic stolen-lock scenario: holder A's TTL expires
    mid-hold, B acquires, A's release must NOT delete B's lock."""
    assert client.set("lk", "tokenA", nx=True, px=50)
    time.sleep(0.08)  # A's TTL expires
    assert client.set("lk", "tokenB", nx=True, px=30_000)  # B acquires
    # A releases: compare-and-delete sees tokenB, deletes nothing
    assert client.eval(RELEASE_SCRIPT, 1, "lk", "tokenA") == 0
    assert client.get("lk") == "tokenB"
    # B's own release works
    assert client.eval(RELEASE_SCRIPT, 1, "lk", "tokenB") == 1
    assert client.get("lk") is None


def test_renew_extends_only_while_held(client):
    assert client.set("lk", "t1", nx=True, px=100)
    assert client.eval(RENEW_SCRIPT, 1, "lk", "t1", 30_000) == 1
    time.sleep(0.15)  # would have expired without the renewal
    assert client.get("lk") == "t1"
    assert client.eval(RENEW_SCRIPT, 1, "lk", "zz", 30_000) == 0  # wrong token


def test_guarded_set_refuses_after_lock_loss(client):
    assert client.set("lk", "t1", nx=True, px=40)
    assert client.eval(GUARDED_SET_SCRIPT, 2, "lk", "meta", "t1", "v1") == 1
    assert client.get("meta") == "v1"
    time.sleep(0.07)  # lock expired
    assert client.eval(GUARDED_SET_SCRIPT, 2, "lk", "meta", "t1", "v2") == 0
    assert client.get("meta") == "v1"  # untouched


def test_append_fails_loudly_when_lock_expires_mid_hold(wire_log, monkeypatch):
    """A hold that outlives its TTL (GC pause analogue) must not
    clobber meta silently: the guarded save raises LockLostError."""
    import redis_streams_spark.sources.redis_log as rl

    monkeypatch.setattr(rl, "_LOCK_TTL_MS", 50)
    real_execute_cls = type(wire_log.client.pipeline(transaction=False))
    orig_execute = real_execute_cls.execute

    def slow_execute(self):
        out = orig_execute(self)
        time.sleep(0.1)  # outlive the 50 ms TTL after the write flush
        return out

    monkeypatch.setattr(real_execute_cls, "execute", slow_execute)
    with pytest.raises(LockLostError):
        wire_log.append({"a": 1})


def test_crash_between_flush_and_meta_save_self_heals(wire_log, monkeypatch):
    """ADVICE r06 medium: writer dies after the pipeline flush but
    before the meta save → stream top is ahead of meta.  The next
    append must reconcile and position and mint PAST the orphaned
    entries instead of re-using their positions and msgids (or wedging
    every future XADD with an id-regression error)."""
    import redis_streams_spark.sources.stream_log as stream_log

    wire_log.append_many([{"i": i} for i in range(3)])
    m = wire_log._meta()
    # simulate the crash: write stream entries the meta never saw, each
    # keyed by its position (entry id <pos+1>-0) like append_many does
    top_ms = m["last_ms"]
    pipe = wire_log.client.pipeline(transaction=False)
    for k in range(2):
        pipe.xadd(
            wire_log._k_log,
            {"i": str(90 + k), "_msgid": f"{top_ms}-{m['last_seq'] + 1 + k:06d}"},
            id=f"{m['appended'] + 1 + k}-0",
        )
    pipe.execute()  # meta deliberately NOT saved — the crash window

    # a clock behind the orphans: the fresh id can only clear them if
    # reconcile took last_ms/last_seq from the stream top
    monkeypatch.setattr(stream_log, "time", SimpleNamespace(time=lambda: 0.0))
    ids = wire_log.append_many([{"i": "fresh"}])  # must not raise
    assert len(ids) == 1
    m2 = wire_log._meta()
    assert m2["appended"] == 6  # 3 committed + 2 adopted orphans + 1 fresh
    rows = wire_log.read_slice(0, 10)
    assert [pos for pos, _, _ in rows] == list(range(6))
    assert [c["i"] for _, _, c in rows] == ["0", "1", "2", "90", "91", "fresh"]
    msgids = [msgid for _, msgid, _ in rows]
    assert msgids == sorted(set(msgids))  # ids stayed strictly monotonic


# -- Spark end-to-end through the socket --------------------------------

def test_spark_streaming_source_and_sink_over_redis_backend(
    spark, server, tmp_path
):
    """The round-6 gap, closed: executor python workers open the Redis
    backend through the wire (redis_url option → connect_log →
    RespClient) and run the full micro-batch loop — source read with
    batch cap, epoch commit as ack, sink append with maxlen retention —
    against a live socket server, not an in-process fake."""
    from redis_streams_spark.sources.datasource import RedisLogDataSource
    from redis_streams_spark.streaming import Producer

    try:
        spark.dataSource.register(RedisLogDataSource)
    except Exception:
        pass  # already registered in this session

    root = str(tmp_path)
    src_log = RedisStreamLog(root, "rs1", client=RespClient.from_url(server.url))
    Producer(src_log, "rs1").add_many([{"i": i, "payload": f"msg{i}"} for i in range(23)])
    assert src_log.count() == 23

    stream_df = (
        spark.readStream.format("redislog")
        .option("path", root)
        .option("stream", "rs1")
        .option("group", "wire")
        .option("batch_size", "7")
        .option("redis_url", server.url)
        .load()
    )
    q = (
        stream_df.writeStream.format("redislog")
        .option("path", root)
        .option("stream", "rs2")
        .option("maxlen", "15")
        .option("redis_url", server.url)
        .option("checkpointLocation", str(tmp_path / "ckpt_wire"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # source group state lives server-side: planned/committed advanced
    state = src_log.group_state("wire")
    assert state["last_planned"] == 23
    assert state["last_committed"] >= 16  # all full epochs acked

    # sink wrote through the wire with retention applied
    out = RedisStreamLog(root, "rs2", client=RespClient.from_url(server.url))
    assert out.count() == 23
    assert out.xlen() <= 15
    kept = out.read_slice(out.first_pos(), out.count())
    assert kept[-1][2]["payload"] == "msg22"
    # the epochs' replay record is in the Redis meta, and the sink left
    # nothing on the local disk under its path
    assert out._meta()["sinks"] == {str(tmp_path / "ckpt_wire"): 3}
    assert not (tmp_path / "rs2").exists()

    # and the batch reader sees the sink stream over the wire too
    df = (
        spark.read.format("redislog")
        .option("path", root)
        .option("stream", "rs2")
        .option("redis_url", server.url)
        .load()
    )
    assert df.count() == out.xlen()


def test_nonzero_db_is_selected_or_rejected_loudly(server):
    # the URL's db index is honored like redis-py: db 0 connects fine,
    # a non-zero db against the single-db RespServer fails LOUDLY at
    # connect time instead of silently reading db 0 (review finding,
    # round 7: a silent fallback would split a redis-py driver and a
    # RespClient executor onto different keyspaces)
    ok = RespClient.from_url(f"redis://127.0.0.1:{server.port}/0")
    assert ok.set("k", "v") and ok.get("k") == "v"
    with pytest.raises(ResponseError, match="out of range"):
        RespClient.from_url(f"redis://127.0.0.1:{server.port}/3")


def test_truncated_command_frame_never_executes(server, client):
    # a client dying mid-frame must not execute a corrupted argument:
    # send a bulk header claiming 100 bytes but only part of the payload
    import socket as _socket

    raw = _socket.create_connection(("127.0.0.1", server.port))
    raw.sendall(b"*3\r\n$3\r\nSET\r\n$1\r\nk\r\n$100\r\ntruncated")
    raw.close()
    time.sleep(0.1)
    assert client.get("k") is None  # the partial SET was dropped
