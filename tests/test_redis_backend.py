"""RedisStreamLog backend specifics beyond the shared parity suite:
position stability across trim, pickle re-attach, lock mutual exclusion,
backend factory selection.  (The full producer/consumer/monitor/scaler
behavior is covered by tests/test_parity_api.py, which parametrizes over
both backends.)"""

from __future__ import annotations

import os
import pickle
import threading

import pytest

from redis_streams_spark.sources.fake_redis import FakeRedis
from redis_streams_spark.sources.redis_log import RedisStreamLog, connect_log
from redis_streams_spark.sources.stream_log import StreamLog


@pytest.fixture()
def rlog(tmp_path, request):
    server = f"rb-{tmp_path.name}"
    request.addfinalizer(lambda: FakeRedis.reset_server(server))
    return RedisStreamLog(str(tmp_path), "s", client=FakeRedis(server))


def test_positions_survive_trim(rlog):
    ids = [rlog.append({"i": i}) for i in range(10)]
    before = {pos: msgid for pos, msgid, _ in rlog.read_slice(0, 10)}
    assert rlog.trim(4) == 6
    assert rlog.first_pos() == 6
    assert rlog.xlen() == 4
    assert rlog.count() == 10  # global append index never shifts
    after = rlog.read_slice(0, 10)
    assert [pos for pos, _, _ in after] == [6, 7, 8, 9]
    for pos, msgid, _ in after:
        assert before[pos] == msgid
    assert ids[-1] == rlog.last_msgid()


def test_msgid_is_padded_but_redis_id_is_not(rlog):
    msgids = rlog.append_many([{"a": 1}, {"a": 2}])
    for msgid in msgids:
        assert len(msgid.split("-")[1]) == 6  # canonical zero-padded form
    # the underlying stream entry id is the position (<pos+1>-0, Redis
    # refuses 0-0); the canonical msgid rides in the reserved _msgid field
    entries = rlog.client.xrange(rlog._k_log)
    assert [eid for eid, _ in entries] == ["1-0", "2-0"]
    assert [fields["_msgid"] for _, fields in entries] == msgids


def test_append_many_and_read_slice_window(rlog):
    rlog.append_many([{"i": i} for i in range(50)])
    mid = rlog.read_slice(10, 20)
    assert [pos for pos, _, _ in mid] == list(range(10, 20))
    assert [c["i"] for _, _, c in mid] == [str(i) for i in range(10, 20)]


def test_maxlen_trims_on_append(rlog):
    for i in range(10):
        rlog.append({"i": i}, maxlen=3)
    assert rlog.xlen() == 3
    assert [c["i"] for _, _, c in rlog.read_slice(0, rlog.count())] == [
        "7",
        "8",
        "9",
    ]


def test_pickle_reattaches_to_same_server(rlog):
    rlog.append({"k": "v"})
    clone = pickle.loads(pickle.dumps(rlog))
    assert clone.xlen() == 1
    clone.append({"k": "w"})
    assert rlog.xlen() == 2  # same in-process server state


def test_group_state_round_trip_and_registry(rlog):
    rlog.create_group("g1")
    rlog.create_group("g1")  # idempotent (BUSYGROUP tolerated)
    rlog.create_group("g2")
    assert rlog.list_groups() == ["g1", "g2"]

    def bump(state):
        state["last_committed"] = 7
        return "done"

    assert rlog.update_group("g1", bump) == "done"
    assert rlog.group_state("g1")["last_committed"] == 7
    assert rlog.group_state("g2")["last_committed"] == 0
    rlog.destroy_group("g1")
    assert rlog.list_groups() == ["g2"]


def test_stream_lock_serializes_concurrent_appends(rlog):
    # 4 threads x 25 appends; without the redis lock, msgid minting off a
    # shared meta blob would duplicate ids or undercount appended
    def worker():
        for _ in range(25):
            rlog.append({"x": 1})

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert rlog.count() == 100
    rows = rlog.read_slice(0, 100)
    assert len(rows) == 100
    assert len({msgid for _, msgid, _ in rows}) == 100
    msgids = [msgid for _, msgid, _ in rows]
    assert msgids == sorted(msgids)  # padded ids stay monotonic by position


def test_delete_resets_everything(rlog):
    rlog.append({"a": 1})
    rlog.create_group("g")
    rlog.delete()
    assert rlog.count() == 0
    assert rlog.list_groups() == []
    assert rlog.read_slice(0, 10) == []


def test_connect_log_defaults_to_file_backend(tmp_path, monkeypatch):
    monkeypatch.delenv("RSS_REDIS_URL", raising=False)
    assert isinstance(connect_log(str(tmp_path), "s"), StreamLog)


def test_connect_log_never_silently_falls_back_to_file(tmp_path, monkeypatch):
    # a SET url must never silently produce a file log: the factory also
    # runs inside executor python workers, and a file fallback there
    # would read an empty log and commit epochs over zero rows.  With no
    # redis-py installed the pure-stdlib RESP client dials the URL — an
    # unreachable server is a LOUD ConnectionError, not a StreamLog.
    monkeypatch.setenv("RSS_REDIS_URL", "redis://127.0.0.1:1/0")  # port 1: nothing listens
    with pytest.raises(OSError):
        connect_log(str(tmp_path), "s")
    # explicit url= overrides env and fails the same way
    monkeypatch.delenv("RSS_REDIS_URL")
    with pytest.raises(OSError):
        connect_log(str(tmp_path), "s", url="redis://127.0.0.1:1/0")


def test_read_slice_attributes_positions_by_index_score(rlog):
    """Positions come from the entry ids, not enumeration: after a trim,
    surviving entries keep their TRUE positions even when the caller
    asks for a window that starts below first_pos."""
    ids = [rlog.append({"i": i}) for i in range(10)]
    rlog.trim(4)  # positions 0-5 gone
    out = rlog.read_slice(0, 10)  # stale window from before the trim
    assert [(pos, msgid) for pos, msgid, _ in out] == [
        (6, ids[6]),
        (7, ids[7]),
        (8, ids[8]),
        (9, ids[9]),
    ]


def test_read_slice_is_one_xrange(rlog):
    """Entry ids are positions, so a slice is one XRANGE over them: no
    second command maps positions to entries."""
    rlog.append_many([{"i": i} for i in range(20)])
    real, calls = rlog.client, []

    class Counting:
        def __getattr__(self, name):
            calls.append(name)
            return getattr(real, name)

    rlog.client = Counting()
    rows = rlog.read_slice(5, 12)
    assert calls == ["xrange"]
    assert [(pos, c["i"]) for pos, _, c in rows] == [
        (pos, str(pos)) for pos in range(5, 12)
    ]


def test_fake_xadd_monotonic_under_clock_stepback(rlog, monkeypatch):
    """Auto-id minting mirrors Redis on clock step-back: the next id is
    (top_ms, top_seq + 1), never an out-of-order or duplicate id."""
    import time as _time

    c = rlog.client
    c.xadd("s", {"a": "1"}, id="1000-5")
    monkeypatch.setattr(_time, "time", lambda: 0.999)  # 999 ms < top
    new_id = c.xadd("s", {"a": "2"})
    assert new_id == "1000-6"
    ids = [eid for eid, _ in c.xrange("s")]
    assert ids == sorted(ids, key=lambda s: tuple(map(int, s.split("-"))))


def test_fake_xrange_seek_matches_a_filter(rlog):
    """The fake's XRANGE seeks to its lower bound instead of scanning
    from the head; for every bound form ('-'/'+', bare ms, full id) and
    count it returns what a plain filter of the sorted entries does."""
    c = rlog.client
    ids = [(ms, seq) for ms in (1, 2, 3, 5, 8) for seq in range(3)]
    for ms, seq in ids:
        c.xadd("s", {"v": f"{ms}-{seq}"}, id=f"{ms}-{seq}")
    top = (1 << 62, 1 << 62)

    def bound(b: str, bare_seq: int) -> tuple[int, int]:
        if b in ("-", "+"):
            return (0, 0) if b == "-" else top
        ms, _, seq = b.partition("-")
        return int(ms), int(seq) if seq else bare_seq

    for lo in ("-", "0", "2", "4", "9", "2-1", "3-2", "8-2"):
        for hi in ("+", "0", "2", "4", "9", "2-1", "5-0", "1-0"):
            for count in (None, 1, 2, 4, 100):
                want = [
                    f"{ms}-{seq}"
                    for ms, seq in ids
                    if bound(lo, 0) <= (ms, seq) <= bound(hi, top[1])
                ][:count]
                got = c.xrange("s", min=lo, max=hi, count=count)
                assert [eid for eid, _ in got] == want, (lo, hi, count)
                assert all(f["v"] == eid for eid, f in got)
    assert c.xrange("missing") == []


def test_append_many_uses_one_pipeline_flush(rlog):
    """append_many must batch its stream writes through the client's
    pipeline — one flush, not one round trip per message."""
    calls = {"pipelines": 0, "xadds": 0, "xadds_before_flush": None}
    real_pipeline = rlog.client.pipeline
    real_xadd = rlog.client.xadd

    def counting_pipeline(transaction=True):
        calls["pipelines"] += 1
        pipe = real_pipeline(transaction=transaction)
        real_execute = pipe.execute

        def snapshot_execute():
            # how many xadds ran EAGERLY before the flush: must be zero
            calls["xadds_before_flush"] = calls["xadds"]
            return real_execute()

        pipe.execute = snapshot_execute
        return pipe

    def counting_xadd(*a, **kw):
        calls["xadds"] += 1
        return real_xadd(*a, **kw)

    rlog.client.pipeline = counting_pipeline
    rlog.client.xadd = counting_xadd
    try:
        ids = rlog.append_many([{"i": i} for i in range(50)])
    finally:
        del rlog.client.pipeline
        del rlog.client.xadd
    assert len(ids) == 50
    # exactly two flushes: the batched reconcile READ (meta + stream top)
    # and the single WRITE flush for all 50 messages
    assert calls["pipelines"] == 2
    assert calls["xadds_before_flush"] == 0  # nothing issued eagerly
    assert calls["xadds"] == 50  # all 50 replayed through the one flush
    assert rlog.xlen() == 50
    assert [c["i"] for _, _, c in rlog.read_slice(0, 50)] == [
        str(i) for i in range(50)
    ]
