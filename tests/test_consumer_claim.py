"""Consumer.get_items claim path: one locked group-state update per claim
iteration, each message parsed once, redelivery order and counters, and
XCLAIMed entries surfacing in the new owner's next batch.  Parametrized
over both storage backends like test_parity_api.py."""

from __future__ import annotations

import sys
import threading

import pytest

from redis_streams_spark.sources.stream_log import StreamLog
from redis_streams_spark.streaming import Consumer, Monitor, Producer
from redis_streams_spark.streaming.common import pel_scan


@pytest.fixture(params=["file", "fakeredis"])
def log(tmp_path, request):
    if request.param == "file":
        return StreamLog(str(tmp_path), "claims")
    from redis_streams_spark.sources.fake_redis import FakeRedis
    from redis_streams_spark.sources.redis_log import RedisStreamLog

    server = f"claim-{tmp_path.name}"
    request.addfinalizer(lambda: FakeRedis.reset_server(server))
    return RedisStreamLog(str(tmp_path), "claims", client=FakeRedis(server))


def _seed(log, n: int) -> list[str]:
    return Producer(log, "claims").add_many([{"i": i} for i in range(n)])


def _consumer(log, cid: str, batch_size: int) -> Consumer:
    return Consumer(
        log, "claims", "grp", consumer_id=cid, batch_size=batch_size,
        max_wait_time_ms=200, poll_time_ms=10,
    )


def _count_calls(log) -> dict[str, int]:
    """Wrap the instance's update_group and read_slice; the returned
    dict counts transactions and parsed rows."""
    seen = {"update_group": 0, "rows": 0}
    update_group, read_slice = log.update_group, log.read_slice

    def counted_update(group, mutator):
        seen["update_group"] += 1
        return update_group(group, mutator)

    def counted_read(start, end):
        rows = read_slice(start, end)
        seen["rows"] += len(rows)
        return rows

    log.update_group, log.read_slice = counted_update, counted_read
    return seen


def test_full_batch_is_one_claim_transaction(log):
    """With a backlog of at least batch_size, a batch costs exactly one
    locked update and parses exactly batch_size rows."""
    ids = _seed(log, 25)
    con = _consumer(log, "c1", batch_size=10)
    seen = _count_calls(log)
    batch = con.get_items()
    assert [m.msgid for m in batch] == ids[:10]
    assert [m.content for m in batch] == [{"i": str(i)} for i in range(10)]
    assert seen == {"update_group": 1, "rows": 10}


def test_unacked_batch_redelivered_in_order(log):
    """An unacked batch comes back in the same order, and every get_items
    bumps each entry's times_delivered by exactly one."""
    _seed(log, 5)
    con = _consumer(log, "c1", batch_size=5)
    first = [(m.msgid, m.content) for m in con.get_items()]
    assert len(first) == 5
    for k in (2, 3):
        assert [(m.msgid, m.content) for m in con.get_items()] == first
        pel = pel_scan(log.group_state("grp"))
        assert [pel[msgid]["times_delivered"] for msgid, _ in first] == [k] * 5


def test_xclaimed_entries_in_next_batch(log):
    """Entries moved by Monitor.assign_items_to_active_consumer appear,
    with their content, in the new owner's next get_items."""
    ids = _seed(log, 6)
    a, b = _consumer(log, "a", batch_size=4), _consumer(log, "b", batch_size=4)
    assert [m.msgid for m in a.get_items()] == ids[:4]
    own = b.get_items()
    assert [m.msgid for m in own] == ids[4:]
    b.remove_items_from_consumer_group([m.msgid for m in own])
    mon = Monitor(log, "claims", "grp", min_wait_time_ms=0)
    pending = mon.get_pending_items_of_consumer(item_count=10, consumer_id="a")
    assert mon.assign_items_to_active_consumer(pending, "b") == 4
    moved = b.get_items()
    assert [m.msgid for m in moved] == ids[:4]
    assert [m.content for m in moved] == [{"i": str(i)} for i in range(4)]
    assert {e["consumer"] for e in pel_scan(log.group_state("grp")).values()} == {"b"}


def test_many_consumers_claim_each_message_once(log):
    """More consumer threads than cores, switching often: the fused
    claim must still hand every message to exactly one consumer."""
    ids = set(_seed(log, 400))
    got: list[str] = []  # list.extend of a list is atomic under the GIL
    errors: list[BaseException] = []

    def drain(cid: str) -> None:
        con = _consumer(log, cid, batch_size=7)
        try:
            while batch := con.get_items():
                got.extend([m.msgid for m in batch])
                con.remove_items_from_consumer_group([m.msgid for m in batch])
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=drain, args=(f"c{k}",)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert sorted(got) == sorted(ids)
    assert pel_scan(log.group_state("grp")) == {}


def test_cursor_behind_trim_point_claims_oldest_survivor(log):
    """A group cursor whose next positions were all trimmed claims from
    the oldest retained message, as Redis's '>' read does, instead of
    returning empty batches forever."""
    con = _consumer(log, "c1", batch_size=2)
    producer = Producer(log, "claims", maxlen=3)
    ids = [producer.add({"i": i}) for i in range(10)]
    assert log.first_pos() == 7
    assert log.group_state("grp")["last_delivered_pos"] == 0
    batch = con.get_items()
    assert [m.msgid for m in batch] == ids[7:9]
    assert [m.content for m in batch] == [{"i": "7"}, {"i": "8"}]
    con.remove_items_from_consumer_group([m.msgid for m in batch])
    assert [m.msgid for m in con.get_items()] == ids[9:]
    assert log.group_state("grp")["last_delivered_pos"] == 10
