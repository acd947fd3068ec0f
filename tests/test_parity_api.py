"""Parity tests mirroring the reference's own suite (SURVEY §5):
producer id format / growth / trim, consumer batch + deadline + ack +
redelivery, monitor classification + cleanup, scaler decision ladder.

These run without Spark — the parity API is client-side, like the
reference's (whose only 'executor' is Redis; ours is StreamLog).
"""

from __future__ import annotations

import io
import json
import time

import pytest

from redis_streams_spark.sources.stream_log import StreamLog
from redis_streams_spark.streaming import (
    Consumer,
    Monitor,
    Producer,
    Scale,
    Scaler,
    Status,
)
from redis_streams_spark.streaming.common import pel_scan

TEST_DATASET = [{"test": "data1"}, {"test": "data2"}]


@pytest.fixture(params=["file", "fakeredis"])
def log(tmp_path, request):
    """Every parity test runs against BOTH storage backends: the default
    file-backed StreamLog and RedisStreamLog over the in-process FakeRedis
    double (no Redis server or redis-py in this sandbox; against a real
    server pass ``redis.Redis.from_url(url, decode_responses=True)``)."""
    if request.param == "file":
        return StreamLog(str(tmp_path), "teststream")
    from redis_streams_spark.sources.fake_redis import FakeRedis
    from redis_streams_spark.sources.redis_log import RedisStreamLog

    server = f"parity-{tmp_path.name}"
    request.addfinalizer(lambda: FakeRedis.reset_server(server))
    return RedisStreamLog(str(tmp_path), "teststream", client=FakeRedis(server))


def seed(log, n=2):
    prod = Producer(log, "teststream", consumer_group="grp")
    ids = [prod.add(TEST_DATASET[i % 2]) for i in range(n)]
    return prod, ids


# -- producer (test_producer.py:9-63 parity) ----------------------------

def test_producer_id_format(log):
    _, ids = seed(log, 1)
    assert "-" in ids[0]  # <timestamp>-<seq>
    ms = int(ids[0].split("-")[0])
    assert abs(ms - time.time() * 1000) < 60_000


def test_producer_stream_growth_and_unique_ids(log):
    _, ids = seed(log, 5)
    assert log.xlen() == 5
    assert len(set(ids)) == 5
    assert ids == sorted(ids)  # monotonic


def test_producer_maxlen_trim(log):
    prod = Producer(log, "teststream", maxlen=3)
    for i in range(10):
        prod.add({"iteration": i})
    assert log.xlen() <= 3


def test_producer_repr(log):
    prod, _ = seed(log, 2)
    assert "teststream" in repr(prod)


# -- consumer (test_consumer.py:11-61 parity) ---------------------------

def test_consumer_full_batch(log):
    seed(log, 2)
    con = Consumer(
        log, "teststream", "grp", consumer_id="c1", batch_size=2, max_wait_time_ms=500
    )
    items = con.get_items()
    assert len(items) == len(TEST_DATASET)
    assert items[0].content == {"test": "data1"}
    for it in items:
        assert con.remove_item_from_consumer_group(it.msgid) == 1
    assert pel_scan(log.group_state("grp")) == {}


def test_consumer_deadline_partial_batch(log):
    seed(log, 1)
    con = Consumer(
        log,
        "teststream",
        "grp",
        consumer_id="c1",
        batch_size=5,
        max_wait_time_ms=300,
        poll_time_ms=50,
    )
    t0 = time.time()
    items = con.get_items()
    elapsed_ms = (time.time() - t0) * 1000
    assert len(items) == 1  # partial batch returned at deadline
    assert elapsed_ms >= 300  # duration >= max_wait_time_ms


def test_consumer_deprecated_ack_alias(log):
    seed(log, 1)
    con = Consumer(
        log, "teststream", "grp", consumer_id="c1", batch_size=1, max_wait_time_ms=100
    )
    items = con.get_items()
    with pytest.deprecated_call():
        assert con.remove_item_from_stream(items[0].msgid) == 1


def test_consumer_redelivery_of_unacked(log):
    seed(log, 2)
    con = Consumer(
        log, "teststream", "grp", consumer_id="c1", batch_size=2, max_wait_time_ms=100
    )
    first = con.get_items()
    assert len(first) == 2  # delivered but NOT acked
    again = con.get_items()  # crash-recovery read: same messages again
    assert [m.msgid for m in again] == [m.msgid for m in first]
    state = log.group_state("grp")
    assert all(e["times_delivered"] >= 2 for e in pel_scan(state).values())


def test_pending_visibility_and_lost_count(log):
    seed(log, 2)
    con = Consumer(
        log, "teststream", "grp", consumer_id="c1", batch_size=2, max_wait_time_ms=100
    )
    con.get_items()
    pending = con.get_pending_items_of_consumer(item_count=10, consumer_id="c1")
    assert len(pending) == 2
    assert {"message_id", "consumer", "time_since_delivered", "times_delivered"} == set(
        pending[0]
    )
    lost = con.remove_consumer("c1")
    assert lost == 2  # messages lost with the consumer


# -- monitor (test_monitor.py parity) -----------------------------------

def test_monitor_status_classification(log):
    mon = Monitor(log, "teststream", "grp", batch_size=2)
    assert mon._get_status_by_metrics(pending=3, idle=0) == Status.PENDING.value
    assert mon._get_status_by_metrics(pending=0, idle=31_000) == Status.IDLE.value
    assert mon._get_status_by_metrics(pending=2, idle=1000) == Status.OK.value
    # pending check takes priority
    assert mon._get_status_by_metrics(pending=3, idle=99_999) == Status.PENDING.value


def test_monitor_collect_and_print(log):
    seed(log, 4)
    con = Consumer(
        log, "teststream", "grp", consumer_id="busy", batch_size=3, max_wait_time_ms=100
    )
    con.get_items()
    mon = Monitor(log, "teststream", "grp", batch_size=2)
    data = mon.collect_monitoring_data()
    assert len(data) == 1
    m = data[0]
    assert m.consumer_id == "busy" and m.pending_items == 3
    assert m.status == Status.PENDING.value
    assert json.loads(str(m))["consumer_id"] == "busy"
    out = io.StringIO()
    mon.print_monitoring_data(out)
    text = out.getvalue()
    for col in ("Consumer id", "Idle time", "Pending items", "Status"):
        assert col in text
    assert "busy" in text


def test_monitor_cleanup_reassigns_to_min_pending_healthy(log):
    seed(log, 6)
    victim = Consumer(
        log, "teststream", "grp", consumer_id="victim", batch_size=4,
        max_wait_time_ms=100,
    )
    victim.get_items()  # owns 4 pending > batch_size 2 → unhealthy
    healthy = Consumer(
        log, "teststream", "grp", consumer_id="healthy", batch_size=1,
        max_wait_time_ms=100,
    )
    healthy.get_items()  # owns 1 pending → OK
    mon = Monitor(
        log, "teststream", "grp", batch_size=2, min_wait_time_ms=0
    )
    mon.collect_monitoring_data(auto_cleanup=True)
    state = log.group_state("grp")
    assert "victim" not in state["consumers"]
    owners = {e["consumer"] for e in pel_scan(state).values()}
    assert owners == {"healthy"}  # claimed, not lost
    assert len(pel_scan(state)) == 5  # victim's 4 reassigned + healthy's own 1


def test_monitor_auto_cleanup_default_true(log):
    """Reference signature collect_monitoring_data(auto_cleanup=True)
    (monitor.py:140): the default sweep performs the cleanup."""
    seed(log, 6)
    victim = Consumer(
        log, "teststream", "grp", consumer_id="victim", batch_size=4,
        max_wait_time_ms=100,
    )
    victim.get_items()
    healthy = Consumer(
        log, "teststream", "grp", consumer_id="healthy", batch_size=1,
        max_wait_time_ms=100,
    )
    healthy.get_items()
    mon = Monitor(log, "teststream", "grp", batch_size=2, min_wait_time_ms=0)
    mon.collect_monitoring_data()  # no args: default must clean up
    state = log.group_state("grp")
    assert "victim" not in state["consumers"]
    assert {e["consumer"] for e in pel_scan(state).values()} == {"healthy"}


def test_monitor_cleanup_keeps_entries_too_fresh_to_reassign(log):
    """A sweep right after the victim's claim may re-own none of its
    entries (min_wait_time_ms): the victim and its entries stay, so a
    later sweep hands them on instead of them being lost for good (the
    group cursor is already past them)."""
    seed(log, 6)
    Consumer(log, "teststream", "grp", consumer_id="v", batch_size=4,
             max_wait_time_ms=100).get_items()
    Consumer(log, "teststream", "grp", consumer_id="h", batch_size=1,
             max_wait_time_ms=100).get_items()
    mon = Monitor(log, "teststream", "grp", batch_size=2)
    mon.collect_monitoring_data()
    assert mon.consumer_to_assign == "h"
    assert len(mon.get_pending_items_of_consumer(10, "v")) == 4
    assert "v" in log.group_state("grp")["consumers"]
    mon.min_wait_time_ms = 0
    mon.collect_monitoring_data()
    state = log.group_state("grp")
    assert "v" not in state["consumers"]
    assert [e["consumer"] for e in pel_scan(state).values()] == ["h"] * 5


def test_monitor_assignee_comes_from_the_monitored_group(log):
    """The victims' entries stay in their group's PEL, so the assignee
    must be a member of that group: a healthy consumer of another group
    is never picked (it would own entries no sweep of its group lists)."""
    seed(log, 6)
    Consumer(log, "teststream", "A", consumer_id="a1", batch_size=4,
             max_wait_time_ms=100).get_items()
    Consumer(log, "teststream", "B", consumer_id="b1", batch_size=1,
             max_wait_time_ms=100).get_items()

    def idle(state: dict) -> None:
        state["consumers"]["a1"]["last_seen_ms"] = 0

    log.update_group("A", idle)
    mon = Monitor(log, "teststream", "A", batch_size=2, min_wait_time_ms=0)
    data = mon.collect_monitoring_data()
    assert {m.consumer_id for m in data} == {"a1", "b1"}  # sweep sees both
    assert mon.consumer_to_assign == ""
    state = log.group_state("A")
    assert "a1" in state["consumers"]
    assert [e["consumer"] for e in pel_scan(state).values()] == ["a1"] * 4
    assert list(log.group_state("B")["consumers"]) == ["b1"]


# -- scaler (test_scaler.py:11-144 parity) ------------------------------

def _scaler_with(log, n_msgs, n_claimed, consumers):
    seed(log, n_msgs)
    for i, cid in enumerate(consumers):
        con = Consumer(
            log, "teststream", "grp", consumer_id=cid,
            batch_size=n_claimed if i == 0 else 0,
            max_wait_time_ms=50, poll_time_ms=10,
        )
        if i == 0 and n_claimed:
            con.get_items()
        else:
            log.update_group(
                "grp",
                lambda s: s["consumers"].setdefault(cid, {}).update(last_seen_ms=0),
            )
    return Scaler(log, "teststream", "grp")


def test_scaler_empty_stream_no_scale(log):
    sca = Scaler(log, "teststream", "grp")
    rate, suggestion = sca.get_scale_decision()
    assert (rate, suggestion) == (0, Scale.NOSCALE.value)


def test_scaler_out_at_threshold(log):
    # length=1, pending=2 → rate 50 ≥ out 50 → OUT (test_scaler.py case)
    sca = _scaler_with(log, n_msgs=3, n_claimed=2, consumers=["c1"])
    rate, suggestion = sca.get_scale_decision(scale_out_rate=50, scale_in_rate=20)
    assert rate == 50
    assert suggestion == Scale.OUT.value


def test_scaler_in_below_threshold_with_two_consumers(log):
    sca = _scaler_with(log, n_msgs=3, n_claimed=2, consumers=["c1", "c2"])
    rate, suggestion = sca.get_scale_decision(scale_out_rate=80, scale_in_rate=75)
    assert rate == 50
    assert suggestion == Scale.IN.value


def test_scaler_out_when_backlog_but_no_pending(log):
    seed(log, 2)
    sca = Scaler(log, "teststream", "grp")
    rate, suggestion = sca.get_scale_decision()
    assert rate == 0
    assert suggestion == Scale.OUT.value  # rate 0 but backlog ≥ 1


def test_scaler_threshold_validation(log):
    sca = Scaler(log, "teststream", "grp")
    with pytest.raises(ValueError):
        sca.get_scale_decision(scale_out_rate=10, scale_in_rate=50)
    with pytest.raises(ValueError):
        sca.get_scale_decision(scale_out_rate=150, scale_in_rate=10)
    with pytest.raises(ValueError):
        sca.get_scale_decision(scale_out_rate=50, scale_in_rate=-1)


def test_scaler_rate_clamped(log):
    # big backlog vs tiny pending clamps to 100
    sca = _scaler_with(log, n_msgs=50, n_claimed=1, consumers=["c1"])
    rate, suggestion = sca.get_scale_decision()
    assert rate == 100
    assert suggestion == Scale.OUT.value


def test_scaler_multiple_consumer_groups_isolated(log):
    """Two groups on one stream: each group's scaler sees its OWN
    pending/backlog, not the other's (reference:
    redis_streams_test/test_scaler.py:101 test_scaler_multiple_consumer_groups —
    collect_metrics scoped to the scaler's consumer_group)."""
    seed(log, 4)
    Consumer(log, "teststream", "grp", batch_size=2, max_wait_time_ms=100,
             consumer_id="c-a").get_items()
    Consumer(log, "teststream", "_grp", batch_size=3, max_wait_time_ms=100,
             consumer_id="c-b").get_items()
    backlog_a, pending_a = Scaler(log, "teststream", "grp").collect_metrics()
    backlog_b, pending_b = Scaler(log, "teststream", "_grp").collect_metrics()
    assert pending_a == 2   # only grp's two claimed-unacked items
    assert pending_b == 3   # only _grp's three
    # backlog (undelivered from the group's own cursor) is per-group too:
    # grp consumed 2 of 4, _grp consumed 3 of 4
    assert (backlog_a, backlog_b) == (2, 1)


def test_monitor_long_idle_consumer_surfaces(log):
    """A consumer idle past a tiny warning threshold still appears in the
    collected monitoring data and the report prints (reference:
    redis_streams_test/test_monitor.py:69 test_monitor_long_idle)."""
    import time as _time

    seed(log, 2)
    Consumer(log, "teststream", "grp", batch_size=2, max_wait_time_ms=100,
             consumer_id="idler").get_items()
    _time.sleep(0.05)
    mon = Monitor(log, "teststream", "grp", batch_size=2,
                  idle_time_ms_warning_threshold=10, min_wait_time_ms=1)
    mon.collect_monitoring_data(auto_cleanup=False)
    assert mon.collected_consumers_data
    names = [c.consumer_id for c in mon.collected_consumers_data]
    assert "idler" in names
    mon.print_monitoring_data("NonStream")


def test_producer_buffered_mode_flushes_on_count(log):
    """Opt-in buffered add (engine extension): enqueue returns None,
    the count threshold flushes through add_many, flush() returns the
    assigned ids, and the context manager drains the tail."""
    p = Producer(log, "teststream", buffer_size=3)
    assert p.add({"i": "0"}) is None
    assert p.add({"i": "1"}) is None
    assert log.xlen() == 0  # invisible until flush
    p.add({"i": "2"})  # trips the threshold
    assert log.xlen() == 3
    with Producer(log, "teststream", buffer_size=100) as p2:
        p2.add({"i": "3"})
        assert log.xlen() == 3
    assert log.xlen() == 4  # exit flushed the tail
    assert Producer(log, "teststream", buffer_size=100).flush() == []


def test_producer_buffered_mode_flushes_on_age(log):
    import time as _time

    p = Producer(log, "teststream", buffer_ms=30)
    p.add({"i": "0"})
    assert log.xlen() == 0
    _time.sleep(0.05)
    p.add({"i": "1"})  # age threshold trips at the next add
    assert log.xlen() == 2


def test_producer_unbuffered_default_unchanged(log):
    """Without buffer args the reference one-XADD-per-call contract is
    untouched: add returns the msgid immediately."""
    p = Producer(log, "teststream")
    msgid = p.add({"i": "0"})
    assert isinstance(msgid, str) and "-" in msgid
    assert log.xlen() == 1


def test_producer_buffered_exception_skips_exit_flush(log):
    """A with-body exception must NOT publish the partially-built buffer
    (r10 ADVICE fix): the error path never chose to commit.  The buffer
    survives, so a handler that still wants the messages can flush
    explicitly."""
    p = Producer(log, "teststream", buffer_size=100)
    with pytest.raises(RuntimeError):
        with p:
            p.add({"i": "0"})
            raise RuntimeError("mid-stream failure")
    assert log.xlen() == 0  # nothing published on the error path
    assert len(p.flush()) == 1  # explicit opt-in still possible
    assert log.xlen() == 1


def test_producer_buffered_add_many_preserves_call_order(log):
    """add_many drains the pending add buffer first, so append order ==
    call order even when the two APIs interleave (r10 ADVICE fix)."""
    p = Producer(log, "teststream", buffer_size=100)
    p.add({"i": "a"})
    p.add_many([{"i": "b"}])
    p.flush()
    vals = [m.content["i"] for m in _drain(log)]
    assert vals == ["a", "b"]


def _drain(log):
    from redis_streams_spark.streaming import Consumer

    return Consumer(
        log, "teststream", "ordergrp", batch_size=100, max_wait_time_ms=50
    ).get_items()


def test_producer_buffered_flush_failure_keeps_messages(log, monkeypatch):
    """A failed backend append must leave the buffer intact so a
    retrying flush() re-sends instead of silently losing messages."""
    p = Producer(log, "teststream", buffer_size=100)
    p.add({"i": "0"})
    p.add({"i": "1"})
    cls = type(log)

    def boom(self, rows, maxlen=None):
        raise OSError("backend down")

    monkeypatch.setattr(cls, "append_many", boom)
    with pytest.raises(OSError):
        p.flush()
    monkeypatch.undo()
    assert len(p.flush()) == 2  # retry succeeds with nothing lost
    assert log.xlen() == 2
