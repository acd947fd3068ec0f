"""msgid minting: one rule for both log backends.  Every append path
(``append``, ``append_many``, ``append_many_serialized``) mints its ids
through ``stream_log.mint_ids``, so ids stay unique and strictly
increasing when the wall clock steps back, and the file and Redis
backends mint the same ids from the same clock readings."""

from __future__ import annotations

import itertools
import json
from types import SimpleNamespace
from unittest import mock

import pytest

from redis_streams_spark.sources import stream_log
from redis_streams_spark.sources.fake_redis import FakeRedis
from redis_streams_spark.sources.redis_log import RedisStreamLog
from redis_streams_spark.sources.stream_log import StreamLog
from redis_streams_spark.streaming import Consumer
from redis_streams_spark.streaming.common import pel_scan


def clock(seconds: list[float]):
    """Patch the clock the id minting reads with ``seconds``, in order
    and then round again (each append batch reads it once)."""
    ticks = itertools.cycle(seconds)
    return mock.patch.object(stream_log, "time", SimpleNamespace(time=lambda: next(ticks)))


@pytest.fixture(params=["file", "fakeredis"])
def log(tmp_path, request):
    if request.param == "file":
        return StreamLog(str(tmp_path), "s")
    server = f"mint-{tmp_path.name}"
    request.addfinalizer(lambda: FakeRedis.reset_server(server))
    return RedisStreamLog(str(tmp_path), "s", client=FakeRedis(server))


def _append_through_every_path(log) -> list[str]:
    with clock([1000.0, 1000.0, 999.0, 1000.0]):
        return [
            log.append({"i": 0}),
            *log.append_many([{"i": 1}, {"i": 2}]),
            *log.append_many_serialized(['{"i": "3"}']),
            log.append({"i": 4}),
        ]


def test_clock_step_back_keeps_ids_unique_and_increasing(log):
    """Same ids on both backends: each continues the last millisecond."""
    ids = _append_through_every_path(log)
    assert ids == [f"1000000-{seq:06d}" for seq in range(5)]
    assert log.last_msgid() == ids[-1]
    assert [(msgid, c) for _, msgid, c in log.read_slice(0, 5)] == [
        (msgid, {"i": str(k)}) for k, msgid in enumerate(ids)
    ]
    # the PEL is keyed by msgid: a repeated id would overwrite an entry
    Consumer(log, "s", "g", consumer_id="c", batch_size=5, max_wait_time_ms=50).get_items()
    assert list(pel_scan(log.group_state("g"))) == ids


def test_file_log_lines_are_plain_json_records(tmp_path):
    """The spliced log line is byte-identical to ``json.dumps`` of the
    record, so logs written before the splice read unchanged."""
    log = StreamLog(str(tmp_path), "s")
    ids = _append_through_every_path(log)
    with open(log.log_path, "rb") as f:
        data = f.read()
    assert data == b"".join(
        json.dumps({"msgid": msgid, "content": {"i": str(k)}}).encode() + b"\n"
        for k, msgid in enumerate(ids)
    )
