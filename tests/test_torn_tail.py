"""StreamLog crash safety between the log write and the meta write: meta
records the committed byte length, and lines past it (a torn tail) are
cut under the stream lock before the next append."""

from __future__ import annotations

import json
import os

from redis_streams_spark.sources.stream_log import StreamLog


def _tear(log: StreamLog, partial: bool = False) -> None:
    """What a crash after the log write and before the meta write leaves."""
    with open(log.log_path, "a") as f:
        f.write(json.dumps({"msgid": "9999999999999-000000", "content": {"i": "x"}}) + "\n")
        if partial:
            f.write('{"msgid": "9999999999999-000001", "cont')


def _rows(log: StreamLog) -> list[tuple[int, str, dict]]:
    return log.read_slice(log.first_pos(), log.count())


def test_append_after_torn_tail_reads_at_its_own_position(tmp_path):
    log = StreamLog(str(tmp_path), "s")
    ids = log.append_many([{"i": 0}, {"i": 1}])
    _tear(log)
    ids += log.append_many([{"i": 2}, {"i": 3}])
    assert _rows(log) == [(k, ids[k], {"i": str(k)}) for k in range(4)]
    assert os.path.getsize(log.log_path) == log._meta()["bytes"]


def test_partial_torn_line_is_cut(tmp_path):
    log = StreamLog(str(tmp_path), "s")
    ids = log.append_many([{"i": 0}])
    _tear(log, partial=True)
    ids.append(log.append({"i": 1}))
    assert _rows(log) == [(0, ids[0], {"i": "0"}), (1, ids[1], {"i": "1"})]


def test_trim_keeps_the_committed_length(tmp_path):
    log = StreamLog(str(tmp_path), "s")
    ids = log.append_many([{"i": k} for k in range(5)])
    _tear(log)
    assert log.trim(2) == 3
    assert os.path.getsize(log.log_path) == log._meta()["bytes"]
    _tear(log)
    ids.append(log.append({"i": 5}))
    assert _rows(log) == [(k, ids[k], {"i": str(k)}) for k in (3, 4, 5)]


def test_delete_resets_the_committed_length(tmp_path):
    log = StreamLog(str(tmp_path), "s")
    log.append_many([{"i": 0}, {"i": 1}])
    log.delete()
    _tear(log)  # a log file without meta is all torn tail
    msgid = log.append({"i": 0})
    assert _rows(log) == [(0, msgid, {"i": "0"})]


def test_meta_without_length_is_accepted(tmp_path):
    """A meta written before the length was recorded is trusted as is,
    and the next append records the length."""
    log = StreamLog(str(tmp_path), "s")
    ids = log.append_many([{"i": 0}, {"i": 1}])
    meta = log._meta()
    del meta["bytes"]
    with open(log.meta_path, "w") as f:
        json.dump(meta, f)
    ids.append(log.append({"i": 2}))
    assert _rows(log) == [(k, ids[k], {"i": str(k)}) for k in range(3)]
    assert log._meta()["bytes"] == os.path.getsize(log.log_path)
