"""MonitorListener fed with fake progress events (no Spark session): it
keeps one health row per query, the latest, however many progress events
a long-running query reports, and it advises scaling with the Scaler's
validation."""

from __future__ import annotations

import json
from types import SimpleNamespace

import pytest

from redis_streams_spark.streaming.listener import MonitorListener


def _progress(qid: str, rows: int, latest: int, end: int) -> SimpleNamespace:
    src = SimpleNamespace(
        latestOffset=json.dumps({"pos": latest}), endOffset=json.dumps({"pos": end})
    )
    return SimpleNamespace(
        progress=SimpleNamespace(id=qid, numInputRows=rows, sources=[src])
    )


def test_metrics_keep_latest_row_per_query():
    listener = MonitorListener(batch_size=10)
    for k in range(1000):
        listener.onQueryProgress(_progress("a", rows=k % 5, latest=k, end=k))
    listener.onQueryProgress(_progress("b", rows=50, latest=60, end=50))
    listener.onQueryProgress(_progress("a", rows=3, latest=1000, end=1000))
    assert [m.consumer_id for m in listener.metrics] == ["a", "b"]
    a, b = listener.metrics
    assert a.pending_items == 3 and a.status == "OK"
    assert b.pending_items == 50 and b.status == "WARNING - too many pending items"
    assert listener.metrics[:5] == [a, b]
    assert listener.backlog == {"a": 0, "b": 10}


def test_scale_decision_validates_rates_like_scaler():
    listener = MonitorListener()
    with pytest.raises(ValueError, match="Scale out rate must be within 0 and 100"):
        listener.scale_decision(scale_out_rate=150)
    with pytest.raises(ValueError, match="Scale in rate must be within 0 and 100"):
        listener.scale_decision(scale_in_rate=-1)
