"""``stream_pipeline`` workload: the Spark-native delivery path.

A streaming query reads the ``redislog`` source (``batch_size`` capped at
``CAP`` rows per micro-batch), projects the payload, drops re-delivered
events with ``stream_dedup`` on (event id, event time) under a watermark,
and appends the survivors to a ``redislog`` sink, with ``MonitorListener``
attached.  It runs on Spark's default trigger (next micro-batch as soon as
the previous one ends).

Open loop: one generator thread appends ``Producer.add_many`` every
``TICK_S`` with every event due by then, at a fixed ``RATE``; about
``DUP_SHARE`` of the events re-deliver an event sent up to
``DUP_DELAY_S`` earlier.  Latency runs from an event's due time to its
sink append (the millisecond part of the sink message id); each reported
percentile is the median over ``WINDOW_S`` windows (by due time) of the
window's percentile.

Drain: ``DRAIN_ROUNDS`` times, once everything sent before is emitted,
``DRAIN_N`` events (re-deliveries included) are appended at once and the
query drains them with its own trigger; a round's time runs from the
start of the first micro-batch that planned its events to the sink append
of the last one, and the drain rate is the median over the rounds.

Checks: the sink's ids are exactly the distinct generated ids, each once.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import threading
import time

from common import CPUS, lateness_ms, median, open_loop, pct, rss_mb, stop_spark, windowed_pct

RATE = 2000  # events/s offered by the open loop (about a third of the drain rate)
TICK_S = 0.010
CAP = 10000  # source batch_size: rows planned per micro-batch at most
DUP_SHARE = 0.2
DUP_DELAY_S = 2.0
WATERMARK = "5 seconds"
WARM_N = 20  # events that spin the query up
WARM_BULK = CAP  # then one full micro-batch to warm the JIT
DRAIN_N = 20000
DRAIN_ROUNDS = 5
EMIT_DEADLINE_S = 60.0
WINDOW_S = 3.0  # latency percentile window (about two micro-batches)
GEN_BEHIND_MS = 100.0  # generator lateness p99 above this flags the run

IN, OUT, GROUP = "events", "deduped", "pipeline"

SMOKE = {"RATE": 500, "DRAIN_N": 3000, "DRAIN_ROUNDS": 2}


def make_rows(rng: random.Random, prefix: str, n: int, window: int) -> tuple[list[dict], list[int]]:
    """``n`` send slots.  A slot carries a new event or, with probability
    ``DUP_SHARE``, re-delivers the event of one of the previous ``window``
    slots.  Returns the payloads (event time not yet stamped) and, per
    slot, the slot where its event was first sent."""
    rows: list[dict] = []
    first: list[int] = []
    for j in range(n):
        src = first[rng.randrange(max(0, j - window), j)] if j else j
        if j and rng.random() < DUP_SHARE and j - src <= window:
            rows.append(rows[src])
            first.append(src)
        else:
            rows.append({"id": f"{prefix}{j}", "v": f"{rng.getrandbits(128):032x}"})
            first.append(j)
    return rows, first


def _epoch_ms(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def run(args, start: float, tracer) -> dict:
    from pyspark.sql import functions as F

    from redis_streams_spark.session import get_spark
    from redis_streams_spark.sources.stream_log import StreamLog
    from redis_streams_spark.streaming import Producer
    from redis_streams_spark.streaming.bridge import open_stream
    from redis_streams_spark.streaming.listener import MonitorListener
    from redis_streams_spark.streaming.windows import project, stream_dedup

    cfg = {k: globals()[k] for k in SMOKE} | (SMOKE if args.smoke else {})
    rate, drain_n = cfg["RATE"], cfg["DRAIN_N"]

    # -- inputs (from the seed; not part of set-up time) -----------------
    t_gen = time.perf_counter()
    rng = random.Random(args.seed)
    n_open = int(rate * args.seconds)
    warm = [{"id": f"w{i}", "v": "warm"} for i in range(WARM_N)]
    bulk, _ = make_rows(rng, "b", WARM_BULK, WARM_BULK)
    open_rows, open_first = make_rows(rng, "o", n_open, int(rate * DUP_DELAY_S))
    drains = [make_rows(rng, f"d{r}-", drain_n, drain_n)[0] for r in range(cfg["DRAIN_ROUNDS"])]
    gen_inputs_s = time.perf_counter() - t_gen

    class Listener(MonitorListener):
        """The package's listener, also recording how far the planned end
        of each micro-batch lags the newest input (the listener's own
        backlog compares against the capped plan, which is that end)."""

        lag_max = 0

        def onQueryProgress(self, event) -> None:
            super().onQueryProgress(event)
            end = _end_pos(json.loads(event.progress.json))
            self.lag_max = max(self.lag_max, log.count() - end)

    if tracer:
        tracer.wrap(StreamLog, "append_many", "stream_log.append_many")
        tracer.wrap(Producer, "add_many", "producer.add_many")
        tracer.wrap(MonitorListener, "onQueryProgress", "listener.on_progress")

    # -- set-up ----------------------------------------------------------
    root = args.work.sub("streams")
    t = time.perf_counter()
    spark = get_spark("perfbench-stream-pipeline", cpus=CPUS)
    get_spark_s = time.perf_counter() - t
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        log = StreamLog(root, IN)
        sink = StreamLog(root, OUT)
        producer = Producer(log, IN, consumer_group=GROUP)
        listener = Listener(batch_size=CAP)
        spark.streams.addListener(listener)

        t = time.perf_counter()
        typed = project(
            open_stream(spark, root, IN, group=GROUP, batch_size=CAP),
            {"id": "string", "ts_ms": "bigint"},
        ).withColumn("ts", F.timestamp_millis("ts_ms"))
        query = (
            stream_dedup(typed, keys=["id", "ts"], ts_col="ts", watermark=WATERMARK)
            .select("id", "ts_ms")
            .writeStream.format("redislog")
            .option("path", root)
            .option("stream", OUT)
            .option("checkpointLocation", args.work.sub("checkpoint"))
            .start()
        )

        def wait_emitted(n: int, deadline_s: float) -> bool:
            t_end = time.perf_counter() + deadline_s
            while sink.count() < n:
                if time.perf_counter() > t_end or query.exception() is not None:
                    return False
                time.sleep(0.01)
            return True

        now_ms = str(int(time.time() * 1e3))
        producer.add_many([dict(r, ts_ms=now_ms) for r in warm])
        if not wait_emitted(WARM_N, 300.0):
            raise RuntimeError(f"pipeline did not start: {query.exception()}")
        first_query_s = time.perf_counter() - t
        now_ms = str(int(time.time() * 1e3))
        producer.add_many([dict(r, ts_ms=now_ms) for r in bulk])
        n_expected = WARM_N + len({r["id"] for r in bulk})
        if not wait_emitted(n_expected, 300.0):
            raise RuntimeError(f"pipeline did not warm up: {query.exception()}")
        setup_s = time.perf_counter() - start - gen_inputs_s
        pos_open = log.count()

        # -- open loop ---------------------------------------------------
        t0 = time.time() + TICK_S
        sends: list[tuple[float, int, int]] = []

        def send(lo: int, hi: int, tick: int) -> None:
            if tracer:
                tracer.set_trace(f"tick:{tick}")
            producer.add_many(
                [
                    dict(r, ts_ms=str(int((t0 + f / rate) * 1e3)))
                    for r, f in zip(open_rows[lo:hi], open_first[lo:hi])
                ]
            )

        gen = threading.Thread(
            target=lambda: sends.extend(open_loop(n_open, rate, t0, TICK_S, send)),
            daemon=True,
        )
        gen.start()
        gen.join()
        n_expected += len({r["id"] for r in open_rows})
        wait_emitted(n_expected, EMIT_DEADLINE_S)

        # -- drain -------------------------------------------------------
        starts: list[int] = []  # log position before each round's append
        for rows in drains:
            starts.append(log.count())
            now_ms = str(int(time.time() * 1e3))
            producer.add_many([dict(r, ts_ms=now_ms) for r in rows])
            n_expected += len({r["id"] for r in rows})
            if not wait_emitted(n_expected, EMIT_DEADLINE_S):
                print(f"drain incomplete: {query.exception()}", flush=True)
                break
        query.processAllAvailable()
        progress = [json.loads(p.json) for p in query.recentProgress]
        # micro-batches that carried open-loop or drain events
        progress = [p for p in progress if p["numInputRows"] > 0 and _end_pos(p) > pos_open]
        query.stop()
        rss = rss_mb(os.getpid()) + rss_mb(jvm_pid)
    finally:
        if tracer:
            tracer.unwrap_all()
        stop_spark(spark)

    # -- checks ----------------------------------------------------------
    emitted: dict[str, int] = {}
    emit_ms: dict[str, float] = {}
    for _, msgid, content in sink.read_slice(0, sink.count()):
        i = content["id"]
        emitted[i] = emitted.get(i, 0) + 1
        emit_ms[i] = float(msgid.split("-")[0])
    expected = {r["id"] for r in warm + bulk + open_rows + sum(drains, [])}
    missing = len(expected - emitted.keys())
    dups = sum(n - 1 for n in emitted.values() if n > 1)
    unknown = len(emitted.keys() - expected)
    latencies = [  # (due s, ms)
        (j / rate, emit_ms[r["id"]] - (t0 + j / rate) * 1e3)
        for j, (r, f) in enumerate(zip(open_rows, open_first))
        if f == j and r["id"] in emit_ms
    ]
    pooled = [v for _, v in latencies]
    drain_rates: list[float] = []
    for pos, rows in zip(starts, drains):
        ids = {r["id"] for r in rows}
        if not ids <= emit_ms.keys():
            break
        t_first = min(_epoch_ms(p["timestamp"]) for p in progress if _end_pos(p) > pos)
        t_last = max(emit_ms[i] for i in ids)
        drain_rates.append(len(rows) / ((t_last - t_first) / 1e3))
    gen_late_p99 = pct(lateness_ms(sends, t0, rate), 99)

    info = {
        "rate": rate,
        "latency_samples": len(latencies),
        "latency_pooled_p50_ms": round(pct(pooled, 50), 3),
        "latency_pooled_p99_ms": round(pct(pooled, 99), 3),
        "missing": missing,
        "duplicated": dups,
        "unknown": unknown,
        "micro_batches": len(progress),
        "drain_rates": [round(r, 1) for r in drain_rates],
        "gen_late_p99_ms": round(gen_late_p99, 3),
        "gen_behind": gen_late_p99 > GEN_BEHIND_MS,
        "gen_inputs_s": round(gen_inputs_s, 3),
    }
    result = {
        "attempted": len(expected),
        "failed": missing + dups + unknown,
        "info": info,
        "metrics": {
            "setup_s": (setup_s, "s"),
            "latency_p50_ms": (windowed_pct(latencies, WINDOW_S, 50), "ms"),
            "latency_p99_ms": (windowed_pct(latencies, WINDOW_S, 99), "ms"),
            "drain_msgs_per_s": (median(drain_rates), "1/s"),
        },
    }
    if tracer:
        _progress_spans(tracer, progress)
        n_in = sum(p["numInputRows"] for p in progress)
        result["layers"] = _layers(tracer, progress, listener, gen_late_p99) | {
            "dedup.output_ratio": (
                sum(n for i, n in emitted.items() if i[0] in "od") / n_in if n_in else 0.0,
                "ratio",
            ),
            "session.get_spark_s": (get_spark_s, "s"),
            "session.first_stream_query_s": (first_query_s, "s"),
            "session.rss_peak_mb": (rss, "MiB"),
        }
    return result


def _end_pos(p) -> int:
    end = p["sources"][0]["endOffset"]
    return int((json.loads(end) if isinstance(end, str) else end)["pos"])


# micro-batch phases in the order MicroBatchExecution runs them
_PHASES = (
    ("latestOffset", "source.latest_offset"),
    ("walCommit", "query.wal_commit"),
    ("getBatch", "query.get_batch"),
    ("queryPlanning", "query.planning"),
    ("addBatch", "query.add_batch"),
    ("commitOffsets", "query.commit_offsets"),
)


def _progress_spans(tracer, progress) -> None:
    """Spans for each micro-batch from its progress durations: the
    datasource reader and writer run in Spark's Python workers, out of
    reach of in-process wrapping.  Phases are laid end to end from the
    trigger start."""
    shift = time.perf_counter() - time.time()
    for p in progress:
        d = p["durationMs"]
        t = _epoch_ms(p["timestamp"]) / 1e3 + shift
        trace = f"batch:{p['batchId']}"
        root = tracer.add("query.trigger", trace, t, t + d.get("triggerExecution", 0) / 1e3)
        for key, name in _PHASES:
            ms = d.get(key, 0)
            tracer.add(name, trace, t, t + ms / 1e3, parent=root)
            t += ms / 1e3


def _layers(tracer, progress, listener, gen_late_p99) -> dict:
    s = tracer.summary()

    def g(name: str, key: str) -> float:
        return s.get(name, {}).get(key, 0.0)

    def dur(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) for p in progress]

    state = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    return {
        "stream_log.append_many.calls": (g("stream_log.append_many", "calls"), "count"),
        "stream_log.append_many.p99_ms": (g("stream_log.append_many", "p99_ms"), "ms"),
        "producer.add_many.calls": (g("producer.add_many", "calls"), "count"),
        "producer.add_many.busy_ms": (g("producer.add_many", "busy_ms"), "ms"),
        "gen.late_p99_ms": (gen_late_p99, "ms"),
        "query.batches": (len(progress), "count"),
        "query.rows_per_batch_mean": (
            sum(p["numInputRows"] for p in progress) / len(progress) if progress else 0.0,
            "count",
        ),
        "query.trigger_p50_ms": (pct(dur("triggerExecution"), 50), "ms"),
        "query.trigger_p99_ms": (pct(dur("triggerExecution"), 99), "ms"),
        "query.trigger_self_ms": (g("query.trigger", "self_ms"), "ms"),
        "source.latest_offset_p50_ms": (pct(dur("latestOffset"), 50), "ms"),
        "query.get_batch_p50_ms": (pct(dur("getBatch"), 50), "ms"),
        "query.add_batch_p50_ms": (pct(dur("addBatch"), 50), "ms"),
        "query.wal_commit_p50_ms": (pct(dur("walCommit"), 50), "ms"),
        "query.commit_offsets_p50_ms": (pct(dur("commitOffsets"), 50), "ms"),
        "state.rows_total": (max((o["numRowsTotal"] for o in state), default=0), "count"),
        "state.memory_bytes": (max((o["memoryUsedBytes"] for o in state), default=0), "bytes"),
        "state.commit_p50_ms": (pct([o["commitTimeMs"] for o in state], 50), "ms"),
        "state.dropped_by_watermark": (
            sum(o["numRowsDroppedByWatermark"] for o in state), "count"
        ),
        "listener.backlog_rows_max": (listener.lag_max, "count"),
        "listener.on_progress_p99_ms": (g("listener.on_progress", "p99_ms"), "ms"),
    }
