"""``consume_group`` workload: the consumer-group delivery path, no Spark.

Open loop: one generator thread sends ``Producer.add_many`` every
``TICK_S`` with every event whose due time has passed, at a fixed
``RATE``; each event carries its due time.  Two ``Consumer`` threads
share one group (``batch_size=100``, ``poll_time_ms=10``) and batch-ack
with ``remove_items_from_consumer_group``; the main thread runs a
``Monitor.collect_monitoring_data`` + ``Scaler.get_scale_decision``
sweep once a second.  Latency runs from an event's due time to the
return of the ack that covered it; each reported percentile is the median
over one-second windows (by due time) of the window's percentile.

Drain: ``DRAIN_ROUNDS`` times, the consumers are parked, ``DRAIN_N``
events are preloaded, and the same two consumers ack them as fast as
they can; the drain rate is the median over the rounds.  Half the rounds
run before the open loop and half after, so the median spans the whole
run and a slow spell of the host moves fewer of them.

Set-up: ``setup_s`` is the median over ``SETUP_REPS`` fresh child
processes, each importing the package, building the log, producer and
consumers in its own directory and acking ``WARM_N`` events (run this
file as a script to get one such set-up); the run's own set-up is
reported beside it.

Checks: every generated event is acked exactly once (open-loop events
within ``ACK_DEADLINE_S`` of the end of the loop), and the group's
pending-entries list is empty at the end.
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
import threading
import time

from common import REPO_ROOT, lateness_ms, median, open_loop, pct, rss_mb, windowed_pct

# events/s offered by the open loop: about a quarter of the two-consumer
# drain rate.  At half, a host that steals CPU tips the loop into
# saturation for whole runs; the lower the load, the less such a spell is
# amplified into queueing delay.
RATE = 2000
TICK_S = 0.010
N_CONSUMERS = 2
BATCH_SIZE = 100
POLL_MS = 10
MAX_WAIT_MS = 50
SWEEP_S = 1.0
WARM_N = 500
DRAIN_N = 8000
DRAIN_ROUNDS = 10
ACK_DEADLINE_S = 10.0
DRAIN_DEADLINE_S = 60.0
N_KEYS = 1000
ZIPF_S = 1.1
WINDOW_S = 1.0  # latency percentile window
SETUP_REPS = 5
GEN_BEHIND_MS = 100.0  # generator lateness p99 above this flags the run

STREAM = "events"
GROUP = "workers"

SMOKE = {"RATE": 1000, "WARM_N": 100, "DRAIN_N": 2000, "DRAIN_ROUNDS": 2, "SETUP_REPS": 2}


def make_events(rng: random.Random, prefix: str, n: int) -> list[dict]:
    """``n`` payloads keyed by a zipf-distributed key."""
    cum, acc = [], 0.0
    for r in range(1, N_KEYS + 1):
        acc += 1.0 / r**ZIPF_S
        cum.append(acc)
    keys = rng.choices(range(N_KEYS), cum_weights=cum, k=n)
    return [
        {"id": f"{prefix}{i}", "key": f"k{k}", "v": f"{rng.getrandbits(128):032x}"}
        for i, k in enumerate(keys)
    ]


def build(root: str):
    """The workload's stream log, producer and consumers under ``root``."""
    from redis_streams_spark.sources.stream_log import StreamLog
    from redis_streams_spark.streaming import Consumer, Producer

    log = StreamLog(root, STREAM)
    producer = Producer(log, STREAM, consumer_group=GROUP)
    consumers = [
        Consumer(
            log, STREAM, GROUP, consumer_id=f"c{i}", batch_size=BATCH_SIZE,
            max_wait_time_ms=MAX_WAIT_MS, poll_time_ms=POLL_MS,
        )
        for i in range(N_CONSUMERS)
    ]
    return log, producer, consumers


def timed_setup(root: str, warm_n: int, seed: int) -> float:
    """Seconds to import the package, build under ``root`` and ack
    ``warm_n`` events, the consumers taking turns on this thread."""
    t = time.perf_counter()
    _, producer, consumers = build(root)
    producer.add_many(make_events(random.Random(seed), "w", warm_n))
    acked = 0
    while acked < warm_n:
        for c in consumers:
            batch = c.get_items()
            if batch:
                c.remove_items_from_consumer_group([m.msgid for m in batch])
                acked += len(batch)
    return time.perf_counter() - t


def setup_in_child(root: str, warm_n: int, seed: int) -> float:
    """``timed_setup`` in a fresh interpreter, as a new process pays it."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), root, str(warm_n), str(seed)],
        capture_output=True, text=True, check=True, timeout=60,
    )
    return float(out.stdout.split()[-1])


class Acks:
    """What one consumer thread acked: (ack time, ids, due times) per
    batch."""

    def __init__(self) -> None:
        self.batches: list[tuple[float, list[str], list[str]]] = []
        self.count = 0


def run(args, _start: float, tracer) -> dict:
    cfg = {k: globals()[k] for k in SMOKE} | (SMOKE if args.smoke else {})
    rate, drain_n, drain_rounds = cfg["RATE"], cfg["DRAIN_N"], cfg["DRAIN_ROUNDS"]

    # -- inputs (from the seed; not part of set-up time) -----------------
    t_gen = time.perf_counter()
    rng = random.Random(args.seed)
    n_open = int(rate * args.seconds)
    warm = make_events(rng, "w", cfg["WARM_N"])
    open_events = make_events(rng, "o", n_open)
    drains = [make_events(rng, f"d{r}-", drain_n) for r in range(drain_rounds)]
    gen_inputs_s = time.perf_counter() - t_gen
    setups = [
        setup_in_child(args.work.sub(f"setup{k}"), cfg["WARM_N"], args.seed + k)
        for k in range(cfg["SETUP_REPS"])
    ]

    # -- set-up ----------------------------------------------------------
    t_setup = time.perf_counter()
    log, producer, consumers = build(args.work.sub("streams"))
    from redis_streams_spark.sources.stream_log import StreamLog
    from redis_streams_spark.streaming import Consumer, Monitor, Producer, Scaler

    if tracer:
        tracer.wrap(StreamLog, "update_group", "stream_log.update_group")
        tracer.wrap_lock(StreamLog, "group_lock", "stream_log.group_lock")
        tracer.wrap(StreamLog, "read_slice", "stream_log.read_slice", count=len)
        tracer.wrap(StreamLog, "append_many", "stream_log.append_many")
        tracer.wrap(Producer, "add_many", "producer.add_many")
        tracer.wrap(Consumer, "get_items", "consumer.get_items")
        tracer.wrap(Consumer, "remove_items_from_consumer_group", "consumer.ack")
        tracer.wrap(Monitor, "collect_monitoring_data", "monitor.sweep")
        tracer.wrap(Scaler, "get_scale_decision", "scaler.decision")

    monitor = Monitor(log, STREAM, GROUP, batch_size=BATCH_SIZE)
    scaler = Scaler(log, STREAM, GROUP)
    acks = [Acks() for _ in consumers]
    gate = threading.Event()  # set: consumers run; clear: they park
    parked = [threading.Event() for _ in consumers]
    stop = threading.Event()

    def consume(i: int) -> None:
        c, mine, n = consumers[i], acks[i], 0
        while not stop.is_set():
            if not gate.is_set():
                parked[i].set()
                gate.wait()
                continue
            if tracer:
                tracer.set_trace(f"c{i}:{n}")
            n += 1
            batch = c.get_items()
            if not batch:
                continue
            c.remove_items_from_consumer_group([m.msgid for m in batch])
            t = time.time()
            mine.batches.append(
                (t, [m.content["id"] for m in batch], [m.content["due_us"] for m in batch])
            )
            mine.count += len(batch)

    def acked() -> int:
        return sum(a.count for a in acks)

    def wait_acked(target: int, deadline_s: float) -> bool:
        t_end = time.perf_counter() + deadline_s
        while acked() < target:
            if time.perf_counter() > t_end:
                return False
            time.sleep(0.005)
        return True

    threads = [threading.Thread(target=consume, args=(i,), daemon=True) for i in range(N_CONSUMERS)]
    gate.set()
    for t in threads:
        t.start()
    now_us = int(time.time() * 1e6)
    for e in warm:
        e["due_us"] = str(now_us)
    producer.add_many(warm)
    wait_acked(len(warm), ACK_DEADLINE_S)
    setup_run_s = time.perf_counter() - t_setup

    # -- drain -----------------------------------------------------------
    drain_rates: list[float] = []

    def drain(rounds: list[list[dict]]) -> None:
        for events in rounds:
            for p in parked:
                p.clear()
            gate.clear()
            for p in parked:
                p.wait()
            before = acked()
            firsts = [len(a.batches) for a in acks]
            now_us = str(int(time.time() * 1e6))
            for e in events:
                e["due_us"] = now_us
            for k in range(0, len(events), 1000):
                producer.add_many(events[k : k + 1000])
            t_start = time.time()
            gate.set()
            if not wait_acked(before + len(events), DRAIN_DEADLINE_S):
                return
            t_last = max(b[0] for a, i in zip(acks, firsts) for b in a.batches[i:])
            drain_rates.append(len(events) / (t_last - t_start))

    drain(drains[: drain_rounds // 2])

    # -- open loop -------------------------------------------------------
    t0 = time.time() + TICK_S
    sends: list[tuple[float, int, int]] = []

    def send(lo: int, hi: int, tick: int) -> None:
        rows = open_events[lo:hi]
        for j, e in enumerate(rows, start=lo):
            e["due_us"] = str(int((t0 + j / rate) * 1e6))
        if tracer:
            tracer.set_trace(f"tick:{tick}")
        producer.add_many(rows)

    gen = threading.Thread(
        target=lambda: sends.extend(open_loop(n_open, rate, t0, TICK_S, send)), daemon=True
    )
    n_before = acked()
    gen.start()
    sweeps: list[str] = []
    state_bytes: list[int] = []
    group_file = os.path.join(log.groups_dir, f"{GROUP}.json")
    n_sweep = 0
    while gen.is_alive():
        gen.join(SWEEP_S)
        if tracer:
            tracer.set_trace(f"sweep:{n_sweep}")
        n_sweep += 1
        monitor.collect_monitoring_data(auto_cleanup=False)
        scaler.collect_metrics()  # the scaler reuses stale metrics otherwise
        sweeps.append(scaler.get_scale_decision()[1])
        try:
            state_bytes.append(os.path.getsize(group_file))
        except OSError:
            pass
    t_gen_end = time.time()
    wait_acked(n_before + n_open, ACK_DEADLINE_S)
    drain(drains[drain_rounds // 2 :])
    stop.set()
    gate.set()
    for t in threads:
        t.join(timeout=30)
    for t in threads:
        if t.is_alive():
            raise RuntimeError("consumer thread did not stop")
    if tracer:
        tracer.unwrap_all()

    # -- checks ----------------------------------------------------------
    generated = [e["id"] for e in warm + open_events] + [e["id"] for d in drains for e in d]
    seen: dict[str, int] = {}
    latencies: list[tuple[float, float]] = []  # (due s, ms)
    late = 0
    for a in acks:
        for t_ack, ids, dues in a.batches:
            for i, d in zip(ids, dues):
                seen[i] = seen.get(i, 0) + 1
                if i[0] == "o":
                    latencies.append((int(d) / 1e6 - t0, t_ack * 1e3 - int(d) / 1e3))
                    late += t_ack > t_gen_end + ACK_DEADLINE_S
    missing = sum(1 for i in generated if i not in seen)
    twice = sum(n - 1 for n in seen.values() if n > 1)
    unknown = len(seen.keys() - set(generated))
    pel_left = len(log.group_state(GROUP)["pel"])
    failed = missing + twice + unknown + late + pel_left + (drain_rounds - len(drain_rates)) * drain_n

    gen_late_p99 = pct(lateness_ms(sends, t0, rate), 99)
    pooled = [v for _, v in latencies]
    info = {
        "rate": rate,
        "latency_samples": len(latencies),
        "latency_pooled_p50_ms": round(pct(pooled, 50), 3),
        "latency_pooled_p99_ms": round(pct(pooled, 99), 3),
        "setups_s": [round(x, 4) for x in setups],
        "setup_run_s": round(setup_run_s, 4),
        "drain_rates": [round(r, 1) for r in drain_rates],
        "missing": missing,
        "acked_twice": twice,
        "acked_late": late,
        "pel_left": pel_left,
        "gen_late_p99_ms": round(gen_late_p99, 3),
        "gen_behind": gen_late_p99 > GEN_BEHIND_MS,
        "gen_inputs_s": round(gen_inputs_s, 3),
    }
    result = {
        "attempted": len(generated),
        "failed": failed,
        "info": info,
        "metrics": {
            "setup_s": (median(setups), "s"),
            "latency_p50_ms": (windowed_pct(latencies, WINDOW_S, 50), "ms"),
            "latency_p99_ms": (windowed_pct(latencies, WINDOW_S, 99), "ms"),
            "drain_msgs_per_s": (median(drain_rates), "1/s"),
        },
    }
    if tracer:
        result["layers"] = _layers(tracer, acks, sweeps, state_bytes, gen_late_p99)
    return result


def _layers(tracer, acks, sweeps, state_bytes, gen_late_p99) -> dict:
    s = tracer.summary()

    def g(name: str, key: str) -> float:
        return s.get(name, {}).get(key, 0.0)

    calls = g("consumer.get_items", "calls")
    nonempty = sum(len(a.batches) for a in acks)
    rows = sum(a.count for a in acks)
    return {
        "stream_log.update_group.calls": (g("stream_log.update_group", "calls"), "count"),
        "stream_log.update_group.busy_ms": (g("stream_log.update_group", "busy_ms"), "ms"),
        "stream_log.update_group.p99_ms": (g("stream_log.update_group", "p99_ms"), "ms"),
        "stream_log.group_lock.wait_ms": (g("stream_log.group_lock.wait", "busy_ms"), "ms"),
        "stream_log.group_lock.hold_ms": (g("stream_log.group_lock.hold", "busy_ms"), "ms"),
        "stream_log.read_slice.calls": (g("stream_log.read_slice", "calls"), "count"),
        "stream_log.read_slice.rows": (tracer.counts.get("stream_log.read_slice", 0), "count"),
        "stream_log.read_slice.busy_ms": (g("stream_log.read_slice", "busy_ms"), "ms"),
        "stream_log.append_many.calls": (g("stream_log.append_many", "calls"), "count"),
        "stream_log.append_many.p99_ms": (g("stream_log.append_many", "p99_ms"), "ms"),
        "stream_log.group_state_bytes": (max(state_bytes, default=0), "bytes"),
        "producer.add_many.calls": (g("producer.add_many", "calls"), "count"),
        "producer.add_many.busy_ms": (g("producer.add_many", "busy_ms"), "ms"),
        "gen.late_p99_ms": (gen_late_p99, "ms"),
        "consumer.get_items.calls": (calls, "count"),
        "consumer.get_items.busy_ms": (g("consumer.get_items", "busy_ms"), "ms"),
        "consumer.get_items.self_ms": (g("consumer.get_items", "self_ms"), "ms"),
        "consumer.get_items.empty_ratio": (1 - nonempty / calls if calls else 0.0, "ratio"),
        "consumer.batch_rows_mean": (rows / nonempty if nonempty else 0.0, "count"),
        "consumer.ack.calls": (g("consumer.ack", "calls"), "count"),
        "consumer.ack.busy_ms": (g("consumer.ack", "busy_ms"), "ms"),
        "consumer.share_max": (max(a.count for a in acks) / rows if rows else 0.0, "ratio"),
        "monitor.sweep.calls": (g("monitor.sweep", "calls"), "count"),
        "monitor.sweep.p99_ms": (g("monitor.sweep", "p99_ms"), "ms"),
        "scaler.decision.p99_ms": (g("scaler.decision", "p99_ms"), "ms"),
        "scaler.decision.out_ratio": (
            sweeps.count("OUT") / len(sweeps) if sweeps else 0.0, "ratio"
        ),
        "session.rss_peak_mb": (rss_mb(os.getpid()), "MiB"),
    }


if __name__ == "__main__":
    sys.path.insert(0, REPO_ROOT)
    print(timed_setup(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])))
