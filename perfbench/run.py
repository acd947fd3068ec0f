"""Benchmark of the redis_streams_spark stream-delivery engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (one per process):

- ``consume_group``   open-loop Producer -> 2 Consumers sharing a group,
                      monitor/scaler sweeps, then a preloaded-backlog drain
                      (no Spark); see consume_group.py.
- ``stream_pipeline`` open-loop producer -> redislog source -> project ->
                      stream_dedup -> redislog sink with MonitorListener,
                      then a preloaded-backlog drain; see stream_pipeline.py.
- ``analytics_batch`` the 13 headline queries, warm, written to the noop
                      sink and checked against their DuckDB oracles; needs
                      ``--data-dir`` (a directory of the test parquet
                      tables) and ignores the seed; see analytics_batch.py.

Inputs come from ``--seed``; the open loop runs for ``--seconds``.  With
``--trace 0`` the run reports the end-to-end metrics, with ``--trace 1``
the per-layer metrics (named in ``BENCHMARK.json`` for the workloads it
lists), computed from spans recorded around the package's public methods;
the spans are written to ``.perfbench/traces/<workload>.jsonl``.  A traced
run also reports its own end-to-end figures (``end_to_end_traced``); their
difference from an untraced run of the same seed is the tracing overhead,
which ``trace.overhead_pct`` estimates from the span count and the
measured cost of one span.  ``--smoke`` shrinks every size for a quick
self-test.

Output: one JSON report line (details, error counts, machine state), then
as the last line ``{"correct", "attempted", "failed", "metrics"}``.  The
exit code is 0 when the run completed, whether or not its outputs were
correct.  Every temp file, Spark local dir and checkpoint of the run
lives under ``.perfbench/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

from common import OUT_DIR, REPO_ROOT, WorkDir, configure_env, cpu_times, machine_state  # noqa: E402

WORKLOADS = ("consume_group", "stream_pipeline", "analytics_batch")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--data-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def _declared(workload: str, trace: int) -> list[dict] | None:
    """The metrics BENCHMARK.json declares for this mode, or None when it
    does not list the workload."""
    try:
        with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError:
        return None
    if workload not in {w["name"] for w in bench["workloads"]}:
        return None
    return bench["per_layer" if trace else "end_to_end"]


def _metrics(measured: dict[str, tuple[float, str]], declared: list[dict] | None) -> dict:
    """Measured values in the result format.  A declared metric the
    workload does not exercise reads 0."""
    if declared is None:
        return {k: {"value": v, "unit": u} for k, (v, u) in measured.items()}
    out = {}
    for m in declared:
        value, unit = measured.get(m["name"], (0, m["unit"]))
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: measured in {unit}, declared in {m['unit']}")
        out[m["name"]] = {"value": value, "unit": unit}
    return out


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(REPO_ROOT, "redis_streams_spark")):
        print(f"error: no redis_streams_spark package in {REPO_ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO_ROOT)
    workload = importlib.import_module(args.workload)

    tracer = None
    if args.trace:
        from tracing import Tracer, span_cost_s

        tracer = Tracer()
    cpu_start = cpu_times()
    args.work = WorkDir(args.workload)
    configure_env(args.work)
    # Whatever the run writes to stdout (the JVM and Spark's workers
    # inherit this descriptor) goes to stderr, so the report stays last.
    saved_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        result = workload.run(args, START, tracer)
    finally:
        sys.stdout.flush()
        os.dup2(saved_stdout, 1)
        os.close(saved_stdout)
        args.work.close()
        # flush this run's writes now rather than during the next run
        os.sync()

    info = result["info"]
    info["error_rate"] = result["failed"] / result["attempted"]
    if info.get("gen_behind"):
        print(
            f"warning: the generator ran behind its schedule (lateness p99 "
            f"{info['gen_late_p99_ms']} ms); this run's latencies understate the load",
            file=sys.stderr,
        )
    measured = result["metrics"]
    if tracer:
        measured = result["layers"]
        wall = time.perf_counter() - START
        measured["trace.spans"] = (len(tracer.spans), "count")
        measured["trace.overhead_pct"] = (
            100.0 * len(tracer.spans) * span_cost_s() / wall, "%"
        )
        tracer.write(os.path.join(OUT_DIR, "traces", f"{args.workload}.jsonl"))
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **info,
        "machine": machine_state(cpu_start),
    }
    if tracer:
        report["end_to_end_traced"] = {k: v for k, (v, _) in result["metrics"].items()}
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": _metrics(measured, _declared(args.workload, args.trace)),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
