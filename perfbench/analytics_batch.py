"""``analytics_batch`` workload: the headline batch queries.

Runs every query registered with ``bench=True`` against the parquet
tables in ``--data-dir``, in a warm session, each written to the ``noop``
sink (as ``bench.py`` does).  Passes repeat while ``--seconds`` allows
(at least one); ``total_s`` is the sum over queries of each query's
median time.  Set-up covers the session, a generic warm-up and one run of
every query on the ``sf0.001`` tables beside ``--data-dir`` when they
exist, so the timed passes measure compiled plans.  The inputs are the
fixed tables, so the seed is not used.

Checks, outside the timed passes: each query's rows match its DuckDB
oracle (``__spark_entry__.oracle_sql()``) under
``redis_streams_spark.oracle.compare``; a query that raises or mismatches
counts as failed.
"""

from __future__ import annotations

import os
import time

from common import CPUS, median, rss_mb, stop_spark

WARM_SF = "sf0.001"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(args, start: float, tracer) -> dict:
    from redis_streams_spark.queries import all_queries
    from redis_streams_spark.session import get_spark, load_table

    data_dir = args.data_dir
    if not data_dir or not os.path.isdir(data_dir):
        raise SystemExit("analytics_batch needs --data-dir: a directory of the test tables")
    specs = {n: s for n, s in all_queries().items() if s.bench}

    t = time.perf_counter()
    spark = get_spark("perfbench-analytics", cpus=CPUS)
    get_spark_s = time.perf_counter() - t
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        spark.range(1000).selectExpr("sum(id)").collect()
        for table in ("lineitem", "documents", "embeddings", "events"):
            load_table(spark, data_dir, table).limit(10).collect()
        warm_dir = os.path.join(os.path.dirname(os.path.abspath(data_dir)), WARM_SF)
        if os.path.isdir(warm_dir) and warm_dir != os.path.abspath(data_dir):
            for spec in specs.values():
                try:
                    _noop(spec.fn(spark, warm_dir))
                except Exception:
                    pass  # a failing query is counted by the timed pass
        setup_s = time.perf_counter() - start

        build: dict[str, list[float]] = {n: [] for n in specs}
        execs: dict[str, list[float]] = {n: [] for n in specs}
        raised: set[str] = set()
        t_end = time.perf_counter() + args.seconds
        while True:
            for name, spec in specs.items():
                if name in raised:
                    continue
                if tracer:
                    tracer.set_trace(name)
                try:
                    t0 = time.perf_counter()
                    df = spec.fn(spark, data_dir)
                    t1 = time.perf_counter()
                    _noop(df)
                    t2 = time.perf_counter()
                except Exception as e:
                    print(f"{name} raised: {e!r}", flush=True)
                    raised.add(name)
                    continue
                build[name].append(t1 - t0)
                execs[name].append(t2 - t1)
                if tracer:
                    root = tracer.add(f"queries.{name}", name, t0, t2)
                    tracer.add(f"queries.{name}.build", name, t0, t1, parent=root)
                    tracer.add(f"queries.{name}.exec", name, t1, t2, parent=root)
            if time.perf_counter() >= t_end:
                break
        mismatched = _check(spark, specs, data_dir, raised)
        rss = rss_mb(os.getpid()) + rss_mb(jvm_pid)
    finally:
        stop_spark(spark)

    ok = [n for n in specs if n not in raised]
    result = {
        "attempted": len(specs),
        "failed": len(raised) + len(mismatched),
        "info": {
            "queries": len(specs),
            "passes": len(build[ok[0]]) if ok else 0,
            "raised": sorted(raised),
            "mismatched": mismatched,
        },
        "metrics": {
            "setup_s": (setup_s, "s"),
            "total_s": (sum(median(build[n]) + median(execs[n]) for n in ok), "s"),
        },
    }
    if tracer:
        layers = {
            "session.get_spark_s": (get_spark_s, "s"),
            "session.rss_peak_mb": (rss, "MiB"),
        }
        for n in ok:
            layers[f"queries.{n}.build_ms"] = (median(build[n]) * 1e3, "ms")
            layers[f"queries.{n}.exec_s"] = (median(execs[n]), "s")
        result["layers"] = layers
    return result


def _check(spark, specs, data_dir: str, raised: set[str]) -> dict[str, list[str]]:
    """Problems per query whose rows differ from its DuckDB oracle."""
    import duckdb

    import __spark_entry__
    from redis_streams_spark.oracle import compare
    from redis_streams_spark.session import TABLES
    from tools.check_oracle import _spark_to_py, _to_py

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    problems: dict[str, list[str]] = {}
    for name, spec in specs.items():
        if name in raised or name not in oracles:
            continue
        sdf = spec.fn(spark, data_dir)
        srows = [tuple(_spark_to_py(v) for v in r) for r in sdf.collect()]
        pdf = con.sql(oracles[name]).df()
        drows = [tuple(_to_py(v) for v in r) for r in pdf.itertuples(index=False, name=None)]
        found = compare(sdf.columns, srows, list(pdf.columns), drows)
        if found:
            problems[name] = found
    con.close()
    return problems
