"""Spark-native streaming example: the same pipeline as
examples/consume_loop.py but on Structured Streaming — source with batch
cap, typed projection, watermarked windows, listener-driven monitoring,
scaling advice.

Run: python examples/streaming_native.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from redis_streams_spark.session import get_spark
from redis_streams_spark.sources.stream_log import StreamLog
from redis_streams_spark.streaming import Producer
from redis_streams_spark.streaming.bridge import open_stream
from redis_streams_spark.streaming.listener import MonitorListener
from redis_streams_spark.streaming.windows import project, tumbling_counts


def main() -> None:
    root = tempfile.mkdtemp(prefix="rss-native-")
    spark = get_spark("streaming-native-example", cpus=4)
    listener = MonitorListener(batch_size=1000)
    spark.streams.addListener(listener)

    # produce a burst of typed events
    prod = Producer(StreamLog(root, "events"), "events")
    prod.add_many(
        [
            {
                "ts": f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}",
                "event_type": ["view", "click", "purchase"][i % 3],
                "value": round(0.5 * i, 2),
            }
            for i in range(600)
        ]
    )

    # stream → typed projection → watermarked 5-minute windows
    src = open_stream(spark, root, "events", group="native", batch_size=200)
    typed = project(
        src, {"ts": "timestamp", "event_type": "string", "value": "double"}
    )
    windows = tumbling_counts(typed, window_size="5 minutes", watermark="2 minutes")

    q = (
        windows.writeStream.format("memory")
        .queryName("native_out")
        .outputMode("complete")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    print("windowed aggregates:")
    spark.sql(
        "SELECT win_start, event_type, n, round(total, 2) AS total "
        "FROM native_out ORDER BY win_start, event_type"
    ).show(12, truncate=False)

    print("monitor rows (latest per query):")
    for m in listener.metrics[:5]:
        print(" ", m)
    rate, suggestion = listener.scale_decision()
    print(f"scaling advice: rate={rate} suggestion={suggestion}")

    # bounded-state monitors over the same stream (round 7): hot keys,
    # value percentiles, and distribution drift — each O(k)/O(1) state
    # per group regardless of stream length
    from redis_streams_spark.streaming.drift import (
        reference_histogram,
        streaming_drift,
    )
    from redis_streams_spark.streaming.quantiles import streaming_quantiles
    from redis_streams_spark.streaming.topk import streaming_topk

    ref = reference_histogram([0.5 * i for i in range(1, 600)])
    monitors = {
        # item = log2 value bucket: a skewed space where a heavy hitter
        # exists (an all-unique item stream correctly yields an EMPTY
        # summary — nothing exceeds the n/(k+1) guarantee threshold)
        "hot value buckets (Misra-Gries top-3)": (
            streaming_topk, dict(key_col="event_type", item_col="bucket", k=3),
        ),
        "value percentiles (log-histogram sketch)": (
            streaming_quantiles, dict(key_col="event_type", value_col="value"),
        ),
        "distribution drift vs reference (JS)": (
            streaming_drift,
            dict(reference=ref, key_col="event_type", value_col="value"),
        ),
    }
    for title, (op, kw) in monitors.items():
        src_m = open_stream(
            spark, root, "events", group=f"mon-{op.__name__}", batch_size=0
        )
        typed_m = project(
            src_m, {"event_type": "string", "value": "double"}
        ).withColumn(
            "bucket", F.floor(F.log2(F.col("value") + 1)).cast("string")
        )
        name = f"mon_{op.__name__}"
        qm = (
            op(typed_m, **kw)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option(
                "checkpointLocation", os.path.join(root, f"ck-{op.__name__}")
            )
            .trigger(availableNow=True)
            .start()
        )
        qm.awaitTermination(120)
        print(title + ":")
        spark.sql(
            f"SELECT * FROM {name} ORDER BY n_seen DESC LIMIT 3"
        ).show(truncate=False)

    spark.streams.removeListener(listener)
    spark.stop()


if __name__ == "__main__":
    main()
