"""Measure streaming-drain STATE SIZE against its predicted scaling law.

The 100-TB claim for every windowed/stateful drain is that state is
bounded by the WINDOW STRUCTURE (keys x windows-in-flight), not by the
stream length. This script drains the graded fixtures while recording
each micro-batch's stateOperators metrics (numRowsTotal / peak memory)
and compares the peak against the structural prediction:

- tumbling 1d x event_type:   state rows <= days x types        (grid)
- sliding 1d/6h x event_type: state rows <= 4 x slide-grid x types
- session 30min x user:       state rows <= open sessions (peak ~ total
                              sessions alive within one watermark lag)
- join +/-1h:                 state rows ~ events inside the in-flight
                              window on both sides, NOT total events

Run:  python scripts/stress_streaming.py [sf_dir]
Typical (sf0.1, local[32]): see BASELINE.md "Round 10: streaming state".
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from bigdata_etl_customer360_spark.session import get_session  # noqa: E402
from bigdata_etl_customer360_spark.streaming.sources import (  # noqa: E402
    stream_stream_join,
)
from bigdata_etl_customer360_spark.streaming.windows import (  # noqa: E402
    session_agg,
    sliding_agg,
    tumbling_agg,
)


def drain_with_progress(df, name: str):
    q = (
        df.writeStream.format("noop")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    peak_rows, peak_mem = 0, 0
    for p in q.recentProgress:
        for op in p["stateOperators"]:
            peak_rows = max(peak_rows, op.get("numRowsTotal", 0))
            peak_mem = max(peak_mem, op.get("memoryUsedBytes", 0))
    return peak_rows, peak_mem


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_session(
        app_name="stress-streaming", master="local[32]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")

    ev = entry._t(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    n_types = ev.select("event_type").distinct().count()
    n_days = ev.select(F.to_date("ts")).distinct().count()
    print(f"# input: {n_events} events, {n_users} users, {n_types} types, {n_days} days")

    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(27,2)")).cast("double").alias("sv"),
    ]

    # the graded agg-stream fixture (terciles + sentinel), a fresh
    # stream over it per drain
    rows, mem = drain_with_progress(
        tumbling_agg(
            entry._agg_stream(spark, sf_dir), "ts", "1 day", aggs,
            ["event_type"], "1 hour",
        ),
        "st_tumbling",
    )
    bound = (n_days + 2) * (n_types + 1)
    print(
        f"tumbling : peak state rows {rows:>8} (grid bound {bound}; "
        f"rows/bound {rows / bound:.2f})  mem {mem / 1e6:.1f} MB"
    )

    rows, mem = drain_with_progress(
        sliding_agg(
            entry._agg_stream(spark, sf_dir), "ts", "1 day", "6 hours", aggs,
            ["event_type"], "1 hour",
        ),
        "st_sliding",
    )
    bound = (4 * n_days + 8) * (n_types + 1)
    print(
        f"sliding  : peak state rows {rows:>8} (4x grid bound {bound}; "
        f"rows/bound {rows / bound:.2f})  mem {mem / 1e6:.1f} MB"
    )

    rows, mem = drain_with_progress(
        session_agg(
            entry._agg_stream(spark, sf_dir), "ts", "30 minutes", aggs,
            ["user_id"], "1 hour",
        ),
        "st_session",
    )
    # sessions alive in one watermark lag: bounded by total sessions in
    # the largest tercile (batches commit state before eviction catches up)
    n_sessions = entry.queries()["sessionize"](spark, sf_dir).count()
    print(
        f"session  : peak state rows {rows:>8} (total sessions {n_sessions}; "
        f"rows/sessions {rows / n_sessions:.2f})  mem {mem / 1e6:.1f} MB"
    )

    clicks, views = entry._join_stream_sides(spark, sf_dir)
    views = views.select(
        "user_id", F.col("ts").alias("vts"), F.col("value").alias("vvalue")
    )
    joined = stream_stream_join(
        clicks, views, "user_id", "ts", "vts", max_delay="1 hour",
        watermark="1 hour",
    ).select(F.col("l.user_id").alias("user_id"))
    rows, mem = drain_with_progress(joined, "st_join")
    n_cv = ev.filter(F.col("event_type").isin("click", "view")).count()
    print(
        f"join     : peak state rows {rows:>8} (click+view rows {n_cv}; "
        f"rows/events {rows / n_cv:.2f} — batch-grain retention, "
        f"evicted as the watermark passes)  mem {mem / 1e6:.1f} MB"
    )

    spark.stop()


if __name__ == "__main__":
    main()
