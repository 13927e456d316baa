"""Streaming surface tests: a streaming plan drained with availableNow must
equal its batch twin (same declarative agg), and gap-sessionization must
produce identical sessions in streaming (applyInPandasWithState) and batch
(window-function) form.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from bigdata_etl_customer360_spark.streaming.stateful import sessionize, sessionize_batch
from bigdata_etl_customer360_spark.streaming.windows import (
    run_available_now,
    stream_dedup,
    stream_from_parquet,
    tumbling_agg,
)

EVENT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def _write_events(path: str, rows: list[tuple[int, str, float]]) -> None:
    tbl = pa.table(
        {
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [pd.Timestamp(r[1]) for r in rows], pa.timestamp("us")
            ),
            "value": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, path)


MAIN_ROWS = [
    # user 1: two sessions (gap > 600s between 10:00:05 and 10:30:00)
    (1, "2022-01-01 10:00:00", 1.0),
    (1, "2022-01-01 10:00:05", 2.0),
    (1, "2022-01-01 10:30:00", 3.0),
    (1, "2022-01-01 10:31:00", 4.0),
    # user 2: one session
    (2, "2022-01-01 09:00:00", 10.0),
    (2, "2022-01-01 09:05:00", 20.0),
]
# far-future events: advance the watermark so every main session times out
FLUSH_ROWS = [(99, "2022-01-02 00:00:00", 0.0), (99, "2022-01-02 00:00:01", 0.0)]


@pytest.fixture
def stream_dir(spark, tmp_path):
    d = tmp_path / "stream_src"
    d.mkdir()
    _write_events(str(d / "a_main.parquet"), MAIN_ROWS)
    time.sleep(0.05)
    _write_events(str(d / "b_flush.parquet"), FLUSH_ROWS)
    # file source orders by mtime when maxFilesPerTrigger caps a batch
    os.utime(d / "b_flush.parquet", (time.time() + 5, time.time() + 5))
    return str(d)


def test_tumbling_agg_stream_equals_batch(spark, stream_dir, tmp_path):
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(27,2)")).cast("double").alias("sv"),
    ]
    stream = stream_from_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    got = run_available_now(
        tumbling_agg(stream, "ts", "1 hour", aggs, group_cols=["user_id"], watermark="0 seconds"),
        "t_tumbling",
        checkpoint_dir=str(tmp_path / "ckpt_t"),
    )
    batch = spark.read.schema(EVENT_SCHEMA).parquet(stream_dir)
    want = tumbling_agg(batch, "ts", "1 hour", aggs, group_cols=["user_id"], watermark="0 seconds")
    # append-mode emits only watermark-closed windows; every window closed
    # by the flush rows must match the batch result for those windows
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows <= want_rows
    # all windows strictly before the flush watermark must have been emitted
    emitted_users = {r[2] for r in got_rows}
    assert {1, 2} <= emitted_users


def test_stream_dedup(spark, tmp_path):
    d = tmp_path / "dd_src"
    d.mkdir()
    _write_events(
        str(d / "dup.parquet"),
        [(1, "2022-01-01 10:00:00", 1.0)] * 3 + [(2, "2022-01-01 10:00:00", 1.0)],
    )
    stream = stream_from_parquet(spark, str(d), EVENT_SCHEMA)
    got = run_available_now(
        stream_dedup(stream, ["user_id", "ts"], "ts"),
        "t_dedup",
        checkpoint_dir=str(tmp_path / "ckpt_d"),
    )
    assert got.count() == 2


def test_sessionize_stream_equals_batch(spark, stream_dir, tmp_path):
    sessions = sessionize(
        stream_from_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1),
        gap_seconds=600,
        watermark="0 seconds",
    )
    got = run_available_now(
        sessions, "t_sessions", checkpoint_dir=str(tmp_path / "ckpt_s")
    )
    got_pdf = (
        got.filter(F.col("user_id") != 99)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )

    batch = spark.createDataFrame(
        [(u, pd.Timestamp(t).to_pydatetime(), v) for u, t, v in MAIN_ROWS], EVENT_SCHEMA
    )
    want_pdf = (
        sessionize_batch(batch, gap_seconds=600)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    assert len(got_pdf) == len(want_pdf) == 3
    for col in ("user_id", "session_start", "session_end", "n_events", "sum_value"):
        assert got_pdf[col].tolist() == want_pdf[col].tolist(), col


def test_sessionize_stream_restart_recovers_open_sessions(spark, tmp_path):
    """RESTART/RECOVERY pin for the applyInPandasWithState checkpoint
    (VERDICT r10 task 7a — sessionize's exactly-once story was asserted,
    never replayed): drain 1 leaves user 1's session OPEN in state (its
    event-time timeout sits past the committed watermark); a NEW query
    instance on the SAME checkpoint must (a) resume that state — the
    run-2 continuation event extends the run-1 session, including the
    in-order float partial sum, (b) not re-emit anything run 1 already
    emitted (user 2's early session times out under run 1's watermark),
    and (c) end up exactly equal to the uninterrupted batch twin. Uses
    the durable parquet sink: the memory sink cannot recover from a
    checkpoint."""
    from bigdata_etl_customer360_spark.streaming.windows import stream_to_parquet

    src = tmp_path / "sess_restart_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_sess_restart")
    out = str(tmp_path / "sess_restart_out")
    first = [
        # user 1: open across the restart (timeout 10:10:05 > run-1 wm 10:00:05)
        (1, "2022-01-01 10:00:00", 1.0),
        (1, "2022-01-01 10:00:05", 2.0),
        # user 2: times out UNDER run 1's watermark -> emitted by run 1
        (2, "2022-01-01 09:00:00", 10.0),
    ]
    second = [
        # continues user 1's recovered session (295s < 600s gap) — state
        # carried session_start AND the partial sum across the restart
        (1, "2022-01-01 10:05:00", 4.0),
        # new user-2 session, above run 1's watermark
        (2, "2022-01-01 10:30:00", 20.0),
    ]
    _write_events(str(src / "a_first.parquet"), first)

    def drain():
        stream_to_parquet(
            sessionize(
                stream_from_parquet(
                    spark, str(src), EVENT_SCHEMA, max_files_per_trigger=1
                ),
                gap_seconds=600,
                watermark="0 seconds",
            ),
            out,
            ckpt,
            query_name="sess_restart",
        )

    drain()  # run 1: user 1 + new-user-2 state parked; old user-2 emitted
    _write_events(str(src / "b_second.parquet"), second)
    os.utime(src / "b_second.parquet", (time.time() + 2, time.time() + 2))
    _write_events(str(src / "c_flush.parquet"), FLUSH_ROWS)
    os.utime(src / "c_flush.parquet", (time.time() + 5, time.time() + 5))
    drain()  # run 2: NEW query instance recovering the checkpoint

    got_pdf = (
        spark.read.parquet(out)
        .filter(F.col("user_id") != 99)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    batch = spark.createDataFrame(
        [
            (u, pd.Timestamp(t).to_pydatetime(), v)
            for u, t, v in first + second
        ],
        EVENT_SCHEMA,
    )
    want_pdf = (
        sessionize_batch(batch, gap_seconds=600)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    # 3 sessions, each exactly once; the spanning one has n=3, sum=7.0
    assert len(got_pdf) == len(want_pdf) == 3
    for col in ("user_id", "session_start", "session_end", "n_events", "sum_value"):
        assert got_pdf[col].tolist() == want_pdf[col].tolist(), col
    spanning = got_pdf[got_pdf["user_id"] == 1]
    assert spanning["n_events"].tolist() == [3]
    assert spanning["sum_value"].tolist() == [7.0]


def test_sliding_agg_stream_closes_windows(spark, stream_dir, tmp_path):
    from bigdata_etl_customer360_spark.streaming.windows import sliding_agg

    aggs = [F.count(F.lit(1)).alias("n")]
    stream = stream_from_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    got = run_available_now(
        sliding_agg(stream, "ts", "1 hour", "30 minutes", aggs,
                    group_cols=["user_id"], watermark="0 seconds"),
        "t_sliding",
        checkpoint_dir=str(tmp_path / "ckpt_sl"),
    )
    batch = spark.read.schema(EVENT_SCHEMA).parquet(stream_dir)
    want = sliding_agg(batch, "ts", "1 hour", "30 minutes", aggs,
                       group_cols=["user_id"], watermark="0 seconds")
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows <= want_rows
    # every row lands in window/slide = 2 overlapping windows
    u1_batch = [r for r in want_rows if r[2] == 1]
    assert len(u1_batch) >= 3
    assert {r[2] for r in got_rows} >= {1, 2}


# --- kafka-shaped source + stream-stream join --------------------------------


def test_kafka_envelope_parse_roundtrip(spark, tmp_path):
    """Producer-shaped envelope parquet -> stub stream -> from_json parse
    drains to exactly the source rows (payload AND broker metadata)."""
    from bigdata_etl_customer360_spark.streaming.sources import (
        kafka_envelope_stream,
        parse_kafka_json,
        write_kafka_envelope,
    )

    src = spark.createDataFrame(
        [(u, pd.Timestamp(t).to_pydatetime(), v) for u, t, v in MAIN_ROWS], EVENT_SCHEMA
    )
    topic_dir = str(tmp_path / "topic_events")
    write_kafka_envelope(src, topic_dir, "events", "user_id",
                         ["user_id", "ts", "value"], "ts")

    stream = kafka_envelope_stream(spark, topic_dir, max_files_per_trigger=1)
    parsed = parse_kafka_json(stream, EVENT_SCHEMA)
    got = run_available_now(parsed, "t_kafka_parse",
                            checkpoint_dir=str(tmp_path / "ckpt_kp"))
    got_rows = sorted((r["user_id"], r["ts"], r["value"]) for r in got.collect())
    want_rows = sorted((r["user_id"], r["ts"], r["value"]) for r in src.collect())
    assert got_rows == want_rows
    # broker metadata survives the parse
    meta = got.select("topic", "partition", "offset").collect()
    assert {m["topic"] for m in meta} == {"events"}
    offs = sorted((m["partition"], m["offset"]) for m in meta)
    assert len(set(offs)) == len(offs)  # (partition, offset) unique


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Two envelope streams joined with the time-range constraint drain to
    the same rows as the identical batch join."""
    from bigdata_etl_customer360_spark.streaming.sources import (
        kafka_envelope_stream,
        parse_kafka_json,
        stream_stream_join,
        write_kafka_envelope,
    )

    clicks = [(u, t, v) for u, t, v in MAIN_ROWS]
    views = [
        (1, "2022-01-01 10:00:30", 10.0),   # joins user 1's 10:00 events
        (1, "2022-01-01 12:00:00", 11.0),   # > 1h from everything -> drops
        (2, "2022-01-01 11:00:20", 12.0),   # joins user 2
        (3, "2022-01-01 10:00:00", 13.0),   # no click side -> drops (inner)
    ]
    c_df = spark.createDataFrame(
        [(u, pd.Timestamp(t).to_pydatetime(), v) for u, t, v in clicks], EVENT_SCHEMA)
    v_df = spark.createDataFrame(
        [(u, pd.Timestamp(t).to_pydatetime(), v) for u, t, v in views], EVENT_SCHEMA)

    c_dir, v_dir = str(tmp_path / "t_clicks"), str(tmp_path / "t_views")
    write_kafka_envelope(c_df, c_dir, "clicks", "user_id", ["user_id", "ts", "value"], "ts")
    write_kafka_envelope(v_df, v_dir, "views", "user_id", ["user_id", "ts", "value"], "ts")

    def sides(reader):
        c = parse_kafka_json(reader(c_dir), EVENT_SCHEMA, keep_meta=False)
        v = (parse_kafka_json(reader(v_dir), EVENT_SCHEMA, keep_meta=False)
             .withColumnRenamed("ts", "vts").withColumnRenamed("value", "vvalue"))
        return c, v

    def project(df):
        return df.select(F.col("l.user_id").alias("u"), F.col("l.ts").alias("cts"),
                         "r.vts", "r.vvalue")

    sc, sv = sides(lambda p: kafka_envelope_stream(spark, p))
    joined = stream_stream_join(sc, sv, "user_id", "ts", "vts",
                                max_delay="1 hour", watermark="0 seconds")
    got = run_available_now(project(joined), "t_ssjoin",
                            checkpoint_dir=str(tmp_path / "ckpt_ss"))

    bc, bv = sides(lambda p: spark.read.schema(
        __import__("bigdata_etl_customer360_spark.streaming.sources",
                   fromlist=["KAFKA_ENVELOPE_SCHEMA"]).KAFKA_ENVELOPE_SCHEMA).parquet(p))
    want = project(stream_stream_join(bc, bv, "user_id", "ts", "vts",
                                      max_delay="1 hour", watermark="0 seconds"))

    got_rows = sorted(tuple(r) for r in got.collect())
    want_rows = sorted(tuple(r) for r in want.collect())
    assert got_rows == want_rows
    assert len(got_rows) > 0
    joined_users = {r[0] for r in got_rows}
    assert 3 not in joined_users          # inner join drops view-only user
    assert all(r[2] is not None for r in got_rows)


def test_stream_dedup_state_is_keys_not_rows(spark, tmp_path):
    """dropDuplicatesWithinWatermark at a larger key count: 5k keys x 4
    duplicates across micro-batches -> 5k output rows, and the state store
    holds O(keys) rows (one per distinct key), NOT O(input rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_keys, dups = 5000, 4
    d = tmp_path / "dedup_lot"
    d.mkdir()
    base = pd.Timestamp("2022-01-01 00:00:00")
    for b in range(dups):  # each file repeats ALL keys -> pure duplicates
        tbl = pa.table({
            "user_id": pa.array(list(range(n_keys)), pa.int64()),
            "ts": pa.array([base + pd.Timedelta(seconds=b)] * n_keys, pa.timestamp("us")),
            "value": pa.array([float(b)] * n_keys, pa.float64()),
        })
        pq.write_table(tbl, str(d / f"batch_{b}.parquet"))

    stream = stream_from_parquet(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1)
    deduped = stream_dedup(stream, ["user_id"], "ts", watermark="1 hour")
    q = (deduped.writeStream.format("memory").queryName("t_dedup_state")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_big")).start())
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p.get("stateOperators")]
    assert spark.table("t_dedup_state").count() == n_keys
    state_rows = max(op["numRowsTotal"] for p in progress for op in p["stateOperators"])
    assert state_rows == n_keys  # one state row per key, duplicates add none


def test_event_sourced_upsert_stream_appends_latest_wins(spark, tmp_path):
    """CDC-style incremental upsert without a table format: update batches
    stream-APPEND into a lake dir (idempotent, no read-modify-write), and
    the snapshot view is latest-wins per key at read time (top_k_per_group
    on batch_seq) — equal to batch-merging every update in order."""
    from bigdata_etl_customer360_spark.operators.relational import (
        merge_upsert,
        top_k_per_group,
    )

    src = tmp_path / "upd_src"
    src.mkdir()
    lake = str(tmp_path / "upd_lake")
    batches = [
        [(1, "2022-01-01 10:00:00", 10.0), (2, "2022-01-01 10:00:00", 20.0)],
        [(2, "2022-01-01 11:00:00", 25.0), (3, "2022-01-01 11:00:00", 30.0)],
    ]
    for i, rows in enumerate(batches):
        _write_events(str(src / f"b{i}.parquet"), rows)

    stream = stream_from_parquet(spark, str(src), EVENT_SCHEMA, max_files_per_trigger=1)
    q = (
        stream.withColumn("batch_seq", F.unix_micros("ts"))
        .writeStream.format("parquet")
        .option("path", lake)
        .option("checkpointLocation", str(tmp_path / "upd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    snapshot = top_k_per_group(
        # StructType.add mutates in place — build a copy so the shared
        # module-level EVENT_SCHEMA stays 3 fields for later tests
        spark.read.schema(
            StructType(EVENT_SCHEMA.fields + [StructField("batch_seq", LongType())])
        ).parquet(lake),
        ["user_id"],
        [F.col("batch_seq").desc()],
        k=1,
    ).select("user_id", "value")

    expected = spark.createDataFrame(batches[0], ["user_id", "ts", "value"]).select(
        "user_id", "value"
    )
    for rows in batches[1:]:
        upd = spark.createDataFrame(rows, ["user_id", "ts", "value"]).select(
            "user_id", "value"
        )
        expected = merge_upsert(expected, upd, ["user_id"])
    assert sorted(map(tuple, snapshot.collect())) == sorted(
        map(tuple, expected.collect())
    )



def test_asof_join_stream_equals_batch(spark, tmp_path):
    """Drained stream-stream as-of join == batch asof_join, including the
    inclusive-at-equal-ts and greatest-payload tie pins and left-outer
    nulls for match-less lefts."""
    from bigdata_etl_customer360_spark.operators.temporal import asof_join
    from bigdata_etl_customer360_spark.streaming.stateful import asof_join_stream

    left_rows = [
        (1, "2022-01-01 10:00:00", 1.0),
        (1, "2022-01-01 10:05:00", 2.0),
        (1, "2022-01-01 10:30:00", 3.0),
        (2, "2022-01-01 09:00:00", 10.0),  # no right rows at all
    ]
    right_rows = [
        (1, "2022-01-01 09:59:00", 10.0),
        (1, "2022-01-01 10:05:00", 20.0),
        (1, "2022-01-01 10:05:00", 21.0),  # equal-ts tie -> greatest value
        (1, "2022-01-01 10:20:00", 30.0),
    ]
    ld = tmp_path / "asof_l"; ld.mkdir()
    rd = tmp_path / "asof_r"; rd.mkdir()
    _write_events(str(ld / "a_main.parquet"), left_rows)
    _write_events(str(rd / "a_main.parquet"), right_rows)
    time.sleep(0.05)
    _write_events(str(ld / "b_flush.parquet"), FLUSH_ROWS)
    os.utime(ld / "b_flush.parquet", (time.time() + 5, time.time() + 5))

    joined = asof_join_stream(
        stream_from_parquet(spark, str(ld), EVENT_SCHEMA, max_files_per_trigger=1),
        stream_from_parquet(spark, str(rd), EVENT_SCHEMA, max_files_per_trigger=1),
        watermark="0 seconds",
    )
    got = (
        run_available_now(joined, "t_asof", checkpoint_dir=str(tmp_path / "ckpt_a"))
        .filter(F.col("user_id") != 99)
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )

    lb = spark.createDataFrame(
        [(u, pd.Timestamp(t).to_pydatetime(), v) for u, t, v in left_rows], EVENT_SCHEMA
    )
    rb = spark.createDataFrame(
        [(u, pd.Timestamp(t).to_pydatetime(), v) for u, t, v in right_rows], EVENT_SCHEMA
    )
    want = (
        asof_join(lb, rb, on="user_id", left_ts="ts", right_ts="ts", value_cols=["value"])
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 4
    for col in ("user_id", "ts", "value", "ts_asof", "value_asof"):
        pd.testing.assert_series_equal(
            got[col], want[col], check_dtype=False, obj=col
        )


def test_asof_join_stream_tolerance_bounds_lookback(spark, tmp_path):
    """With a tolerance, a right row older than the window must NOT match
    (and the state buffer evicts it) — left emits with null as-of."""
    from bigdata_etl_customer360_spark.streaming.stateful import asof_join_stream

    left_rows = [(1, "2022-01-01 10:30:00", 3.0)]
    right_rows = [(1, "2022-01-01 10:00:00", 30.0)]  # 1800s before the left
    ld = tmp_path / "tol_l"; ld.mkdir()
    rd = tmp_path / "tol_r"; rd.mkdir()
    _write_events(str(ld / "a_main.parquet"), left_rows)
    _write_events(str(rd / "a_main.parquet"), right_rows)
    time.sleep(0.05)
    _write_events(str(ld / "b_flush.parquet"), FLUSH_ROWS)
    os.utime(ld / "b_flush.parquet", (time.time() + 5, time.time() + 5))

    joined = asof_join_stream(
        stream_from_parquet(spark, str(ld), EVENT_SCHEMA, max_files_per_trigger=1),
        stream_from_parquet(spark, str(rd), EVENT_SCHEMA, max_files_per_trigger=1),
        tolerance_seconds=600,
        watermark="0 seconds",
    )
    got = (
        run_available_now(joined, "t_asof_tol", checkpoint_dir=str(tmp_path / "ckpt_tol"))
        .filter(F.col("user_id") != 99)
        .collect()
    )
    assert len(got) == 1
    assert got[0]["value"] == 3.0
    assert got[0]["ts_asof"] is None and got[0]["value_asof"] is None


def test_zscore_stream_equals_batch(spark, tmp_path):
    """Drained streaming z-score == batch rolling_zscore row for row
    (integral values -> float64 window sums are exact, matching the batch
    DECIMAL path bit for bit), including min_n NULLs and anomaly flags."""
    from bigdata_etl_customer360_spark.operators.temporal import rolling_zscore
    from bigdata_etl_customer360_spark.streaming.stateful import zscore_stream

    # 30 in-window baseline rows so the spike clears |z| > 3 (a single
    # outlier's z is bounded near sqrt(n))
    rows = [(1, f"2022-01-01 10:{m:02d}:00", 10.0) for m in range(30)]
    rows.append((1, "2022-01-01 10:30:00", 500.0))  # spike
    rows += [(2, f"2022-01-01 10:{m:02d}:00", float(m)) for m in range(0, 12, 2)]
    d = tmp_path / "zs"; d.mkdir()
    # two files so scoring spans triggers (state carry + re-emit guard)
    _write_events(str(d / "a_main.parquet"), rows[:8])
    time.sleep(0.05)
    _write_events(str(d / "b_more.parquet"), rows[8:])
    os.utime(d / "b_more.parquet", (time.time() + 2, time.time() + 2))
    time.sleep(0.05)
    _write_events(str(d / "c_flush.parquet"), FLUSH_ROWS)
    os.utime(d / "c_flush.parquet", (time.time() + 5, time.time() + 5))

    scored = zscore_stream(
        stream_from_parquet(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1),
        trailing_seconds=1800,
        min_n=5,
        watermark="0 seconds",
    )
    got = (
        run_available_now(scored, "t_zscore", checkpoint_dir=str(tmp_path / "ckpt_z"))
        .filter(F.col("user_id") != 99)
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )

    batch = spark.createDataFrame(
        [(u, pd.Timestamp(t).to_pydatetime(), v) for u, t, v in rows], EVENT_SCHEMA
    )
    want = (
        rolling_zscore(batch, ["user_id"], "ts", "value", 1800, min_n=5)
        .select("user_id", "ts", "value", "z", "is_anomaly")
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == len(rows)
    assert bool(got["is_anomaly"].any())  # the spike fired
    for col in ("user_id", "ts", "value", "z", "is_anomaly"):
        pd.testing.assert_series_equal(got[col], want[col], check_dtype=False, obj=col)


def test_stream_to_parquet_resume_exactly_once(spark, tmp_path):
    """File-sink idempotence: draining again with the same checkpoint
    after new files arrive appends ONLY the new rows; a drain with no new
    input changes nothing."""
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_from_parquet,
        stream_to_parquet,
    )

    src = tmp_path / "src"; src.mkdir()
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt_sink")
    _write_events(str(src / "a.parquet"), [(1, "2022-01-01 10:00:00", 1.0)])

    def drain():
        stream_to_parquet(
            stream_from_parquet(spark, str(src), EVENT_SCHEMA), out, ckpt
        )
        return sorted(
            (r["user_id"], r["value"]) for r in spark.read.parquet(out).collect()
        )

    assert drain() == [(1, 1.0)]
    _write_events(str(src / "b.parquet"), [(2, "2022-01-01 11:00:00", 2.0)])
    assert drain() == [(1, 1.0), (2, 2.0)]   # b appended, a NOT re-ingested
    assert drain() == [(1, 1.0), (2, 2.0)]   # no input, no change


def test_stream_upsert_to_table_matches_batch_fold(spark, tmp_path):
    """foreachBatch MERGE maintenance: the final snapshot equals folding
    merge_upsert over the same updates in batch, including within-batch
    multi-update keys (newest ts wins)."""
    from bigdata_etl_customer360_spark.operators.relational import merge_upsert
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_from_parquet,
        stream_upsert_to_table,
    )

    src = tmp_path / "usrc"; src.mkdir()
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt_upsert")
    b1 = [(1, "2022-01-01 10:00:00", 1.0), (2, "2022-01-01 10:00:00", 2.0)]
    b2 = [
        (1, "2022-01-01 11:00:00", 10.0),      # update key 1
        (1, "2022-01-01 11:30:00", 11.0),      # same key twice in one batch
        (3, "2022-01-01 11:00:00", 3.0),       # insert key 3
    ]
    _write_events(str(src / "a.parquet"), b1)
    time.sleep(0.05)
    _write_events(str(src / "b.parquet"), b2)
    os.utime(src / "b.parquet", (time.time() + 2, time.time() + 2))

    stream_upsert_to_table(
        stream_from_parquet(spark, str(src), EVENT_SCHEMA, max_files_per_trigger=1),
        snap, ckpt, keys=["user_id"], order_col="ts",
    )
    got = sorted(
        (r["user_id"], r["value"]) for r in spark.read.parquet(snap).collect()
    )
    assert got == [(1, 11.0), (2, 2.0), (3, 3.0)]


def test_zscore_stream_row_at_watermark_not_dropped(spark, tmp_path):
    """Boundary pin for the strict-emission fix: a row arriving in a LATER
    trigger with event time exactly == the watermark must still be scored
    (Spark admits ts == wm), and its equal-ts peer must share the same
    window stats — drained output still equals the batch operator."""
    from bigdata_etl_customer360_spark.operators.temporal import rolling_zscore
    from bigdata_etl_customer360_spark.streaming.stateful import zscore_stream

    early = [(1, "2022-01-01 10:00:00", 10.0), (1, "2022-01-01 10:10:00", 20.0)]
    # equal-ts peer of the batch-1 maximum arrives one trigger later
    late_peer = [(1, "2022-01-01 10:10:00", 30.0)]
    d = tmp_path / "zb"; d.mkdir()
    _write_events(str(d / "a.parquet"), early)
    time.sleep(0.05)
    _write_events(str(d / "b.parquet"), late_peer)
    os.utime(d / "b.parquet", (time.time() + 2, time.time() + 2))
    time.sleep(0.05)
    _write_events(str(d / "c_flush.parquet"), FLUSH_ROWS)
    os.utime(d / "c_flush.parquet", (time.time() + 5, time.time() + 5))

    scored = zscore_stream(
        stream_from_parquet(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1),
        trailing_seconds=3600, min_n=2, watermark="0 seconds",
    )
    got = (
        run_available_now(scored, "t_zb", checkpoint_dir=str(tmp_path / "ckpt_zb"))
        .filter(F.col("user_id") != 99)
        .toPandas().sort_values(["ts", "value"]).reset_index(drop=True)
    )
    rows = early + late_peer
    batch = spark.createDataFrame(
        [(u, pd.Timestamp(t).to_pydatetime(), v) for u, t, v in rows], EVENT_SCHEMA
    )
    want = (
        rolling_zscore(batch, ["user_id"], "ts", "value", 3600, min_n=2)
        .select("user_id", "ts", "value", "z", "is_anomaly")
        .toPandas().sort_values(["ts", "value"]).reset_index(drop=True)
    )
    assert len(got) == len(want) == 3  # the wm-boundary row emitted exactly once
    for col in ("user_id", "ts", "value", "z", "is_anomaly"):
        pd.testing.assert_series_equal(got[col], want[col], check_dtype=False, obj=col)


def test_zscore_stream_state_evicts_quiet_keys(spark, tmp_path):
    """State-bound pin for the quiet-key eviction fix: after the watermark
    passes every buffered row, a later drain (same checkpoint) removes the
    dormant keys' state instead of holding all of them forever."""
    from bigdata_etl_customer360_spark.streaming.stateful import zscore_stream

    d = tmp_path / "zs_state"; d.mkdir()
    ckpt = str(tmp_path / "ckpt_state")
    rows = [
        (uid, f"2022-01-01 10:{m:02d}:00", float(m)) for uid in range(1, 51)
        for m in range(3)
    ]
    _write_events(str(d / "a.parquet"), rows)
    time.sleep(0.05)
    _write_events(str(d / "b_flush.parquet"), FLUSH_ROWS)
    os.utime(d / "b_flush.parquet", (time.time() + 2, time.time() + 2))

    def drain(name):
        q = (
            zscore_stream(
                stream_from_parquet(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1),
                trailing_seconds=600, min_n=2, watermark="0 seconds",
            )
            # noop sink: the memory sink can't recover from a checkpoint,
            # and this test NEEDS the second drain to resume the first's
            # state to observe the eviction
            .writeStream.format("noop").queryName(name)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        prog = q.lastProgress
        return prog["stateOperators"][0]["numRowsTotal"] if prog and prog.get("stateOperators") else None

    n1 = drain("t_state1")
    # the trailing no-data batch fires the eviction timeouts as soon as
    # the flush watermark passes the 50 keys' buffers: state collapses to
    # (at most) the flush key itself instead of holding 50 dormant keys
    assert n1 is not None and n1 <= 2
    # and a later resumed drain stays bounded too
    _write_events(str(d / "c_more.parquet"), [(999, "2022-01-03 00:00:00", 1.0)])
    os.utime(d / "c_more.parquet", (time.time() + 5, time.time() + 5))
    n2 = drain("t_state2")
    assert n2 is not None and n2 <= 2


def test_stream_upsert_recovery_swap_order_preserves_history(spark, tmp_path):
    """Regression (ADVICE r5 medium): when recovering FROM '._old' (snapshot
    missing — crash hit the swap window), the new snapshot must be renamed
    into place BEFORE '._old' is deleted. Pre-fix the rmtree ran first, so a
    crash between the two left NEITHER copy and redelivery silently became
    'first batch'. Injected crash: rmtree on a live ._old deletes it then
    raises — post-fix the full merged snapshot is already in place."""
    import shutil

    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_from_parquet,
        stream_upsert_to_table,
    )

    src = tmp_path / "rsrc"; src.mkdir()
    snap = str(tmp_path / "rsnapshot")
    old = snap + "._old"
    b1 = [(1, "2022-01-01 10:00:00", 1.0), (2, "2022-01-01 10:00:00", 2.0)]
    _write_events(str(src / "a.parquet"), b1)
    stream_upsert_to_table(
        stream_from_parquet(spark, str(src), EVENT_SCHEMA),
        snap, str(tmp_path / "ck1"), keys=["user_id"], order_col="ts",
    )
    assert os.path.isdir(snap)

    # simulate the crash window: snapshot rotated to ._old, nothing else
    os.rename(snap, old)

    src2 = tmp_path / "rsrc2"; src2.mkdir()
    _write_events(str(src2 / "b.parquet"), [(3, "2022-01-01 11:00:00", 3.0)])

    real_rmtree = shutil.rmtree

    def exploding_rmtree(path, *a, **k):
        if str(path).endswith("._old") and os.path.isdir(str(path)):
            real_rmtree(str(path))
            raise RuntimeError("injected crash during old-dir cleanup")
        return real_rmtree(path, *a, **k)

    shutil.rmtree = exploding_rmtree
    try:
        with pytest.raises(Exception, match="injected crash"):
            stream_upsert_to_table(
                stream_from_parquet(spark, str(src2), EVENT_SCHEMA),
                snap, str(tmp_path / "ck2"), keys=["user_id"], order_col="ts",
            )
    finally:
        shutil.rmtree = real_rmtree

    # the swap landed before the (crashed) cleanup: full history survives
    got = sorted(
        (r["user_id"], r["value"]) for r in spark.read.parquet(snap).collect()
    )
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]


def test_zscore_stream_string_key_and_custom_names(spark, tmp_path):
    """Regression (ADVICE r5): the output schema derives from the input —
    a string-typed key under non-default column names keeps its own name
    and type instead of crashing against a hardcoded user_id:long."""
    from bigdata_etl_customer360_spark.streaming.stateful import zscore_stream

    schema = StructType(
        [
            StructField("seg", StringType()),
            StructField("etime", TimestampType()),
            StructField("amount", DoubleType()),
        ]
    )
    d = tmp_path / "zs_str"; d.mkdir()
    rows = [("a", f"2022-01-01 10:{m:02d}:00", float(10 + (m % 3))) for m in range(8)]
    rows += [("zzflush", "2022-01-02 00:00:00", 0.0)]
    tbl = pa.table(
        {
            "seg": pa.array([r[0] for r in rows], pa.string()),
            "etime": pa.array([pd.Timestamp(r[1]) for r in rows], pa.timestamp("us")),
            "amount": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, str(d / "a.parquet"))

    scored = zscore_stream(
        stream_from_parquet(spark, str(d), schema),
        key="seg", ts="etime", value_col="amount",
        trailing_seconds=3600, min_n=5, watermark="0 seconds",
    )
    got = run_available_now(
        scored, "t_zscore_str", checkpoint_dir=str(tmp_path / "ckz")
    ).filter(F.col("seg") == "a")
    assert got.columns == ["seg", "etime", "amount", "z", "is_anomaly"]
    rows_out = got.collect()
    assert len(rows_out) >= 3  # rows 5..7 scored (flush advanced the watermark)
    assert all(isinstance(r["seg"], str) for r in rows_out)
    assert any(r["z"] is not None for r in rows_out)


def test_stream_maintain_rollup_equals_batch(spark, tmp_path):
    """Continuous-aggregate maintenance: folding micro-batches into the
    partial-state snapshot, then finalizing, equals one batch aggregate
    over all the data — and a redelivered batch id is a no-op."""
    from bigdata_etl_customer360_spark.operators.rollup import (
        rollup_finalize,
        rollup_state,
    )
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_from_parquet,
        stream_maintain_rollup,
    )

    measures = [
        ("total", "sum", "value"),
        ("n", "count", "*"),
        ("hi", "max", "value"),
        ("mean", "avg", "value"),
    ]
    rows = [(1 + (i % 3), f"2022-01-01 10:{i:02d}:00", float(i)) for i in range(12)]
    src = tmp_path / "msrc"; src.mkdir()
    _write_events(str(src / "a.parquet"), rows[:5])
    time.sleep(0.05)
    _write_events(str(src / "b.parquet"), rows[5:])
    os.utime(src / "b.parquet", (time.time() + 2, time.time() + 2))

    snap = str(tmp_path / "rollup_state")
    stream_maintain_rollup(
        stream_from_parquet(spark, str(src), EVENT_SCHEMA, max_files_per_trigger=1),
        snap, str(tmp_path / "ckr"), keys=["user_id"], measures=measures,
    )
    got = sorted(
        map(
            tuple,
            rollup_finalize(
                spark.read.parquet(snap).drop("_last_batch_id"),
                ["user_id"], measures,
            ).collect(),
        )
    )
    batch = spark.createDataFrame(
        [(u, pd.Timestamp(t).to_pydatetime(), v) for u, t, v in rows],
        schema=EVENT_SCHEMA,
    )
    want = sorted(
        map(
            tuple,
            rollup_finalize(
                rollup_state(batch, ["user_id"], measures), ["user_id"], measures
            ).collect(),
        )
    )
    assert got == want

    # re-running the SAME drained source against the same checkpoint adds
    # nothing (no new batches); and a lower batch id folding in again is
    # rejected by the _last_batch_id guard
    stream_maintain_rollup(
        stream_from_parquet(spark, str(src), EVENT_SCHEMA, max_files_per_trigger=1),
        snap, str(tmp_path / "ckr"), keys=["user_id"], measures=measures,
    )
    again = sorted(
        map(
            tuple,
            rollup_finalize(
                spark.read.parquet(snap).drop("_last_batch_id"),
                ["user_id"], measures,
            ).collect(),
        )
    )
    assert again == got


def test_stream_maintained_fingerprint_set_drives_incremental_dedup(spark, tmp_path):
    """Composition: stream_upsert_to_table keyed on the text fingerprint
    maintains dedup_incremental's seen-set as a streaming snapshot — new
    batches dedup against it exactly like the batch fold."""
    from bigdata_etl_customer360_spark.operators.dedup import (
        dedup_incremental,
        doc_fingerprints,
        text_fingerprint,
    )
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_from_parquet,
        stream_upsert_to_table,
    )

    docs_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("text", StringType()),
        ]
    )

    def _write_docs(path, rows):
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([pd.Timestamp(r[1]) for r in rows], pa.timestamp("us")),
                "text": pa.array([r[2] for r in rows], pa.string()),
            }
        )
        pq.write_table(tbl, path)

    src = tmp_path / "fsrc"; src.mkdir()
    _write_docs(str(src / "a.parquet"), [
        (1, "2022-01-01 10:00:00", "alpha beta"),
        (2, "2022-01-01 10:00:00", "gamma delta"),
    ])
    snap = str(tmp_path / "fp_snapshot")
    # maintain the fingerprint set as a streaming snapshot (fp is both key
    # and payload; latest-wins upsert on an identical key is a no-op)
    fps = stream_from_parquet(spark, str(src), docs_schema).select(
        text_fingerprint("text").alias("fp"), F.col("ts")
    )
    stream_upsert_to_table(
        fps, snap, str(tmp_path / "fck"), keys=["fp"], order_col="ts",
    )
    seen = spark.read.parquet(snap).select("fp")
    assert seen.count() == 2

    # a later batch deduped against the STREAM-maintained set behaves like
    # the batch fold: re-crawled text dropped, new text kept
    batch2 = spark.createDataFrame(
        [(10, "ALPHA   beta"), (11, "epsilon zeta")],
        schema="doc_id long, text string",
    )
    got = sorted(r["doc_id"] for r in dedup_incremental(batch2, seen).collect())
    assert got == [11]
    # and the batch-side doc_fingerprints of the same history agrees
    batch_seen = doc_fingerprints(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta")], schema="doc_id long, text string"
        )
    )
    assert sorted(r["fp"] for r in seen.collect()) == sorted(
        r["fp"] for r in batch_seen.collect()
    )


DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


def _write_docs(path: str, rows: list[tuple[int, str]]) -> None:
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, path)


def test_stream_dedup_incremental_equals_batch_fold(spark, tmp_path):
    """Three micro-batches with planted cross-batch re-crawls through
    stream_dedup_incremental: the survivor lake must equal batch
    dedup_exact over the concatenated history, and the maintained seen
    snapshot must equal batch doc_fingerprints over that history — the
    streaming closure of the dedup_incremental invariant."""
    from bigdata_etl_customer360_spark.operators.dedup import (
        dedup_exact,
        doc_fingerprints,
    )
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_incremental,
    )

    src = tmp_path / "docs_src"
    src.mkdir()
    seen_path = str(tmp_path / "seen_fp")
    survivors_path = str(tmp_path / "survivors")
    batches = [
        # within-batch dup (ids 1/2 same text) + uniques
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma"), (4, "delta")],
        # re-crawls of batch-0 texts + new docs
        [(10, "gamma"), (11, "epsilon"), (12, "Alpha   beta")],  # normalized dup
        # re-crawls of batches 0 AND 1 + one new
        [(20, "delta"), (21, "epsilon"), (22, "zeta"), (23, "zeta")],
    ]
    for i, rows in enumerate(batches):
        p = src / f"b{i}.parquet"
        _write_docs(str(p), rows)
        # file source orders by mtime when maxFilesPerTrigger caps a batch
        t = time.time() + 5 * i
        os.utime(p, (t, t))
    stream_dedup_incremental(
        stream_from_parquet(spark, str(src), DOC_SCHEMA, max_files_per_trigger=1),
        seen_path,
        survivors_path,
        str(tmp_path / "ckpt_inc"),
    )

    history = spark.createDataFrame(
        [r for rows in batches for r in rows], DOC_SCHEMA
    )
    expected = sorted(
        (r["doc_id"], r["text"]) for r in dedup_exact(history).collect()
    )
    got = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(survivors_path)
        .select("doc_id", "text")
        .collect()
    )
    assert got == expected
    snap_fps = sorted(r["fp"] for r in spark.read.parquet(seen_path).collect())
    batch_fps = sorted(r["fp"] for r in doc_fingerprints(history).collect())
    assert snap_fps == batch_fps

    # crash-resume: simulate a crash INSIDE the swap window (snapshot dir
    # renamed to ._old, new one not yet in place), then ship a batch of
    # pure re-crawls — recovery must read ._old and re-ingest NOTHING
    os.rename(seen_path, seen_path + "._old")
    p = src / "b3.parquet"
    _write_docs(str(p), [(30, "alpha beta"), (31, "zeta"), (32, "Gamma")])
    t = time.time() + 20
    os.utime(p, (t, t))
    stream_dedup_incremental(
        stream_from_parquet(spark, str(src), DOC_SCHEMA, max_files_per_trigger=1),
        seen_path,
        survivors_path,
        str(tmp_path / "ckpt_inc"),
    )
    got2 = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(survivors_path)
        .select("doc_id", "text")
        .collect()
    )
    assert got2 == expected  # nothing re-ingested
    assert sorted(
        r["fp"] for r in spark.read.parquet(seen_path).collect()
    ) == batch_fps  # snapshot recovered intact from ._old


def test_stream_dedup_incremental_redelivery_after_snapshot_advance(
    spark, tmp_path
):
    """Regression (r7 ADVICE): crash AFTER the seen snapshot advanced but
    BEFORE the streaming checkpoint committed the batch.  The redelivered
    batch reads the already-advanced snapshot, dedup_incremental returns
    an EMPTY survivor set, and an unconditional overwrite would wipe the
    committed survivors/batch=<id> — docs stuck in the seen set but gone
    from the lake.  First-write-wins (the _SUCCESS guard) must keep them.

    Simulated deterministically: drain one batch end-to-end, then delete
    the checkpoint's commit marker (commits/0) so the restarted query
    redelivers batch 0 against the advanced snapshot.
    """
    from bigdata_etl_customer360_spark.operators.dedup import dedup_exact
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_incremental,
    )

    src = tmp_path / "docs_src_redeliver"
    src.mkdir()
    seen_path = str(tmp_path / "seen_fp_r")
    survivors_path = str(tmp_path / "survivors_r")
    ckpt = tmp_path / "ckpt_redeliver"
    rows = [(1, "alpha"), (2, "alpha"), (3, "beta")]
    _write_docs(str(src / "b0.parquet"), rows)
    stream_dedup_incremental(
        stream_from_parquet(spark, str(src), DOC_SCHEMA),
        seen_path,
        survivors_path,
        str(ckpt),
    )
    expected = sorted(
        (r["doc_id"], r["text"])
        for r in dedup_exact(spark.createDataFrame(rows, DOC_SCHEMA)).collect()
    )
    got = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(survivors_path)
        .select("doc_id", "text")
        .collect()
    )
    assert got == expected

    # crash simulation: snapshot already advanced, batch commit lost
    commit0 = ckpt / "commits" / "0"
    assert commit0.exists()
    commit0.unlink()
    crc = ckpt / "commits" / ".0.crc"  # Hadoop ChecksumFs sidecar — a
    if crc.exists():  # stale crc makes the re-commit rename conflict
        crc.unlink()
    stream_dedup_incremental(
        stream_from_parquet(spark, str(src), DOC_SCHEMA),
        seen_path,
        survivors_path,
        str(ckpt),
    )
    got2 = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(survivors_path)
        .select("doc_id", "text")
        .collect()
    )
    assert got2 == expected  # survivors kept, not wiped by the redelivery


def test_stream_dedup_incremental_refuses_foreign_survivor_lake(
    spark, tmp_path
):
    """Ownership stamp (r8 review): recreating the CHECKPOINT while old
    survivor batch dirs remain must fail loudly — batch ids restart at 0
    and the _SUCCESS first-write-wins guard would otherwise silently
    adopt the stale directories and poison the fresh seen snapshot."""
    import shutil

    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_incremental,
    )

    src = tmp_path / "docs_src_owner"
    src.mkdir()
    seen_path = str(tmp_path / "seen_fp_o")
    survivors_path = str(tmp_path / "survivors_o")
    ckpt = str(tmp_path / "ckpt_owner")
    _write_docs(str(src / "b0.parquet"), [(1, "alpha"), (2, "beta")])
    stream_dedup_incremental(
        stream_from_parquet(spark, str(src), DOC_SCHEMA),
        seen_path,
        survivors_path,
        ckpt,
    )
    # operator "reprocesses" by clearing checkpoint + seen but forgets
    # the survivor lake — the exact silent-poisoning scenario
    shutil.rmtree(ckpt)
    shutil.rmtree(seen_path)
    with pytest.raises(Exception, match="_QUERY_ID|belongs to streaming query"):
        stream_dedup_incremental(
            stream_from_parquet(spark, str(src), DOC_SCHEMA),
            seen_path,
            survivors_path,
            ckpt,
        )
    # same checkpoint restarted against its own lake keeps working
    ok_ckpt = str(tmp_path / "ckpt_owner2")
    ok_surv = str(tmp_path / "survivors_o2")
    ok_seen = str(tmp_path / "seen_fp_o2")
    stream_dedup_incremental(
        stream_from_parquet(spark, str(src), DOC_SCHEMA),
        ok_seen, ok_surv, ok_ckpt,
    )
    stream_dedup_incremental(
        stream_from_parquet(spark, str(src), DOC_SCHEMA),
        ok_seen, ok_surv, ok_ckpt,
    )
    got = sorted(
        r["doc_id"] for r in spark.read.parquet(ok_surv).collect()
    )
    assert got == [1, 2]


def test_stream_dedup_incremental_bucketed_equals_batch_fold(spark, tmp_path):
    """The bucketed streaming maintainer (VERDICT r13 task 2) must hold
    the exact invariant of the plain one: drained survivor lake == batch
    dedup_exact over the concatenated history, seen TABLE == batch
    doc_fingerprints — and a follow-up batch of pure re-crawls ingests
    nothing while the append-only-new fold keeps the lake distinct."""
    from bigdata_etl_customer360_spark.operators.dedup import (
        dedup_exact,
        doc_fingerprints,
    )
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_incremental_bucketed,
    )

    src = tmp_path / "docs_src_b"
    src.mkdir()
    table = "stream_seen_lake_eq_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    survivors_path = str(tmp_path / "survivors_b")
    batches = [
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma"), (4, "delta")],
        [(10, "gamma"), (11, "epsilon"), (12, "Alpha   beta")],
        [(20, "delta"), (21, "epsilon"), (22, "zeta"), (23, "zeta")],
    ]
    try:
        for i, rows in enumerate(batches):
            p = src / f"b{i}.parquet"
            _write_docs(str(p), rows)
            t = time.time() + 5 * i
            os.utime(p, (t, t))
        stream_dedup_incremental_bucketed(
            stream_from_parquet(
                spark, str(src), DOC_SCHEMA, max_files_per_trigger=1
            ),
            table,
            survivors_path,
            str(tmp_path / "ckpt_inc_b"),
            buckets=8,
            seen_table_path=str(tmp_path / "seen_lake_b"),
        )

        history = spark.createDataFrame(
            [r for rows in batches for r in rows], DOC_SCHEMA
        )
        expected = sorted(
            (r["doc_id"], r["text"]) for r in dedup_exact(history).collect()
        )
        got = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(survivors_path)
            .select("doc_id", "text")
            .collect()
        )
        assert got == expected
        batch_fps = sorted(r["fp"] for r in doc_fingerprints(history).collect())
        assert sorted(r["fp"] for r in spark.table(table).collect()) == batch_fps

        # pure re-crawls: nothing re-ingested, fold appends nothing, the
        # lake stays distinct by construction
        p = src / "b3.parquet"
        _write_docs(str(p), [(30, "alpha beta"), (31, "zeta"), (32, "Gamma")])
        t = time.time() + 20
        os.utime(p, (t, t))
        stream_dedup_incremental_bucketed(
            stream_from_parquet(
                spark, str(src), DOC_SCHEMA, max_files_per_trigger=1
            ),
            table,
            survivors_path,
            str(tmp_path / "ckpt_inc_b"),
            buckets=8,
            seen_table_path=str(tmp_path / "seen_lake_b"),
        )
        got2 = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(survivors_path)
            .select("doc_id", "text")
            .collect()
        )
        assert got2 == expected
        lake = spark.table(table)
        assert sorted(r["fp"] for r in lake.collect()) == batch_fps
        assert lake.count() == lake.distinct().count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_dedup_incremental_bucketed_auto_compaction(spark, tmp_path):
    """compact_files_over: the maintainer self-compacts its seen lake
    after a fold once the data-file count exceeds the threshold — file
    counts stay bounded across folds while survivors and the lake's
    fingerprint set match the uncompacted invariants exactly; requires
    an external seen_table_path."""
    import pyspark.sql.functions as F

    from bigdata_etl_customer360_spark.operators.dedup import (
        dedup_exact,
        doc_fingerprints,
    )
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_incremental_bucketed,
    )

    def _n_files(p):
        return sum(
            1
            for _r, _d, fs in os.walk(p)
            for f in fs
            if not f.startswith(("_", "."))
        )

    src = tmp_path / "docs_src_ac"
    src.mkdir()
    table = "stream_seen_lake_ac_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    lake_path = str(tmp_path / "seen_lake_ac")
    batches = [
        [(1, "alpha"), (2, "beta"), (3, "gamma")],
        [(10, "alpha"), (11, "delta"), (12, "epsilon")],
        [(20, "zeta"), (21, "beta"), (22, "eta")],
        [(30, "theta"), (31, "iota"), (32, "gamma")],
    ]
    try:
        for i, rows in enumerate(batches):
            p = src / f"b{i}.parquet"
            _write_docs(str(p), rows)
            t = time.time() + 5 * i
            os.utime(p, (t, t))
        stream_dedup_incremental_bucketed(
            stream_from_parquet(
                spark, str(src), DOC_SCHEMA, max_files_per_trigger=1
            ),
            table,
            str(tmp_path / "survivors_ac"),
            str(tmp_path / "ckpt_ac"),
            buckets=4,
            seen_table_path=lake_path,
            compact_files_over=5,
        )
        # 4 folds at <= 4 files each would accrete well past the
        # threshold without self-maintenance; the trigger keeps the
        # count bounded by threshold + one fold's worth
        assert 0 < _n_files(lake_path) <= 9
        history = spark.createDataFrame(
            [r for rows in batches for r in rows], DOC_SCHEMA
        )
        expected = sorted(
            (r["doc_id"], r["text"]) for r in dedup_exact(history).collect()
        )
        got = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(str(tmp_path / "survivors_ac"))
            .select("doc_id", "text")
            .collect()
        )
        assert got == expected
        assert sorted(r["fp"] for r in spark.table(table).collect()) == sorted(
            r["fp"] for r in doc_fingerprints(history).collect()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    with pytest.raises(ValueError, match="external seen_table_path"):
        stream_dedup_incremental_bucketed(
            stream_from_parquet(
                spark, str(src), DOC_SCHEMA, max_files_per_trigger=1
            ),
            "stream_seen_lake_ac2_t",
            str(tmp_path / "survivors_ac2"),
            str(tmp_path / "ckpt_ac2"),
            compact_files_over=5,
        )


def test_stream_dedup_incremental_bucketed_redelivery_after_fold_advance(
    spark, tmp_path
):
    """Same r7-ADVICE crash window as the plain maintainer: the fold
    advanced but the checkpoint commit was lost. The redelivered batch
    would recompute an EMPTY survivor set against the advanced lake — the
    _SUCCESS guard must keep the committed directory, and the re-fold
    must append NOTHING (append-only-new idempotence, no ._old rotation
    needed)."""
    from bigdata_etl_customer360_spark.operators.dedup import dedup_exact
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_incremental_bucketed,
    )

    src = tmp_path / "docs_src_br"
    src.mkdir()
    table = "stream_seen_lake_rd_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    survivors_path = str(tmp_path / "survivors_br")
    ckpt = tmp_path / "ckpt_redeliver_b"
    rows = [(1, "alpha"), (2, "alpha"), (3, "beta")]
    _write_docs(str(src / "b0.parquet"), rows)
    try:
        stream_dedup_incremental_bucketed(
            stream_from_parquet(spark, str(src), DOC_SCHEMA),
            table,
            survivors_path,
            str(ckpt),
            buckets=8,
            seen_table_path=str(tmp_path / "seen_lake_br"),
        )
        expected = sorted(
            (r["doc_id"], r["text"])
            for r in dedup_exact(
                spark.createDataFrame(rows, DOC_SCHEMA)
            ).collect()
        )
        lake_before = sorted(r["fp"] for r in spark.table(table).collect())

        commit0 = ckpt / "commits" / "0"
        assert commit0.exists()
        commit0.unlink()
        crc = ckpt / "commits" / ".0.crc"
        if crc.exists():
            crc.unlink()
        stream_dedup_incremental_bucketed(
            stream_from_parquet(spark, str(src), DOC_SCHEMA),
            table,
            survivors_path,
            str(ckpt),
            buckets=8,
            seen_table_path=str(tmp_path / "seen_lake_br"),
        )
        got = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(survivors_path)
            .select("doc_id", "text")
            .collect()
        )
        assert got == expected  # survivors kept, not wiped
        assert (
            sorted(r["fp"] for r in spark.table(table).collect()) == lake_before
        )  # re-fold appended nothing
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_dedup_incremental_bucketed_refuses_foreign_survivor_lake(
    spark, tmp_path
):
    """Ownership stamp, bucketed flavor: checkpoint + seen table cleared
    but stale survivor batch dirs remain → loud error, not silent
    adoption."""
    import shutil

    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_incremental_bucketed,
    )

    src = tmp_path / "docs_src_bo"
    src.mkdir()
    table = "stream_seen_lake_own_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    survivors_path = str(tmp_path / "survivors_bo")
    ckpt = str(tmp_path / "ckpt_owner_b")
    _write_docs(str(src / "b0.parquet"), [(1, "alpha"), (2, "beta")])
    try:
        stream_dedup_incremental_bucketed(
            stream_from_parquet(spark, str(src), DOC_SCHEMA),
            table,
            survivors_path,
            ckpt,
            buckets=8,
            seen_table_path=str(tmp_path / "seen_lake_bo"),
        )
        shutil.rmtree(ckpt)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(str(tmp_path / "seen_lake_bo"))
        with pytest.raises(
            Exception, match="_QUERY_ID|belongs to streaming query"
        ):
            stream_dedup_incremental_bucketed(
                stream_from_parquet(spark, str(src), DOC_SCHEMA),
                table,
                survivors_path,
                ckpt,
                buckets=8,
                seen_table_path=str(tmp_path / "seen_lake_bo"),
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_dedup_incremental_bucketed_catalog_loss_guard(spark, tmp_path):
    """Restart hazard specific to the catalog-backed lake: a fresh
    in-memory-catalog session forgets the table while its external files
    survive — the 'first fold' branch must REFUSE to overwrite the
    populated path, and register_seen_lake re-attaches the entry so the
    restarted stream converges (survivors kept, re-crawls still
    suppressed)."""
    from bigdata_etl_customer360_spark.operators.dedup import dedup_exact
    from bigdata_etl_customer360_spark.sources.bucketed import register_seen_lake
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_incremental_bucketed,
    )

    src = tmp_path / "docs_src_bc"
    src.mkdir()
    table = "stream_seen_lake_cat_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    survivors_path = str(tmp_path / "survivors_bc")
    ckpt = str(tmp_path / "ckpt_cat_b")
    lake_path = str(tmp_path / "seen_lake_bc")
    _write_docs(str(src / "b0.parquet"), [(1, "alpha"), (2, "beta")])
    try:
        stream_dedup_incremental_bucketed(
            stream_from_parquet(spark, str(src), DOC_SCHEMA),
            table,
            survivors_path,
            ckpt,
            buckets=8,
            seen_table_path=lake_path,
        )
        # simulate the fresh session: catalog entry gone, files remain.
        # DROP TABLE on an external table keeps the data files.
        spark.sql(f"DROP TABLE {table}")
        p = src / "b1.parquet"
        _write_docs(str(p), [(10, "alpha"), (11, "gamma")])
        t = time.time() + 10
        os.utime(p, (t, t))
        with pytest.raises(Exception, match="register_seen_lake"):
            stream_dedup_incremental_bucketed(
                stream_from_parquet(spark, str(src), DOC_SCHEMA),
                table,
                survivors_path,
                ckpt,
                buckets=8,
                seen_table_path=lake_path,
            )
        register_seen_lake(spark, table, lake_path, buckets=8)
        stream_dedup_incremental_bucketed(
            stream_from_parquet(spark, str(src), DOC_SCHEMA),
            table,
            survivors_path,
            ckpt,
            buckets=8,
            seen_table_path=lake_path,
        )
        history = spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (10, "alpha"), (11, "gamma")],
            DOC_SCHEMA,
        )
        expected = sorted(
            (r["doc_id"], r["text"]) for r in dedup_exact(history).collect()
        )
        got = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(survivors_path)
            .select("doc_id", "text")
            .collect()
        )
        assert got == expected  # re-crawl of 'alpha' suppressed post-restart
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def _write_tokens(path: str, toks: list[str]) -> None:
    pq.write_table(pa.table({"token": toks}), path)


def test_stream_heavy_hitters_equals_batch(spark, tmp_path):
    """Three maintained micro-batches == one batch heavy_hitters over the
    concatenated history: the maintained MG summary stays bounded, the
    verification scan decides, and a re-merged batch id is a no-op."""
    from bigdata_etl_customer360_spark.operators.quality import heavy_hitters
    from bigdata_etl_customer360_spark.streaming.windows import (
        heavy_hitters_from_lake,
        stream_from_parquet,
        stream_heavy_hitters,
    )

    # skewed stream: 'hot' is heavy overall, 'warm' only in batch 3,
    # 60 singletons force MG decrements at capacity 16
    b1 = ["hot"] * 40 + [f"a{i}" for i in range(20)]
    b2 = ["hot"] * 30 + ["warm"] * 5 + [f"b{i}" for i in range(20)]
    b3 = ["warm"] * 45 + [f"c{i}" for i in range(20)]
    src = tmp_path / "src"
    src.mkdir()
    for i, b in enumerate([b1, b2, b3]):
        p = str(src / f"batch{i}.parquet")
        _write_tokens(p, b)
        os.utime(p, (1_700_000_000 + 10 * i,) * 2)

    schema = StructType([StructField("token", StringType())])
    lake = str(tmp_path / "lake")
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt")
    stream_heavy_hitters(
        stream_from_parquet(spark, str(src), schema, max_files_per_trigger=1),
        lake, summary, ckpt, col="token", capacity=16,
    )

    got = sorted(
        tuple(r)
        for r in heavy_hitters_from_lake(
            spark, lake, summary, "token", denom=10
        ).collect()
    )
    all_toks = spark.createDataFrame(
        [(t,) for t in b1 + b2 + b3], ["token"]
    )
    want = sorted(
        tuple(r)
        for r in heavy_hitters(all_toks, "token", denom=10,
                               capacity=16).collect()
    )
    assert got == want and len(got) >= 2  # hot + warm both found

    # maintained summary stays bounded and carries the batch-id guard
    summ = spark.read.parquet(summary)
    assert summ.count() <= 16 + 2  # counters + sentinel (+ guard col)
    assert summ.agg(F.max("_last_batch_id")).first()[0] == 2

    # re-running the drained stream folds nothing new (no files left),
    # and the lake row count equals the token stream exactly once
    assert spark.read.parquet(lake).count() == len(b1 + b2 + b3)


def test_tumbling_agg_drops_late_rows_after_eviction(spark, tmp_path):
    """Late-data DROP semantics pinned (the q_agg_stream docstring's
    deferred claim), at the granularity Spark actually implements: a
    late row arriving in the batch right after the watermark passed its
    window still folds in (eviction + emission happen at END of that
    batch), but once the window's state is EVICTED, a later-still row
    is dropped — it neither re-emits the window nor creates a duplicate
    append row."""
    import os as _os
    import time as _time

    d = tmp_path / "late_src"
    d.mkdir()
    now = _time.time()
    # batch 0: 10:00-window row + a 13:00 row (watermark -> 12:50 next batch)
    _write_events(
        str(d / "a.parquet"),
        [(1, "2022-01-01 10:10:00", 1.0), (1, "2022-01-01 13:00:00", 5.0)],
    )
    # batch 1: on-time 13:05 row; at END of this batch wm=12:50 evicts
    # and emits the 10:00 window as (1, 1.0)
    _write_events(str(d / "b.parquet"), [(1, "2022-01-01 13:05:00", 7.0)])
    # batch 2: a LATE 10:20 row — its window was already evicted: dropped
    _write_events(str(d / "c.parquet"), [(1, "2022-01-01 10:20:00", 100.0)])
    # batch 3: far-future flush finalizes the 13:00 window
    _write_events(str(d / "d.parquet"), [(9, "2022-01-02 09:00:00", 0.0)])
    for i, f in enumerate(("a", "b", "c", "d")):
        _os.utime(d / f"{f}.parquet", (now + 5 * i,) * 2)

    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(27,2)")).cast("double").alias("sv"),
    ]
    stream = stream_from_parquet(
        spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1
    )
    got = run_available_now(
        tumbling_agg(
            stream, "ts", "1 hour", aggs, group_cols=["user_id"],
            watermark="10 minutes",
        ),
        "t_late_drop",
        checkpoint_dir=str(tmp_path / "ckpt_late"),
    )
    rows = [
        ((str(r["window_start"]), r["user_id"]), (r["n"], r["sv"]))
        for r in got.collect()
    ]
    # no duplicate append rows for any (window, user)
    assert len(dict(rows)) == len(rows)
    byk = dict(rows)
    # 10:00 window: ONLY the on-time row — the post-eviction 100.0 was
    # dropped, not re-emitted
    assert byk[("2022-01-01 10:00:00", 1)] == (1, 1.0)
    # 13:00 window: both on-time rows
    assert byk[("2022-01-01 13:00:00", 1)] == (2, 12.0)


def test_session_agg_exact_gap_boundary_merges(spark, tmp_path):
    """session_agg boundary semantics pinned (this test DISCOVERED the
    rule): Spark merges TOUCHING [ts, ts+gap) windows — events exactly
    gap apart land in ONE session — so a new session needs a gap
    STRICTLY greater than the gap duration (the q_session_stream
    oracle's `> gap` new-session rule); session end is
    last_event + gap."""
    import os as _os
    import time as _time

    from bigdata_etl_customer360_spark.streaming.windows import session_agg

    d = tmp_path / "sess_src"
    d.mkdir()
    now = _time.time()
    _write_events(
        str(d / "a.parquet"),
        [
            # user 1: 10:00:00 and 10:10:00 — exactly the 10-min gap
            # apart: touching windows MERGE into one session
            (1, "2022-01-01 10:00:00", 1.0),
            (1, "2022-01-01 10:10:00", 2.0),
            # user 2: one microsecond MORE than the gap: two sessions
            (2, "2022-01-01 10:00:00", 3.0),
            (2, "2022-01-01 10:10:00.000001", 4.0),
        ],
    )
    # far-future flush sentinel (its own session never finalizes)
    _write_events(str(d / "b.parquet"), [(-1, "2022-01-03 00:00:00", 0.0)])
    for i, f in enumerate(("a", "b")):
        _os.utime(d / f"{f}.parquet", (now + 5 * i,) * 2)

    stream = stream_from_parquet(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1)
    got = run_available_now(
        session_agg(
            stream,
            "ts",
            "10 minutes",
            aggs=[
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(27,2)")).cast("double").alias("sv"),
            ],
            group_cols=["user_id"],
            watermark="10 minutes",
        ),
        "t_session_touch",
        checkpoint_dir=str(tmp_path / "ckpt_sess"),
    )
    rows = {
        (r["user_id"], str(r["window_start"])): (str(r["window_end"]), r["n"], r["sv"])
        for r in got.collect()
    }
    assert rows == {
        (1, "2022-01-01 10:00:00"): ("2022-01-01 10:20:00", 2, 3.0),
        (2, "2022-01-01 10:00:00"): ("2022-01-01 10:10:00", 1, 3.0),
        (2, "2022-01-01 10:10:00.000001"): ("2022-01-01 10:20:00.000001", 1, 4.0),
    }


def test_session_agg_drops_late_rows_after_eviction(spark, tmp_path):
    """Late-data semantics for SESSION windows at the same granularity as
    the tumbling twin: a late row whose key's session state was already
    evicted (watermark passed session_end, APPEND emitted it) is dropped
    — it neither reopens the session nor appends a duplicate; a late row
    arriving while the session is still in state folds in."""
    import os as _os
    import time as _time

    from bigdata_etl_customer360_spark.streaming.windows import session_agg

    d = tmp_path / "sess_late_src"
    d.mkdir()
    now = _time.time()
    # batch 0: user 1 session at 10:00 + a 13:00 row (wm -> 12:50 later)
    _write_events(
        str(d / "a.parquet"),
        [(1, "2022-01-01 10:00:00", 1.0), (1, "2022-01-01 13:00:00", 5.0)],
    )
    # batch 1: on-time row; at END of this batch wm=12:50 evicts + emits
    # the 10:00 session
    _write_events(str(d / "b.parquet"), [(1, "2022-01-01 13:05:00", 7.0)])
    # batch 2: LATE 10:05 row — its session was already evicted: dropped
    _write_events(str(d / "c.parquet"), [(1, "2022-01-01 10:05:00", 100.0)])
    # batch 3: far-future flush finalizes the 13:00 session
    _write_events(str(d / "d.parquet"), [(9, "2022-01-02 09:00:00", 0.0)])
    for i, f in enumerate(("a", "b", "c", "d")):
        _os.utime(d / f"{f}.parquet", (now + 5 * i,) * 2)

    stream = stream_from_parquet(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1)
    got = run_available_now(
        session_agg(
            stream,
            "ts",
            "10 minutes",
            aggs=[
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(27,2)")).cast("double").alias("sv"),
            ],
            group_cols=["user_id"],
            watermark="10 minutes",
        ),
        "t_session_late",
        checkpoint_dir=str(tmp_path / "ckpt_sess_late"),
    )
    rows = [
        ((r["user_id"], str(r["window_start"])), (str(r["window_end"]), r["n"], r["sv"]))
        for r in got.collect()
    ]
    assert len(dict(rows)) == len(rows)  # no duplicate appends
    byk = dict(rows)
    # 10:00 session: only the on-time row — the late 100.0 was dropped
    # after eviction, and no reopened/duplicate session appears
    assert byk[(1, "2022-01-01 10:00:00")] == ("2022-01-01 10:10:00", 1, 1.0)
    # 13:00 session: both on-time rows merged (13:00 + 13:05 < gap apart)
    assert byk[(1, "2022-01-01 13:00:00")] == ("2022-01-01 13:15:00", 2, 12.0)


# ---------------------------------------------------------------------------
# stream_dedup_neardup — the MinHash near-dup maintainer (VERDICT r14 task 1)

ND_BATCHES = [
    [
        (1, "the quick brown fox jumps over the lazy dog"),
        # last token differs: 6 of 8 union shingles shared -> j=0.75, dropped
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text entirely here"),
    ],
    [
        (10, "the quick brown fox jumps over the lazy dog"),  # exact re-crawl
        (11, "the quick brown fox jumps over the lazy dog v2"),  # j=7/8
        (12, "brand new content that matches nothing at all"),
    ],
    [
        # near-dup of SURVIVOR 3: j=3/4
        (20, "completely different text entirely here extra"),
        # exact re-crawl of DROPPED 2: "earlier doc" means any prior doc
        (21, "the quick brown fox jumps over the lazy cat"),
        (22, "short text"),  # < 3 tokens: no shingles, near tier blind
        (23, "short text"),  # exact dup of 22 — still survives here
    ],
]
ND_SURVIVORS = [1, 3, 12, 22, 23]


def _nd_drain(spark, tmp_path, src, table_prefix, extra_kw=None):
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_neardup,
    )

    return stream_dedup_neardup(
        stream_from_parquet(spark, str(src), DOC_SCHEMA, max_files_per_trigger=1),
        f"{table_prefix}_bands_t",
        f"{table_prefix}_sigs_t",
        str(tmp_path / f"{table_prefix}_survivors"),
        str(tmp_path / f"{table_prefix}_ckpt"),
        num_hashes=64,
        bands=32,
        threshold=0.6,
        buckets=8,
        bands_table_path=str(tmp_path / f"{table_prefix}_bands_lake"),
        sigs_table_path=str(tmp_path / f"{table_prefix}_sigs_lake"),
        **(extra_kw or {}),
    )


def _nd_write_batches(src, batches):
    for i, rows in enumerate(batches):
        p = src / f"b{i}.parquet"
        _write_docs(str(p), rows)
        t = time.time() + 5 * i
        os.utime(p, (t, t))


def test_stream_dedup_neardup_equals_batch_ground_truths(spark, tmp_path):
    """The drained survivor lake must equal BOTH batch ground truths over
    the concatenated history: (a) the minhash_lsh_pairs-derived survivor
    set (one ground truth, two execution models — the VERDICT r14
    deliverable) and (b) the BRUTE-FORCE exact ngram-Jaccard survivor set
    (banding only gates candidates; capture at j >= 0.6 is certain on
    this corpus). A follow-up batch of pure re-crawls ingests nothing and
    the sig lake stays one-row-per-doc."""
    from bigdata_etl_customer360_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    src = tmp_path / "nd_src"
    src.mkdir()
    prefix = "nd_eq"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands_t")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs_t")
    try:
        _nd_write_batches(src, ND_BATCHES)
        _nd_drain(spark, tmp_path, src, prefix)
        got = sorted(
            r["doc_id"]
            for r in spark.read.parquet(
                str(tmp_path / f"{prefix}_survivors")
            ).collect()
        )
        assert got == ND_SURVIVORS

        history = spark.createDataFrame(
            [r for rows in ND_BATCHES for r in rows], DOC_SCHEMA
        )
        for pairs_fn, kw in (
            (minhash_lsh_pairs, dict(num_hashes=64, bands=32, threshold=0.6)),
            (ngram_jaccard_pairs, dict(threshold=0.6)),
        ):
            dropped = pairs_fn(history, **kw).select("id_b").distinct()
            expected = sorted(
                r["doc_id"]
                for r in history.join(
                    dropped.withColumnRenamed("id_b", "doc_id"),
                    on="doc_id",
                    how="left_anti",
                ).collect()
            )
            assert got == expected, pairs_fn.__name__

        # pure re-crawls (one exact, one near of survivor 12): nothing
        # ingested, and the folds keep the sig lake one-row-per-doc
        p = src / "b3.parquet"
        _write_docs(
            str(p),
            [
                (30, "the quick brown fox jumps over the lazy dog"),
                (31, "brand new content that matches nothing at all ok"),
            ],
        )
        os.utime(p, (time.time() + 20,) * 2)
        _nd_drain(spark, tmp_path, src, prefix)
        got2 = sorted(
            r["doc_id"]
            for r in spark.read.parquet(
                str(tmp_path / f"{prefix}_survivors")
            ).collect()
        )
        assert got2 == ND_SURVIVORS
        sigs = spark.table(f"{prefix}_sigs_t")
        assert sigs.count() == sigs.select("doc_id").distinct().count()
        # every doc with >= 3 tokens is folded, kept or dropped (22/23
        # have no shingles and are structurally absent)
        assert sigs.count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands_t")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs_t")


def test_stream_dedup_neardup_compaction_between_drains(spark, tmp_path):
    """compact_lake between drains is invisible to the maintainer — the
    maintenance pass the stress_neardup bucket-sizing finding calls for:
    both lakes rewrite to one file per non-empty bucket, and the next
    drain's cross-batch drops, folds, and only-new gating against the
    COMPACTED lakes are unchanged (batch 2 holds a near-dup of a kept
    doc, an exact re-crawl of a DROPPED doc, and a shingle-blind pair —
    every lake-consuming path)."""
    import os

    from bigdata_etl_customer360_spark.sources.bucketed import compact_lake

    src = tmp_path / "nd_cmp_src"
    src.mkdir()
    prefix = "nd_cmp"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands_t")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs_t")
    try:
        _nd_write_batches(src, ND_BATCHES[:2])
        _nd_drain(spark, tmp_path, src, prefix)

        for suffix in ("bands", "sigs"):
            lake_path = str(tmp_path / f"{prefix}_{suffix}_lake")
            compact_lake(spark, f"{prefix}_{suffix}_t", lake_path)
            files = [
                f
                for _r, _d, fs in os.walk(lake_path)
                for f in fs
                if not f.startswith(("_", "."))
            ]
            assert 0 < len(files) <= 8, (suffix, files)

        p = src / "b2.parquet"
        _write_docs(str(p), ND_BATCHES[2])
        os.utime(p, (time.time() + 15,) * 2)
        _nd_drain(spark, tmp_path, src, prefix)

        got = sorted(
            r["doc_id"]
            for r in spark.read.parquet(
                str(tmp_path / f"{prefix}_survivors")
            ).collect()
        )
        assert got == ND_SURVIVORS
        sigs = spark.table(f"{prefix}_sigs_t")
        assert sigs.count() == sigs.select("doc_id").distinct().count() == 8
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands_t")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs_t")


def test_stream_dedup_neardup_redelivery_after_fold_advance(spark, tmp_path):
    """Crash window: fold advanced, checkpoint commit lost. The
    redelivered batch MUST NOT recompute survivors — the lake now holds
    the batch's own signatures, so a recompute would drop every batch doc
    against itself. The _SUCCESS guard keeps the committed directory and
    the re-fold appends nothing to either lake."""
    src = tmp_path / "nd_src_rd"
    src.mkdir()
    prefix = "nd_rd"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands_t")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs_t")
    try:
        _nd_write_batches(src, ND_BATCHES[:1])
        _nd_drain(spark, tmp_path, src, prefix)
        survivors_before = sorted(
            r["doc_id"]
            for r in spark.read.parquet(
                str(tmp_path / f"{prefix}_survivors")
            ).collect()
        )
        assert survivors_before == [1, 3]
        bands_before = sorted(
            (r["doc_id"], r["bhash"])
            for r in spark.table(f"{prefix}_bands_t").collect()
        )
        sigs_before = sorted(
            r["doc_id"] for r in spark.table(f"{prefix}_sigs_t").collect()
        )

        ckpt = tmp_path / f"{prefix}_ckpt"
        commit0 = ckpt / "commits" / "0"
        assert commit0.exists()
        commit0.unlink()
        crc = ckpt / "commits" / ".0.crc"
        if crc.exists():
            crc.unlink()
        _nd_drain(spark, tmp_path, src, prefix)
        got = sorted(
            r["doc_id"]
            for r in spark.read.parquet(
                str(tmp_path / f"{prefix}_survivors")
            ).collect()
        )
        assert got == survivors_before  # kept, not self-deduped away
        assert (
            sorted(
                (r["doc_id"], r["bhash"])
                for r in spark.table(f"{prefix}_bands_t").collect()
            )
            == bands_before
        )
        assert (
            sorted(r["doc_id"] for r in spark.table(f"{prefix}_sigs_t").collect())
            == sigs_before
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands_t")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs_t")


def test_stream_dedup_neardup_refuses_foreign_survivor_lake(spark, tmp_path):
    """Ownership stamp: checkpoint + lakes cleared but stale survivor
    batch dirs remain -> loud error, not silent adoption."""
    import shutil

    src = tmp_path / "nd_src_own"
    src.mkdir()
    prefix = "nd_own"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands_t")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs_t")
    try:
        _nd_write_batches(src, ND_BATCHES[:1])
        _nd_drain(spark, tmp_path, src, prefix)
        shutil.rmtree(str(tmp_path / f"{prefix}_ckpt"))
        spark.sql(f"DROP TABLE {prefix}_bands_t")
        spark.sql(f"DROP TABLE {prefix}_sigs_t")
        shutil.rmtree(str(tmp_path / f"{prefix}_bands_lake"))
        shutil.rmtree(str(tmp_path / f"{prefix}_sigs_lake"))
        with pytest.raises(Exception, match="_QUERY_ID|belongs to streaming query"):
            _nd_drain(spark, tmp_path, src, prefix)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands_t")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs_t")


def test_stream_dedup_neardup_catalog_loss_guard(spark, tmp_path):
    """Fresh in-memory-catalog session: tables forgotten, external files
    survive. The precheck must fire BEFORE any survivor compute (a batch
    computed against empty lakes commits re-crawls under the _SUCCESS
    guard forever); register_lake re-attaches BOTH lakes and the
    restarted stream converges."""
    from bigdata_etl_customer360_spark.sources.bucketed import register_lake

    src = tmp_path / "nd_src_cat"
    src.mkdir()
    prefix = "nd_cat"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands_t")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs_t")
    try:
        _nd_write_batches(src, ND_BATCHES[:1])
        _nd_drain(spark, tmp_path, src, prefix)
        spark.sql(f"DROP TABLE {prefix}_bands_t")  # external: files survive
        spark.sql(f"DROP TABLE {prefix}_sigs_t")
        p = src / "b1.parquet"
        _write_docs(str(p), ND_BATCHES[1])
        os.utime(p, (time.time() + 10,) * 2)
        with pytest.raises(Exception, match="register_lake"):
            _nd_drain(spark, tmp_path, src, prefix)
        register_lake(
            spark,
            f"{prefix}_bands_t",
            str(tmp_path / f"{prefix}_bands_lake"),
            [("doc_id", "BIGINT"), ("bhash", "BIGINT")],
            "bhash",
            8,
        )
        register_lake(
            spark,
            f"{prefix}_sigs_t",
            str(tmp_path / f"{prefix}_sigs_lake"),
            [("doc_id", "BIGINT"), ("hs", "ARRAY<BIGINT>")],
            "doc_id",
            8,
        )
        _nd_drain(spark, tmp_path, src, prefix)
        got = sorted(
            r["doc_id"]
            for r in spark.read.parquet(
                str(tmp_path / f"{prefix}_survivors")
            ).collect()
        )
        # 10 = exact re-crawl of 1, 11 = near-dup of 1: both suppressed
        # ACROSS the catalog loss; 12 fresh
        assert got == [1, 3, 12]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands_t")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs_t")


def test_stream_dedup_neardup_requires_lake_paths(spark, tmp_path):
    """Managed-location lakes are refused up front (ADVICE r14: a fresh
    in-memory catalog would silently restart a managed lake empty)."""
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_neardup,
    )

    src = tmp_path / "nd_src_paths"
    src.mkdir()
    _nd_write_batches(src, ND_BATCHES[:1])
    with pytest.raises(ValueError, match="bands_table_path"):
        stream_dedup_neardup(
            stream_from_parquet(spark, str(src), DOC_SCHEMA),
            "nd_paths_bands_t",
            "nd_paths_sigs_t",
            str(tmp_path / "nd_paths_survivors"),
            str(tmp_path / "nd_paths_ckpt"),
        )


# ---------------------------------------------------------------------------
# stream_dedup_semantic — the SemDeDup maintainer (r15)

VEC_SCHEMA = "vec_id BIGINT, embedding ARRAY<DOUBLE>"


def _write_vecs(path: str, rows):
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float64())
            ),
        }
    )
    pq.write_table(tbl, path)


# 4-dim vectors, bucket_bits=2 (sign of dims 1-2). Cosine(v, 1.1*v) = 1.
SEM_BATCHES = [
    [
        (1, [1.0, 1.0, 0.0, 0.0]),
        (2, [1.1, 1.1, 0.0, 0.0]),   # scaled copy of 1: dropped in-batch
        (3, [1.0, -1.0, 0.0, 0.0]),  # different bucket: survives
    ],
    [
        (10, [1.0, 1.0, 0.0, 0.0]),   # exact re-crawl of 1: dropped
        (11, [2.2, 2.2, 0.0, 0.0]),   # scaled re-encode of DROPPED 2: dropped
        (12, [0.0, 0.0, 1.0, 1.0]),   # new direction (same bucket as 1 —
                                      # sign(0)>=0 — but cosine 0): survives
    ],
    [
        (20, [1.0, -1.0, 0.0, 0.1]),  # near 3 (cos ~0.999) same bucket: dropped
        (21, [-1.0, -1.0, 0.0, 0.0]), # negated 1, different bucket: survives
    ],
]
SEM_SURVIVORS = [1, 3, 12, 21]


def _sem_drain(spark, tmp_path, src, prefix):
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_semantic,
    )
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    return stream_dedup_semantic(
        stream_from_parquet(spark, str(src), schema, max_files_per_trigger=1),
        f"{prefix}_vecs_t",
        f"{prefix}_ids_t",
        str(tmp_path / f"{prefix}_survivors"),
        str(tmp_path / f"{prefix}_ckpt"),
        threshold=0.9,
        bucket_bits=2,
        buckets=4,
        vecs_table_path=str(tmp_path / f"{prefix}_vecs_lake"),
        ids_table_path=str(tmp_path / f"{prefix}_ids_lake"),
    )


def test_stream_dedup_semantic_equals_batch(spark, tmp_path):
    """Drained survivors == batch semantic_dedup over the concatenated
    history (one ground truth, two execution models), including the
    drop-against-a-DROPPED-vector rule; a re-crawl follow-up batch
    ingests nothing and the id lake stays one-row-per-vector."""
    from bigdata_etl_customer360_spark.operators.similarity import (
        semantic_dedup,
    )

    src = tmp_path / "sem_src"
    src.mkdir()
    prefix = "sem_eq"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_vecs_t")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_ids_t")
    try:
        for i, rows in enumerate(SEM_BATCHES):
            p = src / f"b{i}.parquet"
            _write_vecs(str(p), rows)
            os.utime(p, (time.time() + 5 * i,) * 2)
        _sem_drain(spark, tmp_path, src, prefix)
        got = sorted(
            r["vec_id"]
            for r in spark.read.parquet(
                str(tmp_path / f"{prefix}_survivors")
            ).collect()
        )
        assert got == SEM_SURVIVORS

        history = spark.createDataFrame(
            [r for rows in SEM_BATCHES for r in rows], VEC_SCHEMA
        )
        expected = sorted(
            r["vec_id"]
            for r in semantic_dedup(
                history, threshold=0.9, bucket_bits=2
            ).collect()
        )
        assert got == expected

        p = src / "b3.parquet"
        _write_vecs(
            str(p),
            [(30, [1.0, 1.0, 0.0, 0.0]), (31, [0.0, 0.0, 2.2, 2.2])],
        )
        os.utime(p, (time.time() + 20,) * 2)
        _sem_drain(spark, tmp_path, src, prefix)
        got2 = sorted(
            r["vec_id"]
            for r in spark.read.parquet(
                str(tmp_path / f"{prefix}_survivors")
            ).collect()
        )
        assert got2 == SEM_SURVIVORS  # 30 exact, 31 scaled-of-12: both dropped
        ids = spark.table(f"{prefix}_ids_t")
        assert ids.count() == ids.distinct().count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_vecs_t")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_ids_t")


def test_stream_dedup_semantic_redelivery_after_fold_advance(spark, tmp_path):
    """The _SUCCESS guard must keep the committed survivors on a
    redelivery after the fold advanced (a recompute would drop every
    batch vector against its own folded copy), and the re-fold appends
    nothing to either lake."""
    src = tmp_path / "sem_src_rd"
    src.mkdir()
    prefix = "sem_rd"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_vecs_t")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_ids_t")
    try:
        _write_vecs(str(src / "b0.parquet"), SEM_BATCHES[0])
        _sem_drain(spark, tmp_path, src, prefix)
        before = sorted(
            r["vec_id"]
            for r in spark.read.parquet(
                str(tmp_path / f"{prefix}_survivors")
            ).collect()
        )
        assert before == [1, 3]
        vecs_before = spark.table(f"{prefix}_vecs_t").count()
        ckpt = tmp_path / f"{prefix}_ckpt"
        (ckpt / "commits" / "0").unlink()
        crc = ckpt / "commits" / ".0.crc"
        if crc.exists():
            crc.unlink()
        _sem_drain(spark, tmp_path, src, prefix)
        got = sorted(
            r["vec_id"]
            for r in spark.read.parquet(
                str(tmp_path / f"{prefix}_survivors")
            ).collect()
        )
        assert got == before
        assert spark.table(f"{prefix}_vecs_t").count() == vecs_before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_vecs_t")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_ids_t")


def test_stream_dedup_semantic_catalog_loss_and_paths(spark, tmp_path):
    """Catalog-loss precheck fires BEFORE survivor compute; register_lake
    re-attaches both lakes and the restarted stream converges; missing
    lake paths are refused up front."""
    from bigdata_etl_customer360_spark.sources.bucketed import register_lake
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_semantic,
    )

    src = tmp_path / "sem_src_cat"
    src.mkdir()
    prefix = "sem_cat"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_vecs_t")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_ids_t")
    try:
        _write_vecs(str(src / "b0.parquet"), SEM_BATCHES[0])
        _sem_drain(spark, tmp_path, src, prefix)
        spark.sql(f"DROP TABLE {prefix}_vecs_t")  # external: files survive
        spark.sql(f"DROP TABLE {prefix}_ids_t")
        p = src / "b1.parquet"
        _write_vecs(str(p), SEM_BATCHES[1])
        os.utime(p, (time.time() + 10,) * 2)
        with pytest.raises(Exception, match="register_lake"):
            _sem_drain(spark, tmp_path, src, prefix)
        register_lake(
            spark, f"{prefix}_vecs_t", str(tmp_path / f"{prefix}_vecs_lake"),
            [("vec_id", "BIGINT"), ("_bkt", "BIGINT"),
             ("_qv", "ARRAY<BIGINT>"), ("_nsq", "BIGINT")],
            "_bkt", 4,
        )
        register_lake(
            spark, f"{prefix}_ids_t", str(tmp_path / f"{prefix}_ids_lake"),
            [("vec_id", "BIGINT")], "vec_id", 4,
        )
        _sem_drain(spark, tmp_path, src, prefix)
        got = sorted(
            r["vec_id"]
            for r in spark.read.parquet(
                str(tmp_path / f"{prefix}_survivors")
            ).collect()
        )
        assert got == [1, 3, 12]  # 10/11 suppressed ACROSS the catalog loss

        with pytest.raises(ValueError, match="vecs_table_path"):
            stream_dedup_semantic(
                stream_from_parquet(
                    spark, str(src),
                    spark.read.parquet(str(src / "b0.parquet")).schema,
                ),
                "x_t", "y_t",
                str(tmp_path / "x_surv"), str(tmp_path / "x_ckpt"),
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_vecs_t")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_ids_t")

# stream_index_ivfpq — streaming maintenance of the persisted ANN index
# (late r15: the streaming closure of the maintained-index story)


def _idx_vec_rows(ids, dim=8, shift=0.0):
    import math as _m

    return [
        (int(i), [_m.sin(0.7 * i + 0.31 * d) + shift for d in range(dim)])
        for i in ids
    ]


def _idx_drain(spark, tmp_path, src, prefix):
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_index_ivfpq,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    return stream_index_ivfpq(
        stream_from_parquet(spark, str(src), schema, max_files_per_trigger=1),
        f"{prefix}_codes_t",
        str(tmp_path / f"{prefix}_codes_lake"),
        str(tmp_path / f"{prefix}_ckpt"),
    )


def test_stream_index_ivfpq_appends_only_new_and_matches_brute(
    spark, tmp_path
):
    """Two streamed batches (one overlapping already-indexed ids) fold
    into the built index: overlapping ids keep their ORIGINAL rows, the
    lake ends one-row-per-id over the union, and full-probe full-rerank
    search from the maintained lake equals brute force over the
    concatenated corpus — the ivfpq_from_index invariant across the
    streaming fold path."""
    from bigdata_etl_customer360_spark.operators.ann_index import (
        cosine_topk_ivfpq_from_index,
        ivfpq_index_build,
    )
    from bigdata_etl_customer360_spark.operators.similarity import (
        cosine_topk_brute,
    )

    src = tmp_path / "idx_src"
    src.mkdir()
    prefix = "idx_eq"
    table = f"{prefix}_codes_t"
    path = str(tmp_path / f"{prefix}_codes_lake")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base = spark.createDataFrame(_idx_vec_rows(range(0, 40)), VEC_SCHEMA)
    try:
        ivfpq_index_build(
            spark, base, table, path,
            num_centroids=4, num_subspaces=4, codes_per_subspace=4,
            buckets=4,
        )
        pre = {
            r["vec_id"]: (r["cell"], r["codes"])
            for r in spark.table(table)
            .filter(F.col("vec_id") >= 35)
            .collect()
        }

        _write_vecs(str(src / "b0.parquet"), _idx_vec_rows(range(35, 50)))
        _write_vecs(str(src / "b1.parquet"), _idx_vec_rows(range(50, 65)))
        for i, f in enumerate(("b0.parquet", "b1.parquet")):
            t = time.time() + 5 * i
            os.utime(src / f, (t, t))
        _idx_drain(spark, tmp_path, src, prefix)

        lake = spark.table(table)
        assert lake.count() == 65
        assert lake.select("vec_id").distinct().count() == 65
        post = {
            r["vec_id"]: (r["cell"], r["codes"])
            for r in lake.filter(
                (F.col("vec_id") >= 35) & (F.col("vec_id") < 40)
            ).collect()
        }
        assert post == pre  # overlap ids kept their original encoding

        queries = spark.createDataFrame(_idx_vec_rows(range(0, 5)), VEC_SCHEMA)
        corpus = spark.createDataFrame(_idx_vec_rows(range(0, 65)), VEC_SCHEMA)
        got = sorted(map(tuple, cosine_topk_ivfpq_from_index(
            spark, queries, table, path, k=3, nprobe=4, rerank=10**6
        ).collect()))
        want = sorted(map(tuple, cosine_topk_brute(
            queries, corpus, k=3
        ).collect()))
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_index_ivfpq_redelivery_appends_nothing(spark, tmp_path):
    """Redelivery after a lost checkpoint commit refolds the batch; the
    only-new anti-join makes it a no-op (the lake is a monotone id set —
    the documented reason this maintainer needs no _SUCCESS guard)."""
    from bigdata_etl_customer360_spark.operators.ann_index import (
        ivfpq_index_build,
    )

    src = tmp_path / "idx_src_rd"
    src.mkdir()
    prefix = "idx_rd"
    table = f"{prefix}_codes_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        ivfpq_index_build(
            spark,
            spark.createDataFrame(_idx_vec_rows(range(0, 40)), VEC_SCHEMA),
            table,
            str(tmp_path / f"{prefix}_codes_lake"),
            num_centroids=4, num_subspaces=4, codes_per_subspace=4,
            buckets=4,
        )
        _write_vecs(str(src / "b0.parquet"), _idx_vec_rows(range(40, 50)))
        _idx_drain(spark, tmp_path, src, prefix)
        assert spark.table(table).count() == 50

        ckpt = tmp_path / f"{prefix}_ckpt"
        (ckpt / "commits" / "0").unlink()
        crc = ckpt / "commits" / ".0.crc"
        if crc.exists():
            crc.unlink()
        _idx_drain(spark, tmp_path, src, prefix)
        lake = spark.table(table)
        assert lake.count() == 50
        assert lake.select("vec_id").distinct().count() == 50
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_index_ivfpq_guards(spark, tmp_path):
    """No built index -> refuse loudly (the stream never fits a model);
    catalog-lost lake with surviving files -> refuse and point at
    register_lake (appending against an empty catalog view would
    re-encode indexed ids)."""
    from bigdata_etl_customer360_spark.operators.ann_index import (
        ivfpq_index_build,
    )

    src = tmp_path / "idx_src_g"
    src.mkdir()
    prefix = "idx_g"
    table = f"{prefix}_codes_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _write_vecs(str(src / "b0.parquet"), _idx_vec_rows(range(0, 10)))
    with pytest.raises(Exception, match="ivfpq_index_build"):
        _idx_drain(spark, tmp_path, src, prefix)
    try:
        ivfpq_index_build(
            spark,
            spark.createDataFrame(_idx_vec_rows(range(0, 40)), VEC_SCHEMA),
            table,
            str(tmp_path / f"{prefix}_codes_lake"),
            num_centroids=4, num_subspaces=4, codes_per_subspace=4,
            buckets=4,
        )
        spark.sql(f"DROP TABLE {table}")  # catalog loss, files survive
        p = src / "b1.parquet"
        _write_vecs(str(p), _idx_vec_rows(range(40, 50)))
        os.utime(p, (time.time() + 10,) * 2)
        with pytest.raises(Exception, match="register_lake"):
            _idx_drain(spark, tmp_path, src, f"{prefix}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stage_batches_one_file_per_batch_in_trigger_order(spark, tmp_path):
    """The stateful queries' batch stager: each frame lands as ONE parquet
    file with strictly increasing pinned mtimes (batches 3 and 4, where
    the watermark sentinels go, included) holding exactly that frame's
    rows, so a maxFilesPerTrigger=1 stream reads batch b at trigger b."""
    import __spark_entry__ as entry

    frames = [
        spark.createDataFrame(
            [(10 * b + i, float(i)) for i in range(6)], "id long, v double"
        ).repartition(3)
        for b in range(5)
    ]
    src = str(tmp_path / "src")
    entry._stage_batches(src, frames)
    names = sorted(os.listdir(src))
    assert names == [f"batch{b}.parquet" for b in range(5)]
    mtimes = [os.path.getmtime(os.path.join(src, n)) for n in names]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
    for name, frame in zip(names, frames):
        got = spark.read.parquet(os.path.join(src, name)).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, frame.collect()))
