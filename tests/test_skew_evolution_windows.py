"""Skew report, CDC schema evolution, watermarked streaming windows."""

import datetime as dt

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

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import cdc, skew
from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer
from aws_big_data_blog_dmscdc_walkthrough_spark.streaming import windows as sw


# ------------------------------------------------- schema evolution


def test_align_schemas_adds_typed_nulls(spark):
    target = spark.createDataFrame([(1, "a")], ["id", "name"])
    changes = spark.createDataFrame([(1, "a2", 9.5, "U", 1)], ["id", "name", "score", "op", "_seq"])
    t2, c2 = cdc.align_schemas(target, changes, extra_cols=("op", "_seq"))
    assert "score" in t2.columns and t2.schema["score"].dataType == DoubleType()
    assert set(c2.columns) == {"id", "name", "score", "op", "_seq"}


def test_align_schemas_rejects_type_change(spark):
    target = spark.createDataFrame([(1, "a")], ["id", "name"])
    changes = spark.createDataFrame([(1, 2, "U", 1)], ["id", "name", "op", "_seq"])
    with pytest.raises(ValueError, match="additive-only"):
        cdc.align_schemas(target, changes, extra_cols=("op", "_seq"))


def test_merge_with_new_column_end_to_end(spark, tmp_path):
    out = str(tmp_path / "lake")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"]).write.parquet(out)
    changes = spark.createDataFrame(
        [(1, "a2", 99.0, "U", 2), (3, "c", 42.0, "I", 1)],
        ["id", "name", "score", "op", "_seq"],
    )
    lake_writer.merge_incremental(spark, changes, out, ["id"], seq_col="_seq")
    rows = {r.id: (r.name, r.score) for r in spark.read.option("mergeSchema", "true").parquet(out).collect()}
    assert rows == {1: ("a2", 99.0), 2: ("b", None), 3: ("c", 42.0)}


# ------------------------------------------- streaming windowed aggs

EVENT_SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("event_id", LongType()),
    ]
)


def _t(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def _write_events(spark, rows, src_dir, name):
    import glob
    import os
    import shutil

    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    tmp = f"{src_dir}/_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    os.makedirs(src_dir, exist_ok=True)
    os.rename(part, f"{src_dir}/{name}.parquet")
    shutil.rmtree(tmp)


@pytest.mark.slow
def test_streaming_tumbling_watermark(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    _write_events(
        spark,
        [
            (_t(1, 10), "click", 1.0, 1),
            (_t(1, 40), "click", 2.0, 2),
            (_t(2, 5), "view", 3.0, 3),
            (_t(9, 0), "click", 4.0, 4),  # advances watermark far past hours 1-2
        ],
        src,
        "20240101-a",
    )
    stream = sw.stream_events(spark, src, EVENT_SCHEMA)
    agg = sw.tumbling_counts(stream, "1 hour", "2 hours")
    q = sw.run_to_sink(agg, ckpt, "tumbling_sink")
    q.awaitTermination(120)
    got = {
        (r.w_start.hour, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("select * from tumbling_sink").collect()
    }
    # hours 1 and 2 are closed by the watermark (9:00 - 2h = 7:00); the
    # 9:00 window stays open and must NOT be emitted in append mode
    assert got == {(1, "click"): (2, 3.0), (2, "view"): (1, 3.0)}


@pytest.mark.slow
def test_streaming_sliding_late_row_dropped(spark, tmp_path):
    import time

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    # The watermark that FILTERS batch N is the one committed after batch
    # N-2 (one-batch lag, observed + documented "at least delay" contract):
    # file a advances it, file b rides the lag, file c is truly dropped.
    _write_events(spark, [(_t(1, 10), "click", 1.0, 1), (_t(9, 0), "x", 0.0, 2)], src, "a")
    time.sleep(1.1)  # file-source batches order by mod time
    _write_events(spark, [(_t(1, 20), "click", 1.0, 3)], src, "b")
    time.sleep(1.1)
    _write_events(spark, [(_t(1, 25), "click", 1.0, 4)], src, "c")  # dropped
    stream = sw.stream_events(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    agg = sw.sliding_counts(stream, "1 hour", "30 minutes", "2 hours")
    q = sw.run_to_sink(agg, ckpt, "sliding_sink")
    q.awaitTermination(120)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    rows = {
        (r.w_start.hour, r.w_start.minute, r.event_type): r.n_events
        for r in spark.sql("select * from sliding_sink").collect()
    }
    # hopping: each click lands in two windows; the 1:25 row (6 h behind
    # the 7:00 watermark) was dropped from both of its windows
    assert dropped == 2
    assert rows.get((0, 30, "click")) == 2 and rows.get((1, 0, "click")) == 2


# ------------------------------------- stateful streaming sessionization


@pytest.mark.slow
def test_streaming_sessionize_gap_and_timeout(spark, tmp_path):
    import time

    from aws_big_data_blog_dmscdc_walkthrough_spark.streaming import sessions as ss

    src, ckpt = str(tmp_path / "ssrc"), str(tmp_path / "sck")
    # user 1: two events 10 min apart (one session), then a 2 h gap, then
    # one more (second session). user 2: a single event.
    _write_events(
        spark,
        [
            (_t(1, 0), "u", 1.0, 1),
            (_t(1, 10), "u", 2.0, 1),
            (_t(3, 30), "u", 4.0, 1),
            (_t(1, 5), "u", 8.0, 2),
        ],
        src,
        "a",
    )
    time.sleep(1.1)
    # watermark pusher: advances event time far enough that every open
    # session's timeout fires (batch N filter lag: give it two batches)
    _write_events(spark, [(_t(20, 0), "u", 0.0, 99)], src, "b")
    time.sleep(1.1)
    _write_events(spark, [(_t(21, 0), "u", 0.0, 99)], src, "c")

    stream = sw.stream_events(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    ev = stream.select(
        F.col("ts"), F.col("event_id").alias("user_id"), F.col("value")
    )
    agg = ss.sessionize_stream(ev)
    q = sw.run_to_sink(agg, ckpt, "sessions_sink", output_mode="append")
    q.awaitTermination(180)
    rows = sorted(
        (r.user_id, r.session_start.hour, r.session_start.minute, r.n_events, r.sum_value)
        for r in spark.sql("select * from sessions_sink where user_id in (1, 2)").collect()
    )
    # user 1 session A: 1:00-1:10, 2 events, sum 3; session B: 3:30, 1 event
    # user 2: single-event session at 1:05
    assert rows == [
        (1, 1, 0, 2, 3.0),
        (1, 3, 30, 1, 4.0),
        (2, 1, 5, 1, 8.0),
    ]


def test_skew_report_flags_hot_key(spark):
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import skew

    rows = [(1, i) for i in range(90)] + [(k, 0) for k in range(2, 12)]
    df = spark.createDataFrame(rows, "k long, v long")
    rep = skew.skew_report(df, ["k"], top_k=3).collect()
    assert rep[0].k == 1 and rep[0].n_rows == 90
    assert abs(rep[0].share - 0.9) < 1e-12
    # 11 keys, 100 rows: uniform = 100/11; hot key carries 90 -> 9.9x
    assert abs(rep[0].skew_x - 90 * 11 / 100) < 1e-12
    assert rep[0].salt_rec == 10  # ceil(90*11/100)
    assert rep[1].n_rows == 1  # everything else is a singleton


# ------------------------------------ stateful streaming TTL dedup (#166)


@pytest.mark.slow
def test_streaming_dedup_ttl_first_suppress_expire(spark, tmp_path):
    """First sighting emits immediately; in-TTL re-sightings suppress
    and count; the expiry summary carries the total duplicates; a
    post-expiry re-arrival of the same key starts a fresh 'first'."""
    import time

    from aws_big_data_blog_dmscdc_walkthrough_spark.streaming import (
        dedup_stream as ds,
    )

    src, ckpt = str(tmp_path / "dsrc"), str(tmp_path / "dck")
    # key A: original at 1:00, dup in the same batch at 1:05.
    # key B: one sighting.   (event_type doubles as the dedup key)
    _write_events(
        spark,
        [
            (_t(1, 0), "A", 1.0, 1),
            (_t(1, 5), "A", 1.0, 2),
            (_t(1, 10), "B", 1.0, 3),
        ],
        src,
        "a",
    )
    time.sleep(1.1)
    # batch 2: another A dup inside the TTL (1h from last sighting 1:05)
    _write_events(spark, [(_t(1, 40), "A", 1.0, 4)], src, "b")
    time.sleep(1.1)
    # watermark pushers: past A/B TTL (+2h watermark), expiring both,
    # then A re-arrives -> a NEW 'first'
    _write_events(spark, [(_t(10, 0), "wm1", 0.0, 90)], src, "c")
    time.sleep(1.1)
    _write_events(spark, [(_t(11, 0), "A", 1.0, 5), (_t(20, 0), "wm2", 0.0, 91)], src, "d")
    time.sleep(1.1)
    _write_events(
        spark,
        [(dt.datetime(2024, 1, 2, 6, 0), "wm3", 0.0, 92)],
        src,
        "e",
    )

    stream = sw.stream_events(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    out = ds.dedup_stream(stream, key_col="event_type", ts_col="ts")
    q = sw.run_to_sink(out, ckpt, "dedup_sink", output_mode="append")
    q.awaitTermination(240)
    rows = sorted(
        (r.key, r.row_type, r.first_ts.hour, r.first_ts.minute, r.n_dups)
        for r in spark.sql(
            "select * from dedup_sink where key in ('A','B')"
        ).collect()
    )
    assert ("A", "first", 1, 0, 0) in rows          # immediate survivor
    assert ("A", "expired", 1, 0, 2) in rows        # 2 dups suppressed
    assert ("A", "first", 11, 0, 0) in rows         # fresh key after TTL
    assert ("B", "first", 1, 10, 0) in rows
    b_exp = [r for r in rows if r[0] == "B" and r[1] == "expired"]
    assert b_exp and b_exp[0][4] == 0               # B saw no dups


@pytest.mark.slow
def test_burst_screen_flags_and_summarizes(spark, tmp_path):
    """Streaming burst screen (#186's twin): user A fires 5 events
    inside one hour (threshold 5) -> exactly ONE 'flag' row at the
    crossing; user B stays below threshold -> no flag. After both go
    quiet past window + watermark, each emits one 'summary' with the
    true peak and lifetime totals."""
    import time

    from aws_big_data_blog_dmscdc_walkthrough_spark.streaming import (
        rate_stream as rs,
    )

    src, ckpt = str(tmp_path / "rsrc"), str(tmp_path / "rck")
    # A: 5 events in hour 1 (bucket granularity 1h, window 4h)
    _write_events(
        spark,
        [(_t(1, m), "A", 1.0, m) for m in (0, 5, 10, 15, 20)]
        + [(_t(1, 30), "B", 1.0, 50), (_t(1, 45), "B", 1.0, 51)],
        src,
        "a",
    )
    time.sleep(1.1)
    # a 6th A event later: already flagged -> no second flag row
    _write_events(spark, [(_t(2, 0), "A", 1.0, 6)], src, "b")
    time.sleep(1.1)
    # watermark pushers: past window (4h) + watermark (2h) for both
    _write_events(spark, [(_t(12, 0), "wm1", 0.0, 90)], src, "c")
    time.sleep(1.1)
    _write_events(spark, [(_t(23, 0), "wm2", 0.0, 91)], src, "d")

    stream = sw.stream_events(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    out = rs.burst_screen(
        stream,
        user_col="event_type",
        ts_col="ts",
        window_seconds=4 * 3600,
        bucket_seconds=3600,
        threshold=5,
    )
    q = sw.run_to_sink(out, ckpt, "burst_sink", output_mode="append")
    q.awaitTermination(240)
    rows = sorted(
        (r.user, r.row_type, r.burst, r.n_events)
        for r in spark.sql(
            "select * from burst_sink where user in ('A','B')"
        ).collect()
    )
    flags = [r for r in rows if r[1] == "flag"]
    assert flags == [("A", "flag", 5, 0)]  # one crossing, at burst=5
    summaries = {r[0]: r for r in rows if r[1] == "summary"}
    # A's peak is 6 (the 6th event lands inside the same 4h window);
    # lifetime totals count every event
    assert summaries["A"][2:] == (6, 6)
    assert summaries["B"][2:] == (2, 2)
