"""Skew report, CDC schema evolution, watermarked streaming windows."""

import datetime as dt

import pytest
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
