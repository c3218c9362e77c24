"""Streaming event-time aggregation: tumbling windows + watermark.

The batch twin lives in plans/analytics.py (`q_events_tumbling`); this
runs the same logical aggregation over a file stream, with a watermark
bounding state: windows older than the watermark are finalized and
evicted, so state size is O(active windows × groups), not O(stream
length) — the property that lets the aggregation run forever on an
unbounded CDC/event feed. `stream_bench.py` times it.

Late data: rows later than ``watermark`` past the max seen event time
are dropped by the engine (append mode) — the deterministic, documented
semantics of Spark's watermarking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_events(spark, source_dir: str, schema, max_files_per_trigger: int | None = None):
    """File-source stream of event rows (parquet drops into source_dir)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def _watermarkable(events: DataFrame, ts_col: str) -> DataFrame:
    """Ensure the event-time column is watermark-eligible.

    ``withWatermark`` requires TIMESTAMP (with local time zone); parquet
    micros columns read as TIMESTAMP_NTZ and are rejected
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The session pins
    ``spark.sql.session.timeZone=UTC``, so the NTZ→LTZ cast is
    wall-clock-lossless and window boundaries match the batch twins.
    """
    from pyspark.sql.types import TimestampNTZType

    if isinstance(events.schema[ts_col].dataType, TimestampNTZType):
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events


def tumbling_counts(
    events: DataFrame,
    window_size: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window count + sum, keyed by window × group."""
    return (
        _watermarkable(events, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_size).alias("w"), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            group_col,
            "n_events",
            "sum_value",
        )
    )


def run_to_sink(
    stream_df: DataFrame,
    checkpoint_dir: str,
    table_name: str,
    output_mode: str = "append",
):
    """Drain the stream into an in-memory sink table (availableNow).

    Append mode only emits windows the watermark has closed — the
    finalized-results contract a downstream consumer wants.

    The memory sink is NOT fault-tolerant, so ``checkpoint_dir`` must
    be fresh per run: re-using a checkpoint from a previous run would
    drain zero batches into a silently EMPTY table (the checkpoint says
    every file is consumed, but the in-memory table starts over).
    Persist real results through ``foreachBatch`` + the lake writer.
    """
    return (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
