"""SparkSession factory with scale-oriented defaults.

Single place to tune the session so tests, bench, and the driver contract
all run with the same configuration: AQE (runtime coalescing + skew-join
splitting), Arrow for any pandas exchange, and UTC so timestamp semantics
match the DuckDB oracle exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "dmscdc-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Per-call DataFrame-API origin capture (error-message call-site
        # enrichment) costs a Python stack walk plus ~4 extra py4j
        # round-trips on EVERY wrapped API call — measured 47k socket
        # round-trips / 7.3 s of pure plan-CONSTRUCTION time for one
        # wide query (emb_covariance) before disabling. Purely a
        # debugging aid; plans and results are identical without it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime row-level filtering: build a Bloom filter from the small
        # side of a shuffle join and push it into the big side's scan —
        # prunes target rows in merges/semi-joins beyond what partition
        # pruning catches (key-level, not file-level)
        # (do NOT also set runtimeFilter.semiJoinReduction here — setting
        # it at session build hangs JVM startup on this Spark build)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # File-split cost model (round 14): the stock 4 MiB
        # openCostInBytes floors every split at 4 MiB, so a 10 MiB
        # single-file table scans in 2-3 tasks no matter how many cores
        # are idle — the (bytes + openCost)/cores estimate only wins
        # when it exceeds the floor. 1 MiB keeps sub-MiB tables in one
        # task (their scans are cheaper than task overhead) while
        # letting the multi-MiB fact tables split across cores; A/B'd
        # against 4 MiB (q1 2.3→1.7 s, q9 1.3→1.1, cdc_merge 1.9→1.3,
        # mad_outliers 1.7→1.4 warm) and against 128 KiB (over-splits
        # the small-table scans — shuffle-heavy paths regressed). At
        # the 100 TB target bytesPerCore >> the floor on every table,
        # maxPartitionBytes (untouched, 128 MiB) governs, and this
        # setting is inert. Env-parameterised for cluster tuning.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", str(1024 * 1024)),
        )
        # the driver's events table carries parquet TIMESTAMP(NANOS), which
        # vanilla Spark rejects; read as long and convert in load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # managed catalog tables land here, not in cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/dmscdc_warehouse"),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def normalize_event_ts(df):
    """Normalize an events frame's ``ts`` column to a microsecond timestamp.

    The driver's current events.parquet stores ``ts`` as parquet
    TIMESTAMP(MICROS), which Spark reads directly as a timestamp — this is
    then a no-op. Earlier testdata generations stored TIMESTAMP(NANOS),
    which Spark (with ``nanosAsLong``) surfaces as LongType; for that layout
    the integer division ``ns div 1000`` is exact on int64 and floors like
    DuckDB's ns→µs read. Both the batch reader (:func:`load_table`) and any
    streaming reader over the same file must apply this SAME guard — an
    unconditional cast breaks on whichever layout it wasn't written for.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if "ts" in df.columns and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# Inferred-schema memo for load_table. Parquet schema inference costs a
# driver round-trip + footer read per call (~0.1 s); a bench/test run
# issues hundreds of load_table calls over the same immutable testdata
# tables, so the inference is paid once per (app, path, mtime) and
# subsequent reads supply the schema explicitly. mtime is in the key so
# a regenerated scratch dir (scale_data.py --out <existing>) never
# serves a stale schema; the applicationId keys out stopped sessions.
_SCHEMA_MEMO: dict[tuple[str, str, float], object] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-provided parquet table from a scale-factor dir.

    Side effect: sets ``spark.sql.legacy.parquet.nanosAsLong`` on the
    CALLER'S session for the rest of its lifetime (no per-read option
    exists for this conf). It is harmless for the current MICROS-typed
    testdata and keeps nano-typed parquet readable instead of raising
    PARQUET_TYPE_ILLEGAL; runtime-settable, so set here rather than only
    in the session factory (callers may hand us a vanilla session).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.stat(path).st_mtime
        key = (spark.sparkContext.applicationId, os.path.abspath(path), mtime)
    except OSError:
        key = None  # non-local path (e.g. s3a://) — skip the memo
    if key is not None and key in _SCHEMA_MEMO:
        df = spark.read.schema(_SCHEMA_MEMO[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_MEMO[key] = df.schema
    if name == "events":
        df = normalize_event_ts(df)
    return df
