"""Streaming micro-benchmark: CDC merge + windowed-agg throughput.

Batch `bench.py` times the query surface; this times the STREAMING
path end-to-end — the always-on form of the reference's hourly Glue
trigger — and records rows/sec so streaming regressions are visible
between rounds:

  1. ``cdc_stream``: the orders table replayed as ``n_batches``
     incremental parquet batches through ``readStream`` →
     ``foreachBatch`` → ``lake_writer.merge_incremental`` (real merge
     per micro-batch, real lake directory, availableNow drain).
  2. ``windowed_agg``: the events table streamed file-by-file through
     the watermarked tumbling-window aggregation to a memory sink.

Prints ONE JSON line and writes BENCH_STREAMING.json.

Usage: python stream_bench.py   (env: SPARK_GRAFT_SF_DIR, default sf0.1)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from aws_big_data_blog_dmscdc_walkthrough_spark.session import get_spark, load_table
from aws_big_data_blog_dmscdc_walkthrough_spark.streaming import cdc_stream, windows


def _total_output_bytes(spark) -> int | None:
    """Cumulative bytes written by completed stages (Spark UI REST API;
    the bench session enables the UI for exactly this). None when the
    API is unavailable — callers degrade to wall-clock-only metrics."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    if not base:
        return None
    app_id = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        ) as r:
            stages = json.load(r)
        return sum(s.get("outputBytes", 0) for s in stages)
    except Exception:
        return None


def _land(batch, src: str, name: str) -> None:
    """Land ``batch`` as the one file ``src/name``: DMS-shaped, one file
    per batch with a lexically MONOTONIC name (the reference's discovery
    contract, and what lets history mode persist file-derived seqs)."""
    tmp = f"{src}/_tmp"
    batch.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    os.rename(part, f"{src}/{name}")
    shutil.rmtree(tmp)


def _stage_update_heavy_landing(spark, sf_dir: str, src: str, n_batches: int):
    """Replay orders as an UPDATE-HEAVY change stream: batch k inserts
    key group k (o_orderkey ≡ k mod n) and updates ALL of group k-1 —
    the steady-state CDC shape where copy-on-write pays a rewrite of
    every impacted file per micro-batch and merge-on-read pays only a
    DV append. Returns (total change rows, distinct keys, schema)."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        (F.col("o_orderkey") % n_batches).alias("_b"),
    )
    total = 0
    for b in range(n_batches):
        ins = base.where(F.col("_b") == b).select(
            F.lit("I").alias("op"), F.lit(2 * b).cast("long").alias("_seq"),
            "o_orderkey", "o_custkey", "o_totalprice",
        )
        batch = ins
        if b > 0:
            upd = base.where(F.col("_b") == b - 1).select(
                F.lit("U").alias("op"), F.lit(2 * b + 1).cast("long").alias("_seq"),
                "o_orderkey", "o_custkey",
                (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
            )
            batch = ins.unionByName(upd)
        _land(batch, src, f"20240101-{b:04d}.parquet")
        total += batch.count()
    return total, orders.count(), spark.read.parquet(src).schema


def bench_cdc_stream(spark, sf_dir: str, work: str, n_batches: int = 8) -> dict:
    src = f"{work}/landing"
    n_changes, n_keys, schema = _stage_update_heavy_landing(
        spark, sf_dir, src, n_batches
    )

    def run(mode: str, **kw) -> dict:
        lake, ckpt = f"{work}/lake_{mode}", f"{work}/ckpt_{mode}"
        t0 = time.perf_counter()
        q = cdc_stream.start_cdc_stream(
            spark, src, lake, ["o_orderkey"], schema, ckpt,
            available_now=True, max_files_per_trigger=1, **kw,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if kw.get("history_mode"):
            from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest
            # SCD2 conservation: with no deletes, every change row is a
            # version, and current versions = live keys
            table = manifest.read_table(spark, lake)
            assert table.count() == n_changes, (mode, table.count(), n_changes)
            merged = table.where("is_current").count()
        elif kw.get("merge_on_read"):
            from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest
            table = manifest.read_table(spark, lake)
            merged = table.count()
        else:
            table = spark.read.parquet(lake)
            # row conservation: latest-wins leaves exactly one row per
            # key, and every non-final group carries its updated price
            merged = table.count()
        assert merged == n_keys, (mode, merged, n_keys)
        return {"rows": n_changes, "keys": n_keys, "batches": n_batches,
                "sec": round(wall, 2), "rows_per_sec": round(n_changes / wall)}

    cow = run("cow")
    mor = run("mor", merge_on_read=True, compact_every=4)
    mor["speedup_vs_cow"] = round(mor["rows_per_sec"] / cow["rows_per_sec"], 2)
    hist = run("hist", history_mode=True)
    hist["speedup_vs_cow"] = round(hist["rows_per_sec"] / cow["rows_per_sec"], 2)
    return {"cow": cow, "mor": mor, "hist": hist}


def bench_sparse_updates(spark, sf_dir: str, work: str, n_batches: int = 8) -> dict:
    """The workload where merge-on-read earns its keep: each micro-batch
    updates ~0.1% of keys SCATTERED across every data file of a
    many-file table. Copy-on-write must rewrite every impacted file —
    effectively the whole table, every batch; merge-on-read appends a
    tiny deletion vector + the new row images. Reported per-mode:
    drained batches/sec over the pre-loaded table (row conservation
    checked against the expected final state)."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer, manifest

    orders = load_table(spark, sf_dir, "orders")
    n_keys = orders.count()
    base = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    src = f"{work}/sparse_landing"
    n_changes = 0
    for b in range(n_batches):
        upd = base.where(F.col("o_orderkey") % 977 == b).select(
            F.lit("U").alias("op"), F.lit(b + 1).cast("long").alias("_seq"),
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        )
        _land(upd, src, f"{b:06d}.parquet")
        n_changes += upd.count()
    schema = spark.read.parquet(src).schema

    def run(mode: str, **kw) -> dict:
        lake, ckpt = f"{work}/sparse_lake_{mode}", f"{work}/sparse_ckpt_{mode}"
        # pre-load OUTSIDE the timed window: 64 files so scattered keys
        # impact every file (the realistic many-file table shape)
        preload = base.repartition(64)
        if kw.get("merge_on_read"):
            preload.write.parquet(lake)
            files = manifest.list_data_files(spark, lake)
            manifest.commit_manifest(
                spark, lake, files, schema_json=preload.schema.json()
            )
        else:
            preload.write.parquet(lake)
        bytes0 = _total_output_bytes(spark)
        t0 = time.perf_counter()
        q = cdc_stream.start_cdc_stream(
            spark, src, lake, ["o_orderkey"], schema, ckpt,
            available_now=True, max_files_per_trigger=1, **kw,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        bytes1 = _total_output_bytes(spark)
        written = (
            bytes1 - bytes0 if bytes0 is not None and bytes1 is not None else None
        )
        table = (
            manifest.read_table(spark, lake)
            if kw.get("merge_on_read")
            else spark.read.parquet(lake)
        )
        merged = table.count()
        assert merged == n_keys, (mode, merged, n_keys)
        bumped = table.where(
            (F.col("o_orderkey") % 977 < n_batches)
        ).count()
        assert bumped == n_changes, (mode, bumped, n_changes)
        out = {"rows": n_changes, "keys": n_keys, "batches": n_batches,
               "sec": round(wall, 2),
               "batches_per_sec": round(n_batches / wall, 2)}
        if written is not None:
            out["mb_written"] = round(written / 1e6, 1)
        return out

    cow = run("cow")
    mor = run("mor", merge_on_read=True)
    mor["speedup_vs_cow"] = round(cow["sec"] / mor["sec"], 2)
    if "mb_written" in cow and "mb_written" in mor and mor["mb_written"]:
        mor["write_amplification_vs_cow"] = round(
            cow["mb_written"] / mor["mb_written"], 1
        )

    # SCD2 history under the same sparse-update stream: the incremental
    # fold (DV + append per batch) must write ~batch-sized MBs, never
    # history-sized — the workload the old full-table swap rewrite was
    # fatal on.
    lake, ckpt = f"{work}/sparse_lake_scd2", f"{work}/sparse_ckpt_scd2"
    init = base.select(
        F.lit("I").alias("op"),
        # bootstrap seqs must sort below every landing-file _hseq
        # ("0" < "file:/..."): version 0 of every key
        F.lit("0").alias("_hseq"),
        "o_orderkey", "o_custkey", "o_totalprice",
    )
    lake_writer.scd2_merge_on_read(
        spark, init, lake, ["o_orderkey"], seq_col="_hseq",
        bucket_partitions=16,
    )
    bytes0 = _total_output_bytes(spark)
    t0 = time.perf_counter()
    q = cdc_stream.start_cdc_stream(
        spark, src, lake, ["o_orderkey"], schema, ckpt,
        available_now=True, max_files_per_trigger=1,
        history_mode=True, history_buckets=16,
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    bytes1 = _total_output_bytes(spark)
    hist = manifest.read_table(spark, lake)
    n_versions = hist.count()
    assert n_versions == n_keys + n_changes, (n_versions, n_keys, n_changes)
    assert hist.where("is_current").count() == n_keys
    scd2 = {"rows": n_changes, "keys": n_keys, "batches": n_batches,
            "versions": n_versions, "sec": round(wall, 2),
            "batches_per_sec": round(n_batches / wall, 2)}
    if bytes0 is not None and bytes1 is not None and bytes1 >= bytes0:
        scd2["mb_written"] = round((bytes1 - bytes0) / 1e6, 1)
        if "mb_written" in cow and scd2["mb_written"]:
            scd2["write_reduction_vs_cow"] = round(
                cow["mb_written"] / scd2["mb_written"], 1
            )
    return {"cow": cow, "mor": mor, "scd2": scd2}


def bench_windowed_agg(spark, sf_dir: str, work: str) -> dict:
    events = load_table(spark, sf_dir, "events")
    src = f"{work}/events"
    # several files so the file stream has multiple triggers available
    events.repartition(8).write.mode("overwrite").parquet(src)
    n_rows = events.count()
    schema = spark.read.parquet(src).schema
    stream = windows.stream_events(spark, src, schema, max_files_per_trigger=2)
    agg = windows.tumbling_counts(stream)
    t0 = time.perf_counter()
    q = windows.run_to_sink(
        agg, f"{work}/wckpt", "sb_windows", output_mode="complete"
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    out = spark.sql("SELECT sum(n_events) AS n FROM sb_windows").collect()[0]["n"]
    assert out == n_rows, (out, n_rows)
    return {"rows": n_rows, "sec": round(wall, 2),
            "rows_per_sec": round(n_rows / wall)}


def bench_dedup_stream(spark, sf_dir: str, work: str) -> dict:
    """Throughput of the stateful TTL dedup (#166) over the events
    table keyed by event_type+user (a realistic many-keys stream):
    measures the applyInPandasWithState exchange + per-group fold."""
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.streaming import dedup_stream as ds

    events = load_table(spark, sf_dir, "events")
    src = f"{work}/dedup_events"
    events.select(
        F.concat_ws("|", "event_type", (F.col("user_id") % 1000).cast("string")).alias("key"),
        F.col("ts").cast("timestamp").alias("ts"),
    ).repartition(8).write.mode("overwrite").parquet(src)
    n_rows = events.count()
    schema = spark.read.parquet(src).schema
    stream = windows.stream_events(spark, src, schema, max_files_per_trigger=2)
    out = ds.dedup_stream(stream, key_col="key", ts_col="ts")
    t0 = time.perf_counter()
    q = windows.run_to_sink(out, f"{work}/dckpt", "sb_dedup")
    q.awaitTermination()
    wall = time.perf_counter() - t0
    # State size is the axis that decides whether this scales: the
    # store holds one row per key seen within one TTL, NOT per event —
    # numRowsTotal from the final progress is the exact count, so the
    # sidecar records how state grows (or doesn't) with sf.
    state_rows = None
    try:
        prog = q.lastProgress
        if prog and prog.get("stateOperators"):
            state_rows = prog["stateOperators"][0].get("numRowsTotal")
    except Exception:
        pass
    firsts = spark.sql(
        "SELECT count(*) AS n FROM sb_dedup WHERE row_type = 'first'"
    ).collect()[0]["n"]
    assert firsts > 0
    out_rec = {"rows": n_rows, "sec": round(wall, 2),
               "rows_per_sec": round(n_rows / wall), "first_rows": firsts}
    if state_rows is not None:
        out_rec["state_rows"] = state_rows
    return out_rec


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # UI on: the REST API is how the bench measures bytes written per mode
    spark = get_spark(
        "dmscdc-stream-bench",
        extra_conf={
            "spark.ui.enabled": "true",
            # the bytes-written metric sums outputBytes over COMPLETED
            # stages; the default retention (1000) evicts early stages
            # mid-run and makes the cumulative sum go BACKWARDS
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        cdc = bench_cdc_stream(spark, sf_dir, work)
        sparse = bench_sparse_updates(spark, sf_dir, work)
        win = bench_windowed_agg(spark, sf_dir, work)
        dd = bench_dedup_stream(spark, sf_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "streaming_rows_per_sec",
        "value": cdc["mor"]["rows_per_sec"],
        "unit": "rows/sec",
        "streams": {
            "cdc_merge": cdc["cow"],
            "cdc_merge_mor": cdc["mor"],
            "cdc_scd2_history": cdc["hist"],
            "sparse_update_cow": sparse["cow"],
            "sparse_update_mor": sparse["mor"],
            "sparse_update_scd2": sparse["scd2"],
            "windowed_agg": win,
            "dedup_ttl": dd,
        },
        "sf": sf,
    }
    # per-sf sidecar so a smoke run at another scale can't clobber the
    # sf0.1 record (same convention as bench.py's BENCH_LOCAL_sf*.json)
    name = f"BENCH_STREAMING_sf{sf}.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), name), "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
