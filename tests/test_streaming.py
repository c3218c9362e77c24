"""Streaming CDC: file-source backlog drain + checkpointed idempotency."""

import pytest
import glob
import os
import shutil

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from aws_big_data_blog_dmscdc_walkthrough_spark.streaming import cdc_stream

SCHEMA = StructType(
    [
        StructField("Op", StringType()),
        StructField("id", LongType()),
        StructField("name", StringType()),
    ]
)


def _drop_file(spark, rows, src_dir, name):
    df = spark.createDataFrame(rows, SCHEMA)
    tmp = f"{src_dir}/_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    os.makedirs(src_dir, exist_ok=True)
    os.rename(part, f"{src_dir}/{name}")
    shutil.rmtree(tmp)


def _run_stream(spark, src, out, ckpt):
    q = cdc_stream.start_cdc_stream(
        spark, src, out, ["id"], SCHEMA, ckpt, available_now=True
    )
    q.awaitTermination(120)


@pytest.mark.slow
def test_stream_merges_batches(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _drop_file(spark, [("I", 1, "a"), ("I", 2, "b")], src, "20240101-01.parquet")
    _run_stream(spark, src, out, ckpt)
    assert {r.id: r.name for r in spark.read.parquet(out).collect()} == {1: "a", 2: "b"}

    # second batch: update 1, delete 2, insert 3
    _drop_file(spark, [("U", 1, "a2"), ("D", 2, None), ("I", 3, "c")], src, "20240102-01.parquet")
    _run_stream(spark, src, out, ckpt)
    assert {r.id: r.name for r in spark.read.parquet(out).collect()} == {1: "a2", 3: "c"}


def test_stream_restart_is_idempotent(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _drop_file(spark, [("I", 1, "a")], src, "20240101-01.parquet")
    _run_stream(spark, src, out, ckpt)
    # restart with no new files: checkpoint already covers the file
    _run_stream(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == 1


@pytest.mark.parametrize(
    "mode", [{}, {"merge_on_read": True}, {"history_mode": True}],
    ids=["cow", "mor", "scd2"],
)
def test_stream_replay_after_commit_adds_no_version(spark, tmp_path, monkeypatch, mode):
    """A batch whose commit went through but whose sink then raised is
    re-run, with the same batch id, by the restart from the same
    checkpoint: the table records that id, so the replay commits no
    version, and the rows equal one batch over the same files."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    src = str(tmp_path / "src")
    _drop_file(spark, [("I", 1, "a"), ("I", 2, "b")], src, "20240101-01.parquet")
    _drop_file(spark, [("U", 1, "a2"), ("D", 2, None), ("I", 3, "c")], src, "20240102-01.parquet")

    def run(out, ckpt, per_trigger=None):
        q = cdc_stream.start_cdc_stream(
            spark, src, out, ["id"], SCHEMA, ckpt, available_now=True,
            max_files_per_trigger=per_trigger, **mode,
        )
        q.awaitTermination(120)

    def rows(out):
        return sorted(map(tuple, manifest.read_table(spark, out).collect()))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    real = manifest.commit_manifest

    def commit_then_crash(*a, **kw):
        version = real(*a, **kw)
        if version == 2:
            raise RuntimeError("crash after commit")
        return version

    with monkeypatch.context() as m:
        m.setattr(manifest, "commit_manifest", commit_then_crash)
        with pytest.raises(Exception, match="crash after commit"):
            run(out, ckpt, per_trigger=1)
    assert manifest.read_manifest(spark, out)["txn"] == {ckpt: 1}
    run(out, ckpt, per_trigger=1)
    assert manifest.read_manifest(spark, out)["version"] == 2
    one_shot = str(tmp_path / "one_shot")
    run(one_shot, str(tmp_path / "ck1"))
    assert rows(out) == rows(one_shot)


@pytest.mark.slow
def test_stream_merge_on_read_mode(spark, tmp_path):
    """MOR streaming: same merge semantics through DVs+appends, one
    compaction on schedule, read via the manifest."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _drop_file(spark, [("I", 1, "a"), ("I", 2, "b")], src, "20240101-01.parquet")
    _drop_file(spark, [("U", 1, "a2"), ("D", 2, None), ("I", 3, "c")], src, "20240102-01.parquet")

    q = cdc_stream.start_cdc_stream(
        spark, src, out, ["id"], SCHEMA, ckpt, available_now=True,
        max_files_per_trigger=1, merge_on_read=True, compact_every=2,
    )
    q.awaitTermination(120)
    got = {r.id: r.name for r in manifest.read_table(spark, out).collect()}
    assert got == {1: "a2", 3: "c"}
    # compact_every=2 ran after the second batch: DVs materialized
    man = manifest.read_manifest(spark, out)
    assert not man.get("delete_files")

    # a third batch leaves live DVs (no compaction yet at batch 3)
    _drop_file(spark, [("U", 1, "a3")], src, "20240103-01.parquet")
    q = cdc_stream.start_cdc_stream(
        spark, src, out, ["id"], SCHEMA, ckpt, available_now=True,
        max_files_per_trigger=1, merge_on_read=True, compact_every=2,
    )
    q.awaitTermination(120)
    assert {r.id: r.name for r in manifest.read_table(spark, out).collect()} == {
        1: "a3", 3: "c"
    }
    assert manifest.read_manifest(spark, out).get("delete_files")


@pytest.mark.slow
def test_merge_on_read_replay_is_idempotent(spark, tmp_path):
    """A replayed MOR batch supersedes the copy its first attempt
    appended — exactly one live row per key either way."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer, manifest

    out = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [("I", 1, 1, "a"), ("I", 1, 2, "b")], "op string, _seq long, id long, name string"
    )
    lake_writer.merge_on_read_incremental(spark, b1, out, ["id"])
    b2 = spark.createDataFrame(
        [("U", 2, 1, "a2"), ("I", 2, 3, "c")], "op string, _seq long, id long, name string"
    )
    lake_writer.merge_on_read_incremental(spark, b2, out, ["id"])
    expect = {1: "a2", 2: "b", 3: "c"}
    assert {r.id: r.name for r in manifest.read_table(spark, out).collect()} == expect
    # replay batch 2 (crash-before-checkpoint recovery)
    lake_writer.merge_on_read_incremental(spark, b2, out, ["id"])
    assert {r.id: r.name for r in manifest.read_table(spark, out).collect()} == expect
    # deletes-only batch
    b3 = spark.createDataFrame(
        [("D", 3, 2, None)], "op string, _seq long, id long, name string"
    )
    lake_writer.merge_on_read_incremental(spark, b3, out, ["id"])
    assert {r.id: r.name for r in manifest.read_table(spark, out).collect()} == {
        1: "a2", 3: "c"
    }


@pytest.mark.slow
def test_stream_multi_op_within_batch(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _drop_file(spark, [("I", 1, "a")], src, "20240101-01.parquet")
    # same key twice across two files in ONE backlog drain: later file wins
    _drop_file(spark, [("U", 1, "later")], src, "20240102-01.parquet")
    _run_stream(spark, src, out, ckpt)
    assert {r.id: r.name for r in spark.read.parquet(out).collect()} == {1: "later"}


def test_streaming_tumbling_equals_batch_on_events_table(spark, tmp_path):
    """The watermarked streaming aggregation must produce exactly the
    batch answer once the stream is drained (availableNow, complete
    mode): same windows, same counts, same sums — on the real events
    table, not a fixture."""
    import shutil

    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.session import (
        load_table,
        normalize_event_ts,
    )
    from aws_big_data_blog_dmscdc_walkthrough_spark.streaming import windows as sw
    from tests.conftest import SF_SMOKE

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{src}/events.parquet")

    # normalize ts exactly like the batch reader does (no-op on the
    # current MICROS-typed file, ns→µs conversion on the legacy layout)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{src}/events.parquet").schema
    stream = normalize_event_ts(sw.stream_events(spark, src, raw_schema))
    q = sw.run_to_sink(
        sw.tumbling_counts(stream),
        str(tmp_path / "ckpt"),
        "stream_tumbling_eq",
        output_mode="complete",
    )
    q.awaitTermination(120)

    got = {
        (r.w_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM stream_tumbling_eq").collect()
    }
    events = load_table(spark, SF_SMOKE, "events")
    want = {
        (r.w_start, r.event_type): (r.n_events, r.sum_value)
        for r in events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events", "sum_value")
        .collect()
    }
    assert set(got) == set(want)
    for k, (n, s) in want.items():
        gn, gs = got[k]
        assert gn == n
        assert abs(gs - s) <= 1e-9 * max(abs(s), 1.0)  # double sum order


@pytest.mark.slow
def test_stream_scd2_history_mode(spark, tmp_path):
    """History mode: versions accumulate with validity intervals; a
    replayed batch (fresh checkpoint over the same files) is a no-op.
    Incremental write path: the second fold must APPEND + DV, never
    rewrite the first batch's data files."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")

    def run(ckpt):
        q = cdc_stream.start_cdc_stream(
            spark, src, out, ["id"], SCHEMA, ckpt,
            available_now=True, history_mode=True,
        )
        q.awaitTermination(120)

    _drop_file(spark, [("I", 1, "a"), ("I", 2, "b")], src, "20240101-01.parquet")
    run(ck1)
    h1 = manifest.read_table(spark, out)
    assert h1.count() == 2
    assert {r.id for r in h1.where("is_current").collect()} == {1, 2}
    files_v1 = set(manifest.read_manifest(spark, out)["files"])

    _drop_file(
        spark, [("U", 1, "a2"), ("D", 2, None), ("I", 3, "c")], src,
        "20240102-01.parquet",
    )
    run(ck1)
    h2 = manifest.read_table(spark, out)
    rows = {(r.id, r.name): (r.is_current, r.valid_to_seq is None)
            for r in h2.collect()}
    # id=1: closed v "a" + open v "a2"; id=2: closed v "b"; id=3: open "c"
    assert rows[(1, "a")] == (False, False) and rows[(1, "a2")] == (True, True)
    assert rows[(2, "b")] == (False, False)
    assert rows[(3, "c")] == (True, True)
    assert h2.count() == 4
    # incremental, not a rewrite: batch 1's files are still live, the
    # fold appended new ones and staged a DV over the superseded opens
    man2 = manifest.read_manifest(spark, out)
    assert files_v1 <= set(man2["files"])
    assert man2.get("delete_files")

    # replay: a FRESH checkpoint re-delivers both files; its first
    # batch runs the exact per-key guard, which makes the
    # re-application a no-op
    run(ck2)
    h3 = manifest.read_table(spark, out)
    assert sorted(map(tuple, h3.collect())) == sorted(map(tuple, h2.collect()))


@pytest.mark.slow
def test_stream_scd2_history_bucketed_with_compaction(spark, tmp_path):
    """Bucketed history: same fold results, `pk_bucket=` partition
    directories on disk, and the scheduled compaction materializes the
    DVs without changing what readers see."""
    import os as _os

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    src, out, ck = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _drop_file(spark, [("I", 1, "a"), ("I", 2, "b")], src, "20240101-01.parquet")
    _drop_file(
        spark, [("U", 1, "a2"), ("D", 2, None), ("I", 3, "c")], src,
        "20240102-01.parquet",
    )
    q = cdc_stream.start_cdc_stream(
        spark, src, out, ["id"], SCHEMA, ck,
        available_now=True, max_files_per_trigger=1,
        history_mode=True, history_buckets=4, compact_every=2,
    )
    q.awaitTermination(120)
    h = manifest.read_table(spark, out)
    rows = {(r.id, r.name): (r.is_current, r.valid_to_seq is None)
            for r in h.collect()}
    assert rows[(1, "a")] == (False, False) and rows[(1, "a2")] == (True, True)
    assert rows[(2, "b")] == (False, False)
    assert rows[(3, "c")] == (True, True)
    assert h.count() == 4
    assert any(d.startswith("pk_bucket=") for d in _os.listdir(out))
    # compact_every=2 ran after the second batch: DVs materialized
    assert not manifest.read_manifest(spark, out).get("delete_files")


@pytest.mark.slow
def test_scd2_merge_on_read_equals_one_shot(spark, tmp_path):
    """Folding batches through scd2_merge_on_read must equal the
    one-shot scd2_history over the concatenated change log — at every
    split point, bucketed or not — and a replayed batch is a no-op."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import cdc
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer, manifest

    log = [
        ("I", 1, 1, "a"), ("I", 1, 2, "b"),
        ("U", 2, 1, "a2"), ("D", 2, 2, None), ("I", 2, 3, "c"),
        ("U", 3, 3, "c2"), ("I", 3, 2, "b2"), ("U", 3, 1, "a3"),
    ]
    sch = "op string, _seq long, id long, name string"
    full = spark.createDataFrame(log, sch)
    want = sorted(
        map(
            tuple,
            cdc.scd2_history(
                full.drop("op", "_seq").limit(0), full, ["id"], "_seq"
            ).collect(),
        )
    )
    for buckets in (None, 3):
        for split in (1, 2):
            out = str(tmp_path / f"h_{buckets}_{split}")
            batches = [
                spark.createDataFrame([r for r in log if r[1] <= split], sch),
                spark.createDataFrame([r for r in log if r[1] > split], sch),
            ]
            for b in batches:
                lake_writer.scd2_merge_on_read(
                    spark, b, out, ["id"], bucket_partitions=buckets
                )
            got = manifest.read_table(spark, out)
            if buckets:
                got = got.drop(lake_writer.PK_BUCKET_COL)
            assert sorted(map(tuple, got.collect())) == want, (buckets, split)
            # replay the last batch: the per-key guard makes it a no-op
            v = manifest.read_manifest(spark, out)["version"]
            lake_writer.scd2_merge_on_read(
                spark, batches[-1], out, ["id"], bucket_partitions=buckets
            )
            assert manifest.read_manifest(spark, out)["version"] == v
            got2 = manifest.read_table(spark, out)
            if buckets:
                got2 = got2.drop(lake_writer.PK_BUCKET_COL)
            assert sorted(map(tuple, got2.collect())) == want


def test_scd2_bucketed_history_scan_partition_prunes(spark, tmp_path):
    """The bucket filter scd2_merge_on_read applies to its replay-guard
    and open-version scans must reach the scan as a PartitionFilter —
    the mechanism that bounds per-batch reads by the batch's buckets
    at scale (not just the fold's correctness)."""
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer, manifest

    out = str(tmp_path / "h")
    b1 = spark.createDataFrame(
        [("I", 1, i, f"v{i}") for i in range(40)],
        "op string, _seq long, id long, name string",
    )
    lake_writer.scd2_merge_on_read(spark, b1, out, ["id"], bucket_partitions=8)
    live = manifest.read_table_with_positions(spark, out).where(
        F.col(lake_writer.PK_BUCKET_COL).isin([0, 3])
    )
    plan = live._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "pk_bucket" in pf.group(1), pf and pf.group(1)


def test_scd2_history_additive_schema_evolution(spark, tmp_path):
    """A change batch carrying a NEW column widens the history: old
    versions read back NULL, new versions carry the value, and a type
    CHANGE on an existing column raises instead of corrupting."""
    import pytest

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer, manifest

    out = str(tmp_path / "h")
    b1 = spark.createDataFrame(
        [("I", 1, 1, "a"), ("I", 1, 2, "b")],
        "op string, _seq long, id long, name string",
    )
    lake_writer.scd2_merge_on_read(spark, b1, out, ["id"])
    b2 = spark.createDataFrame(
        [("U", 2, 1, "a2", "a@x.org"), ("I", 2, 3, "c", "c@x.org")],
        "op string, _seq long, id long, name string, email string",
    )
    lake_writer.scd2_merge_on_read(spark, b2, out, ["id"])
    rows = {
        (r.id, r.name): (r.email, r.is_current)
        for r in manifest.read_table(spark, out).collect()
    }
    assert rows[(1, "a")] == (None, False)      # pre-evolution version
    assert rows[(1, "a2")] == ("a@x.org", True)
    assert rows[(2, "b")] == (None, True)
    assert rows[(3, "c")] == ("c@x.org", True)

    bad = spark.createDataFrame(
        [("U", 3, 1, 42, "t@x.org")],
        "op string, _seq long, id long, name long, email string",
    )
    with pytest.raises(Exception, match="type|Type"):
        lake_writer.scd2_merge_on_read(spark, bad, out, ["id"])
