"""Copy-on-write granularity and partition-correctness tests for
merge_incremental (reference parity: DMSCDC_LoadIncremental.py:64-87
rewrites only impacted files; PK-join discovery catches partition moves
and full-partition deletes)."""

import pytest
import datetime
import glob
import itertools
import os

from pyspark.sql import functions as F

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import cdc
from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, _seq long, id long, name string, dept string"
    )


def _file_bytes(path_glob):
    return {
        os.path.basename(p): open(p, "rb").read() for p in glob.glob(path_glob)
    }


def _data_files(path):
    """Visible parquet files under ``path``, relative to it."""
    return [
        os.path.relpath(p, path)
        for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
    ]


def _unpartitioned_cow(spark, out):
    # three separate files, 10 rows each
    for lo in (0, 10, 20):
        spark.createDataFrame(
            [(i, f"n{i}", "d") for i in range(lo, lo + 10)],
            "id long, name string, dept string",
        ).coalesce(1).write.mode("append").parquet(out)
    before = _file_bytes(f"{out}/*.parquet")
    # batch touches keys 0 and 5 — both live in the first file only
    lake_writer.merge_incremental(
        spark,
        _changes(spark, [("U", 1, 0, "zero-x", "d"), ("D", 2, 5, None, None)]),
        out,
        ["id"],
    )
    return before, _file_bytes(f"{out}/*.parquet")


def test_unpartitioned_cow_touches_only_impacted_files(spark, tmp_path, open_cost):
    out = str(tmp_path / "t")
    with open_cost(1):
        before, after = _unpartitioned_cow(spark, out)
    assert len(before) == 3
    # exactly one original file was rewritten (replaced by a new file);
    # the other two survive byte-identical under their original names
    survivors = set(before) & set(after)
    assert len(survivors) == 2
    for name in survivors:
        assert before[name] == after[name]

    got = {r.id: r for r in spark.read.parquet(out).collect()}
    assert set(got) == set(range(30)) - {5}
    assert got[0].name == "zero-x"


def _unpartitioned_insert_only(spark, out):
    spark.createDataFrame(
        [(1, "a", "d"), (2, "b", "d")], "id long, name string, dept string"
    ).coalesce(1).write.mode("append").parquet(out)
    before = _file_bytes(f"{out}/*.parquet")
    lake_writer.merge_incremental(
        spark, _changes(spark, [("I", 1, 3, "c", "d")]), out, ["id"]
    )
    return before, _file_bytes(f"{out}/*.parquet")


def test_unpartitioned_insert_only_batch_appends_without_rewrite(spark, tmp_path, open_cost):
    out = str(tmp_path / "t2")
    with open_cost(1):
        before, after = _unpartitioned_insert_only(spark, out)
    # original file untouched, one new file appended
    for name, body in before.items():
        assert after[name] == body
    assert len(after) > len(before)
    assert spark.read.parquet(out).count() == 3


def test_partition_move_leaves_no_stale_row(spark, tmp_path):
    out = str(tmp_path / "t3")
    spark.createDataFrame(
        [(1, "a", "tools"), (2, "b", "tools"), (3, "c", "toys")],
        "id long, name string, dept string",
    ).write.mode("overwrite").partitionBy("dept").parquet(out)

    # update moves id=1 from dept=tools to dept=toys
    lake_writer.merge_incremental(
        spark,
        _changes(spark, [("U", 1, 1, "a2", "toys")]),
        out,
        ["id"],
        partition_keys=["dept"],
    )
    rows = spark.read.parquet(out).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, []).append(r)
    assert all(len(v) == 1 for v in by_id.values()), f"duplicate PK rows: {rows}"
    assert by_id[1][0].dept == "toys" and by_id[1][0].name == "a2"


def test_fully_deleted_partition_directory_removed(spark, tmp_path):
    out = str(tmp_path / "t4")
    spark.createDataFrame(
        [(1, "a", "tools"), (2, "b", "toys")],
        "id long, name string, dept string",
    ).write.mode("overwrite").partitionBy("dept").parquet(out)
    assert os.path.isdir(f"{out}/dept=toys")

    # delete the only row of dept=toys; DMS delete images may carry NULL
    # non-key columns, so the partition value comes from the PK join
    lake_writer.merge_incremental(
        spark,
        _changes(spark, [("D", 1, 2, None, None)]),
        out,
        ["id"],
        partition_keys=["dept"],
    )
    got = spark.read.parquet(out).collect()
    assert {r.id for r in got} == {1}
    assert not os.path.isdir(f"{out}/dept=toys")


def test_partitioned_merge_with_null_partition_rows(spark, tmp_path):
    out = str(tmp_path / "t5")
    spark.createDataFrame(
        [(1, "a", "tools"), (2, "b", None)],
        "id long, name string, dept string",
    ).write.mode("overwrite").partitionBy("dept").parquet(out)
    assert os.path.isdir(f"{out}/dept=__HIVE_DEFAULT_PARTITION__")

    # update the row living in the null partition, moving it to a real one
    lake_writer.merge_incremental(
        spark,
        _changes(spark, [("U", 1, 2, "b2", "toys")]),
        out,
        ["id"],
        partition_keys=["dept"],
    )
    rows = {r.id: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 2}
    assert rows[2].dept == "toys" and rows[2].name == "b2"
    assert not os.path.isdir(f"{out}/dept=__HIVE_DEFAULT_PARTITION__")


def test_fully_deleted_partition_with_brace_value_removed(spark, tmp_path):
    # Spark/Hive does NOT escape '}' in partition dir names; the emptied-
    # partition path computation must match or the stale dir survives
    # and deleted rows resurrect on the next read.
    out = str(tmp_path / "t6")
    spark.createDataFrame(
        [(1, "a", "keep"), (2, "b", "a}b")],
        "id long, name string, dept string",
    ).write.mode("overwrite").partitionBy("dept").parquet(out)
    assert os.path.isdir(f"{out}/dept=a}}b".replace("}}", "}"))

    lake_writer.merge_incremental(
        spark,
        _changes(spark, [("D", 1, 2, None, None)]),
        out,
        ["id"],
        partition_keys=["dept"],
    )
    got = spark.read.parquet(out).collect()
    assert {r.id for r in got} == {1}
    assert not os.path.isdir(out + "/dept=a}b")


def _partitioned_cow(spark, out):
    for rows in ([(0, "a0", "a"), (1, "a1", "a")], [(2, "a2", "a"), (3, "a3", "a")],
                 [(4, "b4", "b"), (5, "b5", "b")]):
        df = spark.createDataFrame(rows, "id long, name string, dept string")
        df.coalesce(1).write.mode("append").partitionBy("dept").parquet(out)
    before = _file_bytes(f"{out}/*/*.parquet")
    # both keys live in the first dept=a file
    lake_writer.merge_incremental(
        spark,
        _changes(spark, [("U", 1, 0, "a0-x", "a"), ("D", 2, 1, None, None)]),
        out, ["id"], partition_keys=["dept"],
    )
    return before, _file_bytes(f"{out}/*/*.parquet")


def test_partitioned_cow_touches_only_impacted_files(spark, tmp_path, open_cost):
    """A partitioned merge rewrites the files that hold a changed key,
    not their partitions: the other file of the touched partition and
    every file of the other partitions survive byte-identical."""
    out = str(tmp_path / "t")
    with open_cost(1):
        before, after = _partitioned_cow(spark, out)
    assert len(before) == 3
    survivors = set(before) & set(after)
    assert len(survivors) == 2 and len(after) == 3, sorted(after)
    for name in survivors:
        assert before[name] == after[name]
    assert _rows(spark.read.parquet(out)) == [
        (0, "a0-x", "a"), (2, "a2", "a"), (3, "a3", "a"), (4, "b4", "b"), (5, "b5", "b")
    ]


def _partitioned_insert_only(spark, out):
    lake_writer.write_initial(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "id long, name string, dept string"
        ),
        out, partition_keys=["dept"],
    )
    before = _file_bytes(f"{out}/*/*.parquet")
    lake_writer.merge_incremental(
        spark, _changes(spark, [("I", 1, 3, "c", "x")]), out, ["id"],
        partition_keys=["dept"],
    )
    return before, _file_bytes(f"{out}/*/*.parquet")


def test_partitioned_insert_only_batch_rewrites_no_file(spark, tmp_path, open_cost):
    out = str(tmp_path / "t")
    with open_cost(1):
        before, after = _partitioned_insert_only(spark, out)
    for name, body in before.items():
        assert after[name] == body
    assert len(after) == len(before) + 1
    assert _rows(spark.read.parquet(out)) == [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")]


@pytest.mark.parametrize(
    "scenario",
    [_unpartitioned_cow, _unpartitioned_insert_only, _partitioned_cow, _partitioned_insert_only],
    ids=lambda scenario: scenario.__name__.lstrip("_"),
)
def test_small_table_merge_replaces_every_live_file(spark, tmp_path, scenario, open_cost):
    """The four discovery scenarios above, on the small side of the size
    rule (the default open cost holds each table): the merge replaces
    every live file, and the rows equal the discovery side's."""
    large, small = str(tmp_path / "large"), str(tmp_path / "small")
    with open_cost(1):
        scenario(spark, large)
    before, after = scenario(spark, small)
    assert before and after and set(before).isdisjoint(after), (sorted(before), sorted(after))
    assert _rows(spark.read.parquet(small)) == _rows(spark.read.parquet(large))


def test_mor_delete_survives_cow_merge_on_escaped_partition(spark, tmp_path, open_cost):
    """A deletion vector on a file under an escaped partition value
    (``dept=a b``) stays in force through a copy-on-write merge of
    another partition: its target is recorded in the manifest's name
    for the file, not the URI-encoded one, so the carry-forward keeps
    it while the file is live."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    out = str(tmp_path / "t")
    lake_writer.write_initial(
        spark.createDataFrame(
            [(1, "a", "a b"), (2, "b", "c")], "id long, name string, dept string"
        ),
        out, partition_keys=["dept"],
    )
    lake_writer.merge_on_read_incremental(
        spark, _changes(spark, [("U", 1, 1, "a2", "a b")]), out, ["id"]
    )
    with open_cost(1):
        lake_writer.merge_incremental(
            spark, _changes(spark, [("U", 2, 2, "b2", "c")]), out, ["id"],
            partition_keys=["dept"],
        )
    assert _rows(manifest.read_table(spark, out)) == [(1, "a2", "a b"), (2, "b2", "c")]
    man = manifest.read_manifest(spark, out)
    assert man["dv_targets"] and all(
        t in man["files"] for targets in man["dv_targets"].values() for t in targets
    ), man


_HOSTILE = ["a b", "50%", "x:y", "k=v", "a/b", "é", "a%20b"]


@pytest.mark.parametrize(
    "value", _HOSTILE + [datetime.datetime(2024, 1, 1, 10, 30, 5, 123456)],
    ids=_HOSTILE + ["timestamp"],
)
def test_hostile_partition_value_emptied_by_delete_and_move(spark, tmp_path, value):
    """A partition whose value Spark escapes (or a timestamp key with
    microseconds) loses one row to a delete and another to a move: its
    directory goes, and the manifest, the raw directory and the catalog
    table agree on the rows."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import catalog, manifest

    kind = "timestamp" if isinstance(value, datetime.datetime) else "string"
    other = datetime.datetime(2024, 1, 2) if kind == "timestamp" else "plain"
    schema = f"id long, name string, k {kind}"
    out = str(tmp_path / "t")
    lake_writer.write_initial(
        spark.createDataFrame([(1, "x", value), (2, "y", value), (3, "z", other)], schema),
        out, partition_keys=["k"],
    )
    assert len([n for n in os.listdir(out) if n.startswith("k=")]) == 2

    lake_writer.merge_incremental(
        spark,
        spark.createDataFrame(
            [("D", 1, 1, None, None), ("U", 1, 2, "y2", other)], f"op string, _seq long, {schema}"
        ),
        out, ["id"], partition_keys=["k"],
    )
    want = [(2, "y2", other), (3, "z", other)]
    man = manifest.read_manifest(spark, out)
    assert man["files"] == manifest.list_data_files(spark, out, recursive=True)
    dirs = {f.split("/")[0] for f in man["files"]}
    assert len(dirs) == 1 and dirs == {n for n in os.listdir(out) if n.startswith("k=")}
    raw = spark.read.schema(manifest.table_schema(spark, out, man)).parquet(out)
    spark.sql("DROP DATABASE IF EXISTS hostile_db CASCADE")
    table = catalog.register_table(spark, out, "hostile_db", "t")
    for df in (manifest.read_table(spark, out), raw, spark.table(table)):
        assert sorted((r.id, r.name, r.k) for r in df.collect()) == want


@pytest.mark.parametrize("partition_keys", [[], ["dept"]])
def test_merge_rewrite_scales_out_past_one_open_cost(
    spark, tmp_path, monkeypatch, partition_keys
):
    # The rewrite is coalesced to ceil(estimate / openCostInBytes) tasks.
    # With a few-KiB open cost a ~3k-row rewrite spans several open
    # costs: it must still split across files, never past that bound.
    key = "spark.sql.files.openCostInBytes"
    open_cost = 4096
    estimates = []
    real = cdc._coalesce_to_open_cost

    def spy(df):
        estimates.append(cdc._plan_size_bytes(df))
        return real(df)

    monkeypatch.setattr(cdc, "_coalesce_to_open_cost", spy)
    out = str(tmp_path / "t")
    rows = {i: (i, f"name-{i:05d}", f"d{i % 3}") for i in range(3000)}
    changes = (
        [("U", 1, i, f"upd-{i}", f"d{(i + 1) % 3}") for i in range(0, 3000, 7)]
        + [("D", 2, i, None, None) for i in range(0, 3000, 11)]
        + [("I", 3, i, f"new-{i}", f"d{i % 3}") for i in range(3000, 3100)]
    )
    prev = spark.conf.get(key)
    spark.conf.set(key, str(open_cost))
    try:
        lake_writer.write_initial(
            spark.createDataFrame(
                list(rows.values()), "id long, name string, dept string"
            ).repartition(4),
            out, partition_keys,
        )
        # a file-backed batch, as the controller reads it: real size stats
        _changes(spark, changes).write.parquet(str(tmp_path / "batch"))
        before = set(_data_files(out))
        lake_writer.merge_incremental(
            spark, spark.read.parquet(str(tmp_path / "batch")), out, ["id"],
            partition_keys=partition_keys,
        )
        added = sorted(set(_data_files(out)) - before)
    finally:
        spark.conf.set(key, prev)

    # the batch is sized first, the rewrite last
    _, est = estimates
    assert est is not None and est < cdc._UNKNOWN_SIZE_SENTINEL
    bound = -(-est // open_cost)
    per_rewrite = {}
    for f in added:
        per_rewrite.setdefault(os.path.dirname(f), []).append(f)
    assert len(per_rewrite) == (3 if partition_keys else 1)
    for files in per_rewrite.values():
        assert 1 < len(files) <= bound, (len(files), bound)

    for op, _, i, name, dept in changes:
        if op == "D":
            rows.pop(i, None)
        else:
            rows[i] = (i, name, dept)
    got = sorted(
        (r.id, r.name, r.dept)
        for r in spark.read.parquet(out).select("id", "name", "dept").collect()
    )
    assert got == sorted(rows.values())


def _feed_batch(spark, rows):
    return spark.createDataFrame(rows, "op string, _seq long, id long, name string")


def test_change_feed_publishes_and_filters_batches(spark, tmp_path):
    """Each ``change_feed`` merge publishes its collapsed batch as its
    table version's feed files, and a subscribe after version v reads
    exactly the files the later versions list."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    out = str(tmp_path / "t")
    b1 = _feed_batch(spark, [("I", 1, 1, "a"), ("I", 1, 2, "b")])
    b2 = _feed_batch(
        spark, [("U", 2, 1, "a2"), ("D", 2, 2, None), ("U", 3, 2, "zz"), ("I", 2, 3, "c")]
    )
    lake_writer.merge_incremental(spark, b1, out, ["id"], change_feed=True)
    lake_writer.merge_incremental(spark, b2, out, ["id"], change_feed=True)

    feed = lake_writer.read_change_feed(spark, out)
    rows = {(r.version, r.id): (r.op, r.name) for r in feed.collect()}
    # version 2 collapsed: id=2's D(seq2) loses to U(seq3) -> latest wins
    assert rows == {
        (1, 1): ("I", "a"),
        (1, 2): ("I", "b"),
        (2, 1): ("U", "a2"),
        (2, 2): ("U", "zz"),
        (2, 3): ("I", "c"),
    }
    # incremental subscribe: only the files later versions list are read
    tail = lake_writer.read_change_feed(spark, out, since_version=1)
    assert {r.version for r in tail.collect()} == {2}
    listed = manifest.read_version(spark, out, 2)["feed_files"]
    assert listed
    assert sorted(manifest.relative_name(f, 1) for f in tail.inputFiles()) == listed


def test_merge_incremental_emits_change_feed(spark, tmp_path):
    out = str(tmp_path / "t")
    b1 = _feed_batch(spark, [("I", 1, 1, "a"), ("I", 1, 2, "b")])
    lake_writer.merge_incremental(spark, b1, out, ["id"], change_feed=True)
    b2 = _feed_batch(spark, [("U", 2, 1, "a2")])
    lake_writer.merge_incremental(spark, b2, out, ["id"], change_feed=True)
    # table state and feed agree
    assert {r.id: r.name for r in spark.read.parquet(out).select("id", "name").collect()} == {
        1: "a2", 2: "b"
    }
    feed = lake_writer.read_change_feed(spark, out)
    assert {(r.version, r.id, r.op) for r in feed.collect()} == {
        (1, 1, "I"), (1, 2, "I"), (2, 1, "U")
    }


def test_feed_merge_crashed_at_commit_publishes_each_change_once(spark, tmp_path, monkeypatch):
    """A ``change_feed`` merge whose manifest commit raises and is rerun
    publishes each change once, at the version whose commit applied it;
    a crashed merge that is never rerun publishes nothing."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    commit = manifest.commit_manifest

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(manifest, "commit_manifest", commit)
        raise RuntimeError("commit lost")

    out = str(tmp_path / "t")
    lake_writer.merge_incremental(
        spark, _feed_batch(spark, [("I", 1, 1, "a"), ("I", 1, 2, "b")]), out, ["id"],
        change_feed=True,
    )
    update = _feed_batch(spark, [("U", 2, 1, "a2")])
    delete = _feed_batch(spark, [("D", 3, 2, None)])
    for batch, rerun in ((update, True), (delete, False)):
        monkeypatch.setattr(manifest, "commit_manifest", crash_once)
        with pytest.raises(RuntimeError, match="commit lost"):
            lake_writer.merge_incremental(spark, batch, out, ["id"], change_feed=True)
        if rerun:
            lake_writer.merge_incremental(spark, batch, out, ["id"], change_feed=True)

    assert manifest.read_manifest(spark, out)["version"] == 2
    applied = manifest.read_table(spark, out, version=2)
    assert sorted((r.id, r.name) for r in applied.collect()) == [(1, "a2"), (2, "b")]
    feed = lake_writer.read_change_feed(spark, out).collect()
    assert sorted((r.id, r.op, r.name) for r in feed) == [
        (1, "I", "a"), (1, "U", "a2"), (2, "I", "b")
    ]
    assert sorted((r.version, r.id) for r in feed) == [(1, 1), (1, 2), (2, 1)]


def test_read_change_feed_before_first_batch_is_empty(spark, tmp_path):
    """A subscriber polling before the first change_feed=True merge gets
    an empty frame in the feed's shape, not PATH_NOT_FOUND."""
    out = str(tmp_path / "t")
    lake_writer.merge_incremental(spark, _feed_batch(spark, [("I", 1, 1, "a")]), out, ["id"])
    feed = lake_writer.read_change_feed(spark, out)
    assert feed.count() == 0
    assert {"id", "name", "op", "version"} <= set(feed.columns)


def test_compact_preserves_change_feed_sidecar(spark, tmp_path):
    """compact_table leaves the change feed intact: a compaction is a
    version with no feed, and the feed goes on at the next merge's
    version."""
    out = str(tmp_path / "t")
    b1 = _feed_batch(spark, [("I", 1, 1, "a"), ("I", 1, 2, "b")])
    lake_writer.merge_incremental(spark, b1, out, ["id"], change_feed=True)
    lake_writer.merge_incremental(
        spark, _feed_batch(spark, [("U", 2, 1, "a2")]), out, ["id"], change_feed=True
    )

    lake_writer.compact_table(spark, out)  # version 3

    # feed survived the compaction; table data intact
    feed = lake_writer.read_change_feed(spark, out)
    assert {r.version for r in feed.collect()} == {1, 2}
    assert {r.id: r.name for r in spark.read.parquet(out).select("id", "name").collect()} == {
        1: "a2", 2: "b"
    }
    lake_writer.merge_incremental(
        spark, _feed_batch(spark, [("I", 3, 3, "c")]), out, ["id"], change_feed=True
    )
    assert {r.version for r in lake_writer.read_change_feed(spark, out).collect()} == {1, 2, 4}


def test_vacuum_change_feed_retention(spark, tmp_path):
    """Feed retention is version retention: ``manifest.vacuum`` deletes
    the feed files of the versions it expires, and of a legacy
    ``batch=N`` directory, once they are past the grace period; the
    retained versions' feed stays readable."""
    import os

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    out = str(tmp_path / "t")
    for seq, (op, name) in enumerate([("I", "a"), ("U", "b"), ("U", "c")], start=1):
        lake_writer.merge_incremental(
            spark, _feed_batch(spark, [(op, seq, 1, name)]), out, ["id"], change_feed=True
        )
    feed_dir = f"{out}/{manifest.CHANGE_FEED_DIR}"
    spark.createDataFrame([(1,)], "id long").write.parquet(f"{feed_dir}/batch=1")

    manifest.vacuum(spark, out, retain_versions=2)  # all younger than the grace
    assert sorted(os.listdir(feed_dir)) == ["batch=1", "version=1", "version=2", "version=3"]
    manifest.vacuum(spark, out, retain_versions=2, grace_seconds=0)
    assert manifest.list_versions(spark, out) == [2, 3]
    assert sorted(os.listdir(feed_dir)) == ["version=2", "version=3"]
    tail = lake_writer.read_change_feed(spark, out, since_version=1)
    assert {(r.version, r.name) for r in tail.collect()} == {(2, "b"), (3, "c")}
    assert lake_writer.read_change_feed(spark, out).count() == 2


def test_change_feed_on_append_only_table(spark, tmp_path):
    """A no-primary-key (append-only) table with change_feed=True must
    publish its inserts too — not silently skip the feed."""
    out = str(tmp_path / "t")
    b1 = _feed_batch(spark, [("I", 1, 1, "a"), ("I", 1, 2, "b")])
    lake_writer.merge_incremental(spark, b1, out, primary_keys=[], change_feed=True)
    b2 = _feed_batch(spark, [("I", 2, 3, "c")])
    lake_writer.merge_incremental(spark, b2, out, primary_keys=[], change_feed=True)
    feed = lake_writer.read_change_feed(spark, out)
    assert {(r.version, r.id) for r in feed.collect()} == {(1, 1), (1, 2), (2, 3)}
    assert spark.read.parquet(out).count() == 3


def test_write_initial_preserves_change_feed_sidecar(spark, tmp_path):
    """A full reload is one more version with no feed: the feed versions
    before it stay readable, and a subscriber's high-water mark keeps
    working past it."""
    out = str(tmp_path / "t")
    b1 = _feed_batch(spark, [("I", 1, 1, "a"), ("I", 1, 2, "b")])
    lake_writer.merge_incremental(spark, b1, out, ["id"], change_feed=True)
    lake_writer.merge_incremental(
        spark, _feed_batch(spark, [("U", 2, 1, "a2")]), out, ["id"], change_feed=True
    )

    # full reload supersedes every live data file (version 3)
    reload_df = spark.createDataFrame([(1, "r1"), (3, "r3")], "id long, name string")
    lake_writer.write_initial(reload_df, out)
    assert {r.name for r in spark.read.parquet(out).select("name").collect()} == {
        "r1", "r3"
    }

    assert {r.version for r in lake_writer.read_change_feed(spark, out).collect()} == {1, 2}
    lake_writer.merge_incremental(
        spark, _feed_batch(spark, [("U", 3, 3, "r3b")]), out, ["id"], change_feed=True
    )
    assert {r.version for r in lake_writer.read_change_feed(spark, out).collect()} == {
        1, 2, 4
    }
    # a subscriber at high-water mark 2 sees exactly the post-reload change
    tail = lake_writer.read_change_feed(spark, out, since_version=2)
    assert {(r.version, r.id, r.name) for r in tail.collect()} == {(4, 3, "r3b")}


def test_write_initial_partitioned_preserves_sidecar(spark, tmp_path):
    """Same on a partitioned reload."""
    out = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [("I", 1, 1, "a", 10), ("I", 1, 2, "b", 20)],
        "op string, _seq long, id long, dept string, v int",
    )
    lake_writer.merge_incremental(
        spark, b1, out, ["id"], partition_keys=["dept"], change_feed=True
    )
    reload_df = spark.createDataFrame([(1, "a", 11)], "id long, dept string, v int")
    lake_writer.write_initial(reload_df, out, partition_keys=["dept"])
    assert {r.version for r in lake_writer.read_change_feed(spark, out).collect()} == {1}


def test_ineligible_batch_never_reaches_feed(spark, tmp_path):
    """A batch the merge permanently rejects (a type change on an
    existing column) raises before anything is appended, so no feed
    version holds it; a batch missing its op/seq columns is rejected as
    input."""
    out = str(tmp_path / "t")
    lake_writer.merge_incremental(
        spark, _feed_batch(spark, [("I", 1, 1, "a")]), out, ["id"], change_feed=True
    )

    bad = spark.createDataFrame(
        [("U", 2, 1, 99)], "op string, _seq long, id long, name long"
    )
    with pytest.raises(ValueError, match="additive-only"):
        lake_writer.merge_incremental(spark, bad, out, ["id"], change_feed=True)
    # the feed holds ONLY the eligible batch
    assert {r.version for r in lake_writer.read_change_feed(spark, out).collect()} == {1}

    no_op = spark.createDataFrame([(1, "x")], "id long, name string")
    with pytest.raises(ValueError, match="missing required column"):
        lake_writer.merge_incremental(spark, no_op, out, ["id"], change_feed=True)
    assert {r.version for r in lake_writer.read_change_feed(spark, out).collect()} == {1}


def test_read_change_feed_no_table_raises_clearly(spark, tmp_path):
    """Polling a brand-new path (no table data at all) raises a clear
    error, not a raw PATH_NOT_FOUND from the schema-derivation read."""
    with pytest.raises(FileNotFoundError, match="no table at"):
        lake_writer.read_change_feed(spark, str(tmp_path / "never_written"))


def test_prepare_dms_batch_accepts_non_file_frames(spark):
    """A createDataFrame batch (no _metadata hidden column) must take the
    input_file_name()/monotonic-id fallback, not raise AnalysisException."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.pipeline.controller import (
        prepare_dms_batch,
    )

    df = spark.createDataFrame(
        [("I", 1, "a"), ("U", 1, "b"), ("I", 2, "c")], "Op string, id long, v string"
    )
    out = prepare_dms_batch(df)
    assert {r.id for r in out.collect()} == {1, 2}
    assert "op" in out.columns and "_seq" in out.columns


def test_failed_reload_keeps_previous_version(spark, tmp_path):
    """A reload whose write raises mid-job leaves the previous version
    readable through the manifest, the raw directory and the change
    feed; rerunning the reload then succeeds."""
    import pytest

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    out = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [("I", 1, i, f"n{i}") for i in range(100)],
        "op string, _seq long, id long, name string",
    )
    lake_writer.merge_incremental(spark, b1, out, ["id"], change_feed=True)
    before = [(i, f"n{i}") for i in range(100)]

    @F.udf("string")
    def fail_on_r50(name):
        if name == "r50":
            raise ValueError("source read failed")
        return name

    reload_df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "id long, name string"
    )
    with pytest.raises(Exception, match="source read failed"):
        lake_writer.write_initial(
            reload_df.withColumn("name", fail_on_r50("name")), out
        )

    def rows(df):
        return sorted((r.id, r.name) for r in df.select("id", "name").collect())

    assert rows(manifest.read_table(spark, out)) == before
    assert rows(spark.read.parquet(out)) == before
    feed = lake_writer.read_change_feed(spark, out)
    assert {(r.version, r.id) for r in feed.collect()} == {(1, i) for i in range(100)}

    lake_writer.write_initial(reload_df, out)
    after = [(i, f"r{i}") for i in range(100)]
    assert rows(manifest.read_table(spark, out)) == after
    assert rows(spark.read.parquet(out)) == after
    assert manifest.read_manifest(spark, out)["version"] == 2  # history goes on


def test_reload_keeps_retained_versions_readable(spark, tmp_path):
    """Under ``retain_history`` a reload keeps the files it supersedes,
    as a merge does: every version listed before the reload still reads
    back until ``manifest.vacuum`` reclaims it."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    out = str(tmp_path / "t")
    loaded = [(i, f"n{i}", f"d{i % 2}") for i in range(6)]
    schema = "id long, name string, dept string"
    lake_writer.write_initial(
        spark.createDataFrame(loaded, schema), out, retain_history=True
    )
    lake_writer.merge_incremental(
        spark, _changes(spark, [("U", 1, 0, "zero", "d0")]), out, ["id"],
        retain_history=True,
    )
    reloaded = [(i, f"r{i}", "d9") for i in range(3)]
    lake_writer.write_initial(
        spark.createDataFrame(reloaded, schema), out, retain_history=True
    )
    want = {1: loaded, 2: [(0, "zero", "d0")] + loaded[1:], 3: reloaded}
    assert manifest.list_versions(spark, out) == [1, 2, 3]
    for version, rows in want.items():
        assert _rows(manifest.read_table(spark, out, version=version)) == sorted(rows)

    manifest.vacuum(spark, out, retain_versions=1, grace_seconds=0)
    assert manifest.list_versions(spark, out) == [3]
    assert sorted(_data_files(out)) == manifest.read_manifest(spark, out)["files"]
    assert _rows(spark.read.parquet(out)) == sorted(reloaded)


def test_partial_rewrite_keeps_loaded_schema(spark, tmp_path, open_cost):
    """An update that rewrites one of four loaded files leaves exactly
    the loaded columns, with no op column, in the manifest read, the raw
    directory, the catalog table and the recorded schema."""
    import json

    from pyspark.sql.types import StructType

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import (
        catalog,
        manifest,
    )

    out = str(tmp_path / "t")
    loaded = spark.createDataFrame(
        [(i, f"n{i}", f"d{i % 2}") for i in range(40)],
        "id long, name string, dept string",
    ).repartition(4)
    lake_writer.write_initial(loaded, out)
    files = set(_data_files(out))
    assert len(files) == 4
    with open_cost(1):
        lake_writer.merge_incremental(
            spark, _changes(spark, [("U", 1, 0, "n0-x", "d0")]), out, ["id"]
        )
    assert len(files - set(_data_files(out))) == 1

    def cols(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    want = cols(loaded.schema)
    recorded = manifest.read_manifest(spark, out)["schema"]
    assert cols(StructType.fromJson(json.loads(recorded))) == want
    spark.sql("DROP DATABASE IF EXISTS rewrite_db CASCADE")
    qualified = catalog.register_table(spark, out, "rewrite_db", "t")
    for df in (
        manifest.read_table(spark, out),
        spark.read.option("mergeSchema", "true").parquet(out),
        spark.table(qualified),
    ):
        assert cols(df.schema) == want


def test_precheck_sees_evolved_columns_across_footers(spark, tmp_path):
    """The commit checks a batch against the recorded table schema: a
    type change on an additively-evolved column (present only in newer
    footers) is rejected before anything is appended, the feed
    included."""
    out = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [("I", 1, 1, "a")], "op string, _seq long, id long, name string"
    )
    lake_writer.merge_incremental(spark, b1, out, ["id"], change_feed=True)
    # additive evolution: email appears (older files lack the column)
    b2 = spark.createDataFrame(
        [("I", 2, 2, "b", "x@y.z")],
        "op string, _seq long, id long, name string, email string",
    )
    lake_writer.merge_incremental(spark, b2, out, ["id"], change_feed=True)
    # type CHANGE on the evolved column: must fail before the append
    bad = spark.createDataFrame(
        [("U", 3, 2, "b2", 42)],
        "op string, _seq long, id long, name string, email long",
    )
    with pytest.raises(ValueError, match="additive-only"):
        lake_writer.merge_incremental(spark, bad, out, ["id"], change_feed=True)
    assert {r.version for r in lake_writer.read_change_feed(spark, out).collect()} == {1, 2}


def _rows(df):
    return sorted((r.id, r.name, r.dept) for r in df.select("id", "name", "dept").collect())


@pytest.mark.parametrize("partition_keys", [[], ["dept"]])
def test_plain_directory_adopted_on_first_merge_and_compaction(
    spark, tmp_path, partition_keys
):
    """A table written by plain ``df.write`` (no manifest) is adopted by
    its first merge and by its first compaction: each commits a manifest
    listing exactly the table's data files, and the manifest read, the
    directory read and the model agree."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    rows = [(i, f"n{i}", f"d{i % 2}") for i in range(6)]
    merged, compacted = str(tmp_path / "merged"), str(tmp_path / "compacted")
    for out in (merged, compacted):
        df = spark.createDataFrame(rows, "id long, name string, dept string")
        df.repartition(2).write.partitionBy(*partition_keys).parquet(out)
    lake_writer.merge_incremental(
        spark,
        _changes(spark, [("U", 1, 0, "zero", "d0"), ("D", 1, 3, None, None)]),
        merged, ["id"], partition_keys=partition_keys,
    )
    lake_writer.compact_table(spark, compacted)

    after_merge = sorted([(0, "zero", "d0")] + [r for r in rows if r[0] not in (0, 3)])
    for out, want in ((merged, after_merge), (compacted, sorted(rows))):
        man = manifest.read_manifest(spark, out)
        assert man is not None, out
        assert man["files"] == manifest.list_data_files(spark, out, recursive=True)
        assert man.get("partition_keys", []) == partition_keys
        assert _rows(manifest.read_table(spark, out)) == want
        assert _rows(spark.read.parquet(out)) == want


@pytest.mark.parametrize("partition_keys", [[], ["name"]], ids=["no_keys", "other_keys"])
@pytest.mark.parametrize("primary_keys", [[], ["id"]], ids=["keyless", "keyed"])
def test_merge_keeps_the_recorded_layout(spark, tmp_path, primary_keys, partition_keys):
    """A keyless append or a keyed merge on a table partitioned by
    ``dept`` writes in that layout, whatever keys its caller passes:
    every row reads back, the manifest still records ``["dept"]`` and
    the directory holds only ``dept=`` partitions."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    out = str(tmp_path / "t")
    lake_writer.write_initial(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "id long, name string, dept string"
        ),
        out, partition_keys=["dept"],
    )
    lake_writer.merge_incremental(
        spark, _changes(spark, [("U", 1, 1, "a2", "x"), ("I", 1, 3, "c", "y")]),
        out, primary_keys, partition_keys=partition_keys,
    )
    want = [(1, "a2" if primary_keys else "a", "x"), (2, "b", "y"), (3, "c", "y")]
    assert _rows(manifest.read_table(spark, out)) == want
    assert _rows(spark.read.parquet(out)) == want
    assert manifest.read_manifest(spark, out)["partition_keys"] == ["dept"]
    listed = manifest.list_data_files(spark, out, recursive=True)
    assert listed and all(f.startswith("dept=") for f in listed), listed
    assert sorted(n for n in os.listdir(out) if not n.startswith(("_", "."))) == [
        "dept=x", "dept=y"
    ]


def test_commit_protocol_is_one_seam():
    """In ``lake_writer`` only ``_commit_write`` commits a manifest, and
    only it and ``_snapshot`` list the table's data files."""
    import ast
    import inspect

    uses = {"commit_manifest": set(), "list_data_files": set()}
    for top in ast.parse(inspect.getsource(lake_writer)).body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if name in uses:
                uses[name].add(owner)
    assert uses == {
        "commit_manifest": {"_commit_write"},
        "list_data_files": {"_commit_write", "_snapshot"},
    }


def test_unpartitioned_merge_on_path_with_space(spark, tmp_path):
    """``input_file_name()`` URI-encodes the table path (a space reads
    back as %20): the impacted files must still be re-read, superseded
    and deleted."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    out = str(tmp_path / "my lake" / "t")
    lake_writer.write_initial(
        spark.createDataFrame(
            [(1, "a", "d"), (2, "b", "d"), (3, "c", "d")],
            "id long, name string, dept string",
        ),
        out,
    )
    lake_writer.merge_incremental(
        spark,
        _changes(spark, [("U", 1, 1, "a2", "d"), ("D", 1, 2, None, None)]),
        out, ["id"],
    )
    want = [(1, "a2", "d"), (3, "c", "d")]
    assert _rows(manifest.read_table(spark, out)) == want
    assert _rows(spark.read.parquet(out)) == want


def test_compaction_sizes_output_from_live_files_only(spark, tmp_path):
    """A large ``_change_feed`` sidecar must not inflate compaction's
    output file count: the size is the live data files' total length."""
    df = spark.range(0, 3000).selectExpr(
        "id", "cast(id * 7919 % 10007 as string) as name"
    )
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    requested = []
    for name, feed in (("plain", False), ("with_feed", True)):
        out = str(tmp_path / name)
        for i in range(3):
            df.where(f"id % 3 = {i}").coalesce(1).write.mode("append").parquet(out)
        if feed:
            spark.range(0, 20000).selectExpr("uuid() as u").coalesce(1).write.parquet(
                f"{out}/{manifest.CHANGE_FEED_DIR}/version=1"
            )
        requested.append(
            lake_writer.compact_table(spark, out, target_file_bytes=16 * 1024)
        )
    assert requested[0] == requested[1], requested


# ---------------------------------------------- the recorded table schema


@pytest.mark.parametrize(
    "values", [("007", "010"), ("2024-01-01", "2024-01-02")], ids=["digits", "date"]
)
def test_string_partition_key_keeps_its_type(spark, tmp_path, values):
    """A string partition key whose values look like numbers or dates
    reads back as the string the manifest records, through read_table
    and the catalog, and the table then takes a keyed merge that moves
    a row across partitions."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import catalog, manifest

    a, b = values
    out = str(tmp_path / "t")
    lake_writer.write_initial(
        spark.createDataFrame(
            [(1, "x", a), (2, "y", b)], "id long, name string, k string"
        ),
        out, partition_keys=["k"],
    )
    spark.sql("DROP DATABASE IF EXISTS strkey_db CASCADE")
    qualified = catalog.register_table(spark, out, "strkey_db", "t")
    for df in (manifest.read_table(spark, out), spark.table(qualified)):
        assert df.schema["k"].dataType.simpleString() == "string"
        assert sorted((r.id, r.k) for r in df.collect()) == [(1, a), (2, b)]

    lake_writer.merge_incremental(
        spark,
        spark.createDataFrame(
            [("U", 1, 1, "x2", b)], "op string, _seq long, id long, name string, k string"
        ),
        out, ["id"], partition_keys=["k"],
    )
    got = manifest.read_table(spark, out)
    assert sorted((r.id, r.name, r.k) for r in got.collect()) == [(1, "x2", b), (2, "y", b)]


def _amounts(spark, rows, schema="op string, _seq long, id long, amount int, note string"):
    return spark.createDataFrame(rows, schema)


def test_keyless_type_change_raises_and_leaves_table_unchanged(spark, tmp_path):
    """A keyless batch that changes a column's type raises before it
    appends anything: the version, the data files and the rows stay."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    out = str(tmp_path / "t")
    lake_writer.write_initial(
        spark.createDataFrame([(1, 5, "n")], "id long, amount int, note string"), out
    )
    version, files = manifest.read_manifest(spark, out)["version"], _data_files(out)
    bad = _amounts(
        spark, [("I", 1, 2, "x", "m")],
        "op string, _seq long, id long, amount string, note string",
    )
    with pytest.raises(ValueError, match="additive-only"):
        lake_writer.merge_incremental(spark, bad, out, [])
    assert manifest.read_manifest(spark, out)["version"] == version
    assert sorted(_data_files(out)) == sorted(files)
    assert [tuple(r) for r in manifest.read_table(spark, out).collect()] == [(1, 5, "n")]


def test_narrow_keyless_batch_keeps_recorded_column(spark, tmp_path):
    """A keyless batch without a column appends rows that read it as
    NULL; the recorded schema keeps the column, so the two versions
    record the same schema."""
    import json

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    out = str(tmp_path / "t")
    loaded = spark.createDataFrame([(1, 5, "n")], "id long, amount int, note string")
    lake_writer.write_initial(loaded, out)
    lake_writer.merge_incremental(
        spark, _amounts(spark, [("I", 1, 2, 6)], "op string, _seq long, id long, amount int"),
        out, [],
    )
    v1, v2 = manifest.list_versions(spark, out)[-2:]
    assert (
        manifest.read_version(spark, out, v1)["schema"]
        == manifest.read_version(spark, out, v2)["schema"]
    )
    recorded = json.loads(manifest.read_manifest(spark, out)["schema"])
    assert [f["name"] for f in recorded["fields"]] == loaded.columns
    rows = sorted(tuple(r) for r in manifest.read_table(spark, out).collect())
    assert rows == [(1, 5, "n"), (2, 6, None)]


_job_groups = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through a job group of its
    own (numbered: an ``id()`` is reused once its object is freed)."""
    sc = spark.sparkContext
    group = f"count-{next(_job_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _job_count_table(spark, tmp_path, partition_keys):
    """A 200-row table and a 50-row keyed batch read from one parquet
    file, as the controller reads a landing file: a file-backed batch
    has a size estimate, which a ``createDataFrame`` one lacks."""
    out = str(tmp_path / "t")
    lake_writer.write_initial(
        spark.createDataFrame(
            [(i, f"n{i}", f"d{i % 3}") for i in range(200)],
            "id long, name string, dept string",
        ),
        out, partition_keys=partition_keys,
    )
    _changes(spark, [("U", i, i, f"m{i}", f"d{i % 3}") for i in range(0, 100, 2)]).coalesce(
        1
    ).write.parquet(str(tmp_path / "batch"))
    return out, spark.read.parquet(str(tmp_path / "batch"))


@pytest.mark.parametrize("partition_keys", [[], ["dept"]])
def test_merge_and_reregistration_job_counts(spark, tmp_path, partition_keys, open_cost):
    """A 50-row keyed merge, partitioned or not, runs ONE job (the
    write) on a table that fits in one open cost, and at most 4 above
    it: the table schema comes from the manifest (no schema-inference
    job), discovery is the key broadcast plus one noop write whose
    observed metric carries the file names (no distinct shuffle), and a
    batch that fits in one open cost is ranked with no shuffle. A
    ``stats_cols`` commit's stats scan is one job. Re-registering an
    unchanged table runs no job at all."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import catalog, manifest

    out, batch = _job_count_table(spark, tmp_path, partition_keys)
    merge = lambda: lake_writer.merge_incremental(  # noqa: E731
        spark, batch, out, ["id"], partition_keys=partition_keys
    )
    assert _jobs(spark, merge) == 1
    man = manifest.read_manifest(spark, out)
    schema = manifest.table_schema(spark, out, man)
    assert _jobs(spark, lambda: manifest.compute_file_stats(
        spark, out, man["files"], ["id"], schema
    )) == 1
    # above one open cost: the table no longer fits in it, the batch's
    # one file still does
    (batch_file,) = glob.glob(f"{tmp_path}/batch/*.parquet")
    batch_bytes = os.path.getsize(batch_file)
    assert sum(os.path.getsize(f"{out}/{f}") for f in man["files"]) > batch_bytes
    with open_cost(batch_bytes):
        assert _jobs(spark, merge) <= 4
    spark.sql("DROP DATABASE IF EXISTS jobs_db CASCADE")
    catalog.register_table(spark, out, "jobs_db", "t")
    assert _jobs(spark, lambda: catalog.register_table(spark, out, "jobs_db", "t")) == 0


@pytest.mark.parametrize("partition_keys", [[], ["dept"]])
def test_small_table_merge_plans_no_exchange(spark, tmp_path, monkeypatch, partition_keys):
    """On a table that fits in one open cost, the batch and the table's
    rows sit in one partition each, so the union-and-rank window plans
    no ``Exchange`` and no ``BroadcastExchange``: the write is the
    merge's only job."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    out, batch = _job_count_table(spark, tmp_path, partition_keys)
    written = []
    real = lake_writer._commit_write

    def spy(spark, df, *args, **kwargs):
        written.append(df)
        return real(spark, df, *args, **kwargs)

    monkeypatch.setattr(lake_writer, "_commit_write", spy)
    lake_writer.merge_incremental(spark, batch, out, ["id"], partition_keys=partition_keys)
    (df,) = written
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan
    assert "Exchange" not in plan, plan  # BroadcastExchange included
    assert _rows(manifest.read_table(spark, out)) == sorted(
        (i, f"m{i}" if i % 2 == 0 and i < 100 else f"n{i}", f"d{i % 3}") for i in range(200)
    )


# (table rows, batch rows, partition keys, merge-on-read batch applied
# first or None, expected rows); batch rows are (op, _seq, id, name, dept)
_SIZE_RULE_CASES = {
    "null_keys": (
        [(None, "a", "d"), (None, "b", "d"), (1, "c", "d"), (2, "d", "d")],
        [("U", 1, 1, "c2", "d"), ("I", 2, None, "n1", "d")], [], None,
        [(None, "a", "d"), (None, "b", "d"), (None, "n1", "d"), (1, "c2", "d"),
         (2, "d", "d")],
    ),
    "empty_batch": (
        [(1, "a", "d"), (2, "b", "d")], [], [], None, [(1, "a", "d"), (2, "b", "d")],
    ),
    "delete_every_row": (
        [(1, "a", "d"), (2, "b", "d")], [("D", 1, 1, None, None), ("D", 2, 2, None, None)],
        [], None, [],
    ),
    "single_row_table": (
        [(1, "a", "d")], [("U", 1, 1, "a2", "d")], [], None, [(1, "a2", "d")],
    ),
    "insert_update_delete_chain": (
        [(1, "a", "d"), (2, "b", "d")],
        [("I", 1, 3, "c", "d"), ("U", 2, 3, "c2", "d"), ("D", 3, 3, None, None),
         ("U", 4, 1, "a2", "d")],
        [], None, [(1, "a2", "d"), (2, "b", "d")],
    ),
    "deletion_vector": (
        [(1, "a", "d"), (2, "b", "d"), (3, "c", "d")],
        [("U", 3, 3, "c2", "d"), ("I", 4, 4, "e", "d")], [], [("D", 2, 2, None, None)],
        [(1, "a", "d"), (3, "c2", "d"), (4, "e", "d")],
    ),
    "partition_move": (
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")], [("U", 1, 1, "a2", "y")], ["dept"],
        None, [(1, "a2", "y"), (2, "b", "x"), (3, "c", "y")],
    ),
}


def _nullsafe_rows(df):
    return sorted(
        (tuple(r) for r in df.select("id", "name", "dept").collect()),
        key=lambda r: tuple((v is not None, v if v is not None else "") for v in r),
    )


@pytest.mark.parametrize("case", list(_SIZE_RULE_CASES))
def test_merge_sides_of_the_size_rule_agree(spark, tmp_path, monkeypatch, case, open_cost):
    """Hostile inputs on both sides of the size rule — discovery with a
    1-byte open cost, the union-and-rank of the whole table with the
    default one — give the same ``read_table`` rows: the expected ones."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    table, batch, partition_keys, mor, want = _SIZE_RULE_CASES[case]
    pruned = []
    real = cdc.apply_changes

    def spy(*args, **kwargs):
        pruned.append(kwargs["prune_with_broadcast"])
        return real(*args, **kwargs)

    monkeypatch.setattr(cdc, "apply_changes", spy)
    batch_path = str(tmp_path / "batch")
    _changes(spark, batch).coalesce(1).write.parquet(batch_path)
    got = {}
    for side, n_bytes in (("discovery", 1), ("whole_table", None)):
        out = str(tmp_path / side)
        lake_writer.write_initial(
            spark.createDataFrame(table, "id long, name string, dept string"),
            out, partition_keys=partition_keys,
        )
        if mor:
            lake_writer.merge_on_read_incremental(spark, _changes(spark, mor), out, ["id"])
        merge = lambda: lake_writer.merge_incremental(  # noqa: E731
            spark, spark.read.parquet(batch_path), out, ["id"],
            partition_keys=partition_keys,
        )
        if n_bytes is None:
            merge()
        else:
            with open_cost(n_bytes):
                merge()
        got[side] = _nullsafe_rows(manifest.read_table(spark, out))
    assert pruned == [True, False]
    assert got["discovery"] == got["whole_table"] == _nullsafe_rows(
        spark.createDataFrame(want, "id long, name string, dept string")
    )
