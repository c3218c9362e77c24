"""Manifest-gated atomic commits (sources/manifest.py): the reader must
see exactly one table version at every point of the stage → commit →
delete sequence, including simulated crashes inside the window the
reference leaves open (DMSCDC_LoadIncremental.py:68-87)."""

import pytest
from pyspark.sql import functions as F

from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer, manifest


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, _seq long, id long, name string"
    )


def _init(spark, path, n=3):
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(n)], "id long, name string"
    ).repartition(3)
    lake_writer.write_initial(df, path)
    return df


def test_manifest_read_matches_directory_read(spark, tmp_path):
    out = str(tmp_path / "t")
    _init(spark, out)
    lake_writer.merge_incremental(
        spark, _changes(spark, [("U", 1, 1, "n1b"), ("I", 1, 9, "n9")]),
        out, ["id"],
    )
    via_manifest = {(r.id, r.name) for r in manifest.read_table(spark, out).collect()}
    via_dir = {(r.id, r.name) for r in spark.read.parquet(out).collect()}
    assert via_manifest == via_dir == {(0, "n0"), (1, "n1b"), (2, "n2"), (9, "n9")}


def test_crash_before_commit_keeps_old_version(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "t")
    _init(spark, out)
    before = {(r.id, r.name) for r in manifest.read_table(spark, out).collect()}

    # crash AFTER the append but BEFORE the manifest commit
    def boom(*a, **k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(manifest, "commit_manifest", boom)
    with pytest.raises(RuntimeError):
        lake_writer.merge_incremental(
            spark, _changes(spark, [("U", 1, 1, "n1b")]), out, ["id"],
        )
    monkeypatch.undo()
    # manifest reader: unchanged old version, no duplicates; the
    # directory reader WOULD see both copies of id=1 here
    after = {(r.id, r.name) for r in manifest.read_table(spark, out).collect()}
    assert after == before
    dir_rows = spark.read.parquet(out).collect()
    assert len(dir_rows) > len(after)  # orphans exist on disk
    assert manifest.vacuum(spark, out, grace_seconds=0)  # ...and vacuum reclaims them
    assert {(r.id, r.name) for r in spark.read.parquet(out).collect()} == before


def test_crash_after_commit_shows_new_version(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "t")
    _init(spark, out)

    # crash AFTER the manifest commit but BEFORE the superseded-file
    # deletes: new version visible, old copies invisible to the reader
    jvm_delete = {}

    def fake_merge(spark_, changes, path, pks, **kw):
        raise AssertionError("unused")

    real_commit = manifest.commit_manifest

    def commit_then_crash(spark_, path, files, **kw):
        real_commit(spark_, path, files, **kw)
        raise RuntimeError("crash after commit")

    monkeypatch.setattr(manifest, "commit_manifest", commit_then_crash)
    with pytest.raises(RuntimeError):
        lake_writer.merge_incremental(
            spark, _changes(spark, [("U", 1, 1, "n1b"), ("D", 2, 0, None)]),
            out, ["id"],
        )
    monkeypatch.undo()
    got = {(r.id, r.name) for r in manifest.read_table(spark, out).collect()}
    assert got == {(1, "n1b"), (2, "n2")}
    # superseded originals are still on disk (delete never ran)...
    assert len(spark.read.parquet(out).collect()) > len(got)
    # ...and a follow-up merge against the manifest still works
    lake_writer.merge_incremental(
        spark, _changes(spark, [("I", 1, 7, "n7")]), out, ["id"],
    )
    got2 = {(r.id, r.name) for r in manifest.read_table(spark, out).collect()}
    assert got2 == {(1, "n1b"), (2, "n2"), (7, "n7")}


def test_manifest_versions_increase(spark, tmp_path):
    out = str(tmp_path / "t")
    _init(spark, out)
    v1 = manifest.read_manifest(spark, out)["version"]
    lake_writer.merge_incremental(
        spark, _changes(spark, [("I", 1, 5, "n5")]), out, ["id"],
    )
    v2 = manifest.read_manifest(spark, out)["version"]
    assert v2 == v1 + 1


def _pchanges(spark, rows):
    return spark.createDataFrame(
        rows, "op string, _seq long, id long, dept string, v long"
    )


def _pinit(spark, path):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40)],
        "id long, dept string, v long",
    )
    lake_writer.write_initial(
        df, path, partition_keys=["dept"], stats_cols=["v"]
    )
    return df


def test_stats_keyed_by_path_when_basenames_repeat(spark, tmp_path):
    """One write task names its file in every partition directory with
    the same basename: each file keeps its own stats, so a predicate
    prunes neither partition's rows wrongly."""
    out = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 1), (2, "a", 2), (3, "a", 3)]
        + [(i, "b", 100 + i) for i in range(4, 8)],
        "id long, dept string, v long",
    ).coalesce(1)
    lake_writer.write_initial(df, out, partition_keys=["dept"], stats_cols=["v"])
    man = manifest.read_manifest(spark, out)
    assert len({f.rsplit("/", 1)[1] for f in man["files"]}) == 1
    assert {f.split("/")[0]: (s["v"]["min"], s["v"]["max"])
            for f, s in man["stats"].items()} == {
        "dept=a": (1, 3), "dept=b": (104, 107)}
    got = manifest.read_table(spark, out, predicate=("v", ">=", 100))
    assert sorted(r.id for r in got.collect()) == [4, 5, 6, 7]


def test_partitioned_manifest_end_to_end(spark, tmp_path):
    """The flagship table shape: partitioned + manifest. One merge
    commits atomically across partitions; time travel spans it;
    partition-value pruning and data-column stats pruning both hold."""
    out = str(tmp_path / "t")
    _pinit(spark, out)  # v1
    man = manifest.read_manifest(spark, out)
    assert man["partition_keys"] == ["dept"]
    assert all("/" in f and f.startswith("dept=") for f in man["files"])

    # update in a, delete in b, move id=2 a->b: touches BOTH partitions
    lake_writer.merge_incremental(
        spark,
        _pchanges(spark, [
            ("U", 1, 1, "a", 11), ("D", 1, 3, "b", None), ("U", 1, 2, "b", 21),
        ]),
        out, ["id"], partition_keys=["dept"],
        retain_history=True, stats_cols=["v"],
    )  # v2
    got = {(r.id, r.dept, r.v) for r in manifest.read_table(spark, out).collect()}
    assert got == {(1, "a", 11), (2, "b", 21), (4, "b", 40)}
    # time travel across the partitioned merge
    v1 = {(r.id, r.dept, r.v) for r in manifest.read_table(spark, out, version=1).collect()}
    assert v1 == {(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40)}

    # partition-value pruning: only dept=b files are opened
    df_b = manifest.read_table(spark, out, predicate=("dept", "=", "b"))
    assert all("dept=b" in f for f in df_b.inputFiles())
    assert {(r.id, r.v) for r in df_b.collect()} == {(2, 21), (4, 40)}
    # data-column stats pruning still applies within partitions
    df_v = manifest.read_table(spark, out, predicate=("v", ">", 30))
    assert {(r.id, r.v) for r in df_v.collect()} == {(4, 40)}
    assert len(df_v.inputFiles()) < len(manifest.read_manifest(spark, out)["files"])


def test_partitioned_crash_before_commit_keeps_old_version(
    spark, tmp_path, monkeypatch
):
    out = str(tmp_path / "t")
    _pinit(spark, out)
    before = {(r.id, r.dept, r.v) for r in manifest.read_table(spark, out).collect()}

    def boom(*a, **k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(manifest, "commit_manifest", boom)
    with pytest.raises(RuntimeError):
        lake_writer.merge_incremental(
            spark, _pchanges(spark, [("U", 1, 1, "a", 99)]), out, ["id"],
            partition_keys=["dept"],
        )
    monkeypatch.undo()
    # manifest readers: unchanged old version; orphans on disk; vacuum reclaims
    assert {(r.id, r.dept, r.v) for r in manifest.read_table(spark, out).collect()} == before
    assert len(spark.read.parquet(out).collect()) > len(before)
    assert manifest.vacuum(spark, out, grace_seconds=0)
    assert {(r.id, r.dept, r.v) for r in spark.read.parquet(out).collect()} == before


def test_partitioned_crash_after_commit_shows_new_version(
    spark, tmp_path, monkeypatch
):
    out = str(tmp_path / "t")
    _pinit(spark, out)
    real_commit = manifest.commit_manifest

    def commit_then_crash(spark_, path, files, **kw):
        real_commit(spark_, path, files, **kw)
        raise RuntimeError("crash after commit")

    monkeypatch.setattr(manifest, "commit_manifest", commit_then_crash)
    with pytest.raises(RuntimeError):
        lake_writer.merge_incremental(
            spark, _pchanges(spark, [("U", 1, 1, "a", 99)]), out, ["id"],
            partition_keys=["dept"],
        )
    monkeypatch.undo()
    got = {(r.id, r.v) for r in manifest.read_table(spark, out).collect()}
    assert got == {(1, 99), (2, 20), (3, 30), (4, 40)}
    # superseded dept=a originals still on disk, invisible to the reader
    assert len(spark.read.parquet(out).collect()) > len(got)
    # follow-up merge against the committed manifest still works
    lake_writer.merge_incremental(
        spark, _pchanges(spark, [("I", 1, 5, "c", 50)]), out, ["id"],
        partition_keys=["dept"],
    )
    got2 = {(r.id, r.v) for r in manifest.read_table(spark, out).collect()}
    assert got2 == {(1, 99), (2, 20), (3, 30), (4, 40), (5, 50)}


def test_partitioned_merge_drops_emptied_partition(spark, tmp_path):
    out = str(tmp_path / "t")
    _pinit(spark, out)
    lake_writer.merge_incremental(
        spark,
        _pchanges(spark, [("D", 1, 1, "a", None), ("D", 1, 2, "a", None)]),
        out, ["id"], partition_keys=["dept"],
    )
    got = {(r.id, r.dept) for r in manifest.read_table(spark, out).collect()}
    assert got == {(3, "b"), (4, "b")}
    assert not any(
        f.startswith("dept=a/")
        for f in manifest.read_manifest(spark, out)["files"]
    )
    import os

    assert not os.path.isdir(f"{out}/dept=a")


@pytest.mark.slow
def test_partitioned_compact_through_manifest(spark, tmp_path, open_cost):
    out = str(tmp_path / "t")
    _pinit(spark, out)
    # accrete small files: the discovery side appends an insert-only batch
    with open_cost(1):
        for i in range(3):
            lake_writer.merge_incremental(
                spark, _pchanges(spark, [("I", 1, 10 + i, "a", 100 + i)]),
                out, ["id"], partition_keys=["dept"],
            )
    before = {(r.id, r.v) for r in manifest.read_table(spark, out).collect()}
    n_before = len(manifest.read_manifest(spark, out)["files"])
    lake_writer.compact_table(
        spark, out, stats_cols=["v"]
    )
    after = {(r.id, r.v) for r in manifest.read_table(spark, out).collect()}
    assert after == before
    man = manifest.read_manifest(spark, out)
    assert len(man["files"]) < n_before
    assert man["partition_keys"] == ["dept"]


def test_compact_partitioned_table_keeps_its_layout(spark, tmp_path):
    """compact_table takes the partition keys from the table: compacted
    with no layout argument, a partitioned table keeps its partitions
    and a later merge still sees every row."""
    out = str(tmp_path / "t")
    rows = {(i, "a" if i % 2 else "b", 10 * i) for i in range(10)}
    lake_writer.write_initial(
        spark.createDataFrame(sorted(rows), "id long, dept string, v long"),
        out, partition_keys=["dept"],
    )
    lake_writer.compact_table(spark, out)
    man = manifest.read_manifest(spark, out)
    assert man["partition_keys"] == ["dept"]
    assert all(f.startswith("dept=") for f in man["files"])
    lake_writer.merge_incremental(
        spark, _pchanges(spark, [("U", 1, 1, "a", 11)]), out, ["id"],
        partition_keys=["dept"],
    )
    want = rows - {(1, "a", 10)} | {(1, "a", 11)}
    assert {(r.id, r.dept, r.v) for r in manifest.read_table(spark, out).collect()} == want
    assert {(r.id, r.dept, r.v) for r in spark.read.parquet(out).collect()} == want


def test_partitioned_delete_where_hides_rows(spark, tmp_path):
    """MOR position deletes on the flagship PARTITIONED shape: DVs
    address files by partition-relative path, no data file rewrites,
    partition columns survive the DV anti-join read."""
    out = str(tmp_path / "t")
    _pinit(spark, out)
    files_before = manifest.read_manifest(spark, out)["files"]
    manifest.delete_where(spark, out, ("v", ">", 25))
    man = manifest.read_manifest(spark, out)
    assert man["files"] == files_before and man.get("delete_files")
    got = {(r.id, r.dept, r.v) for r in manifest.read_table(spark, out).collect()}
    assert got == {(1, "a", 10), (2, "a", 20)}


def _pchanges(spark, rows):
    return spark.createDataFrame(
        rows, "op string, _seq long, id long, dept string, v long"
    )


def test_partitioned_merge_on_read_incremental(spark, tmp_path):
    out = str(tmp_path / "t")
    _pinit(spark, out)
    files_before = manifest.read_manifest(spark, out)["files"]
    lake_writer.merge_on_read_incremental(
        spark,
        _pchanges(
            spark,
            [
                ("U", 1, 2, "a", 21),    # update in partition a
                ("D", 1, 3, "b", 0),     # delete in partition b
                ("I", 1, 5, "c", 50),    # insert into a NEW partition
            ],
        ),
        out,
        ["id"],
    )
    man = manifest.read_manifest(spark, out)
    # old files untouched (DV + append, never a rewrite)
    assert set(files_before) <= set(man["files"]) and man.get("delete_files")
    assert any(f.startswith("dept=c/") for f in man["files"])
    got = {(r.id, r.dept, r.v) for r in manifest.read_table(spark, out).collect()}
    assert got == {(1, "a", 10), (2, "a", 21), (4, "b", 40), (5, "c", 50)}
    # replay is idempotent: the retry supersedes its first copy
    lake_writer.merge_on_read_incremental(
        spark, _pchanges(spark, [("U", 1, 2, "a", 21)]), out, ["id"]
    )
    assert {
        (r.id, r.dept, r.v) for r in manifest.read_table(spark, out).collect()
    } == got


def test_mor_crash_before_commit_then_rerun_leaves_no_orphan(
    spark, tmp_path, monkeypatch
):
    """A merge-on-read batch whose commit crashes once after its append
    reruns to a table whose directory holds exactly the manifest's
    files: the rerun's commit deletes the first attempt's copy."""
    out = str(tmp_path / "t")
    _init(spark, out)
    batch = _changes(spark, [("U", 1, 1, "a2")])
    real_commit = manifest.commit_manifest

    def crash_once(*a, **kw):
        monkeypatch.setattr(manifest, "commit_manifest", real_commit)
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(manifest, "commit_manifest", crash_once)
    with pytest.raises(RuntimeError, match="crash before commit"):
        lake_writer.merge_on_read_incremental(spark, batch, out, ["id"])
    lake_writer.merge_on_read_incremental(spark, batch, out, ["id"])
    man = manifest.read_manifest(spark, out)
    assert manifest.list_data_files(spark, out, recursive=True) == man["files"]
    got = sorted((r.id, r.name) for r in manifest.read_table(spark, out).collect())
    assert got == [(0, "n0"), (1, "a2"), (2, "n2")]


def test_commit_deletes_deletion_vectors_its_version_does_not_list(
    spark, tmp_path, monkeypatch
):
    """``_deletes/`` holds exactly the manifest's delete files after (a) a
    merge-on-read batch whose commit crashed once is rerun and (b) a
    compaction retires the vectors; (c) ``retain_history`` keeps them."""

    def dv_files(out):
        return manifest.list_data_files(spark, f"{out}/{manifest.DELETES_DIR}")

    # (a) the crashed attempt's staged vector goes with the rerun's commit
    out = str(tmp_path / "a")
    _init(spark, out)
    batch = _changes(spark, [("U", 1, 1, "a2")])
    real_commit = manifest.commit_manifest

    def crash_once(*a, **kw):
        monkeypatch.setattr(manifest, "commit_manifest", real_commit)
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(manifest, "commit_manifest", crash_once)
    with pytest.raises(RuntimeError, match="crash before commit"):
        lake_writer.merge_on_read_incremental(spark, batch, out, ["id"])
    assert len(dv_files(out)) == 1
    lake_writer.merge_on_read_incremental(spark, batch, out, ["id"])
    listed = manifest.read_manifest(spark, out)["delete_files"]
    assert len(listed) == 1 and dv_files(out) == listed

    # (b) a compaction materializes the deletes and retires every vector
    lake_writer.compact_table(spark, out)
    assert not manifest.read_manifest(spark, out).get("delete_files")
    assert dv_files(out) == []
    got = sorted((r.id, r.name) for r in manifest.read_table(spark, out).collect())
    assert got == [(0, "n0"), (1, "a2"), (2, "n2")]

    # (c) retain_history keeps the retired vectors with the old files
    out = str(tmp_path / "c")
    _init(spark, out)
    lake_writer.merge_on_read_incremental(spark, batch, out, ["id"])
    kept = manifest.read_manifest(spark, out)["delete_files"]
    lake_writer.compact_table(spark, out, retain_history=True)
    assert dv_files(out) == kept


def test_retain_history_holds_until_the_next_write_without_it(spark, tmp_path):
    """``retain_history`` keeps the files one commit supersedes; the next
    commit that does not pass it (a merge-on-read batch never does)
    deletes every file its version does not list, so the versions
    before the retaining commit can no longer be read."""
    from pyspark.errors import AnalysisException

    out = str(tmp_path / "t")
    _init(spark, out)
    v_before = manifest.read_manifest(spark, out)["version"]
    lake_writer.compact_table(spark, out, retain_history=True)
    assert manifest.read_table(spark, out, version=v_before).count() == 3
    lake_writer.merge_on_read_incremental(
        spark, _changes(spark, [("U", 1, 1, "a2")]), out, ["id"]
    )
    man = manifest.read_manifest(spark, out)
    assert manifest.list_data_files(spark, out, recursive=True) == man["files"]
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        manifest.read_table(spark, out, version=v_before).count()
    got = sorted((r.id, r.name) for r in manifest.read_table(spark, out).collect())
    assert got == [(0, "n0"), (1, "a2"), (2, "n2")]


def test_scd2_fold_that_writes_nothing_still_commits_its_properties(
    spark, tmp_path
):
    """A fold whose fresh rows close no open version and append no file
    (a delete of an unknown key on a bucketed history) still commits:
    its version records the fold's ``txn`` mark and keeps the bucket
    count, and replaying that batch id commits nothing."""
    out = str(tmp_path / "h")

    def fold(rows, batch_id):
        lake_writer.scd2_merge_on_read(
            spark, spark.createDataFrame(rows, "pk int, v int, op string, seq int"),
            out, ["pk"], seq_col="seq", bucket_partitions=4, txn=("ck", batch_id),
        )

    fold([(1, 10, "I", 1)], 0)
    first = manifest.read_manifest(spark, out)
    fold([(99, None, "D", 5)], 1)
    man = manifest.read_manifest(spark, out)
    assert man["version"] == first["version"] + 1
    assert man["files"] == first["files"]
    assert man["txn"] == {"ck": 1}
    assert man["properties"]["bucket_partitions"] == 4
    assert manifest.read_table(spark, out).count() == 1
    fold([(99, None, "D", 5)], 1)
    assert manifest.read_manifest(spark, out)["version"] == man["version"]


def test_partitioned_mor_compaction_materializes_dvs(spark, tmp_path):
    out = str(tmp_path / "t")
    _pinit(spark, out)
    lake_writer.merge_on_read_incremental(
        spark, _pchanges(spark, [("D", 1, 1, "a", 0), ("U", 1, 4, "b", 41)]),
        out, ["id"],
    )
    before = {(r.id, r.dept, r.v) for r in manifest.read_table(spark, out).collect()}
    lake_writer.compact_table(
        spark, out, stats_cols=["v"]
    )
    man = manifest.read_manifest(spark, out)
    assert not man.get("delete_files")  # DVs materialized + retired
    after = {(r.id, r.dept, r.v) for r in manifest.read_table(spark, out).collect()}
    assert after == before == {(2, "a", 20), (3, "b", 30), (4, "b", 41)}


def test_time_travel_reads_old_versions(spark, tmp_path):
    out = str(tmp_path / "t")
    _init(spark, out)  # v1
    lake_writer.merge_incremental(
        spark, _changes(spark, [("U", 1, 1, "n1b"), ("D", 2, 0, None)]),
        out, ["id"], retain_history=True,
    )  # v2
    lake_writer.merge_incremental(
        spark, _changes(spark, [("I", 1, 9, "n9")]),
        out, ["id"], retain_history=True,
    )  # v3
    assert manifest.list_versions(spark, out) == [1, 2, 3]

    v1 = {(r.id, r.name) for r in manifest.read_table(spark, out, version=1).collect()}
    v2 = {(r.id, r.name) for r in manifest.read_table(spark, out, version=2).collect()}
    v3 = {(r.id, r.name) for r in manifest.read_table(spark, out).collect()}
    assert v1 == {(0, "n0"), (1, "n1"), (2, "n2")}
    assert v2 == {(1, "n1b"), (2, "n2")}
    assert v3 == {(1, "n1b"), (2, "n2"), (9, "n9")}


def test_vacuum_retention_expires_old_versions(spark, tmp_path):
    out = str(tmp_path / "t")
    _init(spark, out)  # v1
    lake_writer.merge_incremental(
        spark, _changes(spark, [("U", 1, 1, "n1b")]),
        out, ["id"], retain_history=True,
    )  # v2
    removed = manifest.vacuum(spark, out, retain_versions=1, grace_seconds=0)
    assert removed  # v1-only files reclaimed
    assert manifest.list_versions(spark, out) == [2]
    # latest still intact
    got = {(r.id, r.name) for r in manifest.read_table(spark, out).collect()}
    assert got == {(0, "n0"), (1, "n1b"), (2, "n2")}
    # expired version no longer readable
    with pytest.raises(Exception):
        manifest.read_table(spark, out, version=1).collect()


def test_vacuum_fails_rather_than_skip_an_unreadable_version(spark, tmp_path, monkeypatch):
    """A retained version whose history entry cannot be read fails the
    vacuum before anything is deleted: skipping it would reclaim the
    files that version still lists."""
    out = str(tmp_path / "t")
    _init(spark, out)  # v1
    lake_writer.merge_incremental(
        spark, _changes(spark, [("U", 1, 1, "n1b")]), out, ["id"], retain_history=True,
    )  # v2
    read_version = manifest.read_version

    def flaky(spark, path, version):
        if version == 1:
            raise OSError("transient read error")
        return read_version(spark, path, version)

    monkeypatch.setattr(manifest, "read_version", flaky)
    with pytest.raises(OSError, match="transient"):
        manifest.vacuum(spark, out, retain_versions=2, grace_seconds=0)
    monkeypatch.undo()
    got = {(r.id, r.name) for r in manifest.read_table(spark, out, version=1).collect()}
    assert got == {(0, "n0"), (1, "n1"), (2, "n2")}


# ---------------------------------------------------------- file skipping

def _init_ranged(spark, path):
    """Three files with disjoint id ranges: [0..9], [100..109], [200..209]."""
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(lo + i, f"n{lo + i}") for i in range(10)], "id long, name string"
        ).coalesce(1)
        lake_writer.merge_incremental(
            spark, df.select(F.lit("I").alias("op"), F.lit(1).alias("_seq"), "id", "name"),
            path, [], stats_cols=["id"],
        )


@pytest.mark.slow
def test_stats_recorded_per_file(spark, tmp_path):
    out = str(tmp_path / "t")
    _init_ranged(spark, out)
    man = manifest.read_manifest(spark, out)
    assert len(man["files"]) == 3
    stats = man["stats"]
    ranges = sorted((s["id"]["min"], s["id"]["max"]) for s in stats.values())
    assert ranges == [(0, 9), (100, 109), (200, 209)]


@pytest.mark.slow
def test_predicate_prunes_files_and_matches_full_scan(spark, tmp_path):
    out = str(tmp_path / "t")
    _init_ranged(spark, out)
    pruned = manifest.read_table(spark, out, predicate=("id", ">=", 200))
    assert len(pruned.inputFiles()) == 1  # two files provably excluded
    expect = {(r.id, r.name) for r in
              manifest.read_table(spark, out).where(F.col("id") >= 200).collect()}
    assert {(r.id, r.name) for r in pruned.collect()} == expect

    eq = manifest.read_table(spark, out, predicate=("id", "=", 105))
    assert len(eq.inputFiles()) == 1
    assert [r.id for r in eq.collect()] == [105]

    # predicate excluded by every file's range -> zero files, empty result
    none = manifest.read_table(spark, out, predicate=("id", ">", 500))
    assert none.count() == 0


def test_predicate_without_stats_reads_everything(spark, tmp_path):
    out = str(tmp_path / "t")
    _init(spark, out)  # committed without stats_cols
    df = manifest.read_table(spark, out, predicate=("id", "=", 1))
    assert len(df.inputFiles()) == 3  # no stats -> no pruning, still correct
    assert [r.id for r in df.collect()] == [1]


def test_stats_survive_cow_merge(spark, tmp_path, open_cost):
    out = str(tmp_path / "t")
    _init_ranged(spark, out)
    # update one key in the middle file; other files' stats must carry over.
    # The batch is file-backed, as the controller reads it, so the merge
    # has a size estimate and coalesces its rewrite.
    _changes(spark, [("U", 2, 105, "upd")]).write.parquet(str(tmp_path / "batch"))
    with open_cost(1):  # the discovery side, which keeps untouched files
        lake_writer.merge_incremental(
            spark, spark.read.parquet(str(tmp_path / "batch")), out, ["id"],
            stats_cols=["id"],
        )
    man = manifest.read_manifest(spark, out)
    assert set(man["files"]) == set(man["stats"])  # every live file has stats
    pruned = manifest.read_table(spark, out, predicate=("id", ">=", 200))
    assert len(pruned.inputFiles()) == 1
    upd = manifest.read_table(spark, out, predicate=("id", "=", 105))
    assert {(r.id, r.name) for r in upd.collect()} == {(105, "upd")}
    # the rewrite may split the impacted file; pruning must still drop
    # every file whose range excludes 105 (the [0..9] and [200..209] ones)
    assert len(upd.inputFiles()) < len(man["files"])


# ------------------------------------------------------- clustered compaction

@pytest.mark.slow
def test_compact_through_manifest_clusters_and_skips(spark, tmp_path):
    out = str(tmp_path / "t")
    # interleaved ids across commits -> every file spans the full range,
    # so pre-compaction stats prune nothing
    for start in (0, 1, 2):
        df = spark.createDataFrame(
            [(start + 3 * i, f"n{start + 3 * i}") for i in range(100)],
            "id long, name string",
        ).coalesce(1)
        lake_writer.merge_incremental(
            spark,
            df.select(F.lit("I").alias("op"), F.lit(1).alias("_seq"), "id", "name"),
            out, [], stats_cols=["id"],
        )
    scrambled = manifest.read_table(spark, out, predicate=("id", "<", 10))
    assert len(scrambled.inputFiles()) == 3  # no skipping possible yet

    lake_writer.compact_table(
        spark, out, target_file_bytes=2048, cluster_by=["id"],
        stats_cols=["id"],
    )
    man = manifest.read_manifest(spark, out)
    assert len(man["files"]) > 1  # genuinely multi-file after compaction
    assert set(man["files"]) == set(man["stats"])
    # data intact
    rows = {(r.id, r.name) for r in manifest.read_table(spark, out).collect()}
    assert rows == {(i, f"n{i}") for i in range(300)}
    # range clustering -> disjoint per-file ranges -> selective read
    # touches a strict subset of files
    pruned = manifest.read_table(spark, out, predicate=("id", "<", 10))
    assert 0 < len(pruned.inputFiles()) < len(man["files"])
    assert {r.id for r in pruned.collect()} == set(range(10))
    # superseded files physically gone (retain_history=False default)
    assert set(manifest.list_data_files(spark, out)) == set(man["files"])


@pytest.mark.slow
def test_compact_manifest_retain_history_time_travels(spark, tmp_path):
    out = str(tmp_path / "t")
    _init_ranged(spark, out)
    v_before = manifest.read_manifest(spark, out)["version"]
    lake_writer.compact_table(
        spark, out, target_file_bytes=1 << 30, cluster_by=["id"],
        stats_cols=["id"], retain_history=True,
    )
    # old version still readable (files retained), new version compacted
    old = manifest.read_table(spark, out, version=v_before)
    assert old.count() == 30
    assert manifest.read_table(spark, out).count() == 30


# ----------------------------------------------- merge-on-read deletes


def test_delete_where_hides_rows_without_rewrites(spark, tmp_path):
    out = str(tmp_path / "t")
    _init(spark, out, n=6)
    files_before = manifest.read_manifest(spark, out)["files"]
    v = manifest.delete_where(spark, out, ("id", ">=", 4))
    man = manifest.read_manifest(spark, out)
    assert man["version"] == v
    assert man["files"] == files_before  # no data file rewritten
    assert man.get("delete_files")
    got = {r.id for r in manifest.read_table(spark, out).collect()}
    assert got == {0, 1, 2, 3}


def test_delete_where_no_matches_keeps_version(spark, tmp_path):
    out = str(tmp_path / "t")
    _init(spark, out, n=3)
    v0 = manifest.read_manifest(spark, out)["version"]
    assert manifest.delete_where(spark, out, ("id", ">", 99)) == v0
    assert not manifest.read_manifest(spark, out).get("delete_files")


def test_append_after_delete_carries_delete_files_forward(spark, tmp_path, open_cost):
    """ADVICE(high): the first commit after a DV-bearing one must not
    silently resurrect positionally-deleted rows."""
    out = str(tmp_path / "t")
    _init(spark, out, n=4)
    manifest.delete_where(spark, out, ("id", "=", 2))
    # insert-only append commit (does not pass delete_files); on the
    # discovery side, which appends an insert-only batch
    with open_cost(1):
        lake_writer.merge_incremental(
            spark, _changes(spark, [("I", 1, 10, "n10")]), out, ["id"],
        )
    man = manifest.read_manifest(spark, out)
    assert man.get("delete_files"), "delete files dropped by append commit"
    got = {r.id for r in manifest.read_table(spark, out).collect()}
    assert got == {0, 1, 3, 10}


def test_cow_merge_after_delete_does_not_resurrect(spark, tmp_path):
    """ADVICE(medium): the COW impacted-file re-read must apply DVs."""
    out = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(6)], "id long, name string"
    ).coalesce(1)  # ONE data file: the merge rewrite hits the DV'd file
    lake_writer.write_initial(df, out)
    manifest.delete_where(spark, out, ("id", "=", 5))
    lake_writer.merge_incremental(
        spark, _changes(spark, [("U", 1, 0, "n0b")]), out, ["id"],
    )
    got = {(r.id, r.name) for r in manifest.read_table(spark, out).collect()}
    assert got == {(0, "n0b"), (1, "n1"), (2, "n2"), (3, "n3"), (4, "n4")}
    # the rewrite materialized the delete; carry-forward pruned the DV
    assert not manifest.read_manifest(spark, out).get("delete_files")


def test_compaction_materializes_deletes_and_prunes_dvs(spark, tmp_path):
    out = str(tmp_path / "t")
    _init(spark, out, n=8)
    manifest.delete_where(spark, out, ("id", "<", 2))
    lake_writer.compact_table(spark, out)
    man = manifest.read_manifest(spark, out)
    assert not man.get("delete_files")
    got = {r.id for r in manifest.read_table(spark, out).collect()}
    assert got == set(range(2, 8))


def test_read_table_with_positions_empty_manifest(spark, tmp_path):
    out = str(tmp_path / "t")
    _init(spark, out, n=2)
    # commit an empty live set (all files rewritten away elsewhere)
    manifest.commit_manifest(spark, out, [], delete_files=[])
    df = manifest.read_table_with_positions(spark, out)
    assert df is not None
    assert manifest.DV_FILE_COL in df.columns
    assert manifest.DV_POS_COL in df.columns
    assert df.count() == 0


def test_delete_where_twice_accumulates(spark, tmp_path):
    out = str(tmp_path / "t")
    _init(spark, out, n=6)
    manifest.delete_where(spark, out, ("id", "=", 0))
    manifest.delete_where(spark, out, ("id", "=", 5))
    got = {r.id for r in manifest.read_table(spark, out).collect()}
    assert got == {1, 2, 3, 4}
    assert len(manifest.read_manifest(spark, out)["delete_files"]) >= 2


def test_zorder_compaction_skips_on_both_columns(spark, tmp_path):
    """Z-order compaction must make manifest min/max skipping effective
    for predicates on EITHER clustered column; lexicographic range
    clustering only serves the first. Same rows, fewer files opened."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer

    out = str(tmp_path / "zt")
    # two independent uniform dimensions, scrambled row order
    rows = [(i, (i * 7919) % 1000, (i * 104729) % 1000) for i in range(4000)]
    df = spark.createDataFrame(rows, "rid long, x long, y long").repartition(8)
    df.write.parquet(out)
    files = manifest.list_data_files(spark, out)
    manifest.commit_manifest(
        spark, out, files,
        stats=manifest.compute_file_stats(spark, out, files, ["x", "y"], df.schema),
    )

    n_files = lake_writer.compact_table(
        spark, out, target_file_bytes=8 * 1024,
        cluster_by=("x", "y"), stats_cols=("x", "y"),
        zorder=True,
    )
    assert n_files >= 4  # enough output files for skipping to be visible

    total = len(manifest.read_table(spark, out).inputFiles())
    for col in ("x", "y"):
        pruned = manifest.read_table(spark, out, predicate=(col, "<", 100))
        assert len(pruned.inputFiles()) < total, f"no skipping on {col}"
        got = sorted(r.rid for r in pruned.where(f"{col} < 100").collect())
        want = sorted(r[0] for r in rows if (r[1] if col == "x" else r[2]) < 100)
        assert got == want  # pruning loses no rows

    # zorder key itself: interleaving is monotone per dimension
    zk = lake_writer.zorder_key(
        spark.createDataFrame(rows, "rid long, x long, y long"), ["x", "y"]
    )
    import pytest

    with pytest.raises(ValueError):
        lake_writer.zorder_key(df, ["x"])


def test_zorder_bit_budget_clamps_and_rejects(spark, tmp_path):
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer

    df = spark.createDataFrame(
        [(i, i % 7, i % 11, i % 13, i % 17, i % 19) for i in range(100)],
        "rid long, a long, b long, c long, d long, e long",
    )
    # 5 columns -> 12 bits each, still a valid key expression
    col = lake_writer.zorder_key(df, ["a", "b", "c", "d", "e"])
    assert df.select(col.alias("z")).count() == 100
    import pytest

    with pytest.raises(ValueError):  # 16 columns -> < 4 bits each
        lake_writer.zorder_key(df, ["a", "b", "c", "d", "e"] * 4)


def test_zorder_partitioned_table_file_count_bounded(spark, tmp_path):
    """zorder on a PARTITIONED table must lead the range clustering
    with the partition keys — otherwise every task writes into every
    partition and file count explodes to tasks x partitions."""
    import glob

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer

    out = str(tmp_path / "pz")
    rows = [((i * 7919) % 1000, (i * 104729) % 1000, f"p{i % 4}") for i in range(4000)]
    df = spark.createDataFrame(rows, "x long, y long, dt string").repartition(8)
    df.write.partitionBy("dt").parquet(out)
    n_files = lake_writer.compact_table(
        spark, out, target_file_bytes=16 * 1024,
        cluster_by=("x", "y"), zorder=True,
    )
    written = glob.glob(f"{out}/dt=*/*.parquet")
    # each task covers a contiguous partition run: ~n_files total files,
    # never the n_files * 4 a naive zk-only clustering would emit
    assert len(written) <= n_files + 4
    assert spark.read.parquet(out).count() == 4000


def test_temporal_prune_date_probe_against_timestamp_stats(spark, tmp_path):
    """A DATE probe against TIMESTAMP stats (and vice versa) must not
    lexically mis-prune — date bounds/probes compare as midnight, the
    same promotion Spark applies to the real filter."""
    import datetime as dt

    out = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, dt.datetime(2026, 8, 14, 0, 0)), (2, dt.datetime(2026, 8, 14, 12, 0))],
        "id long, ts timestamp",
    ).coalesce(1)
    lake_writer.merge_incremental(
        spark, df.select(F.lit("I").alias("op"), F.lit(1).alias("_seq"), "id", "ts"),
        out, [], stats_cols=["ts"],
    )
    # probe with a DATE equal to the file's min day: must keep the file
    kept = manifest.read_table(spark, out, predicate=("ts", "=", dt.date(2026, 8, 14)))
    assert len(kept.inputFiles()) == 1
    # >= the day after: provably excluded
    gone = manifest.read_table(spark, out, predicate=("ts", ">=", dt.date(2026, 8, 15)))
    assert len(gone.inputFiles()) == 0


def test_committed_empty_table_still_readable(spark, tmp_path):
    """A committed-empty version (files=[]) with every data file
    vacuumed must still read as an empty frame in the RECORDED schema —
    raw-directory schema inference has nothing left to infer from."""
    out = str(tmp_path / "t")
    _init(spark, out)  # records schema_json in the manifest
    manifest.commit_manifest(spark, out, [])  # schema carries forward
    manifest.vacuum(spark, out, grace_seconds=0)  # all data files gone
    assert manifest.read_manifest(spark, out)["files"] == []
    empty = manifest.read_table(spark, out)
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "name"}


def test_vacuum_grace_period_spares_fresh_orphans(spark, tmp_path):
    """An unlisted file younger than the grace window must survive — it
    may be an in-flight merge's staged output."""
    out = str(tmp_path / "t")
    _init(spark, out)
    # stage an orphan (simulates append-before-commit of a live merge)
    spark.createDataFrame([(99, "x")], "id long, name string").coalesce(1) \
        .write.mode("append").parquet(out)
    orphans_before = set(manifest.list_data_files(spark, out)) - set(
        manifest.read_manifest(spark, out)["files"]
    )
    assert orphans_before
    assert manifest.vacuum(spark, out, grace_seconds=3600) == []
    assert manifest.vacuum(spark, out, grace_seconds=0)  # explicit opt-out reclaims


def test_partitioned_manifest_additive_evolution(spark, tmp_path):
    """A batch carrying a NEW column merges into a partitioned manifest
    table: older committed files lack the column (typed NULLs on read),
    the manifest schema advances, and time travel still serves v1."""
    out = str(tmp_path / "t")
    _pinit(spark, out)  # v1: (id, dept, v)
    evolved = spark.createDataFrame(
        [("U", 1, 1, "a", 11, "x@y.z")],
        "op string, _seq long, id long, dept string, v long, email string",
    )
    lake_writer.merge_incremental(
        spark, evolved, out, ["id"], partition_keys=["dept"],
        retain_history=True,
    )
    got = {(r.id, r.v, r.email) for r in manifest.read_table(spark, out).collect()}
    assert got == {
        (1, 11, "x@y.z"), (2, 20, None), (3, 30, None), (4, 40, None)
    }
    assert "email" not in manifest.read_table(spark, out, version=1).columns


def test_cas_commit_stale_base_raises(spark, tmp_path):
    """expected_base_version (round-13 ADVICE): a writer working from a
    version the table has already moved past must raise, not clobber."""
    out = str(tmp_path / "cas_stale")
    _init(spark, out)  # v1
    man = manifest.read_manifest(spark, out)
    files = man["files"]
    manifest.commit_manifest(spark, out, files, expected_base_version=1)  # v2
    with pytest.raises(manifest.ConcurrentCommitError, match="advanced"):
        manifest.commit_manifest(spark, out, files, expected_base_version=1)
    assert manifest.read_manifest(spark, out)["version"] == 2


def test_cas_commit_history_create_is_the_atomic_point(spark, tmp_path):
    """Two same-base writers collide on the no-overwrite history create:
    the loser raises BEFORE the LATEST pointer moves, so the winner's
    commit survives — no check-then-commit window at all."""
    out = str(tmp_path / "cas_atomic")
    _init(spark, out)  # v1
    man = manifest.read_manifest(spark, out)
    # simulate the winner: its v2 history entry is already on disk
    # (the pre-check can't see it — LATEST still points at v1)
    jvm = spark._jvm
    hist = jvm.org.apache.hadoop.fs.Path(manifest._history_path(out, 2))
    _, fs = manifest._fs(spark, out)
    hout = fs.create(hist, False)
    hout.write(b"{}")
    hout.close()
    with pytest.raises(manifest.ConcurrentCommitError, match="commit race"):
        manifest.commit_manifest(
            spark, out, man["files"], expected_base_version=1
        )
    assert manifest.read_manifest(spark, out)["version"] == 1


def test_cas_commit_on_fresh_table_base_zero(spark, tmp_path):
    """expected_base_version=0 commits v1 on a table with no manifest."""
    out = str(tmp_path / "cas_fresh")
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    df.coalesce(1).write.parquet(out)
    files = manifest.list_data_files(spark, out)
    v = manifest.commit_manifest(
        spark, out, files, schema_json=df.schema.json(),
        expected_base_version=0,
    )
    assert v == 1
    assert manifest.read_manifest(spark, out)["version"] == 1


def test_deletion_vector_read_runs_no_job(spark, tmp_path):
    """Building a read of a table with a deletion vector runs no Spark
    job: the vectors are read in their fixed schema, not inferred."""
    out = str(tmp_path / "t")
    _init(spark, out)
    manifest.delete_where(spark, out, ("id", "=", 1))
    sc = spark.sparkContext
    for i, build in enumerate((
        lambda: manifest.read_table(spark, out),
        lambda: manifest.read_table_with_positions(spark, out),
    )):
        group = f"dv-read-{i}"
        sc.setJobGroup(group, group)
        try:
            df = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert sorted(r.id for r in df.collect()) == [0, 2]


def _py4j_calls(monkeypatch, fn):
    """py4j round trips ``fn()`` makes, not counting the releases py4j
    sends when Python drops a JVM reference (the collector times those)."""
    from py4j import protocol
    from py4j.java_gateway import GatewayClient

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    send = GatewayClient.send_command
    calls = []

    def counted(self, command, *args, **kwargs):
        calls.append(not command.startswith(release))
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", counted)
        fn()
    return sum(calls)


def test_listing_round_trips_do_not_grow_with_file_count(spark, tmp_path, monkeypatch):
    """A recursive listing of a table partitioned two levels deep costs
    the same py4j round trips for 4 files as for 64: one glob per
    directory level, the paths crossing as one string."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    counts = []
    for n in (4, 64):
        out = str(tmp_path / f"t{n}")
        for i in range(n):
            os.makedirs(f"{out}/a={i % 2}/b={i % 4}", exist_ok=True)
            pq.write_table(pa.table({"id": [i]}), f"{out}/a={i % 2}/b={i % 4}/{i}.parquet")
        assert len(manifest.list_data_files(spark, out, recursive=True)) == n
        counts.append(_py4j_calls(
            monkeypatch, lambda: manifest.list_data_files(spark, out, recursive=True)
        ))
    assert counts[0] == counts[1], counts


def test_listing_names_escaped_and_null_partitions_as_on_disk(spark, tmp_path):
    """The listing names every visible data file by its on-disk relative
    path: partition values Spark escapes (``%`` as ``%25``, ``[`` as
    ``%5B``), spaces and the null partition, under a root with a space;
    hidden files and directories are skipped at every level. A merge
    then finds its impacted file under the same name."""
    import os

    out = str(tmp_path / "a b" / "t")
    rows = [(1, "50%", "x y"), (2, None, "[z]"), (3, "a b", None)]
    spark.createDataFrame(rows, "id long, p string, q string").write.partitionBy(
        "p", "q"
    ).parquet(out)
    os.makedirs(os.path.join(out, "_hidden"))
    open(os.path.join(out, "_hidden", "x.parquet"), "w").close()
    want = []
    for d, dirs, files in os.walk(out):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        want += [
            os.path.relpath(os.path.join(d, f), out)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    got = manifest.list_data_files(spark, out, recursive=True)
    assert got == sorted(want)
    assert {g.split("/")[0] for g in got} == {
        "p=50%25", "p=__HIVE_DEFAULT_PARTITION__", "p=a b"
    }
    assert manifest.list_data_files(spark, out) == []
    lake_writer.merge_incremental(
        spark, _changes(spark, [("U", 1, 1, "b")]).withColumnRenamed("name", "q")
        .withColumn("p", F.lit("50%")), out, ["id"],
    )
    got = sorted(
        (r.id, r.p, r.q) for r in manifest.read_table(spark, out).collect()
    )
    assert got == [(1, "50%", "b"), (2, None, "[z]"), (3, "a b", None)]


def test_txn_marks_commit_with_the_data(spark, tmp_path):
    """Each writer records its ``txn`` mark in its commit, the map is
    carried forward, a replay of a recorded (or earlier) version returns
    without writing, and a commit that carries a mark is made even when
    it changes no file."""
    out = str(tmp_path / "t")
    df = spark.createDataFrame([(0, "n0"), (1, "n1")], "id long, name string")
    lake_writer.write_initial(df, out, txn=("load", 100))
    lake_writer.write_initial(df, out, txn=("load", 99))  # an earlier mark
    assert manifest.read_manifest(spark, out)["version"] == 1

    def keyless(rows, version):
        lake_writer.merge_incremental(
            spark, _changes(spark, rows), out, [], txn=("cdc", version)
        )

    keyless([("I", 1, 2, "n2")], "f1")
    keyless([("I", 1, 2, "n2")], "f1")  # replayed after its commit
    man = manifest.read_manifest(spark, out)
    assert (man["version"], man["txn"]) == (2, {"load": 100, "cdc": "f1"})
    assert sorted(r.id for r in manifest.read_table(spark, out).collect()) == [0, 1, 2]
    # a merge-on-read batch that matches and appends nothing still commits
    lake_writer.merge_on_read_incremental(
        spark, _changes(spark, [("D", 1, 7, None)]), out, ["id"], txn=("mor", 0)
    )
    man = manifest.read_manifest(spark, out)
    assert (man["version"], man["txn"]["mor"]) == (3, 0)
    assert man["txn"]["load"] == 100
    lake_writer.merge_on_read_incremental(
        spark, _changes(spark, [("D", 1, 0, None)]), out, ["id"], txn=("mor", 0)
    )
    assert manifest.read_manifest(spark, out)["version"] == 3
    assert sorted(r.id for r in manifest.read_table(spark, out).collect()) == [0, 1, 2]
