"""CDC merge semantics on hand-built fixtures (reference parity cases)."""

from pyspark.sql import functions as F

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import cdc


def _target(spark):
    return spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        "id long, name string, bal double",
    )


def _changes(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, bal double, op string, seq long")


def test_merge_upsert_delete(spark):
    changes = _changes(
        spark,
        [
            (2, "bob2", 21.0, "U", 1),      # update existing
            (3, None, 0.0, "D", 1),          # delete existing
            (4, "dave", 40.0, "I", 1),       # insert new
        ],
    )
    out = cdc.apply_changes(_target(spark), changes, ["id"], "seq")
    rows = {r.id: r for r in out.collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[2].name == "bob2" and rows[2].bal == 21.0
    assert rows[1].name == "alice"  # untouched passthrough


def test_merge_multi_op_latest_wins(spark):
    changes = _changes(
        spark,
        [
            (2, "bob2", 21.0, "U", 1),
            (2, "bob3", 22.0, "U", 2),   # later op wins
            (4, "dave", 40.0, "I", 1),
            (4, None, 0.0, "D", 2),      # insert then delete → absent
        ],
    )
    out = cdc.apply_changes(_target(spark), changes, ["id"], "seq")
    rows = {r.id: r for r in out.collect()}
    assert rows[2].name == "bob3" and rows[2].bal == 22.0
    assert 4 not in rows


def test_merge_soft_delete_keeps_tombstone(spark):
    changes = _changes(spark, [(3, None, 0.0, "D", 1)])
    out = cdc.apply_changes(_target(spark), changes, ["id"], "seq", soft_delete=True)
    rows = {r.id: r for r in out.collect()}
    assert rows[3].deleted is True
    assert rows[1].deleted is False and rows[2].deleted is False


def test_insert_only_path(spark):
    changes = _changes(
        spark, [(4, "dave", 40.0, "I", 1), (2, "bob2", 21.0, "U", 1)]
    )
    out = cdc.insert_only(changes)
    assert [r.id for r in out.collect()] == [4]


def test_impacted_keys_only_existing(spark):
    changes = _changes(
        spark, [(2, "bob2", 21.0, "U", 1), (99, "zed", 0.0, "I", 1)]
    )
    out = cdc.impacted_keys(_target(spark), changes, ["id"])
    assert [r.id for r in out.collect()] == [2]  # 99 not in target


def test_stamp_initial(spark):
    out = cdc.stamp_initial(_target(spark))
    assert out.where(F.col("op") == "I").count() == 3


def test_merge_no_pruning_same_result(spark):
    changes = _changes(spark, [(2, "bob2", 21.0, "U", 1), (4, "dave", 40.0, "I", 1)])
    pruned = cdc.apply_changes(_target(spark), changes, ["id"], "seq")
    full = cdc.apply_changes(
        _target(spark), changes, ["id"], "seq", prune_with_broadcast=False
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))


def test_merge_paths_agree_on_null_keys(spark):
    """No change row can match a target row whose key is NULL, so both
    merge paths keep every such row — the pruned path through its
    anti-join, the unpruned one although its window groups NULL keys as
    one — and a NULL-key insert lands beside them."""
    target = spark.createDataFrame(
        [(None, "a"), (None, "b"), (1, "c"), (2, "d")], "id long, v string"
    )
    changes = spark.createDataFrame(
        [(1, "c2", "U", 1), (None, "n1", "I", 2)], "id long, v string, op string, seq long"
    )
    want = [(1, "c2"), (2, "d"), (None, "a"), (None, "b"), (None, "n1")]
    for prune in (True, False):
        got = cdc.apply_changes(target, changes, ["id"], "seq", prune_with_broadcast=prune)
        rows = sorted(map(tuple, got.collect()), key=lambda r: (r[0] is None, r[0] or 0, r[1]))
        assert rows == want, (prune, rows)


def test_pruned_merge_reads_the_target_once(spark, tmp_path):
    """Pruned, the window ranks the batch's rows only (a change row
    outranks the target row of its key), so the target is scanned once,
    for the anti-join that keeps its untouched rows."""
    path = str(tmp_path / "target.parquet")
    _target(spark).write.parquet(path)
    changes = _changes(
        spark,
        [(2, "bob2", 21.0, "U", 1), (3, None, 0.0, "D", 2), (4, "dave", 40.0, "I", 1)],
    )
    merged = cdc.apply_changes(spark.read.parquet(path), changes, ["id"], "seq")
    assert merged._jdf.queryExecution().executedPlan().toString().count("FileScan parquet") == 1
    assert sorted(map(tuple, merged.collect())) == [
        (1, "alice", 10.0), (2, "bob2", 21.0), (4, "dave", 40.0)
    ]


def _plan_str(df):
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "extended"
    ).lower()


def _parquet_changes(spark, tmp_path, rows):
    """File-backed change batch: only file sources carry real Catalyst
    size estimates, so only they can trip the broadcast guard — exactly
    the real backfill shape (a parquet landing batch)."""
    path = str(tmp_path / "changes.parquet")
    _changes(spark, rows).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _no_auto_broadcast(spark):
    """Context: disable Catalyst's own size-based auto-broadcast so the
    test observes what OUR hint (or its absence) does. A genuinely huge
    batch exceeds autoBroadcastJoinThreshold anyway; a test-sized one
    doesn't, so Catalyst would (correctly) broadcast it regardless."""
    import contextlib

    @contextlib.contextmanager
    def ctx():
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    return ctx()


def test_huge_batch_falls_back_to_shuffle_join(spark, tmp_path, monkeypatch):
    """A file-backed change batch whose estimated key volume exceeds the
    broadcast threshold must take the shuffled semi/anti join path (no
    FORCED broadcast of the key set) and still produce the identical
    merge result."""
    changes = _parquet_changes(
        spark,
        tmp_path,
        [(2, "bob2", 21.0, "U", 1), (3, None, 0.0, "D", 1), (4, "dave", 40.0, "I", 1)],
    )
    with _no_auto_broadcast(spark):
        small = cdc.apply_changes(_target(spark), changes, ["id"], "seq")
        monkeypatch.setattr(cdc, "BROADCAST_KEYS_MAX_BYTES", 0)
        huge = cdc.apply_changes(_target(spark), changes, ["id"], "seq")
        # default path hint-broadcasts the key set; above-threshold must not
        assert "broadcastexchange" in _plan_str(small)
        assert "broadcastexchange" not in _plan_str(huge)
        # identical merge semantics on both paths
        assert sorted(map(tuple, small.collect())) == sorted(
            map(tuple, huge.collect())
        )


def test_impacted_keys_shuffle_fallback_matches(spark, tmp_path, monkeypatch):
    changes = _parquet_changes(
        spark, tmp_path, [(2, "x", 0.0, "U", 1), (9, "y", 0.0, "I", 1)]
    )
    with _no_auto_broadcast(spark):
        bc = cdc.impacted_keys(_target(spark), changes, ["id"])
        monkeypatch.setattr(cdc, "BROADCAST_KEYS_MAX_BYTES", 0)
        sh = cdc.impacted_keys(_target(spark), changes, ["id"])
        assert "broadcastexchange" in _plan_str(bc)
        assert "broadcastexchange" not in _plan_str(sh)
        assert (
            sorted(r.id for r in bc.collect())
            == sorted(r.id for r in sh.collect())
            == [2]
        )


def test_align_schemas_numeric_widening(spark):
    """allow_widening accepts lossless numeric widenings (DMS ALTER
    COLUMN int->bigint); default stays additive-only; narrowing or
    cross-family changes always raise."""
    import pytest

    t = spark.createDataFrame([(1, 2)], "id long, v int")
    c = spark.createDataFrame(
        [(1, 3, "U", 1)], "id long, v long, op string, seq long"
    )
    with pytest.raises(ValueError):
        cdc.align_schemas(t, c, extra_cols=("op", "seq"))
    t2, c2 = cdc.align_schemas(t, c, extra_cols=("op", "seq"), allow_widening=True)
    assert dict(t2.dtypes)["v"] == "bigint" and dict(c2.dtypes)["v"] == "bigint"
    merged = cdc.apply_changes(t2, c2, ["id"], "seq")
    assert merged.collect()[0].v == 3

    # float -> double widens; int -> double does not (cross-family)
    tf = spark.createDataFrame([(1, 1.5)], "id long, x float")
    cf = spark.createDataFrame([(1, 2.5, "U", 1)], "id long, x double, op string, seq long")
    t3, _ = cdc.align_schemas(tf, cf, extra_cols=("op", "seq"), allow_widening=True)
    assert dict(t3.dtypes)["x"] == "double"
    bad = spark.createDataFrame([(1, 9, "U", 1)], "id long, x int, op string, seq long")
    with pytest.raises(ValueError):
        cdc.align_schemas(tf, bad, extra_cols=("op", "seq"), allow_widening=True)


def test_align_schemas_widens_small_int_types(spark):
    """tinyint/smallint are Spark's simpleString names — the ladder must
    match them (a 'byte'/'short' spelling would make those widenings
    dead and raise despite allow_widening=True)."""
    t = spark.createDataFrame([(1, 2)], "id long, v smallint")
    c = spark.createDataFrame([(1, 3, "U", 1)], "id long, v int, op string, seq long")
    t2, c2 = cdc.align_schemas(t, c, extra_cols=("op", "seq"), allow_widening=True)
    assert dict(t2.dtypes)["v"] == "int" and dict(c2.dtypes)["v"] == "int"
    tb = spark.createDataFrame([(1, 2)], "id long, v tinyint")
    t3, _ = cdc.align_schemas(tb, c, extra_cols=("op", "seq"), allow_widening=True)
    assert dict(t3.dtypes)["v"] == "int"


def test_scd2_history_versions_and_intervals(spark):
    changes = _changes(
        spark,
        [
            (2, "bob2", 21.0, "U", 1),   # bob: v0 -> v1
            (2, "bob3", 22.0, "U", 2),   # bob: v1 -> v2 (current)
            (3, None, 0.0, "D", 1),      # carol: deleted (interval closed, no new version)
            (4, "dave", 40.0, "I", 1),   # dave: inserted (current)
        ],
    )
    out = cdc.scd2_history(_target(spark), changes, ["id"], "seq")
    rows = sorted(
        ((r.id, r.valid_from_seq, r.valid_to_seq, r.is_current) for r in out.collect())
    )
    assert rows == [
        (1, 0, None, True),     # untouched: still current
        (2, 0, 1, False),
        (2, 1, 2, False),
        (2, 2, None, True),
        (3, 0, 1, False),       # closed by the delete; no current version
        (4, 1, None, True),
    ]
    # the D row itself must not appear as a version
    assert out.where(F.col("id") == 3).count() == 1


def test_snapshot_diff_classifies_and_round_trips(spark):
    old = _target(spark)
    new = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 25.0), (4, "dave", 40.0)],
        "id long, name string, bal double",
    )
    diff = cdc.snapshot_diff(old, new, ["id"])
    ops = {r.id: r.op for r in diff.collect()}
    assert ops == {2: "U", 3: "D", 4: "I"}  # id=1 unchanged -> absent
    # U/I rows carry new values, D rows carry the old image
    vals = {r.id: (r.name, r.bal) for r in diff.collect()}
    assert vals[2] == ("bob", 25.0) and vals[3] == ("carol", 30.0)
    # round-trip: applying the diff to old reproduces new exactly
    applied = cdc.apply_changes(
        old, diff.withColumn("seq", F.lit(1)), ["id"], "seq"
    )
    assert sorted(map(tuple, applied.collect())) == sorted(map(tuple, new.collect()))


def test_snapshot_diff_null_safe_change_detection(spark):
    old = spark.createDataFrame([(1, None, 1.0)], "id long, name string, bal double")
    new_same = spark.createDataFrame([(1, None, 1.0)], "id long, name string, bal double")
    new_set = spark.createDataFrame([(1, "x", 1.0)], "id long, name string, bal double")
    assert cdc.snapshot_diff(old, new_same, ["id"]).count() == 0
    d = cdc.snapshot_diff(old, new_set, ["id"]).collect()
    assert len(d) == 1 and d[0].op == "U" and d[0].name == "x"


def test_incremental_agg_matches_recompute_and_chains(spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, grp string, val double",
    )
    state = cdc.grouped_agg_state(base, ["grp"], "val")

    def apply_batch(tbl, state, rows):
        changes = spark.createDataFrame(
            rows, "id long, grp string, val double, op string, seq long"
        )
        merged = cdc.apply_changes(tbl, changes, ["id"], "seq")
        keys = changes.select("id").distinct()
        state = cdc.maintain_grouped_agg(
            state,
            tbl.join(keys, "id", "leftsemi"),
            merged.join(keys, "id", "leftsemi"),
            ["grp"],
            "val",
        )
        return merged, state

    # batch 1: update in group a, delete the only b row (group vanishes),
    # insert a new group c
    tbl, state = apply_batch(
        base, state,
        [(2, "a", 25.0, "U", 1), (3, "b", 0.0, "D", 1), (4, "c", 7.0, "I", 1)],
    )
    # batch 2: move id=1 from group a to group c (update changes the group)
    tbl, state = apply_batch(tbl, state, [(1, "c", 11.0, "U", 1)])

    got = {
        r.grp: (r.n_rows, r.s)
        for r in cdc.agg_state_report(state, ["grp"], "s").collect()
    }
    want = {
        r.grp: (r.n_rows, r.s)
        for r in cdc.agg_state_report(
            cdc.grouped_agg_state(tbl, ["grp"], "val"), ["grp"], "s"
        ).collect()
    }
    assert got == want
    assert "b" not in got  # vanished group dropped, not kept at zero
    assert got["c"] == (2, 18.0)


def test_scd2_history_change_at_seq_zero_deterministic(spark):
    # a change whose seq equals the target sentinel 0 must still sort
    # AFTER the target version (target first, then the change)
    changes = _changes(spark, [(2, "bob0", 20.5, "U", 0)])
    out = cdc.scd2_history(_target(spark), changes, ["id"], "seq")
    rows = sorted(
        (
            (r.id, r.valid_from_seq, r.valid_to_seq, r.is_current, r.name)
            for r in out.where(F.col("id") == 2).collect()
        ),
        key=lambda t: (t[0], t[1], t[2] is None, t[2] or 0),
    )
    assert rows == [(2, 0, 0, False, "bob"), (2, 0, None, True, "bob0")]


def test_incremental_agg_null_group_values(spark):
    base = spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, "b", 30.0)],
        "id long, grp string, val double",
    )
    changes = spark.createDataFrame(
        [(1, None, 15.0, "U", 1)], "id long, grp string, val double, op string, seq long"
    )
    merged = cdc.apply_changes(base, changes, ["id"], "seq")
    keys = changes.select("id").distinct()
    state = cdc.maintain_grouped_agg(
        cdc.grouped_agg_state(base, ["grp"], "val"),
        base.join(keys, "id", "leftsemi"),
        merged.join(keys, "id", "leftsemi"),
        ["grp"],
        "val",
    )
    out = {r.grp: (r.n_rows, r.s) for r in cdc.agg_state_report(state, ["grp"], "s").collect()}
    assert out == {None: (2, 35.0), "b": (1, 30.0)}
