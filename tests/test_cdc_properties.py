"""Property-based CDC merge semantics: apply_changes vs a naive model.

Hypothesis generates arbitrary change batches (any mix of I/U/D, any
number of ops per key, arbitrary seq order); the oracle is a dict replay
of "apply ops in seq order, last op wins". Catches ordering and
tie-break bugs example tests can't enumerate.

Spark-session cost bounds the example count; the strategies are shaped
to hit the interesting overlaps (small key space → frequent multi-op
keys and change-vs-target collisions).
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import cdc

KEYS = st.integers(min_value=0, max_value=7)  # small space → collisions
OPS = st.sampled_from(["I", "U", "D"])


@st.composite
def batches(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    rows = []
    for i in range(n):
        rows.append((draw(KEYS), draw(OPS), i, draw(st.integers(0, 100))))
    # unique seq per key is the DMS contract (file order × row number);
    # global i preserves arrival order as the sequence
    return rows


def model_merge(target: dict[int, int], batch, soft=False):
    """Naive replay: per key, ops in seq order; last op wins."""
    state = dict(target)
    deleted = {}
    by_key: dict[int, list] = {}
    for key, op, seq, val in batch:
        by_key.setdefault(key, []).append((seq, op, val))
    for key, ops in by_key.items():
        seq, op, val = max(ops)  # highest seq is latest
        if op == "D":
            state.pop(key, None)
            deleted[key] = val
        else:
            state[key] = val
            deleted.pop(key, None)
    return state, deleted


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=batches(), target_keys=st.sets(KEYS, max_size=8))
@pytest.mark.slow
def test_apply_changes_matches_model(spark, batch, target_keys):
    target = spark.createDataFrame(
        [(k, 1000 + k) for k in sorted(target_keys)] or [(99, 0)], "pk int, v int"
    )
    if not target_keys:
        target = target.where("pk < 0")
    changes = spark.createDataFrame(
        [(k, v, op, seq) for (k, op, seq, v) in batch], "pk int, v int, op string, seq int"
    )
    got = {
        r.pk: r.v
        for r in cdc.apply_changes(target, changes, ["pk"], "seq").collect()
    }
    expected, _ = model_merge({k: 1000 + k for k in target_keys}, batch)
    assert got == expected


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=batches(), target_keys=st.sets(KEYS, max_size=8))
@pytest.mark.slow
def test_soft_delete_keeps_tombstones(spark, batch, target_keys):
    target = spark.createDataFrame(
        [(k, 1000 + k) for k in sorted(target_keys)] or [(99, 0)], "pk int, v int"
    )
    if not target_keys:
        target = target.where("pk < 0")
    changes = spark.createDataFrame(
        [(k, v, op, seq) for (k, op, seq, v) in batch], "pk int, v int, op string, seq int"
    )
    rows = cdc.apply_changes(
        target, changes, ["pk"], "seq", soft_delete=True
    ).collect()
    live = {r.pk: r.v for r in rows if not r.deleted}
    dead = {r.pk for r in rows if r.deleted}
    expected_live, expected_dead = model_merge(
        {k: 1000 + k for k in target_keys}, batch
    )
    assert live == expected_live
    assert dead == set(expected_dead)  # tombstones survive with flag set
    assert len(rows) == len(set(r.pk for r in rows))  # one row per key

@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=batches(), target_keys=st.sets(KEYS, max_size=8))
@pytest.mark.slow
def test_scd2_versions_match_model(spark, batch, target_keys):
    """SCD2 over an arbitrary op soup: versions = target rows + every
    non-D change; each version's valid_to is the NEXT seq on its key;
    exactly one open version per live key; none for deleted keys."""
    target = spark.createDataFrame(
        [(k, 1000 + k) for k in sorted(target_keys)] or [(99, 0)], "pk int, v int"
    )
    changes = spark.createDataFrame(
        [(k, op, seq + 1, val) for k, op, seq, val in batch],
        "pk int, op string, seq int, v int",
    ).select("pk", "v", "op", "seq")
    out = cdc.scd2_history(target, changes, ["pk"], "seq").collect()

    # model: per key, ordered (seq, op, val) with target at seq 0
    # (the empty-target fixture row is (99, 0), not 1000+k)
    per_key: dict[int, list] = (
        {k: [(0, "I", 1000 + k)] for k in target_keys}
        if target_keys
        else {99: [(0, "I", 0)]}
    )
    for k, op, seq, val in batch:
        per_key.setdefault(k, []).append((seq + 1, op, val))
    want = []
    for k, ops in per_key.items():
        ops.sort()
        for i, (seq, op, val) in enumerate(ops):
            if op == "D":
                continue
            nxt = ops[i + 1][0] if i + 1 < len(ops) else None
            want.append((k, val, seq, nxt, nxt is None))
    got = sorted((r.pk, r.v, r.valid_from_seq, r.valid_to_seq, r.is_current) for r in out)
    assert got == sorted(want)
    # at most one open version per key, and only when the key is live
    open_keys = [k for k, _, _, nxt, cur in want if cur]
    assert len(open_keys) == len(set(open_keys))


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    old_rows=st.dictionaries(KEYS, st.integers(0, 100), max_size=8),
    new_rows=st.dictionaries(KEYS, st.integers(0, 100), max_size=8),
)
@pytest.mark.slow
def test_snapshot_diff_round_trips(spark, old_rows, new_rows):
    """apply_changes(old, snapshot_diff(old, new)) == new, for ANY pair
    of snapshots."""
    old = spark.createDataFrame(
        list(old_rows.items()) or [(99, 0)], "pk int, v int"
    )
    new = spark.createDataFrame(
        list(new_rows.items()) or [(98, 0)], "pk int, v int"
    )
    diff = cdc.snapshot_diff(old, new, ["pk"])
    from pyspark.sql import functions as F

    applied = cdc.apply_changes(old, diff.withColumn("seq", F.lit(1)), ["pk"], "seq")
    assert sorted(map(tuple, applied.collect())) == sorted(map(tuple, new.collect()))
    # ops classify exactly
    ko, kn = set(old_rows or {99: 0}), set(new_rows or {98: 0})
    ops = {r.pk: r.op for r in diff.collect()}
    for k in ko - kn:
        assert ops[k] == "D"
    for k in kn - ko:
        assert ops[k] == "I"


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base_rows=st.dictionaries(KEYS, st.integers(0, 100), min_size=1, max_size=8),
    batch=batches(),
)
@pytest.mark.slow
def test_incremental_agg_equals_recompute(spark, base_rows, batch):
    """Maintained grouped state == from-scratch recompute over the
    merged table, for arbitrary change batches (groups = v % 3 so
    updates MOVE rows between groups)."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(k, v, v % 3) for k, v in base_rows.items()], "pk int, v int, grp int"
    )
    changes = spark.createDataFrame(
        [(k, val, val % 3, op, seq + 1) for k, op, seq, val in batch],
        "pk int, v int, grp int, op string, seq int",
    )
    merged = cdc.apply_changes(base, changes, ["pk"], "seq")
    keys = changes.select("pk").distinct()
    state = cdc.maintain_grouped_agg(
        cdc.grouped_agg_state(base, ["grp"], "v"),
        base.join(keys, "pk", "leftsemi"),
        merged.join(keys, "pk", "leftsemi"),
        ["grp"],
        "v",
    )
    got = sorted(
        map(tuple, cdc.agg_state_report(state, ["grp"], "s").collect())
    )
    want = sorted(
        map(
            tuple,
            cdc.agg_state_report(
                cdc.grouped_agg_state(merged, ["grp"], "v"), ["grp"], "s"
            ).collect(),
        )
    )
    assert got == want


@settings(
    max_examples=10,  # two table writes per example — bound the wall
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=batches(), split=st.integers(0, 12))
@pytest.mark.slow
def test_scd2_merge_on_read_equals_one_shot(spark, tmp_path, batch, split):
    """The incremental MOR history writer (DV + append + manifest
    commit per fold) must land EXACTLY the one-shot scd2_history rows
    for any op soup at any split point — through real table writes."""
    import uuid

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import (
        lake_writer,
        manifest,
    )

    rows = sorted(
        [(k, op, seq + 1, val) for k, op, seq, val in batch], key=lambda r: r[2]
    )
    cut = min(split, len(rows))
    b1, b2 = rows[:cut], rows[cut:]

    def frame(rs):
        return spark.createDataFrame(
            rs or [(0, "U", -1, 0)], "pk int, op string, seq int, v int"
        ).where("seq >= 0").select("pk", "v", "op", "seq")

    empty = frame(rows).drop("op", "seq").limit(0)
    want = sorted(
        map(tuple, cdc.scd2_history(empty, frame(rows), ["pk"], "seq").collect())
    )
    out = str(tmp_path / f"h_{uuid.uuid4().hex[:8]}")
    for piece in (b1, b2):
        if piece:
            lake_writer.scd2_merge_on_read(
                spark, frame(piece), out, ["pk"], seq_col="seq"
            )
    got = sorted(map(tuple, manifest.read_table(spark, out).collect())) if rows else []
    assert got == want

def test_scd2_merge_on_read_bucket_count_guards(spark, tmp_path):
    """The PK-hash bucket layout is fixed at creation: the count is
    recorded in the manifest and a fold with a different count (which
    would prune to the WRONG buckets and silently corrupt the history)
    raises; so does passing bucket_partitions on a non-bucketed table
    (pruning would silently not apply)."""
    import pytest

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import (
        lake_writer,
        manifest,
    )

    def frame(rs):
        return spark.createDataFrame(rs, "pk int, v int, op string, seq int")

    out = str(tmp_path / "hist_bucketed")
    lake_writer.scd2_merge_on_read(
        spark, frame([(1, 10, "I", 1)]), out, ["pk"],
        seq_col="seq", bucket_partitions=8,
    )
    man = manifest.read_manifest(spark, out)
    assert man["properties"]["bucket_partitions"] == 8
    with pytest.raises(ValueError, match="bucket_partitions=8"):
        lake_writer.scd2_merge_on_read(
            spark, frame([(1, 11, "U", 2)]), out, ["pk"],
            seq_col="seq", bucket_partitions=4,
        )
    # the recorded count still folds, and the property survives the commit
    lake_writer.scd2_merge_on_read(
        spark, frame([(1, 11, "U", 2)]), out, ["pk"],
        seq_col="seq", bucket_partitions=8,
    )
    man2 = manifest.read_manifest(spark, out)
    assert man2["properties"]["bucket_partitions"] == 8
    got = sorted(map(tuple, manifest.read_table(spark, out).collect()))
    assert len(got) == 2  # closed v=10 + open v=11

    out2 = str(tmp_path / "hist_flat")
    lake_writer.scd2_merge_on_read(
        spark, frame([(1, 10, "I", 1)]), out2, ["pk"], seq_col="seq"
    )
    with pytest.raises(ValueError, match="not bucket-partitioned"):
        lake_writer.scd2_merge_on_read(
            spark, frame([(1, 11, "U", 2)]), out2, ["pk"],
            seq_col="seq", bucket_partitions=8,
        )

@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=batches(), split=st.integers(0, 12))
@pytest.mark.slow
def test_scd2_merge_on_read_txn_folds_equal_one_shot(spark, tmp_path, batch, split):
    """Folds that carry a ``txn`` batch id (the stream's shape: every
    batch after the first skips the per-key guard scan) land exactly
    the one-shot rows at any split, and replaying any batch id is a
    no-op that commits no version."""
    import uuid

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import (
        lake_writer,
        manifest,
    )

    rows = sorted(
        [(k, op, seq + 1, val) for k, op, seq, val in batch], key=lambda r: r[2]
    )
    cut = min(split, len(rows))
    pieces = [p for p in (rows[:cut], rows[cut:]) if p]

    def frame(rs):
        return spark.createDataFrame(
            rs, "pk int, op string, seq int, v int"
        ).select("pk", "v", "op", "seq")

    empty = frame(rows).drop("op", "seq").limit(0)
    want = sorted(
        map(tuple, cdc.scd2_history(empty, frame(rows), ["pk"], "seq").collect())
    )
    out = str(tmp_path / f"hm_{uuid.uuid4().hex[:8]}")

    def fold(batch_id):
        lake_writer.scd2_merge_on_read(
            spark, frame(pieces[batch_id]), out, ["pk"], seq_col="seq",
            txn=("stream", batch_id),
        )

    for batch_id in range(len(pieces)):
        fold(batch_id)
    man = manifest.read_manifest(spark, out)
    for batch_id in range(len(pieces)):
        fold(batch_id)
    assert manifest.read_manifest(spark, out)["version"] == man["version"]
    assert man["txn"] == {"stream": len(pieces) - 1}
    assert sorted(map(tuple, manifest.read_table(spark, out).collect())) == want


def test_scd2_monotonic_straddling_batch_falls_back_exact(spark, tmp_path):
    """A fold with no ``txn`` entry of its own (a direct caller beside a
    stream) runs the exact per-key guard: a batch that straddles the
    committed history — one seq already applied, others new, one of
    them below the committed maximum — folds exactly, and replaying it
    no-ops. The stream's mark is carried forward untouched."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import (
        lake_writer,
        manifest,
    )

    def frame(rs):
        return spark.createDataFrame(rs, "pk int, v int, op string, seq int")

    out = str(tmp_path / "hist_straddle")
    lake_writer.scd2_merge_on_read(
        spark, frame([(1, 10, "I", 1), (2, 20, "I", 5)]), out, ["pk"],
        seq_col="seq", txn=("stream", 0),
    )
    straddle = [(2, 20, "I", 5), (3, 30, "I", 3), (1, 11, "U", 7)]
    lake_writer.scd2_merge_on_read(spark, frame(straddle), out, ["pk"], seq_col="seq")
    got = {
        (r.pk, r.v): (r.valid_from_seq, r.valid_to_seq, r.is_current)
        for r in manifest.read_table(spark, out).collect()
    }
    assert got == {
        (1, 10): (1, 7, False),
        (1, 11): (7, None, True),
        (2, 20): (5, None, True),  # applied once, not twice
        (3, 30): (3, None, True),  # below the committed maximum, new
    }
    man = manifest.read_manifest(spark, out)
    assert man["txn"] == {"stream": 0}
    lake_writer.scd2_merge_on_read(spark, frame(straddle), out, ["pk"], seq_col="seq")
    assert manifest.read_manifest(spark, out)["version"] == man["version"]


def test_scd2_fold_after_a_recorded_batch_skips_the_guard_scan(
    spark, tmp_path, monkeypatch
):
    """Only a fold whose app id has an earlier batch recorded skips the
    per-key guard (``cdc.scd2_fresh_changes``); the first fold of an app
    id runs it, and the history equals the one-shot fold either way."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import (
        lake_writer,
        manifest,
    )

    def frame(rs):
        return spark.createDataFrame(rs, "pk int, v int, op string, seq int")

    guarded = []
    real = cdc.scd2_fresh_changes

    def counted(*a, **kw):
        guarded.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(cdc, "scd2_fresh_changes", counted)
    out = str(tmp_path / "hist_txn")
    batches = [
        [(1, 10, "I", 1), (2, 20, "I", 2)],
        [(1, 11, "U", 3), (3, 30, "I", 4)],
        [(2, None, "D", 5), (1, 12, "U", 6)],
    ]
    lake_writer.scd2_merge_on_read(
        spark, frame(batches[0]), out, ["pk"], seq_col="seq", txn=("a", 0)
    )
    lake_writer.scd2_merge_on_read(
        spark, frame(batches[1]), out, ["pk"], seq_col="seq", txn=("a", 1)
    )
    assert guarded == []
    lake_writer.scd2_merge_on_read(
        spark, frame(batches[2]), out, ["pk"], seq_col="seq", txn=("b", 0)
    )
    assert guarded == [1]
    assert manifest.read_manifest(spark, out)["txn"] == {"a": 1, "b": 0}
    log = frame([r for b in batches for r in b])
    want = cdc.scd2_history(log.drop("op", "seq").limit(0), log, ["pk"], "seq")
    got = manifest.read_table(spark, out)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
