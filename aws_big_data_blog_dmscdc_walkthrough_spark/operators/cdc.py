"""CDC change-application operators (the engine's core).

Spark-first re-expression of the reference incremental merge
(/root/reference/DMSCDC_LoadIncremental.py:41-87) and initial load
(/root/reference/DMSCDC_LoadInitial.py:27-38):

- a change batch is a DataFrame carrying the full row image plus an op
  column (``I``/``U``/``D``, reference README "Op") and a monotonically
  increasing sequence column (the reference orders by the DMS file name
  ``sortpath`` + per-file ``rownum``; any orderable column works here);
- ``apply_changes`` merges a batch into a target with latest-wins
  upsert/delete semantics, exactly the reference's
  ``rank() over (partition by pk order by sortpath desc, rownum desc) = 1
  and Op != 'D'`` rule (DMSCDC_LoadIncremental.py:71-73);
- instead of the reference's driver-side ``collect()`` of impacted file
  names and ``coalesce(1)`` single-file rewrite, the merge splits the
  target with a *broadcast anti-join* on the batch's keys: only the
  batch's rows enter the window shuffle (a change row outranks the
  target row it replaces); untouched rows are unioned back untouched
  (and, in the lake-write path, never rewritten). At 100 TB this is the
  difference between shuffling the change batch (MBs..GBs) and
  shuffling the whole table.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

OP_COL = "op"
OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"

# Change batches are normally tiny next to the target, so broadcasting
# their keys is the right default — but a backfill / bulk-reload batch
# with 10^8+ PKs would OOM the driver if broadcast unconditionally. Above
# this estimated size the key joins fall back to a plain shuffled
# semi/anti join (AQE still converts back to broadcast at runtime if the
# key set turns out small).
# The key frames are the RAW key multiset (``changes.select(*pks)``, no
# distinct: semi/anti joins ignore duplicates), so a batch with many ops
# per key broadcasts each key once per op. That is bounded by the
# batch's row count, and the guard below already sees it: Catalyst's
# size estimate is the pre-distinct one either way (size-only stats do
# not shrink through an Aggregate).
BROADCAST_KEYS_MAX_BYTES = 64 << 20

# Catalyst reports spark.sql.defaultSizeInBytes (Long.MaxValue, possibly
# scaled down by projections) for plans with no real statistics source —
# local/RDD-backed frames. Anything above this sentinel is a placeholder,
# not a measurement.
_UNKNOWN_SIZE_SENTINEL = 1 << 59


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for a frame (file-scan bytes propagated
    through the plan) — no job is run. ``None`` when unavailable.

    Reads the ANALYZED plan's stats, not the optimized plan's: the
    size-only stats visitor propagates the same file-scan bytes through
    either, but the optimizer pass costs ~10 ms of driver time per call
    (measured: identical estimates, 6× cheaper) — and this probe runs
    on every keyed lake merge: the key broadcast guard here, and the
    file sizing of the batch, the table and the rewrite
    (:func:`_coalesce_to_open_cost`).
    Where the two could differ (optimizer-pruned subtrees) the analyzed
    estimate is LARGER, i.e. conservative: it declines a borderline
    broadcast rather than risking driver OOM (AQE still re-broadcasts
    at runtime if the built side turns out small), and it sizes a
    rewrite to more files, never fewer."""
    try:
        return int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 - estimate only; caller degrades safely
        return None


def _open_cost_tasks(df: DataFrame) -> int | None:
    """ceil(Catalyst's size estimate / ``spark.sql.files.openCostInBytes``):
    the tasks a write of ``df`` is sized to, so that no task emits a file
    smaller than what the scan planner charges every later reader to
    open one. ``None`` for frames with no real estimate (placeholder
    stats)."""
    est = _plan_size_bytes(df)
    if est is None or est >= _UNKNOWN_SIZE_SENTINEL:
        return None
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return max(1, -(-est // conf.filesOpenCostInBytes()))


def _coalesce_to_open_cost(df: DataFrame) -> DataFrame:
    """Cap ``df`` at one task per ``openCostInBytes`` of its estimate
    (:func:`_open_cost_tasks`). A frame that fits in one task becomes
    ``SinglePartition``, which satisfies every clustered distribution: a
    window or aggregate over it (or over a union of such frames) plans no
    ``Exchange``, so it runs in the job that consumes it.

    ``coalesce`` never adds a shuffle or raises the partition count: a
    frame larger than ``openCost × upstream tasks`` keeps its plan
    unchanged. Frames with no real estimate are returned as they are."""
    n = _open_cost_tasks(df)
    return df if n is None else df.coalesce(n)


def _maybe_broadcast(keys: DataFrame) -> DataFrame:
    """Broadcast-hint ``keys`` only when it is safe.

    File-backed batches (the real CDC/backfill path) carry true size
    estimates: above ``BROADCAST_KEYS_MAX_BYTES`` (read per call) the
    plain frame is returned and the join shuffles instead of OOMing the
    driver. Frames with no
    statistics source (placeholder estimate) already originate
    driver-side (createDataFrame/RDD), so broadcasting them adds no new
    driver exposure — keep the hint.
    """
    est = _plan_size_bytes(keys)
    if est is None or est >= _UNKNOWN_SIZE_SENTINEL or est <= BROADCAST_KEYS_MAX_BYTES:
        return F.broadcast(keys)
    return keys


def stamp_initial(df: DataFrame, op_col: str = OP_COL) -> DataFrame:
    """Add ``op='I'`` to a full load for parity with incremental batches.

    Mirrors DMSCDC_LoadInitial.py:31 (``withColumn("Op", lit("I"))``).
    """
    return df.withColumn(op_col, F.lit(OP_INSERT))


def latest_changes(
    changes: DataFrame, primary_keys: Sequence[str], seq_col: str
) -> DataFrame:
    """Collapse a batch to the final operation per key (latest-wins)."""
    window = Window.partitionBy(*primary_keys).orderBy(F.col(seq_col).desc())
    return (
        changes.withColumn("_rn", F.row_number().over(window))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def insert_only(changes: DataFrame, op_col: str = OP_COL) -> DataFrame:
    """No-PK / first-load path: apply inserts only.

    Mirrors DMSCDC_LoadIncremental.py:57 (``filter(inputfile.Op=='I')``).
    """
    return changes.where(F.col(op_col) == OP_INSERT)


def impacted_keys(
    target: DataFrame,
    changes: DataFrame,
    primary_keys: Sequence[str],
    prune_keys: DataFrame | None = None,
) -> DataFrame:
    """Distinct change keys that exist in the target.

    The scalable analogue of the reference's impacted-file discovery
    (DMSCDC_LoadIncremental.py:68-70, inner join + ``collect()``): a
    left-semi join, nothing on the driver. The key side is broadcast
    only while Catalyst's size estimate stays under
    ``BROADCAST_KEYS_MAX_BYTES`` — a bulk-reload batch takes the shuffled
    semi-join instead of OOMing the driver.

    ``prune_keys`` mirrors :func:`apply_changes`: a caller that already
    holds (and size-guarded) the change-key frame passes it in and the
    probe side is used as given — the semi-join result is insensitive to
    duplicate keys, so the frame need not be distinct.
    """
    keys = (
        prune_keys
        if prune_keys is not None
        else _maybe_broadcast(changes.select(*primary_keys))
    )
    return (
        target.join(keys, list(primary_keys), "left_semi")
        .select(*primary_keys)
        .distinct()
    )


# lossless numeric widening ladders (the type changes DMS emits for
# ALTER COLUMN widenings); anything else is a breaking change.
# Names are Spark's DataType.simpleString() forms — ByteType prints
# "tinyint" and ShortType "smallint", not "byte"/"short".
_WIDENING_LADDERS = (
    ("tinyint", "smallint", "int", "bigint"),
    ("float", "double"),
)


def _widened(a: str, b: str) -> str | None:
    """The wider of two simple type names if one losslessly contains
    the other, else None."""
    for ladder in _WIDENING_LADDERS:
        if a in ladder and b in ladder:
            return ladder[max(ladder.index(a), ladder.index(b))]
    return None


def _type_change(name: str, old, new, allow_widening: bool) -> ValueError:
    return ValueError(
        f"column {name!r} changed type {old} → {new}; CDC schema evolution "
        "is additive-only"
        + ("" if allow_widening else " (lossless numeric widening: allow_widening=True)")
    )


def evolved_schema(
    table: StructType, frame: StructType, extra_cols: Sequence[str] = ()
) -> StructType:
    """The schema ``align_schemas`` widens both sides to, from the
    schemas alone: ``table``'s columns, then ``frame``'s new ones as
    nullable columns (``extra_cols`` skipped). A type change raises, as
    there; nullability is not part of a type here."""
    have = {f.name: f.dataType for f in table}
    added = []
    for f in frame:
        if f.name in extra_cols:
            continue
        if f.name not in have:
            added.append(StructField(f.name, f.dataType, True, f.metadata))
        elif have[f.name].simpleString() != f.dataType.simpleString():
            raise _type_change(f.name, have[f.name], f.dataType, False)
    return StructType([*table, *added])


def align_schemas(
    target: DataFrame,
    changes: DataFrame,
    extra_cols: Sequence[str] = (),
    allow_widening: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Widen both sides to the union of their columns (schema evolution).

    DMS emits new columns when the source table is ALTERed; the reference
    silently breaks on them (its unionAll at DMSCDC_LoadIncremental.py:67
    is positional). Here either side gains any missing column as typed
    NULLs — additive evolution by default; a type CHANGE on an existing
    column raises, because silently casting CDC data corrupts the lake.

    ``allow_widening=True`` additionally accepts LOSSLESS numeric
    widenings (byte→short→int→bigint, float→double — what DMS emits for
    ALTER COLUMN widenings) by casting the narrower side up. The lake
    write path keeps this OFF: parquet footer merging cannot reconcile
    mixed physical widths across files, so widening a stored table needs
    a full rewrite (compact_table) — the flag serves in-memory
    ``apply_changes`` users and pre-rewrite migrations.

    ``extra_cols`` names change-batch bookkeeping columns (op/seq) that
    should never be added to the target.
    """
    skip = set(extra_cols)
    t_fields = {f.name: f.dataType for f in target.schema.fields}
    c_fields = {
        f.name: f.dataType for f in changes.schema.fields if f.name not in skip
    }
    for name in t_fields.keys() & c_fields.keys():
        if t_fields[name] != c_fields[name]:
            wide = (
                _widened(
                    t_fields[name].simpleString(), c_fields[name].simpleString()
                )
                if allow_widening
                else None
            )
            if wide is None:
                raise _type_change(name, t_fields[name], c_fields[name], allow_widening)
            if t_fields[name].simpleString() != wide:
                target = target.withColumn(name, F.col(name).cast(wide))
            if c_fields[name].simpleString() != wide:
                changes = changes.withColumn(name, F.col(name).cast(wide))
    for name, dtype in c_fields.items():
        if name not in t_fields:
            target = target.withColumn(name, F.lit(None).cast(dtype))
    for name, dtype in t_fields.items():
        if name not in c_fields:
            changes = changes.withColumn(name, F.lit(None).cast(dtype))
    return target, changes


def merge_parts(
    target: DataFrame,
    changes: DataFrame,
    primary_keys: Sequence[str],
    seq_col: str,
    op_col: str = OP_COL,
    prune_with_broadcast: bool = True,
    prune_keys: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None, DataFrame]:
    """The merge's internal frames, for consumers that don't need the
    full merged table: ``(survivors, untouched, impacted)``.

    ``survivors`` is the latest-wins winner per key the batch mentions
    (target data columns + ``_op`` — delete tombstones still present,
    callers filter); ``untouched`` is the target rows whose keys the
    batch never mentions (``None`` when pruning is off — the window then
    saw the whole target and ``survivors`` is already the full merge);
    ``impacted`` is the pre-merge target rows for the batch's keys.
    ``apply_changes`` = survivors (minus/flagging deletes) ∪ untouched;
    a snapshot diff or an incremental-agg delta needs only
    (impacted, survivors) — exposing the parts lets those consumers
    skip the untouched anti-join + union entirely.

    Pruned (``prune_with_broadcast``), the window ranks the batch's rows
    only: every impacted key has a change row, and a change row always
    outranks the target row, so no target row can win and the target
    side of the window would be dead weight (a second scan of the
    target plus its share of the window shuffle). ``impacted`` stays a
    lazy frame that only the callers reading it execute. Unpruned, the
    target's rows rank with the batch's, as the reference does; a
    target row whose key has a NULL survives on both paths, since no
    change row can match it.

    ``prune_keys``, when given, must be exactly the batch's keys
    (``changes.select(*primary_keys)``, duplicates allowed, size-guarded
    as :func:`_maybe_broadcast` does): a superset would drop untouched
    rows whose key has no change row, a subset would keep a target row
    beside its replacement.
    """
    pks = list(primary_keys)
    data_cols = list(target.columns)
    change_cols = set(changes.columns)
    missing = [c for c in data_cols if c not in change_cols]
    if missing:
        raise ValueError(f"changes missing target columns: {missing}")

    if prune_with_broadcast:
        # no .distinct() on the key frame: semi/anti joins are
        # duplicate-insensitive, so the distinct bought nothing but a
        # full shuffle + two aggregate passes of the key set per merge
        # (Catalyst's size estimate for the broadcast guard is the same
        # either way — size-only stats don't shrink through Aggregate)
        keys = (
            prune_keys
            if prune_keys is not None
            else _maybe_broadcast(changes.select(*pks))
        )
        impacted = target.join(keys, pks, "left_semi")
        untouched = target.join(keys, pks, "left_anti")
    else:
        impacted, untouched = target, None

    ranked = changes.select(
        *data_cols,
        F.col(op_col).alias("_op"),
        F.lit(1).alias("_src"),
        F.col(seq_col).alias("_seq"),
    )
    if not prune_with_broadcast:
        ranked = ranked.unionByName(impacted.select(
            *data_cols,
            F.lit("T").alias("_op"),
            F.lit(0).alias("_src"),
            F.lit(None).cast(ranked.schema["_seq"].dataType).alias("_seq"),
        ))

    window = Window.partitionBy(*pks).orderBy(
        F.col("_src").desc(), F.col("_seq").desc_nulls_last()
    )
    keep = F.col("_rnk") == 1
    if not prune_with_broadcast:
        # the window groups NULL keys as one key, but no change row can
        # match a target row whose key has a NULL (the pruned path's
        # anti-join keeps them all): every such target row survives
        keep = keep | (
            (F.col("_src") == 0)
            & functools.reduce(operator.or_, [F.col(k).isNull() for k in pks])
        )
    survivors = (
        ranked.withColumn("_rnk", F.row_number().over(window)).where(keep)
    )
    return survivors, untouched, impacted


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    primary_keys: Sequence[str],
    seq_col: str,
    op_col: str = OP_COL,
    soft_delete: bool = False,
    deleted_col: str = "deleted",
    prune_with_broadcast: bool = True,
    prune_keys: DataFrame | None = None,
) -> DataFrame:
    """Merge a change batch into a target: latest-wins upsert + delete.

    Semantics (DMSCDC_LoadIncremental.py:60-73):
      * multiple ops per key in one batch → highest ``seq_col`` wins;
      * a change beats the existing target row for the same key;
      * final op ``D`` removes the row (or flags it when ``soft_delete``);
      * keys untouched by the batch pass through unchanged.

    ``changes`` must contain every target column plus ``op_col`` and
    ``seq_col`` (full row images, as DMS emits). Output schema = target
    schema (+ ``deleted_col`` when ``soft_delete``).

    Scale: with ``prune_with_broadcast`` the window shuffle sees only
    the batch's rows (:func:`merge_parts`: a change row outranks every
    target row of its key); target rows bypass the window shuffle and,
    through the broadcast anti-join, the join shuffle too. The key
    set is broadcast only while Catalyst estimates it under
    ``BROADCAST_KEYS_MAX_BYTES`` — a huge backfill batch degrades to a
    shuffled semi/anti join instead of OOMing the driver (AQE may still
    re-broadcast at runtime if the key set turns out small).

    ``prune_keys`` lets a caller that already built (and size-guarded)
    the change-key frame pass it in, skipping the second driver-side
    stats probe — the lake merge path computes the same frame for
    impacted-file discovery. It must be exactly the batch's keys
    (:func:`merge_parts`).
    """
    pks = list(primary_keys)
    data_cols = list(target.columns)
    survivors, untouched, _ = merge_parts(
        target,
        changes,
        pks,
        seq_col,
        op_col=op_col,
        prune_with_broadcast=prune_with_broadcast,
        prune_keys=prune_keys,
    )

    if soft_delete:
        merged = survivors.select(
            *data_cols, (F.col("_op") == OP_DELETE).alias(deleted_col)
        )
        if untouched is not None:
            merged = merged.unionByName(
                untouched.select(*data_cols, F.lit(False).alias(deleted_col))
            )
    else:
        merged = survivors.where(F.col("_op") != OP_DELETE).select(*data_cols)
        if untouched is not None:
            merged = merged.unionByName(untouched.select(*data_cols))
    return merged


def scd2_history(
    target: DataFrame,
    changes: DataFrame,
    pks: Sequence[str],
    seq_col: str,
    op_col: str = OP_COL,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 history from a CDC change batch.

    The classic *consumer* of the reference's change stream: instead of
    folding changes into a latest-state table (``apply_changes``,
    DMSCDC_LoadIncremental.py:60-73), keep EVERY version of every key
    with its validity interval. The target's current rows are version 0
    (the initial load, DMSCDC_LoadInitial.py:31 stamps them ``I``);
    each ``I``/``U`` change opens a new version; any later change on the
    same key — including a delete — closes the previous one.

    Semantics (``seq_col`` must strictly order a key's changes — the
    reference's ``sortpath``+``rownum`` pair collapsed to one orderable
    column; collapse same-seq ties with ``latest_changes`` first):

    - output rows are versions: target rows plus ``I``/``U`` changes
      (``D`` rows close intervals but are not themselves versions);
    - ``valid_from_seq`` = the version's own sequence (0 for target);
    - ``valid_to_seq``   = the NEXT change's sequence on that key, or
      NULL while the version is still open;
    - ``is_current``     = open interval (deleted keys have none).

    Plan shape: one union + one window shuffle on the PK — identical to
    the merge's shuffle footprint, so everything said about merge scale
    (impacted pruning, AQE skew handling) applies unchanged.
    """
    pks = list(pks)
    data_cols = target.columns
    seq_type = changes.schema[seq_col].dataType
    # _scd2_-prefixed internals: plain _op/_seq would collide with a
    # change batch that carries same-named DATA columns (the streaming
    # landing shape does)
    tgt = target.select(
        *data_cols,
        F.lit(OP_INSERT).alias("_scd2_op"),
        F.lit(0).cast(seq_type).alias("_scd2_seq"),
        F.lit(0).alias("_scd2_src"),
    )
    chg = changes.select(
        *data_cols,
        F.col(op_col).alias("_scd2_op"),
        F.col(seq_col).cast(seq_type).alias("_scd2_seq"),
        F.lit(1).alias("_scd2_src"),
    )
    # secondary _scd2_src key: a change batch whose first seq equals the
    # target's sentinel 0 would otherwise tie, and post-shuffle tie
    # order is nondeterministic — the target row must sort first
    window = Window.partitionBy(*pks).orderBy(
        F.col("_scd2_seq").asc(), F.col("_scd2_src").asc()
    )
    versions = (
        tgt.unionByName(chg)
        .withColumn("_scd2_next", F.lead("_scd2_seq").over(window))
        .where(F.col("_scd2_op") != OP_DELETE)
    )
    return versions.select(
        *data_cols,
        F.col("_scd2_seq").alias("valid_from_seq"),
        F.col("_scd2_next").alias("valid_to_seq"),
        F.col("_scd2_next").isNull().alias("is_current"),
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, pks: Sequence[str]
) -> DataFrame:
    """Derive a CDC change set by diffing two table snapshots.

    The inverse of ``apply_changes``: when a source can't emit a change
    stream (no DMS, no binlog), periodic full snapshots are the fallback
    and the diff IS the change batch — ``I`` for keys only in ``new``,
    ``D`` for keys only in ``old``, ``U`` for keys in both whose
    non-key columns differ (null-safe comparison, column by column).
    Unchanged keys produce no row. Feeding the output (with any
    monotonic seq) back through ``apply_changes(old, ...)`` reproduces
    ``new`` exactly — the round-trip test and the DuckDB oracle both
    lean on that identity.

    Plan shape: one full outer join on the PK — two table-sized shuffles
    (or fewer: bucketed/partitioned snapshots co-locate for free), never
    a pairwise comparison. Row values come from ``new`` for ``I``/``U``
    and from ``old`` for ``D``, so downstream merge consumers always see
    the freshest full row image.
    """
    pks = list(pks)
    data_cols = old.columns
    if [c for c in new.columns] != data_cols:
        raise ValueError(
            f"snapshot_diff: snapshots must share a schema; "
            f"old={data_cols} new={new.columns}"
        )
    attrs = [c for c in data_cols if c not in pks]
    o = old.select([F.col(c).alias(f"_o_{c}") for c in data_cols])
    n = new.select([F.col(c).alias(f"_n_{c}") for c in data_cols])
    cond = None
    for k in pks:
        eq = o[f"_o_{k}"] == n[f"_n_{k}"]
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    in_old = F.col(f"_o_{pks[0]}").isNotNull()
    in_new = F.col(f"_n_{pks[0]}").isNotNull()
    changed = F.lit(False)
    for c in attrs:
        changed = changed | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    op = (
        F.when(~in_old, F.lit(OP_INSERT))
        .when(~in_new, F.lit(OP_DELETE))
        .when(changed, F.lit(OP_UPDATE))
    )
    picked = [
        F.when(in_new, F.col(f"_n_{c}")).otherwise(F.col(f"_o_{c}")).alias(c)
        for c in data_cols
    ]
    return (
        joined.withColumn("_diff_op", op)
        .where(F.col("_diff_op").isNotNull())
        .select(*picked, F.col("_diff_op").alias(OP_COL))
    )


# ------------------------------------- incremental agg maintenance (#94)
#
# Materialized-view maintenance from CDC deltas: a grouped rollup over a
# 100 TB fact table must not be recomputed because a merge touched 0.1%
# of its keys. Counts and DECIMAL sums are self-inverse under +/-, so
# the delta contributed by a change batch is agg(new impacted rows)
# MINUS agg(old impacted rows) — both batch-sized — and folding it into
# the stored state is one group-keyed join. Decimal arithmetic keeps
# the maintained state EXACTLY equal to a from-scratch recompute
# (floating-point sums would drift with fold order); the public recipe
# is standard incremental view maintenance (Gupta & Mumick 1995 survey,
# "Maintenance of Materialized Views: Problems, Techniques, and
# Applications", IEEE Data Eng. Bulletin).

_AGG_DEC = "decimal(30,10)"
_AGG_STATE_DEC = "decimal(32,10)"


def grouped_agg_state(
    df: DataFrame, group_cols: Sequence[str], measure: str
) -> DataFrame:
    """Initial maintained state: per-group row count + exact decimal sum."""
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        # sum(decimal(30,10)) widens to (38,10); pin the STATE type at
        # (32,10) so state+delta addition never hits Spark's precision
        # cap (38) and silently sheds a scale digit
        F.sum(F.col(measure).cast(_AGG_DEC)).cast(_AGG_STATE_DEC).alias("_sum"),
    )


def maintain_grouped_agg(
    prev_state: DataFrame,
    old_rows: DataFrame,
    new_rows: DataFrame,
    group_cols: Sequence[str],
    measure: str,
) -> DataFrame:
    """Fold one merge's impacted rows into a maintained grouped agg.

    ``old_rows`` = the impacted target rows BEFORE the merge (the frame
    the merge's pruning join already isolates), ``new_rows`` = those
    keys' surviving rows AFTER (inserts included, deleted keys absent).
    Never touches unimpacted data: the delta union is batch-sized and
    the fold is one outer join on the group key against state that has
    one row per group. Groups whose count reaches zero are dropped —
    the maintained frame stays identical to ``grouped_agg_state`` over
    the merged table, exactly (decimal, not float, arithmetic).
    """
    group_cols = list(group_cols)
    pos = new_rows.select(
        *group_cols,
        F.col(measure).cast(_AGG_DEC).alias("_m"),
        F.lit(1).cast("long").alias("_c"),
    )
    neg = old_rows.select(
        *group_cols,
        (-F.col(measure)).cast(_AGG_DEC).alias("_m"),
        F.lit(-1).cast("long").alias("_c"),
    )
    delta = (
        pos.unionByName(neg)
        .groupBy(*group_cols)
        .agg(
            F.sum("_m").cast(_AGG_STATE_DEC).alias("_dm"),
            F.sum("_c").alias("_dc"),
        )
    )
    zero_sum = F.lit(0).cast(prev_state.schema["_sum"].dataType)
    # null-safe equi-join: a NULL group value is a legitimate group
    # (GROUP BY treats NULLs as one group); a name-list join would
    # never match it and double-count the group instead
    cond = None
    for g in group_cols:
        eq = prev_state[g].eqNullSafe(delta[g])
        cond = eq if cond is None else cond & eq
    merged = (
        prev_state.join(delta, cond, "full_outer")
        .select(
            *[F.coalesce(prev_state[g], delta[g]).alias(g) for g in group_cols],
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("_dc"), F.lit(0))
            ).alias("n_rows"),
            (
                F.coalesce(F.col("_sum"), zero_sum)
                + F.coalesce(F.col("_dm"), zero_sum)
            ).cast(_AGG_STATE_DEC).alias("_sum"),
        )
        .where(F.col("n_rows") > 0)
    )
    return merged


def agg_state_report(state: DataFrame, group_cols: Sequence[str], sum_alias: str) -> DataFrame:
    """Present maintained state: exact decimal state → one double cast."""
    return state.select(
        *group_cols,
        F.col("n_rows"),
        F.col("_sum").cast("double").alias(sum_alias),
    )


def scd2_fresh_changes(
    history: DataFrame,
    changes: DataFrame,
    pks: Sequence[str],
    seq_col: str,
) -> DataFrame:
    """The not-yet-recorded subset of ``changes``: what makes an SCD2
    fold (``lake_writer.scd2_merge_on_read``) replay-safe.

    A restarted foreachBatch loop re-delivers its last micro-batch; an
    unguarded fold would then close the open version at a seq BEFORE its
    own valid_from and duplicate versions. Every applied change leaves
    its seq in the history — as a version's ``valid_from_seq`` (I/U) or
    as the ``valid_to_seq`` it closed (D) — so filtering the batch to
    seqs STRICTLY ABOVE the key's high-water mark makes a full replay a
    no-op and a fresh batch pass through untouched. One history-keyed
    aggregate + one linear join, both on the PK. Callers that pay a
    table rewrite per fold (the streaming history mode) skip the write
    entirely when a replayed batch leaves nothing fresh.
    """
    pks = list(pks)
    hmax = history.groupBy(*pks).agg(
        F.max(
            F.greatest(
                F.col("valid_from_seq"),
                F.coalesce(F.col("valid_to_seq"), F.col("valid_from_seq")),
            )
        ).alias("_hmax")
    )
    return (
        changes.join(hmax, pks, "left")
        .where(F.col("_hmax").isNull() | (F.col(seq_col) > F.col("_hmax")))
        .drop("_hmax")
    )
