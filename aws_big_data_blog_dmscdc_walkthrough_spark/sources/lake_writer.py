"""Lake writes: full load, incremental merge, copy-on-write.

Reference behavior being re-expressed:
  * the full load overwrites the target in place, optionally
    partitioned, after counting distinct partitions just to pick a
    repartition factor (DMSCDC_LoadInitial.py:31-37) — here it is one
    more commit that supersedes every live file, and the scan's split
    planner sizes the write (a scan→write has no shuffle to coalesce);
  * incremental merge rewrites ONLY the data-lake files containing
    changed keys, then deletes them with boto3 and appends replacements
    with coalesce(1) (DMSCDC_LoadIncremental.py:68-87).

Every write commits through one protocol (``_commit_write``): append
the new files beside the live ones (and stage any position deletes),
commit the new live-file list as the next ``_mmanifest.json`` version
(sources/manifest.py), then delete every listed data file that version
does not reference. Manifest readers see exactly one version at every
point; the raw directory, which ``catalog.register_table`` exposes,
holds exactly the live files after every commit, so a crashed attempt's
orphans go with the next commit. A table with no manifest yet (a plain
``df.write`` directory) is adopted on its first write from its directory
listing.

A write called with ``txn=(app_id, version)`` records that mark in its
commit (``manifest.commit_manifest``). A write whose snapshot already
records that version, or a later one, for the app id returns without
writing, and a commit that carries a mark is made even when it changes
no file: a caller's progress commits with the data, so a replayed batch
is a no-op.

The partition layout is the table's, not the caller's: every write
appends in the keys the manifest records (or, for a directory not yet
adopted, the ``k=v`` levels its files sit under). Only a write that
creates the table, or one that supersedes every live file (a reload, a
compaction), sets them; a merge or an append called with other keys
keeps the recorded layout.

Every read of the table uses the schema its manifest records
(``manifest.table_schema``). A commit that keeps any live file records
that schema widened by the written frame's new columns; a type change
raises before anything is appended (``cdc.evolved_schema``, the
``cdc.align_schemas`` rule). A commit that supersedes every live file (a
reload, a compaction) records the frame's schema.

Scale-correct replacement:
  * every keyed merge, partitioned or not: FILE-level copy-on-write
    matching the reference (DMSCDC_LoadIncremental.py:64-87). A table
    whose live files fit in one rewrite task (one
    ``spark.sql.files.openCostInBytes`` of Catalyst's size estimate)
    is rewritten whole: its rows rank together with the batch, as the
    reference's union-and-rank does, in the one Spark job that writes
    them. Above that size, tag target rows with ``input_file_name()``,
    broadcast-semi-join on the batch's keys to find impacted files,
    merge only those files' rows, append the rewritten survivors as new
    files, commit, then delete the superseded files: untouched files
    are never read in full, never rewritten. Discovery by PK, not by
    the batch's partition values, is what catches an update that MOVES
    a row across partitions and a partition whose rows are all deleted
    (it loses its files and its directory). The only driver
    materialization is the impacted-file list (bounded by files
    actually containing changed keys — the same list the reference's
    boto3 loop holds). The rewrite coalesces to one task per open cost
    of its estimate (``cdc._coalesce_to_open_cost``) instead of the
    reference's coalesce(1): a small rewrite writes one file per table
    or touched partition, a large one keeps its parallelism, and no
    shuffle is added.
"""

from __future__ import annotations

from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from ..operators import cdc
from . import manifest as manifest_mod


def write_initial(
    df: DataFrame,
    out_path: str,
    partition_keys: Sequence[str] = (),
    stats_cols: Sequence[str] = (),
    retain_history: bool = False,
    txn: tuple[str, object] | None = None,
) -> None:
    """Full load (DMSCDC_LoadInitial.py:31-37) as one more commit
    (``_commit_write``) that supersedes every live file. Manifest readers
    see a complete version even if the reload crashes; the raw directory
    (the catalog table) converges at the next commit. The history goes
    on, the reload's ``partition_keys`` are recorded (the layout may
    change), sidecars such as ``_change_feed`` are untouched, and
    ``retain_history`` keeps the superseded files, as a merge does.

    No data file carries the reference's ``Op`` column: the table schema
    is the load's columns through every later merge. ``stats_cols``
    records per-file min/max for ``manifest.read_table`` file skipping.
    """
    spark = df.sparkSession
    snap = _snapshot(spark, out_path)
    if _applied(snap, txn):
        return
    _commit_write(
        spark, df, out_path, snap, partition_keys, superseded=set(snap.live),
        stats_cols=stats_cols, retain_history=retain_history, txn=txn,
    )


def merge_incremental(
    spark: SparkSession,
    changes: DataFrame,
    out_path: str,
    primary_keys: Sequence[str],
    partition_keys: Sequence[str] = (),
    seq_col: str = "_seq",
    op_col: str = cdc.OP_COL,
    retain_history: bool = False,
    stats_cols: Sequence[str] = (),
    change_feed: bool = False,
    txn: tuple[str, object] | None = None,
) -> None:
    """Apply a change batch to the lake table at ``out_path`` as one
    manifest commit (``_commit_write``).

    No primary keys, or no live target → insert-only append
    (DMSCDC_LoadIncremental.py:56-58). Otherwise latest-wins merge with
    file-level copy-on-write (``_merge_cow``; one version spans every
    touched partition). ``partition_keys`` lays out only a table with no
    live files; afterwards the recorded layout wins.
    ``retain_history`` KEEPS the superseded files on disk so earlier
    commits stay readable via ``manifest.read_table(path, version=N)``
    until ``manifest.vacuum`` reclaims them or a later write without it
    deletes them (Delta/Iceberg-style time travel, minimal form).

    ``change_feed`` publishes the collapsed batch (latest row image per
    key, ``op`` kept so deletes are visible tombstones; a keyless batch's
    inserts) in the same commit, as the version's feed files
    (``_commit_write``'s ``feed``; read with ``read_change_feed``).

    A keyed batch is coalesced to one task per open cost of its
    estimate (``cdc._coalesce_to_open_cost``): a batch that fits in one
    task is one partition, so the windows that rank it shuffle nothing.
    A keyless batch, which no window ranks, appends as it was read.
    """
    if primary_keys:
        changes = cdc._coalesce_to_open_cost(changes)
    feed = None
    if change_feed:
        for col in (op_col, *((seq_col,) if primary_keys else ())):
            if col not in changes.columns:
                raise ValueError(f"change batch missing required column {col!r}")
        feed = (
            cdc.latest_changes(changes, primary_keys, seq_col)
            if primary_keys
            else cdc.insert_only(changes, op_col)
        ).drop(seq_col)
    snap = _snapshot(spark, out_path)
    if _applied(snap, txn):
        return
    if primary_keys and snap.live:
        _merge_cow(
            spark, changes, out_path, primary_keys, seq_col, op_col, snap,
            retain_history, stats_cols, feed, txn,
        )
        return
    if primary_keys:
        # deliberate improvement over the reference's first-load shortcut
        # (DMSCDC_LoadIncremental.py:56-58 keeps only Op='I', silently
        # dropping a later update of a key inserted in the same batch):
        # merge against an empty target — latest op per key, minus deletes
        collapsed = cdc.latest_changes(changes, primary_keys, seq_col)
        out = collapsed.where(F.col(op_col) != cdc.OP_DELETE)
    else:
        out = cdc.insert_only(changes, op_col)
    _commit_write(
        spark, out.drop(op_col, seq_col), out_path, snap,
        None if snap.live else partition_keys,
        stats_cols=stats_cols, retain_history=retain_history, feed=feed, txn=txn,
    )


def merge_on_read_incremental(
    spark: SparkSession,
    changes: DataFrame,
    out_path: str,
    primary_keys: Sequence[str],
    seq_col: str = "_seq",
    op_col: str = cdc.OP_COL,
    partition_keys: Sequence[str] = (),
    txn: tuple[str, object] | None = None,
) -> None:
    """Merge-on-read apply: position-delete the superseded rows, append
    the new row images, commit one manifest version — NO data-file
    rewrite (Iceberg-v2 MOR shape, built on the #66 DV machinery).

    Per-batch cost: one column-pruned scan of the live files (pk +
    row address only) to find superseded rows, a DV file bounded by
    matched-row count, and an append of the batch's survivors — versus
    copy-on-write's full rewrite of every impacted file. The steady-state
    shape for high-frequency micro-batch CDC; read amplification (the DV
    anti-join on every read) grows until a scheduled ``compact_table``
    pass materializes the deletes and retires the DVs.

    Idempotent under replay: a retried batch position-deletes the copy
    its first attempt appended and appends an identical one.

    Partitioned tables work the same way: DVs address files by their
    manifest-relative path, survivors append in the recorded layout, and
    the single manifest commit (``_commit_write``) spans every touched
    partition. A crashed attempt's appended files go with that commit.
    ``partition_keys`` lays out only a table this call creates.
    """
    pks = list(primary_keys)
    if not pks:
        raise ValueError(
            "merge-on-read needs primary keys; append-only tables have "
            "nothing to supersede — use merge_incremental"
        )
    collapsed = cdc.latest_changes(changes, pks, seq_col)
    survivors = collapsed.where(F.col(op_col) != cdc.OP_DELETE).drop(op_col, seq_col)

    snap = _snapshot(spark, out_path)
    if _applied(snap, txn):
        return
    if not snap.live:
        _commit_write(spark, survivors, out_path, snap, partition_keys, txn=txn)
        return
    if snap.manifest is None:
        raise ValueError(
            f"{out_path} has no manifest; merge-on-read requires a "
            "manifest-committed table (any lake_writer write commits one)"
        )
    keys = cdc._maybe_broadcast(collapsed.select(*pks).distinct())
    positions = manifest_mod.read_table_with_positions(spark, out_path).select(
        *pks, manifest_mod.DV_FILE_COL, manifest_mod.DV_POS_COL
    )
    hits = positions.join(keys, pks, "left_semi")
    _commit_write(spark, survivors, out_path, snap, deletes=hits, txn=txn)


PK_BUCKET_COL = "pk_bucket"


def _pk_bucket_expr(primary_keys: Sequence[str], n_buckets: int):
    """Deterministic PK→bucket partition value. Derived from the key
    alone, so every version of a key lands in one partition directory —
    what lets the SCD2 history prune reads AND bound rewrites by the
    batch's buckets."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in primary_keys]), F.lit(n_buckets)
    ).cast("int")


def scd2_merge_on_read(
    spark: SparkSession,
    changes: DataFrame,
    out_path: str,
    primary_keys: Sequence[str],
    seq_col: str = "_seq",
    op_col: str = cdc.OP_COL,
    bucket_partitions: int | None = None,
    txn: tuple[str, object] | None = None,
) -> None:
    """Incremental SCD2 history maintenance with O(batch) writes.

    The history-table twin of :func:`merge_on_read_incremental`, with
    no full-table rewrite per micro-batch: a history table only ever
    GROWS, and the only rows a batch can modify are the impacted keys'
    OPEN versions (closed versions are immutable by construction). So
    each fold writes exactly

      * one position-delete file over the superseded open rows,
      * one append holding their closed replacements (``valid_to_seq``
        stamped, ``is_current`` false) plus the batch's new versions,
      * one manifest commit making both visible atomically.

    No data file is ever rewritten — per-batch write volume is bounded
    by the batch, never by the table. Read via ``manifest.read_table``
    (the DV anti-join hides superseded open rows); a scheduled
    ``compact_table`` pass materializes accumulated
    DVs so read amplification stays bounded.

    ``bucket_partitions=N`` partitions the history by a deterministic
    hash bucket of the primary key (``_pk_bucket``): all versions of a
    key co-locate, so both the replay-guard scan and the open-version
    lookup prune to the batch's buckets (an ``isin`` partition filter),
    and compaction can proceed partition-by-partition. Pass the SAME
    value on every call for a given table — the bucket of an appended
    row must match the creation-time layout (guarded below).

    Replay-safe (``scd2_fresh_changes`` drops already-recorded seqs),
    and crash-safe the MOR way: nothing is visible before the manifest
    commit, so a retry either re-runs the whole fold (crash before
    commit — the first attempt's unlisted files go with the retry's
    commit) or no-ops (crash after).

    ``txn=(app_id, version)`` commits the caller's mark with the fold,
    and a fold whose version the table already records returns without
    writing. A fold whose app id has an EARLIER version recorded skips
    the per-key guard scan: its batch is all fresh, because the caller
    replays by version (Structured Streaming re-runs a batch id over the
    same files) and each table has one writer, so its only history read
    is the impacted open-version pass. A fold with no recorded entry (a
    direct caller, the first fold after an upgrade) runs the exact
    guard.

    Plan-shape note: a guarded fold scans the live table TWICE — a
    column-pruned pass (pk + the two seqs) for the replay guard and a
    full-width pass for the impacted open versions. Fusing them into
    one persisted semi-join slice was tried and MEASURED WORSE on the
    update-heavy bench (0.45× → 0.38× of COW): caching the full-width
    slice costs more than the second scan saves, because the guard's
    pass reads three thin columns while the cache materializes every
    column. Columnar pruning beats scan fusion here — keep two passes.
    """
    pks = list(primary_keys)
    if not pks:
        raise ValueError("SCD2 history needs primary keys")
    part_keys = [PK_BUCKET_COL] if bucket_partitions else []

    snap = _snapshot(spark, out_path)
    if _applied(snap, txn):
        return
    if not snap.live:
        empty_target = changes.drop(op_col, seq_col).limit(0)
        folded = cdc.scd2_history(empty_target, changes, pks, seq_col, op_col)
        props = None
        if bucket_partitions:
            folded = folded.withColumn(
                PK_BUCKET_COL, _pk_bucket_expr(pks, bucket_partitions)
            )
            props = {"bucket_partitions": int(bucket_partitions)}
        _commit_write(
            spark, folded, out_path, snap, part_keys, properties=props, txn=txn
        )
        return

    man = snap.manifest
    if man is None:
        raise ValueError(
            f"{out_path} has no manifest; the incremental SCD2 history "
            "requires manifest-committed tables (write the first batch "
            "through this function)"
        )
    bucketed = PK_BUCKET_COL in snap.partition_keys
    if bucketed and not bucket_partitions:
        raise ValueError(
            f"{out_path} is bucket-partitioned; pass the same "
            "bucket_partitions used at creation"
        )
    if bucket_partitions and not bucketed:
        raise ValueError(
            f"{out_path} is not bucket-partitioned, but "
            f"bucket_partitions={bucket_partitions} was passed — pruning "
            "would silently not apply; drop the argument (or rebuild the "
            "history bucketed)"
        )
    props = None
    if bucketed:
        # layout invariant: the bucket of an appended row must match the
        # creation-time hash layout, or old open versions become
        # invisible to the pruned scans (never closed; replay guard
        # misses their seqs). The count is recorded in the manifest at
        # creation; a legacy manifest without it gets it backfilled on
        # this fold's commit.
        props = dict(man.get("properties") or {})
        recorded = props.get("bucket_partitions")
        if recorded is not None and int(recorded) != int(bucket_partitions):
            raise ValueError(
                f"{out_path} was created with bucket_partitions="
                f"{recorded}; this fold passed {bucket_partitions}. The "
                "PK-hash layout is fixed at creation — pass the recorded "
                "value (or rewrite the history to re-bucket)"
            )
        props["bucket_partitions"] = int(bucket_partitions)

    changes = changes.persist(StorageLevel.MEMORY_AND_DISK)
    live = manifest_mod.read_table_with_positions(spark, out_path)
    # additive schema evolution, same contract as the latest-state
    # merges: a batch may carry columns the history lacks (source ALTER
    # TABLE) — widen both sides with typed NULLs so old versions read
    # back NULL and new versions carry the value; a type CHANGE raises
    # (cdc.align_schemas). The widened schema reaches the manifest via
    # the commit below; narrower files read the new columns as NULL.
    meta_cols = {
        "valid_from_seq", "valid_to_seq", "is_current",
        manifest_mod.DV_FILE_COL, manifest_mod.DV_POS_COL, PK_BUCKET_COL,
    }
    data_now = live.select(*[c for c in live.columns if c not in meta_cols])
    _widened, changes = cdc.align_schemas(
        data_now, changes, extra_cols=(op_col, seq_col)
    )
    for c in changes.columns:
        if c not in (op_col, seq_col) and c not in live.columns:
            live = live.withColumn(
                c, F.lit(None).cast(changes.schema[c].dataType)
            )
    if bucketed:
        # bucket values derive from the batch's keys: a bounded isin
        # list (≤ n_buckets) that turns both scans below into
        # partition-pruned reads
        buckets = [
            r["b"]
            for r in changes.select(
                _pk_bucket_expr(pks, bucket_partitions).alias("b")
            )
            .distinct()
            .collect()
        ]
        live = live.where(F.col(PK_BUCKET_COL).isin(buckets))
    # replay guard: a batch after a version the caller already recorded
    # is all fresh (see docstring); any other batch takes the exact
    # per-key guard (column-pruned scan: pk + the two seqs)
    guard_skip = _txn_seen(snap, txn) is not None
    fresh = (
        changes
        if guard_skip
        else cdc.scd2_fresh_changes(live, changes, pks, seq_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    open_rows = None
    try:
        if not guard_skip and fresh.isEmpty():
            # full replay after a committed fold: no-op
            return
        fresh_keys = cdc._maybe_broadcast(fresh.select(*pks).distinct())
        open_rows = (
            live.where(F.col("is_current"))
            .join(fresh_keys, pks, "left_semi")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        first_seq = fresh.groupBy(*pks).agg(
            F.min(F.col(seq_col)).alias("_close_seq")
        )
        vt_type = open_rows.schema["valid_to_seq"].dataType
        drop_cols = [manifest_mod.DV_FILE_COL, manifest_mod.DV_POS_COL]
        if bucketed:
            drop_cols.append(PK_BUCKET_COL)  # recomputed on append
        closed = (
            open_rows.drop(*drop_cols)
            .join(first_seq, pks, "left")
            .withColumn("valid_to_seq", F.col("_close_seq").cast(vt_type))
            .withColumn("is_current", F.lit(False))
            .drop("_close_seq")
        )
        # scd2_history over an empty target emits exactly the batch's
        # own versions (chained valid_from/valid_to within the batch),
        # as in the first fold above
        new_versions = cdc.scd2_history(
            fresh.drop(op_col, seq_col).limit(0), fresh, pks, seq_col, op_col
        )
        appended = closed.unionByName(new_versions)
        if bucketed:
            appended = appended.withColumn(
                PK_BUCKET_COL, _pk_bucket_expr(pks, bucket_partitions)
            )
        _commit_write(
            spark, appended, out_path, snap, properties=props,
            deletes=open_rows, txn=txn,
        )
    finally:
        fresh.unpersist()
        changes.unpersist()
        if open_rows is not None:
            open_rows.unpersist()


class _Snapshot(NamedTuple):
    """A table before a write: its committed manifest (None before the
    first commit), every listed data file, the live files — the
    manifest's list, or the whole listing for a table not yet adopted —
    the table schema (None before the table has data or a commit) and
    its partition keys (``manifest.partition_keys``)."""

    manifest: dict | None
    listed: set[str]
    live: list[str]
    schema: StructType | None
    partition_keys: list[str]


def _snapshot(spark: SparkSession, out_path: str) -> _Snapshot:
    man = manifest_mod.read_manifest(spark, out_path)
    listed = set(manifest_mod.list_data_files(spark, out_path, recursive=True))
    live = man["files"] if man else sorted(listed)
    if not (man or live):
        return _Snapshot(man, listed, live, None, [])
    return _Snapshot(
        man, listed, live, manifest_mod.table_schema(spark, out_path, man),
        manifest_mod.partition_keys(spark, out_path, man, live),
    )


def _txn_seen(snap: _Snapshot, txn: tuple[str, object] | None):
    """The version ``snap`` records for ``txn``'s app id (None: none)."""
    return ((snap.manifest or {}).get("txn") or {}).get(txn[0]) if txn else None


def _applied(snap: _Snapshot, txn: tuple[str, object] | None) -> bool:
    """Whether ``snap`` already records ``txn``'s version, or a later
    one, for its app id: that write committed, and its replay is a no-op."""
    seen = _txn_seen(snap, txn)
    return seen is not None and seen >= txn[1]


def delete_unlisted(spark: SparkSession, out_path: str) -> None:
    """Finish a commit whose delete step did not run: delete every data
    file in the table directory that the committed version does not list
    (``_commit_write``'s last step). A crash between a commit and its
    delete leaves those files until the table's next commit; a caller
    that knows no commit is coming (the controller, for a table whose
    last pass stopped after committing) finishes it here."""
    snap = _snapshot(spark, out_path)
    if snap.manifest is not None:
        manifest_mod.delete_data_files(spark, out_path, snap.listed.difference(snap.live))


def _commit_write(
    spark: SparkSession,
    df: DataFrame,
    out_path: str,
    snap: _Snapshot,
    partition_keys: Sequence[str] | None = None,
    superseded: set[str] = frozenset(),
    stats_cols: Sequence[str] = (),
    retain_history: bool = False,
    properties: dict | None = None,
    deletes: DataFrame | None = None,
    feed: DataFrame | None = None,
    txn: tuple[str, object] | None = None,
) -> None:
    """The one commit protocol: append ``df`` beside the live files,
    commit (live − ``superseded``) + the appended files as the next
    manifest version, then — unless ``retain_history`` — delete every
    listed data file the new version does not reference, including
    files an earlier ``retain_history`` commit kept: history is kept
    only until the next commit without it (merge-on-read batches and
    SCD2 folds never pass it). When the previous version listed a
    deletion vector or this commit stages one, it also deletes every
    ``_deletes/`` file the new version does not list: a crashed
    attempt's staged vector and the vectors a rewrite retired.

    ``df`` is written in the table's layout, ``snap.partition_keys``.
    ``partition_keys`` sets the layout instead; only a write that
    creates the table or supersedes every live file passes them.

    ``deletes`` (rows addressed by ``_dv_file``/``_dv_pos``) are staged
    as a deletion vector under ``_deletes/``, and the version carries
    the previous delete files plus the new one. A persisted ``deletes``
    (an SCD2 fold's open rows, which its append also reads) is staged
    while ``df`` appends, so the two writes overlap on the scheduler;
    an unpersisted one (a merge-on-read batch's position scan) shares
    nothing with the append and is staged first. Each choice measured
    faster on its own stream (stream_bench.py's sparse-update streams
    at sf0.1, 4 cores, medians of 3 alternating runs: SCD2 48.9 s
    overlapped vs 65.7 s serial; merge-on-read 15.1 s serial vs 21.1 s
    overlapped). ``list_data_files`` skips ``_deletes/``, so a staged
    deletion vector is never taken for an appended data file. A
    ``deletes`` version that would add neither a data file nor a delete
    file and sets no ``properties`` or ``txn`` (an empty merge-on-read
    batch from a caller that records no mark) would equal the previous
    one, and is not committed.

    ``txn`` (app id, version) is recorded in the version's ``txn`` map
    (``manifest.commit_manifest``), so the caller's progress commits
    with the data.

    ``feed`` (a merge's collapsed change rows) is written after the
    append, with mode ``overwrite``, to ``_change_feed/version=N/``,
    where N is the version this commit creates, and that version lists
    the files as its ``feed_files``: a feed batch is a table version. A
    crashed attempt's feed files sit at the N its retry overwrites, and
    no committed version lists them.

    A crash before the commit leaves the old version live and the
    appended files unlisted; a crash after it leaves the superseded
    files unlisted. Either way the next commit's delete removes them,
    so the raw directory converges to the live set without ``vacuum``.
    That delete, and numbering the feed from the snapshot's version,
    rely on one writer per table (the controller's per-table thread):
    another writer's staged, not yet committed files would look
    unreferenced.

    A version that keeps a live file keeps the table schema, widened by
    ``df``'s new columns; a type change raises before the append. A
    version that supersedes every live file records ``df``'s schema.
    """
    keys = snap.partition_keys if partition_keys is None else list(partition_keys)
    live = [f for f in snap.live if f not in superseded]
    schema = cdc.evolved_schema(snap.schema, df.schema) if live else df.schema
    writer = df.write.mode("append")
    if keys:
        writer = writer.partitionBy(*keys)
    delete_files = dv_targets = None
    added_dv = []
    if deletes is None:
        writer.parquet(out_path)
    else:
        with ThreadPoolExecutor(max_workers=1) as ex:
            staged = ex.submit(
                manifest_mod.stage_deletion_vectors, spark, out_path, deletes
            )
            if not deletes.is_cached:
                staged.result()  # nothing shared with the append: stage first
            writer.parquet(out_path)
            added_dv, dv_targets = staged.result()
        delete_files = snap.manifest.get("delete_files", []) + added_dv
    after = manifest_mod.list_data_files(spark, out_path, recursive=True)
    added = [f for f in after if f not in snap.listed]
    if deletes is not None and properties is None and txn is None and not (
        added or dv_targets
    ):
        return
    feed_files = None
    if feed is not None:
        name = f"version={(snap.manifest or {}).get('version', 0) + 1}"
        feed_dir = f"{out_path.rstrip('/')}/{manifest_mod.CHANGE_FEED_DIR}/{name}"
        feed.write.mode("overwrite").parquet(feed_dir)
        feed_files = [f"{name}/{f}" for f in manifest_mod.list_data_files(spark, feed_dir)]
    live += added
    stats = manifest_mod.stats_for_commit(
        spark, out_path, live, list(stats_cols), snap.manifest, schema=schema
    )
    manifest_mod.commit_manifest(
        spark, out_path, live, stats=stats, delete_files=delete_files,
        dv_targets=dv_targets, schema_json=schema.json(), partition_keys=keys,
        properties=properties, feed_files=feed_files, txn=txn,
    )
    if not retain_history:
        manifest_mod.delete_data_files(spark, out_path, set(after).difference(live))
        if added_dv or (snap.manifest or {}).get("delete_files"):
            if delete_files is None:  # carried forward, pruned by the commit
                delete_files = manifest_mod.read_manifest(spark, out_path).get(
                    "delete_files", []
                )
            dv_dir = f"{out_path.rstrip('/')}/{manifest_mod.DELETES_DIR}"
            manifest_mod.delete_data_files(
                spark, dv_dir,
                set(manifest_mod.list_data_files(spark, dv_dir)).difference(delete_files),
            )


def _merge_cow(
    spark: SparkSession,
    changes: DataFrame,
    out_path: str,
    primary_keys: Sequence[str],
    seq_col: str,
    op_col: str,
    snap: _Snapshot,
    retain_history: bool,
    stats_cols: Sequence[str],
    feed: DataFrame | None,
    txn: tuple[str, object] | None,
) -> None:
    """File-level copy-on-write (DMSCDC_LoadIncremental.py:64-87), the
    one keyed merge for a table with live files, partitioned or not.

    A table whose live files fit in one rewrite task (Catalyst's
    estimate at most ``spark.sql.files.openCostInBytes``, the bound
    ``cdc._coalesce_to_open_cost`` sizes every rewrite by) is merged as
    the reference merges it (DMSCDC_LoadIncremental.py:60-73): every
    live file counts as impacted, and its rows, committed deletion
    vectors applied, rank together with the batch in one window
    (``cdc.apply_changes`` unpruned). Both inputs sit in one partition,
    so the window plans no exchange and the write is the merge's only
    Spark job. It replaces every live file, even for an insert-only
    batch: at most one open cost of data is rewritten.

    A larger table:

    1. discover impacted files: ``input_file_name()`` tag + broadcast
       semi-join on the batch's keys, column-pruned to pk only, with the
       distinct names collected as an observed ``collect_set`` of a
       ``noop`` write (per-task sets merged on the driver: no shuffle,
       two jobs with the key broadcast); each name decodes to the
       table-relative path the manifest lists (the file and its
       ``len(snap.partition_keys)`` partition directories);
    2. merge ONLY those files' rows, committed deletion vectors applied,
       with the batch: the window ranks the batch's rows alone and the
       impacted files are read once, for the anti-join that keeps their
       untouched rows (``cdc.merge_parts``);
    3. append the survivors as new files and commit a version without
       the impacted files (``_commit_write``), which then deletes them.

    Every name comes from Spark itself, so a row that moves to another
    partition, a partition whose rows are all deleted (its directory
    goes with its last file), null partitions and escaped values need no
    case of their own. Above one open cost, an untouched file stays
    where it is, beside the new files of its partition; ``compact_table``
    merges them.

    The reference's coalesce(1) append and boto3 deletes leave a window
    in which readers see both copies of the merged rows; here the
    manifest commit sits between append and delete, and the delete
    completes on the next commit if a crash interrupts it.
    """
    pks = list(primary_keys)
    levels = len(snap.partition_keys)
    target_df = manifest_mod.read_files(spark, out_path, snap.live, snap.schema)
    if cdc._open_cost_tasks(target_df) == 1:
        impacted, old, change_keys = list(snap.live), target_df, None
    else:
        # Impacted-file discovery needs input_file_name(), which requires
        # a SINGLE-source plan — read_table's DV anti-join is two sources,
        # so tag a raw read of the live files instead. Skipping the DV
        # filter here is conservative: a file whose only key matches are
        # DV-deleted rows still counts as impacted and simply gets
        # rewritten (its deletes materialize). The DVs ARE applied to the
        # merge input below.
        tagged = target_df.withColumn("_file", F.input_file_name())
        # size-guarded broadcast: a backfill batch with 10^8+ PKs
        # degrades to a shuffled semi-join instead of OOMing the driver.
        # No distinct: the semi/anti joins ignore duplicate keys
        # (cdc.BROADCAST_KEYS_MAX_BYTES)
        change_keys = cdc._maybe_broadcast(changes.select(*pks))
        # The distinct file names arrive as an observed metric of a noop
        # write: each task folds its rows into a set of at most the live
        # file count and the driver merges the sets, so no shuffle and no
        # result stage run (a .distinct().collect() costs both).
        seen = Observation()
        tagged.join(change_keys, pks, "left_semi").observe(
            seen, F.collect_set("_file").alias("files")
        ).write.format("noop").mode("overwrite").save()
        impacted = sorted(
            manifest_mod.relative_name(f, levels) for f in seen.get["files"]
        )
        old = manifest_mod.read_files(spark, out_path, impacted, snap.schema)

    if impacted:
        # the impacted-file read bypasses read_table, so apply the
        # committed deletion vectors here too — otherwise DV-deleted
        # rows in impacted files would be merged back into the
        # rewritten output (resurrected)
        dv = manifest_mod.read_deletion_vectors(spark, out_path, snap.manifest or {})
        if dv is not None:
            old = manifest_mod.apply_deletion_vectors(old, dv, levels)
        if change_keys is None:
            old = old.coalesce(1)  # fits one task: no exchange under the window
    else:
        # pure-insert batch: merge against an empty frame with the
        # target's schema so collapsed inserts just append
        old = spark.createDataFrame([], snap.schema)
    data_cols = [c for c in old.columns if c not in (op_col, seq_col)]
    old = old.select(*data_cols)
    # additive schema evolution: a batch may carry columns the lake table
    # doesn't have yet (source ALTER TABLE); widen both sides with typed
    # NULLs. Type changes raise (see cdc.align_schemas).
    old, changes = cdc.align_schemas(old, changes, extra_cols=(op_col, seq_col))

    merged = cdc._coalesce_to_open_cost(cdc.apply_changes(
        old, changes, pks, seq_col, op_col,
        prune_with_broadcast=change_keys is not None, prune_keys=change_keys,
    ))
    _commit_write(
        spark, merged, out_path, snap, superseded=set(impacted),
        stats_cols=stats_cols, retain_history=retain_history, feed=feed,
        txn=txn,
    )


ZORDER_BITS = 16  # per-column resolution of the interleaved key


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits: int = ZORDER_BITS
) -> "F.Column":
    """Morton (Z-order) key over numeric columns: each column is
    min/max-normalized to ``bits`` bits, then the bits are interleaved
    most-significant-first — rows close in the key are close in EVERY
    clustered dimension, so after range-partitioning on the key each
    output file covers a tight hyper-rectangle and per-file min/max
    stats can skip files for predicates on ANY of the columns
    (single-column range clustering only serves the first column).
    Same design as Delta/Iceberg ``OPTIMIZE ... ZORDER BY`` (public
    feature), built from plain JVM bit expressions — no UDF.

    One driver-side min/max agg (2·|cols| scalars) fixes the
    normalization; everything else is map-side.

    The interleaved key must fit a 64-bit long: with many columns the
    per-column resolution automatically shrinks to ``63 // len(cols)``
    bits (e.g. 5 columns → 12 bits each) — silent overflow would wrap
    the most-significant bits and destroy the clustering.
    """
    if len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns (use cluster_by for 1)")
    budget = 63 // len(cols)
    if bits > budget:  # only the CLAMP enforces a floor — an explicitly
        bits = budget  # requested coarse key (e.g. bits=3) stays legal
        if bits < 4:
            raise ValueError(
                f"zorder over {len(cols)} columns leaves {bits} "
                "bits/column after fitting the 64-bit key (< 4): too "
                "coarse to cluster — reduce the column count"
            )
    row = df.agg(
        *[F.min(c).alias(f"_mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"_mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    top = (1 << bits) - 1
    scaled = []
    for i, c in enumerate(cols):
        mn, mx = row[f"_mn_{i}"], row[f"_mx_{i}"]
        if mn is None or mx is None:
            raise ValueError(f"zorder column {c!r} is all-NULL")
        span = float(mx) - float(mn)
        if span <= 0:
            scaled.append(F.lit(0).cast("long"))
            continue
        norm = (F.col(c).cast("double") - F.lit(float(mn))) / F.lit(span)
        scaled.append(
            F.least(F.lit(top), F.floor(norm * F.lit(top + 1)).cast("long"))
        )
    z = F.lit(0).cast("long")
    for b in range(bits - 1, -1, -1):
        for s in scaled:
            z = z * F.lit(2) + F.shiftright(s, b).bitwiseAND(F.lit(1))
    return z


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: Sequence[str] = (),
    stats_cols: Sequence[str] = (),
    retain_history: bool = False,
    zorder: bool = False,
) -> int:
    """Bin-pack a table's small files toward ``target_file_bytes``.

    A keyed merge sizes its rewrite to the scan's open cost
    (``cdc._coalesce_to_open_cost``), but above one open cost it
    rewrites only the files that hold a changed key: the new files sit
    beside the untouched ones, in a table or in a partition. Keyless
    appends add files with every batch, and no merge restores
    clustering: a rewrite mixes updated keys into whatever file they
    land in. Compaction is the
    explicit maintenance pass for all of these, like Delta/Iceberg
    OPTIMIZE:

      * total bytes are the live files' lengths (no data job; sidecars,
        orphans and retained superseded files do not count);
      * the rewrite repartitions to ceil(bytes / target) output files,
        keeping the table's partition layout — the manifest's recorded
        keys, or for a table with no manifest yet, the ``k=v`` directory
        levels its files sit under;
      * it commits like every other write (``_commit_write``): the
        compacted files append beside the live set, one manifest version
        supersedes every previously live file, and those are then
        deleted (kept when ``retain_history`` — earlier versions stay
        time-travelable until ``manifest.vacuum`` reclaims them).
        Sidecar directories (``_change_feed``) are never touched.

    ``cluster_by`` range-partitions + sorts the rewrite on those
    columns: each output file covers a disjoint value range, so the
    per-file min/max stats recorded via ``stats_cols`` let
    ``manifest.read_table`` skip all but the matching files — the
    compaction pass that turns a merge-scrambled table back into a
    skippable one. Lexicographic range clustering serves the FIRST
    column; with ``zorder=True`` the rewrite clusters on an
    interleaved-bit Morton key over ALL ``cluster_by`` columns
    (``zorder_key``) instead, so stats-based skipping works for
    predicates on any clustered column — Delta/Iceberg
    ``OPTIMIZE ... ZORDER BY``, Spark-native.

    Returns the number of output files requested.
    """
    snap = _snapshot(spark, path)
    Path, fs = manifest_mod._fs(spark, path)
    base = path.rstrip("/")
    live_bytes = sum(
        fs.getFileStatus(Path(f"{base}/{f}")).getLen() for f in snap.live
    )
    n_files = max(1, -(-live_bytes // target_file_bytes))

    df = manifest_mod.read_table(spark, path)
    lead = [F.col(c) for c in snap.partition_keys]
    if zorder:
        # partition keys lead the range clustering: each task then
        # covers a contiguous run of partitions, so the partitioned
        # write emits ~n_files files total instead of one file per
        # (task × partition) — the Morton key clusters WITHIN a partition
        out = (
            df.withColumn("_zk", zorder_key(df, list(cluster_by)))
            .repartitionByRange(n_files, *lead, F.col("_zk"))
            .sortWithinPartitions(*lead, F.col("_zk"))
            .drop("_zk")
        )
    elif cluster_by:
        cols = [*lead, *[F.col(c) for c in cluster_by]]
        out = df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
    else:
        # cluster rows of one partition into few tasks
        out = df.repartition(n_files, *lead)
    _commit_write(
        spark, out, path, snap, superseded=set(snap.live),
        stats_cols=stats_cols, retain_history=retain_history,
    )
    return n_files


# ---------------------------------------------------------- change feed


def read_change_feed(
    spark: SparkSession, out_path: str, since_version: int = 0, op_col: str = cdc.OP_COL
) -> DataFrame:
    """The change rows of every committed version after ``since_version``
    (incremental subscribe), each tagged with the ``version`` whose
    commit applied it: a subscriber's high-water mark is a table version,
    which ``manifest.read_table(version=…)`` opens too.

    Exactly the files those versions list as ``feed_files`` are read, in
    the table schema plus ``op_col`` and ``version``; a crashed attempt's
    feed files, which no version lists, never are. Feed retention is
    version retention: ``manifest.vacuum`` deletes an expired version's
    feed files with its history entry, and a subscriber further behind
    re-bootstraps from the table (the Delta CDF / Kafka contract).

    A poll before the first ``change_feed=True`` merge gets an empty
    frame in the feed's shape, not an error. A poll before the table
    has a schema (a brand-new path) raises.
    """
    man = manifest_mod.read_manifest(spark, out_path)
    # only a table no commit has adopted yet needs its files listed
    table = (
        manifest_mod.table_schema(spark, out_path, man)
        if man
        else _snapshot(spark, out_path).schema
    )
    if table is None:
        raise FileNotFoundError(
            f"no table at {out_path}: the change-feed schema cannot be "
            "derived before the first load lands data"
        )
    schema = StructType(
        table.fields
        + [StructField(op_col, StringType()), StructField("version", IntegerType())]
    )
    last = man["version"] if man else 0
    files = [
        f
        for v in manifest_mod.list_versions(spark, out_path)
        if since_version < v <= last
        for f in manifest_mod.read_version(spark, out_path, v).get("feed_files", [])
    ]
    if not files:
        return spark.createDataFrame([], schema)
    feed_dir = f"{out_path.rstrip('/')}/{manifest_mod.CHANGE_FEED_DIR}"
    return manifest_mod.read_files(spark, feed_dir, files, schema)
