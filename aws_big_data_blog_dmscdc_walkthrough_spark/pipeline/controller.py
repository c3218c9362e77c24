"""Per-table orchestration: the reference's Controller + ProcessTable
jobs folded into one idempotent ``run_once`` pass.

Flow per table (/root/reference/DMSCDC_ProcessTable.py):
  1. register unknown tables inactive (human sets keys + activates);
  2. initial load if a LOAD file is newer than the table's load mark;
  3. incremental merge of files lexically after the table's file mark;
  4. register the table in the catalog after a pass that wrote it, or
     when the last such pass did not finish.

The marks live in the table's manifest, not in the state store: each
write commits its own (``txn``, app id ``landing.load`` for the LOAD
file's mtime and ``landing`` for the last CDC file), so a crash after a
commit cannot apply its files twice. The store holds operator intent
(keys, ``active``, per-table options) and the ``catalog_pending`` flag;
its ``last_full_load_ts``/``last_incremental_file`` fields are read
only for a table whose manifest records no mark (a lake written before
the marks moved), and never written.

The reference fans out one Glue job per table
(DMSCDC_Controller.py:91-94); here tables run on a thread pool sharing
one SparkSession — Spark schedules their jobs concurrently, which is the
single-cluster analogue (and at real scale the pool bound keeps the
driver from queueing thousands of concurrent jobs).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources import catalog, lake_writer, landing, manifest
from ..state.store import JsonStateStore, TableState

# the app ids under which a table's manifest records what it consumed
LOAD_TXN = "landing.load"  # the mtime of the last LOAD file loaded
CDC_TXN = "landing"  # the last CDC file merged


@dataclass
class TableReport:
    path: str
    skipped: bool = False
    did_initial: bool = False
    incremental_files: int = 0
    error: str = ""


@dataclass
class RunReport:
    tables: list[TableReport] = field(default_factory=list)


def prepare_dms_batch(df):
    """Stamp op/seq the way the reference sequences DMS files: the file
    name is the major order (lexical = chronological for DMS), the row's
    physical position WITHIN the file the minor
    (DMSCDC_LoadIncremental.py:62-66). Rows must carry an ``Op`` column;
    output carries ``op`` + a struct ``_seq = (_file, _fpos)`` usable by
    apply_changes.

    The reference numbers each key's ops with ``row_number() over
    (partition by pk order by sortpath)``; only the ORDER of a key's ops
    matters to latest-wins, and the (file, position) pair the window
    sorts by already gives that order. So the pair itself is the seq: no
    window, hence no shuffle in any plan that reads the batch. It is also
    delivery-invariant — a row's seq does not depend on which other
    files were read with it (a per-key counter does).

    The within-file position comes from the ``_metadata.row_index``
    hidden column where the format provides it (Parquet — DMS's parquet
    S3 target): ordering by file name alone leaves same-key rows from
    ONE file in nondeterministic order, so an I-then-U pair in a single
    file could rank the stale insert as latest.
    Formats without row_index (JSON/CSV landings) fall back to
    ``monotonically_increasing_id`` captured AT SCAN TIME — it encodes
    (scan partition, row-in-partition), which preserves within-file
    row order for unsplit files (CDC batch files are small), though its
    values depend on the scan's partitioning. Frames with
    no ``_metadata`` at all (non-file sources, e.g. a createDataFrame
    batch in tests) fall back to ``input_file_name()`` (empty string
    there — the scan-time monotonic id then carries the ordering alone).
    """
    try:
        staged = df.withColumn("_file", F.col("_metadata.file_path"))
        try:
            staged = staged.withColumn("_fpos", F.col("_metadata.row_index"))
        except Exception:  # format exposes no row_index
            staged = staged.withColumn("_fpos", F.monotonically_increasing_id())
    except Exception:  # source exposes no _metadata at all
        staged = df.withColumn("_file", F.input_file_name()).withColumn(
            "_fpos", F.monotonically_increasing_id()
        )
    return (
        staged.withColumn("_seq", F.struct(F.col("_file"), F.col("_fpos")))
        .withColumnRenamed("Op", "op")
        # also drop a MATERIALIZED _metadata column (the streaming path
        # selects it explicitly; on raw file scans this is a no-op)
        .drop("_file", "_fpos", "_metadata")
    )


def process_table(
    spark: SparkSession,
    folder: landing.TableFolder,
    state: TableState,
    store: JsonStateStore,
    lake_root: str,
    register_catalog: bool = True,
    upto_file: str | None = None,
) -> TableReport:
    report = TableReport(path=folder.path)
    if not state.active:
        report.skipped = True
        return report

    out_path = f"{lake_root.rstrip('/')}/{folder.schema}/{folder.table}"
    marks = (manifest.read_manifest(spark, out_path) or {}).get("txn") or {}

    def before_write() -> None:
        # the flag is stored before the commit, so a pass that stops
        # after it is finished (delete, registration) by the next pass
        if not state.catalog_pending:
            state.catalog_pending = True
            store.put(state)

    # --- initial load (DMSCDC_ProcessTable.py:104-132)
    if folder.initial_files:
        load_ts = max(landing.file_mtime(spark, f) for f in folder.initial_files)
        if load_ts > marks.get(LOAD_TXN, state.last_full_load_ts):
            if upto_file is not None:
                # A consistent cut cannot include a fresh full-load
                # snapshot: LOAD files carry no commit-time name, so
                # applying one would race this table arbitrarily past
                # the barrier the other tables are held to. Defer the
                # WHOLE table (snapshot + queued incrementals) to an
                # unbarriered pass — applying incrementals without
                # their base would be worse than waiting.
                report.skipped = True
                return report
            df = landing.read_initial(spark, folder, state.schema_ddl)
            before_write()
            # the file mark is kept: files at-or-before it stay
            # consumed; files after it re-merge idempotently on top of
            # the fresh snapshot (same as the reference's ordering)
            lake_writer.write_initial(
                df, out_path, state.partition_keys, stats_cols=state.stats_cols,
                retain_history=state.retain_history, txn=(LOAD_TXN, load_ts),
            )
            report.did_initial = True

    # --- incremental load (DMSCDC_ProcessTable.py:137-168)
    new_files = landing.new_incremental_files(
        folder, marks.get(CDC_TXN, state.last_incremental_file), upto_file
    )
    if new_files:
        batch = landing.read_incremental(spark, folder, new_files, state.schema_ddl)
        # keyless tables append their inserts (reference line 56-58):
        # only a keyed merge orders a key's changes
        if state.primary_keys:
            batch = prepare_dms_batch(batch)
        else:
            batch = batch.withColumnRenamed("Op", "op")
        before_write()
        lake_writer.merge_incremental(
            spark, batch, out_path, state.primary_keys, state.partition_keys,
            seq_col="_seq", op_col="op", retain_history=state.retain_history,
            stats_cols=state.stats_cols, change_feed=state.change_feed,
            txn=(CDC_TXN, new_files[-1]),
        )
        report.incremental_files = len(new_files)

    if register_catalog and state.catalog_pending:
        if not (report.did_initial or new_files or state.retain_history):
            # the pass that raised the flag may have stopped between its
            # commit and that commit's delete, and no commit is coming
            lake_writer.delete_unlisted(spark, out_path)
        # the reference's crawler step: after data lands, (re-)register
        # the folder so SQL users query `schema.table` by name — the
        # recreate also picks up schema and layout changes. An idle
        # table pays nothing.
        catalog.register_table(spark, out_path, folder.schema, folder.table)
        state.catalog_pending = False
        store.put(state)
    return report


def run_once(
    spark: SparkSession,
    landing_root: str,
    lake_root: str,
    store: JsonStateStore,
    max_parallel_tables: int = 4,
    register_catalog: bool = True,
    upto_file: str | None = None,
) -> RunReport:
    """One controller pass: discover, register, load, advance state.

    ``upto_file`` (optional) applies every table only up to the same
    DMS batch file name — an approximately point-in-time cut across
    the whole lake at file granularity (SURVEY §2 #158; see
    ``landing.new_incremental_files`` for the exact guarantee and its
    assumptions). Per-table flows stay independent
    and idempotent; the barrier only bounds which landing files each
    sees, so files past the cut apply on a later pass unchanged.
    Tables with a PENDING full-load snapshot are skipped entirely
    under a barrier (LOAD files carry no commit time, so a snapshot
    cannot be cut — it applies on the next unbarriered pass). The
    reference's per-job fan-out has no such cut — each Glue job races
    its own table forward, and a cross-table join during load can see
    table A minutes ahead of table B.
    """
    folders = landing.discover_tables(spark, landing_root)
    states = [
        store.get_or_create(f.path, schema=f.schema, table=f.table) for f in folders
    ]
    report = RunReport()
    with ThreadPoolExecutor(max_workers=max_parallel_tables) as pool:
        futures = [
            (
                f,
                pool.submit(
                    process_table, spark, f, s, store, lake_root,
                    register_catalog, upto_file,
                ),
            )
            for f, s in zip(folders, states)
        ]
        for folder, fut in futures:
            try:
                report.tables.append(fut.result())
            except Exception as exc:  # keep other tables going, like the
                report.tables.append(  # reference's per-job isolation
                    TableReport(path=folder.path, error=str(exc))
                )
    return report
