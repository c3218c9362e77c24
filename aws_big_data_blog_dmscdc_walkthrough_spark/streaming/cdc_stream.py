"""Structured-Streaming CDC: the reference's scheduled Glue trigger loop
re-expressed as ``readStream`` over the landing folder + ``foreachBatch``
merge.

The reference polls hourly (README: Glue Trigger) and replays files after
a stored high-water mark; Structured Streaming's file source does exactly
that natively — checkpointed file tracking, exactly-once per batch — so
the state table's LastIncrementalFile column disappears into the
checkpoint. Each micro-batch applies the same latest-wins merge as the
batch path (operators/cdc.apply_changes), so batch and streaming share
one merge implementation.

Every mode commits its micro-batch with the mark ``txn=(checkpoint_dir,
batch_id)`` (``lake_writer``): Structured Streaming re-runs a batch whose
sink did not finish with the same batch id and files, and a batch id the
table already records is a no-op, so a crash after the commit applies
nothing twice (the offset log plus an idempotent sink, as in the
Structured Streaming paper). A checkpoint directory deleted and started
again at the same path restarts its batch ids at 0, which the table
takes for replays: give a new checkpoint a new path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..pipeline.controller import prepare_dms_batch
from ..sources import lake_writer


def start_cdc_stream(
    spark: SparkSession,
    source_dir: str,
    out_path: str,
    primary_keys: Sequence[str],
    schema,
    checkpoint_dir: str,
    partition_keys: Sequence[str] = (),
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    merge_on_read: bool = False,
    compact_every: int | None = None,
    history_mode: bool = False,
    history_buckets: int | None = None,
):
    """Stream landing-folder parquet into a merged lake table.

    ``available_now=True`` drains the backlog and stops (the scheduled-
    batch analogue, restart-safe via checkpoint); ``False`` runs
    continuously. ``max_files_per_trigger`` bounds per-batch work so one
    giant backlog replay cannot produce an unboundedly large merge.

    ``history_mode=True`` maintains an SCD TYPE 2 HISTORY table instead
    of a latest-state table: each micro-batch folds through
    ``lake_writer.scd2_merge_on_read`` — the impacted keys' open
    versions are superseded by a position-delete file and their closed
    replacements + the batch's new versions APPEND, one manifest commit
    per batch (read via ``manifest.read_table``). Per-batch write volume
    is bounded by the batch, never by the ever-growing history (a
    history table's closed versions are immutable, so nothing else can
    need rewriting). ``history_buckets=N`` hash-partitions the history
    by primary key so the replay-guard and open-version scans prune to
    the batch's buckets; ``compact_every`` schedules the DV
    materialization pass, same as MOR mode. A batch after one this
    checkpoint already committed is all fresh, so the fold skips its
    per-key replay guard scan; the first batch of a new checkpoint (a
    replay of files another checkpoint applied, say) runs the exact
    guard, which drops the seqs the history already holds. The version
    sequence is the (file, row) order flattened to one lexically-ordered
    string, so — unlike the latest-state modes, where only within-batch
    order matters — landing file names MUST be lexically monotonic
    across batches (the DMS S3 contract the reference's incremental
    discovery already depends on: files named after their timestamp,
    each sorting after the last processed one). A name that sorts below
    a committed one would close and open versions out of order.

    ``merge_on_read=True`` applies each micro-batch through
    ``lake_writer.merge_on_read_incremental`` — position deletes + an
    append + one manifest commit, no data-file rewrite — the cheap path
    for high-frequency micro-batches on an update-heavy stream
    (partitioned or not; read via ``manifest.read_table``).
    ``compact_every`` then schedules the deferred rewrite: every N
    micro-batches a manifest-gated compaction materializes the
    accumulated deletion vectors so read amplification stays bounded.
    A retried batch that crashed before its commit supersedes the copy
    its first attempt appended; one that crashed after it is a no-op.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # materialize the hidden _metadata column ON the source frame: the
    # foreachBatch frame is derived, and prepare_dms_batch needs
    # _metadata.file_path/row_index for deterministic within-file order
    stream = reader.parquet(source_dir).select("*", "_metadata")
    if history_mode and (merge_on_read or partition_keys):
        raise ValueError(
            "history mode is merge-on-read already and partitions by PK "
            "bucket (history_buckets), not by data columns"
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        txn = (checkpoint_dir, batch_id)
        if history_mode:
            # The same file-physical (file_path, row_index) pair as
            # prepare_dms_batch's _seq — delivery-invariant, so a replay
            # that re-batches the files re-derives identical seqs — but
            # flattened to one byte-ordered string: a history stores it
            # as valid_from_seq/valid_to_seq, string columns in every
            # history written so far, and a seq of another type would
            # be a type change the fold rejects (cdc.align_schemas).
            sess = batch_df.sparkSession
            flat = (
                batch_df.withColumn(
                    "_hseq",
                    F.concat_ws(
                        "#",
                        F.col("_metadata.file_path"),
                        F.lpad(
                            F.col("_metadata.row_index").cast("string"), 12, "0"
                        ),
                    ),
                )
                .withColumnRenamed("Op", "op")
                .drop("_metadata")
            )
            lake_writer.scd2_merge_on_read(
                sess, flat, out_path, primary_keys,
                seq_col="_hseq", op_col="op",
                bucket_partitions=history_buckets, txn=txn,
            )
            if compact_every and (batch_id + 1) % compact_every == 0:
                lake_writer.compact_table(sess, out_path)
            return
        changes = prepare_dms_batch(batch_df)
        if merge_on_read:
            lake_writer.merge_on_read_incremental(
                batch_df.sparkSession, changes, out_path, primary_keys,
                seq_col="_seq", op_col="op",
                partition_keys=partition_keys, txn=txn,
            )
            if compact_every and (batch_id + 1) % compact_every == 0:
                lake_writer.compact_table(batch_df.sparkSession, out_path)
            return
        lake_writer.merge_incremental(
            batch_df.sparkSession,
            changes,
            out_path,
            primary_keys,
            partition_keys,
            seq_col="_seq",
            op_col="op",
            txn=txn,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
