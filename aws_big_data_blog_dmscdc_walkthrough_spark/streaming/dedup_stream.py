"""Custom stateful streaming operator: exact dedup with TTL state (#166).

Streaming ingest sees the same document/event keys again and again
(redelivery, re-crawls, producer retries past the #53 watermark).
Spark 3.5+ ships ``dropDuplicatesWithinWatermark`` for plain
suppression; this operator exists for the semantics it can't express:

- the SURVIVOR is chosen (earliest event time in arrival so far), not
  "whichever arrived first in shuffle order";
- suppressed duplicates are COUNTED per key and emitted as a summary
  side-output when the key's state expires — the duplicate-telemetry
  feed a curation pipeline wants (which keys are hot, how much volume
  dedup is absorbing) without a second job;
- the TTL is sliding (measured from the LAST sighting), so a key that
  keeps re-arriving keeps suppressing, while a quiet key's state is
  reclaimed — state is O(keys active within one TTL), independent of
  stream length.

Contract: the FIRST sighting of a key emits one ``row_type='first'``
row immediately (append mode — downstream consumes deduped rows with
no extra latency). Re-sightings inside the TTL emit nothing and bump
the state counter. When the watermark passes last_seen + TTL, one
``row_type='expired'`` summary row emits with the total duplicates
suppressed, and the key forgets — a later re-arrival starts a new
'first'. Expiry emits through EITHER path deterministically: the
event-time timeout when the key goes quiet, or in-band when a post-TTL
re-arrival closes the previous incarnation (a timed-out key that
receives data in the same micro-batch never fires its timeout — the
fold must not depend on timeout scheduling for correctness). That is the standard bounded-state streaming-dedup guarantee:
exact within the TTL window, by design not across it (unbounded exact
dedup would need unbounded state; the batch operators #19/#79 own that
job).

Each micro-batch group concatenates its Arrow chunks and sorts by
event time once — chunk boundaries are shuffle order, not time order.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DEDUP_TTL_SECONDS = 3600

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("row_type", StringType()),  # 'first' | 'expired'
        StructField("first_ts", TimestampType()),
        StructField("n_dups", LongType()),
    ]
)

# (first sighting, last sighting, duplicates suppressed so far)
STATE_SCHEMA = StructType(
    [
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_dups", LongType()),
    ]
)

_US = 1_000_000


def _fold_dedup(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
    (k,) = key
    ttl_us = DEDUP_TTL_SECONDS * _US

    if state.hasTimedOut:
        first_us, _last_us, n_dups = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "key": [k],
                "row_type": ["expired"],
                "first_ts": [pd.Timestamp(first_us, unit="us")],
                "n_dups": [n_dups],
            }
        )
        return

    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if not chunks:
        return
    batch = pd.concat(chunks, ignore_index=True).sort_values("ts")
    ts_us = [int(pd.Timestamp(t).value // 1000) for t in batch["ts"]]

    # linear fold with IN-BAND expiry: an event-time timeout cannot fire
    # for a key that received data in the same micro-batch, so a
    # post-TTL re-arrival must itself close the previous incarnation
    # (emit its summary) and open a new 'first' — otherwise the TTL
    # contract would silently depend on timeout scheduling.
    out: list[tuple[str, int, int]] = []  # (row_type, first_us, n_dups)
    cur = state.get if state.exists else None  # (first, last, dups)
    for t in ts_us:
        if cur is None:
            cur = (t, t, 0)
            out.append(("first", t, 0))
        elif t - cur[1] > ttl_us:
            out.append(("expired", cur[0], cur[2]))
            cur = (t, t, 0)
            out.append(("first", t, 0))
        else:
            cur = (cur[0], max(cur[1], t), cur[2] + 1)

    # sliding TTL: the key forgets only after going quiet for a full TTL.
    # A deadline already behind the watermark is illegal to register
    # (INVALID_TIMEOUT_TIMESTAMP) and means the incarnation expired while
    # its rows were still in flight — close it NOW instead of storing it.
    deadline_ms = cur[1] // 1000 + DEDUP_TTL_SECONDS * 1000
    if deadline_ms <= state.getCurrentWatermarkMs():
        out.append(("expired", cur[0], cur[2]))
        if state.exists:
            state.remove()
    else:
        state.update(cur)
        state.setTimeoutTimestamp(deadline_ms)
    if out:
        yield pd.DataFrame(
            {
                "key": [k] * len(out),
                "row_type": [r[0] for r in out],
                "first_ts": [pd.Timestamp(r[1], unit="us") for r in out],
                "n_dups": [r[2] for r in out],
            }
        )


def dedup_stream(
    rows: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Emit first-sighting + expiry-summary rows (append semantics)."""
    from pyspark.sql import functions as F

    keyed = rows.select(
        F.col(key_col).cast("string").alias("key"), F.col(ts_col).alias("ts")
    )
    return (
        keyed.withWatermark("ts", watermark)
        .groupBy("key")
        .applyInPandasWithState(
            _fold_dedup,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
