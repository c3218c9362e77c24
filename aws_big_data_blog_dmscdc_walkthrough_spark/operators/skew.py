"""Skew diagnosis: the hot keys of a join or aggregation.

AQE's skew-join split (on in ``session.py``) handles most skew at
runtime by splitting oversized shuffle partitions. Salting is the
explicit fallback for *pathological* single-key skew — e.g. a CDC batch
where 90 % of changes hit one hot row's key, or a dedup corpus where one
band bucket dominates — where even a split partition still serializes
one key's rows through few tasks. ``skew_report`` measures which case a
table is in.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skew_report(df: DataFrame, keys: Sequence[str], top_k: int = 10) -> DataFrame:
    """Hot-key diagnostic (#102): the top-k heaviest join/agg keys with
    their share of the table and a skew factor vs the uniform ideal.

    The number a 100 TB operator reads before choosing between a plain
    shuffle, AQE skew splitting, and a salted join: ``skew_x`` is
    how many times the mean key weight the hot key carries — also the
    integer salt bucket count that would level it (``salt_rec``,
    ceil(count·n_keys/total), exact integer arithmetic). One word-count
    shuffle on the key + a tiny top-k; never a sort of the full table.
    """
    keys = list(keys)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total"), F.count(F.lit(1)).alias("_nkeys")
    )
    top = (
        counts.orderBy(F.col("n_rows").desc(), *[F.col(k) for k in keys])
        .limit(top_k)
        .join(F.broadcast(totals))
    )
    return top.select(
        *keys,
        "n_rows",
        (F.col("n_rows").cast("double") / F.col("_total").cast("double")).alias(
            "share"
        ),
        (
            F.col("n_rows").cast("double")
            * F.col("_nkeys").cast("double")
            / F.col("_total").cast("double")
        ).alias("skew_x"),
        # integer DIV, not double / then cast: float division rounds
        # differently across engines past 2^53 and cast semantics differ
        # (Spark truncates, DuckDB rounds)
        F.expr("(n_rows * _nkeys + _total - 1) div _total").alias("salt_rec"),
    )
