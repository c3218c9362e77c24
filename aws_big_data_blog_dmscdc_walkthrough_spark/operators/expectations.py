"""Declarative data-quality expectations over lake tables (#100).

The CDC lake's trust problem: upstream schema drift, botched backfills,
and replication glitches land silently in the target unless something
checks. This is the Delta-Live-Tables / Great-Expectations shape (both
public) rebuilt on plain DataFrame plans: declare rules once, get a
violations REPORT (rule → count).

Rule kinds and their plan shapes:

- ``not_null`` / ``ranges`` / ``isin``     — map-side boolean flags, no
  shuffle beyond the one counting aggregate;
- ``unique``                               — one groupBy on the key
  (the merge's own shuffle shape); EVERY row of a duplicated key is a
  violation (there is no principled survivor without a merge policy);
- ``references`` (foreign key)             — a broadcast-guarded
  left-anti join per reference, dim-sized build sides.

All rules evaluate in ONE pass over the table for the report (flags
union into a single aggregate; the unique/FK flags join in by key), so
a 100 TB validation costs one scan plus key-shaped joins — never one
scan per rule.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cdc import _maybe_broadcast


def _flags(
    df: DataFrame,
    not_null: Sequence[str],
    ranges: Mapping[str, tuple],
    isin: Mapping[str, Sequence],
    unique: Sequence[Sequence[str]],
    references: Mapping[str, tuple[DataFrame, str]],
) -> tuple[DataFrame, list[str]]:
    """Attach one boolean violation flag column per rule."""
    out = df
    rules: list[str] = []

    def add(name: str, cond):
        nonlocal out
        rules.append(name)
        out = out.withColumn(name, cond)

    for c in not_null:
        add(f"not_null:{c}", F.col(c).isNull())
    for c, (lo, hi) in ranges.items():
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (F.col(c) < F.lit(lo))
        if hi is not None:
            cond = cond | (F.col(c) > F.lit(hi))
        # a NULL never fails a range rule (declare not_null separately)
        add(f"range:{c}", F.coalesce(cond, F.lit(False)))
    for c, vals in isin.items():
        add(f"isin:{c}", F.coalesce(~F.col(c).isin(*list(vals)), F.lit(False)))
    for keys in unique:
        keys = list(keys)
        name = "unique:" + ",".join(keys)
        rules.append(name)
        counts = out.groupBy(*keys).agg(F.count(F.lit(1)).alias("_kc"))
        dup_keys = counts.where(F.col("_kc") > 1).select(
            *keys, F.lit(True).alias(name)
        )
        out = out.join(dup_keys, keys, "left").withColumn(
            name, F.coalesce(F.col(name), F.lit(False))
        )
    for c, (dim, dim_col) in references.items():
        name = f"references:{c}"
        rules.append(name)
        present = _maybe_broadcast(
            dim.select(F.col(dim_col).alias(c)).distinct().select(
                c, F.lit(True).alias("_present")
            )
        )
        out = out.join(present, c, "left").withColumn(
            # NULL FKs are not violations (declare not_null separately)
            name,
            F.coalesce(F.col("_present"), F.col(c).isNull()).eqNullSafe(False),
        ).drop("_present")
    return out, rules


def expectations_report(
    df: DataFrame,
    not_null: Sequence[str] = (),
    ranges: Mapping[str, tuple] = None,
    isin: Mapping[str, Sequence] = None,
    unique: Sequence[Sequence[str]] = (),
    references: Mapping[str, tuple[DataFrame, str]] = None,
) -> DataFrame:
    """Violations per rule: (rule, n_violations, n_rows). One table pass."""
    flagged, rules = _flags(
        df, not_null, ranges or {}, isin or {}, unique, references or {}
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(F.col(r).cast("long")).alias(r) for r in rules],
    )
    stack = ", ".join(f"'{r}', `{r}`" for r in rules)
    return agg.select(
        F.expr(f"stack({len(rules)}, {stack}) AS (rule, n_violations)"),
        F.col("n_rows"),
    ).select("rule", "n_violations", "n_rows")


# Exact-distinct columns per aggregate pass: each adds an expand branch
# (the scan's row count multiplies by the branch count before the
# shuffle), so one unbounded pass over a 200-column table would expand
# every row 200x. 16 keeps the expand factor at worst 16x per pass —
# the deequ-style sweet spot between pass count and expand blowup.
PROFILE_BATCH_COLS = 16


def profile_columns(
    df: DataFrame, columns: Sequence[str] = (), batch_cols: int = PROFILE_BATCH_COLS
) -> DataFrame:
    """Per-column profile (#103): (col_name, n_rows, n_nulls, n_distinct).

    The discovery half of data quality (the deequ/Great-Expectations
    profiling shape): run it on an unfamiliar landing table to DERIVE
    the expectations worth declaring — a column with zero nulls wants
    ``not_null``, n_distinct == n_rows suggests a key, tiny n_distinct
    suggests an ``isin`` domain. One wide aggregate pass per
    ``batch_cols`` columns (Catalyst plans the multi-column exact
    distincts via expand — one scan, k-way shuffle; the batching bounds
    the expand's row multiplication, so a 200-column table profiles in
    ceil(200/16) scans instead of one 200-way expand), melted to one
    row per column with ``stack`` and unioned across batches.
    Counts only, deliberately: min/max/top-value string forms differ
    across engines and per type; counts are type-free and exact.
    """
    cols = list(columns) or list(df.columns)

    def one_batch(batch: list[str]) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in batch:
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_nn_{c}"))
            aggs.append(F.count_distinct(F.col(c)).alias(f"_nd_{c}"))
        wide = df.agg(*aggs)
        stack = ", ".join(f"'{c}', `_nn_{c}`, `_nd_{c}`" for c in batch)
        return wide.select(
            F.expr(
                f"stack({len(batch)}, {stack}) AS (col_name, n_nulls, n_distinct)"
            ),
            F.col("n_rows"),
        ).select("col_name", "n_rows", "n_nulls", "n_distinct")

    out = None
    for i in range(0, len(cols), max(1, batch_cols)):
        part = one_batch(cols[i : i + max(1, batch_cols)])
        out = part if out is None else out.unionByName(part)
    return out
