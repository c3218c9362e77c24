"""CDC operators exposed as driver-checkable queries.

The correctness gate replays each operator in DuckDB, so the change batch
is *synthesized deterministically from the orders table* (key-modulo
selection — no randomness, no timestamps on the driver's clock):

  * keys with ``o_orderkey % 10 <= 2`` → update (totalprice * 1.1), seq 1
  * keys with ``o_orderkey % 10 == 3`` → delete, seq 1
  * keys with ``o_orderkey % 10 == 4`` → insert of a NEW key
    (``o_orderkey + 10_000_000``), seq 1
  * keys with ``o_orderkey % 100 == 0`` → a SECOND op (delete, seq 2) on an
    already-updated key, exercising multi-op-per-key latest-wins
    (reference rownum semantics, DMSCDC_LoadIncremental.py:62-66)

Every oracle below replays the identical batch in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import cdc
from ..session import load_table

BASE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]

_BASE_SQL = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders"
)

CHANGES_SQL = f"""
base AS ({_BASE_SQL}),
changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
         o_orderpriority, 'U' AS op, 1 AS seq
  FROM base WHERE o_orderkey % 10 <= 2
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority, 'D', 1
  FROM base WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice + 0.5,
         o_orderpriority, 'I', 1
  FROM base WHERE o_orderkey % 10 = 4
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority, 'D', 2
  FROM base WHERE o_orderkey % 100 = 0
)
"""


def base_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(*BASE_COLS)


def synth_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic change batch described in the module docstring.

    Two scans, not a 4-branch union (round 15, guide §2.4): the three
    seq-1 branches are disjoint modulo classes of the SAME scan, so one
    filtered pass (``o_orderkey % 10 <= 4``) computes key/price/op by
    conditional projection; only the seq-2 delete rider (``% 100 == 0``,
    1% of rows) needs a second branch. The union form re-scanned orders
    once per branch — and every merge plan references ``changes`` at
    least twice (prune keys + change side), multiplying that to 8+ scans
    per query. (An explode-of-struct-array single-scan form was A/B'd
    and rejected: one scan fewer, but the per-row array build + generate
    cost ~1.8x the whole two-branch pipeline at bench scale.) Row
    multiset is identical: the same rows match the same modulo
    predicates, with the same arithmetic on the same columns.
    """
    base = base_orders(spark, sf_dir)
    key = F.col("o_orderkey")
    price = F.col("o_totalprice")
    main = base.where(key % 10 <= 4).select(
        F.when(key % 10 == 4, key + 10_000_000).otherwise(key).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        F.when(key % 10 <= 2, price * 1.1)
        .when(key % 10 == 4, price + 0.5)
        .otherwise(price)
        .alias("o_totalprice"),
        "o_orderpriority",
        F.when(key % 10 <= 2, F.lit("U"))
        .when(key % 10 == 3, F.lit("D"))
        .otherwise(F.lit("I"))
        .alias("op"),
        F.lit(1).alias("seq"),
    )
    second = base.where(key % 100 == 0).select(
        *BASE_COLS, F.lit("D").alias("op"), F.lit(2).alias("seq")
    )
    return main.unionByName(second)


def synth_change_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch's key projection as ONE single-column scan.

    ``synth_changes(...).select("o_orderkey")`` forces the full change
    pipeline just to learn which keys the batch touches; the key set is
    known directly from the modulo classes (the seq-2 rider touches keys
    already in ``% 10 == 0 ⊆ % 10 <= 2``). Only for duplicate-insensitive
    consumers (semi/anti prune joins) — the multiset drops the rider's
    duplicate key.
    """
    key = F.col("o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .where(key % 10 <= 4)
        .select(
            F.when(key % 10 == 4, key + 10_000_000).otherwise(key).alias("o_orderkey")
        )
    )


def cdc_initial_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial-load stamping (DMSCDC_LoadInitial.py:31)."""
    return cdc.stamp_initial(load_table(spark, sf_dir, "customer"))


CDC_INITIAL_STAMP_SQL = "SELECT *, 'I' AS op FROM customer"


def cdc_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest op per key within one batch."""
    changes = synth_changes(spark, sf_dir)
    return cdc.latest_changes(changes, ["o_orderkey"], "seq").select(
        "o_orderkey", "op", "seq", "o_totalprice"
    )


CDC_DEDUP_LATEST_SQL = f"""
WITH {CHANGES_SQL}
SELECT o_orderkey, op, seq, o_totalprice FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
  FROM changes
) WHERE rn = 1
"""


def cdc_insert_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-PK path: inserts only (DMSCDC_LoadIncremental.py:57)."""
    return cdc.insert_only(synth_changes(spark, sf_dir)).select(*BASE_COLS)


CDC_INSERT_ONLY_SQL = f"""
WITH {CHANGES_SQL}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM changes WHERE op = 'I'
"""


def _batch_prune_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-guarded broadcast key frame for the synthesized batch.

    Round 15 (guide §2.3): every merge-family plan builds a change-key
    frame for its semi/anti pruning joins; deriving it from the key
    column alone (one single-column scan) instead of projecting the full
    change pipeline cut the keys subtree from 4 five-column scans + a
    distinct shuffle to 1 one-column scan (A/B: 0.36 → 0.10 s at sf0.1).
    """
    return cdc._maybe_broadcast(synth_change_keys(spark, sf_dir))


def cdc_impacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impacted-key discovery (scalable form of impacted-file list)."""
    return cdc.impacted_keys(
        base_orders(spark, sf_dir),
        synth_changes(spark, sf_dir),
        ["o_orderkey"],
        prune_keys=_batch_prune_keys(spark, sf_dir),
    )


CDC_IMPACTED_SQL = f"""
WITH {CHANGES_SQL}
SELECT DISTINCT b.o_orderkey FROM base b
WHERE b.o_orderkey IN (SELECT o_orderkey FROM changes)
"""


_MERGE_CORE_SQL = f"""
WITH {CHANGES_SQL},
unioned AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
         op, seq, 1 AS _src
  FROM changes
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
         'T', NULL, 0
  FROM base
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_orderkey ORDER BY _src DESC, seq DESC NULLS LAST
  ) AS rnk
  FROM unioned
)
"""


def cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full merge: latest-wins upsert + delete."""
    return cdc.apply_changes(
        base_orders(spark, sf_dir),
        synth_changes(spark, sf_dir),
        ["o_orderkey"],
        seq_col="seq",
        op_col="op",
        prune_keys=_batch_prune_keys(spark, sf_dir),
    )


CDC_MERGE_SQL = (
    _MERGE_CORE_SQL
    + """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM ranked WHERE rnk = 1 AND op <> 'D'
"""
)


def cdc_merge_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge keeping tombstones as a boolean ``deleted`` flag."""
    return cdc.apply_changes(
        base_orders(spark, sf_dir),
        synth_changes(spark, sf_dir),
        ["o_orderkey"],
        seq_col="seq",
        op_col="op",
        soft_delete=True,
        prune_keys=_batch_prune_keys(spark, sf_dir),
    )


CDC_MERGE_SOFT_DELETE_SQL = (
    _MERGE_CORE_SQL
    + """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
       (op = 'D') AS deleted
FROM ranked WHERE rnk = 1
"""
)


def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 history (#89): every version of every key with its
    validity interval, built from the same synthesized change batch the
    merge queries replay."""
    return cdc.scd2_history(
        base_orders(spark, sf_dir),
        synth_changes(spark, sf_dir),
        ["o_orderkey"],
        seq_col="seq",
        op_col="op",
    )


CDC_SCD2_SQL = f"""
WITH {CHANGES_SQL},
versions AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
         'I' AS _op, 0 AS _seq
  FROM base
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
         op, seq
  FROM changes
),
w AS (
  SELECT *, LEAD(_seq) OVER (PARTITION BY o_orderkey ORDER BY _seq ASC) AS _next
  FROM versions
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
       _seq AS valid_from_seq, _next AS valid_to_seq,
       (_next IS NULL) AS is_current
FROM w WHERE _op <> 'D'
"""


def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (#90): old = the base table, new = the merged table;
    the diff must therefore reproduce the collapsed change batch (one
    row per touched key, latest image) — self-consistency the oracle
    replays via the same FULL OUTER JOIN.

    Round 15 (guide §2.4): the diff runs over the merge's IMPACTED
    frames, not the full tables. Keys the batch never mentions appear
    in both snapshots as the identical row — the full outer join emits
    nothing for them — so diff(old, merged) ≡ diff(impacted, survivors)
    row for row ('I' keys exist only in survivors, 'D' only in
    impacted, 'U' differ; everything else is confined to the batch's
    key set by construction). This drops the untouched anti-join, the
    full-table union, and shrinks the outer join's shuffle from two
    table-sized inputs to two batch-sized ones.
    """
    old = base_orders(spark, sf_dir)
    survivors, _, impacted = cdc.merge_parts(
        old,
        synth_changes(spark, sf_dir),
        ["o_orderkey"],
        seq_col="seq",
        op_col="op",
        prune_keys=_batch_prune_keys(spark, sf_dir),
    )
    new_impacted = survivors.where(F.col("_op") != "D").select(*BASE_COLS)
    return cdc.snapshot_diff(impacted, new_impacted, ["o_orderkey"])


_DIFF_ATTRS = [c for c in BASE_COLS if c != "o_orderkey"]
_DIFF_PICK = ",\n  ".join(
    f"CASE WHEN n.o_orderkey IS NOT NULL THEN n.{c} ELSE o.{c} END AS {c}"
    for c in BASE_COLS
)
_DIFF_CHANGED = " OR ".join(
    f"(o.{c} IS DISTINCT FROM n.{c})" for c in _DIFF_ATTRS
)

CDC_SNAPSHOT_DIFF_SQL = (
    _MERGE_CORE_SQL
    + f""",
new_t AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM ranked WHERE rnk = 1 AND op <> 'D'
)
SELECT * FROM (
  SELECT
  {_DIFF_PICK},
  CASE WHEN o.o_orderkey IS NULL THEN 'I'
       WHEN n.o_orderkey IS NULL THEN 'D'
       WHEN {_DIFF_CHANGED} THEN 'U' END AS op
  FROM base o FULL OUTER JOIN new_t n ON o.o_orderkey = n.o_orderkey
) WHERE op IS NOT NULL
"""
)


def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (#94): a per-status
    rollup of orders is folded forward through the synthesized change
    batch (delta = agg(new impacted) - agg(old impacted)) and must equal
    a from-scratch recompute over the merged table EXACTLY — which is
    what the oracle computes. Decimal state makes the identity exact."""
    # Round 15 (guide §2.4): the maintenance delta needs exactly the
    # merge's internal frames — old_rows IS the impacted split and
    # new_rows IS the surviving-rows split (merged ⋉ keys ≡ survivors:
    # untouched rows are left-anti on the same key set, so the semi-join
    # against the full merged table selected precisely the survivors).
    # Using merge_parts drops the second semi-join, the untouched
    # anti-join + union, and a duplicate distinct-key aggregation.
    base = base_orders(spark, sf_dir)
    changes = synth_changes(spark, sf_dir)
    survivors, _, old_rows = cdc.merge_parts(
        base,
        changes,
        ["o_orderkey"],
        seq_col="seq",
        op_col="op",
        prune_keys=_batch_prune_keys(spark, sf_dir),
    )
    new_rows = survivors.where(F.col("_op") != "D").select(*BASE_COLS)
    prev = cdc.grouped_agg_state(base, ["o_orderstatus"], "o_totalprice")
    state = cdc.maintain_grouped_agg(
        prev, old_rows, new_rows, ["o_orderstatus"], "o_totalprice"
    )
    return cdc.agg_state_report(state, ["o_orderstatus"], "sum_totalprice")


CDC_INCREMENTAL_AGG_SQL = (
    _MERGE_CORE_SQL
    + """
SELECT o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE) AS sum_totalprice
FROM ranked WHERE rnk = 1 AND op <> 'D'
GROUP BY o_orderstatus
"""
)


def lake_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report (#100) over orders + a
    deterministic bad batch: every synthesized row violates range
    (negated price), isin (status 'X'), references (custkey pushed past
    the customer domain) and duplicates its order key — so each rule's
    count is exercised, not just zero-checked."""
    from ..operators import expectations

    base = base_orders(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    bad = (
        base.where(F.col("o_orderkey") % 500 == 7)
        .withColumn("o_totalprice", -F.col("o_totalprice"))
        .withColumn("o_custkey", F.col("o_custkey") + 10_000_000)
        .withColumn("o_orderstatus", F.lit("X"))
    )
    df = base.unionByName(bad)
    return expectations.expectations_report(
        df,
        not_null=["o_orderkey"],
        ranges={"o_totalprice": (0, None)},
        isin={"o_orderstatus": ["F", "O", "P"]},
        unique=[["o_orderkey"]],
        references={"o_custkey": (customer, "c_custkey")},
    )


LAKE_EXPECTATIONS_SQL = """
WITH bad AS (
  SELECT o_orderkey, o_custkey + 10000000 AS o_custkey, 'X' AS o_orderstatus,
         -o_totalprice AS o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 500 = 7
),
t AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM bad
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM t)
SELECT 'not_null:o_orderkey' AS rule,
  CAST((SELECT COUNT(*) FROM t WHERE o_orderkey IS NULL) AS BIGINT) AS n_violations,
  n_rows FROM n
UNION ALL
SELECT 'range:o_totalprice',
  CAST((SELECT COUNT(*) FROM t WHERE o_totalprice IS NOT NULL AND o_totalprice < 0) AS BIGINT),
  n_rows FROM n
UNION ALL
SELECT 'isin:o_orderstatus',
  CAST((SELECT COUNT(*) FROM t
        WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O','P')) AS BIGINT),
  n_rows FROM n
UNION ALL
SELECT 'unique:o_orderkey',
  CAST(COALESCE((SELECT SUM(c) FROM (
    SELECT COUNT(*) AS c FROM t GROUP BY o_orderkey HAVING COUNT(*) > 1
  )), 0) AS BIGINT),
  n_rows FROM n
UNION ALL
SELECT 'references:o_custkey',
  CAST((SELECT COUNT(*) FROM t WHERE o_custkey IS NOT NULL
        AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT),
  n_rows FROM n
"""


def lake_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (#103) of orders — the discovery pass that feeds
    lake_expectations' rule choices."""
    from ..operators import expectations

    return expectations.profile_columns(base_orders(spark, sf_dir))


LAKE_PROFILE_SQL = f"""
WITH base AS ({_BASE_SQL}),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM base)
SELECT 'o_orderkey' AS col_name, n_rows,
  CAST((SELECT COUNT(*) FROM base WHERE o_orderkey IS NULL) AS BIGINT) AS n_nulls,
  CAST((SELECT COUNT(DISTINCT o_orderkey) FROM base) AS BIGINT) AS n_distinct
FROM n
UNION ALL
SELECT 'o_custkey', n_rows,
  CAST((SELECT COUNT(*) FROM base WHERE o_custkey IS NULL) AS BIGINT),
  CAST((SELECT COUNT(DISTINCT o_custkey) FROM base) AS BIGINT) FROM n
UNION ALL
SELECT 'o_orderstatus', n_rows,
  CAST((SELECT COUNT(*) FROM base WHERE o_orderstatus IS NULL) AS BIGINT),
  CAST((SELECT COUNT(DISTINCT o_orderstatus) FROM base) AS BIGINT) FROM n
UNION ALL
SELECT 'o_totalprice', n_rows,
  CAST((SELECT COUNT(*) FROM base WHERE o_totalprice IS NULL) AS BIGINT),
  CAST((SELECT COUNT(DISTINCT o_totalprice) FROM base) AS BIGINT) FROM n
UNION ALL
SELECT 'o_orderpriority', n_rows,
  CAST((SELECT COUNT(*) FROM base WHERE o_orderpriority IS NULL) AS BIGINT),
  CAST((SELECT COUNT(DISTINCT o_orderpriority) FROM base) AS BIGINT) FROM n
"""


# --------------------- cross-table referential-integrity report (#141)

_FK_CHECKS = [
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


def lake_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema (#141).

    The cross-TABLE complement of the per-column expectations (#100)
    and profile (#103): after CDC has been folding four tables
    independently, did any child row lose its parent? One row per
    declared FK edge: child row count, orphan count (left-anti join on
    the key — broadcast when the parent key set is small, shuffle
    otherwise; never a pairwise compare), orphan rate (one
    exactly-rounded division). NULL keys count as orphans — a NULL FK
    in this schema is a broken reference, not an optional one.

    Scale: each check is one column-pruned scan per side + one anti
    join + a 1-row aggregate; the four unions are independent jobs
    over different scans, so AQE schedules them freely.
    """
    parts = []
    for name, child_t, child_k, parent_t, parent_k in _FK_CHECKS:
        child = load_table(spark, sf_dir, child_t).select(
            F.col(child_k).alias("_k")
        )
        parent = load_table(spark, sf_dir, parent_t).select(
            F.col(parent_k).alias("_k")
        ).distinct()
        n_rows = child.agg(F.count(F.lit(1)).alias("_n"))
        orphans = child.join(parent, "_k", "left_anti").agg(
            F.count(F.lit(1)).alias("_o")
        )
        parts.append(
            n_rows.crossJoin(orphans).select(
                F.lit(name).alias("fk"),
                F.col("_n").alias("n_rows"),
                F.col("_o").alias("n_orphans"),
                (F.col("_o").cast("double") / F.col("_n").cast("double")).alias(
                    "orphan_rate"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


LAKE_INTEGRITY_REPORT_SQL = " UNION ALL ".join(
    f"""
SELECT '{name}' AS fk,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN NOT EXISTS (
    SELECT 1 FROM {parent_t} p WHERE p.{parent_k} = c.{child_k}
  ) THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
  CAST(SUM(CASE WHEN NOT EXISTS (
    SELECT 1 FROM {parent_t} p WHERE p.{parent_k} = c.{child_k}
  ) THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS orphan_rate
FROM {child_t} c"""
    for name, child_t, child_k, parent_t, parent_k in _FK_CHECKS
)


# ----------------------- join-key cardinality profiler (#144)

_KEY_PROFILES = [
    ("orders.o_custkey", "orders", "o_custkey"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
]


def lake_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key cardinality + skew profile (#144).

    The stats that drive every physical-join decision this repo makes
    (broadcast vs shuffle, salting #36, AQE skew-split, bucket counts):
    per declared join key, row count, exact distinct count, the hottest
    key's frequency, and the exact p99 per-key frequency — all integer,
    engine-exact.

    The p99 element-pick goes through the COUNTS-OF-COUNTS frame, not
    a global sort of the per-key frequency list: frequencies group by
    VALUE (``cc = (frequency, #keys with it)`` — bounded by frequency
    diversity, a few hundred rows where the per-key frame has millions),
    the r-th smallest frequency falls out of one cumulative window over
    that tiny frame, and rows/distinct/hottest are aggregates of the
    same frame. The round-11 form ranked every distinct key with a
    GLOBAL row_number — a single-task sort of a key-cardinality-sized
    frame (15M rows for l_orderkey at sf10; the 28.9 s wall) that no
    AQE can split. Per key: one row-keyed aggregation, one
    |distinct|-row aggregation (map-side combined to the tiny cc
    frame), then sub-millisecond work — nothing row- or key-scale is
    ever sorted on one task.
    """
    parts = []
    for name, table, key in _KEY_PROFILES:
        freq = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(key).alias("_k"))
            .agg(F.count(F.lit(1)).alias("_f"))
        )
        cc = freq.groupBy("_f").agg(F.count(F.lit(1)).alias("_m"))
        # tiny frame: single-partition windows are free here, and the
        # r-th smallest frequency = min _f with cumulative count >= r
        cum = Window.orderBy(F.col("_f").asc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        whole = Window.orderBy(F.col("_f").asc()).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        ranked = (
            cc.withColumn("_cum", F.sum("_m").over(cum))
            .withColumn("_nd", F.sum("_m").over(whole))
            .withColumn("_rows", F.sum(F.col("_f") * F.col("_m")).over(whole))
            .withColumn("_hot", F.max("_f").over(whole))
        )
        stats = ranked.where(
            F.col("_cum") >= F.expr("(99 * _nd + 99) div 100")
        ).agg(
            F.max("_rows").alias("_rows"),
            F.max("_nd").alias("_nd"),
            F.max("_hot").alias("_hot"),
            F.min("_f").alias("_p99"),
        )
        parts.append(
            stats.select(
                F.lit(name).alias("join_key"),
                F.col("_rows").alias("n_rows"),
                F.col("_nd").alias("n_distinct"),
                F.col("_hot").alias("max_key_freq"),
                F.col("_p99").alias("p99_key_freq"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


LAKE_KEY_PROFILE_SQL = " UNION ALL ".join(
    f"""
SELECT '{name}' AS join_key,
  CAST(SUM(f) AS BIGINT) AS n_rows,
  CAST(COUNT(*) AS BIGINT) AS n_distinct,
  CAST(MAX(f) AS BIGINT) AS max_key_freq,
  CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN f END) AS BIGINT)
    AS p99_key_freq
FROM (
  SELECT f, k, row_number() OVER (ORDER BY f ASC, k ASC) AS rn,
    COUNT(*) OVER () AS n
  FROM (SELECT {key} AS k, CAST(COUNT(*) AS BIGINT) AS f
        FROM {table} GROUP BY {key})
)"""
    for name, table, key in _KEY_PROFILES
)
