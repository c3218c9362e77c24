"""Analytics query surface over the lake tables.

These are the consumer-side queries a DMS-CDC lake exists to serve (the
reference's blog premise: a "source-similar view" queried with Spark
SQL/Athena). All plans are pure DataFrame expressions — no UDFs — so
Catalyst gets full pushdown/pruning and whole-stage codegen.

Numeric determinism: double sums are order-dependent, and the DuckDB
oracle may reduce in a different order than Spark. Aggregates therefore
cast per-row values to DECIMAL (exact, order-independent sums, identical
in both engines) and cast the final aggregate back to double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table

DEC = "decimal(30,10)"


def _dsum(col):
    """Order-independent sum of a double expression, returned as double."""
    return F.sum(col.cast(DEC)).cast("double")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style scan-heavy grouped aggregation over lineitem."""
    l = load_table(spark, sf_dir, "lineitem")
    f = l.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        f.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
            (_dsum(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price"),
            (_dsum(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,10))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective 3-way join + agg + deterministic top-10."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < F.lit("1998-03-15"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.lit("1998-03-15"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region.

    region/nation/supplier/customer are broadcast-size dims at any SF the
    lake serves (they grow ~linearly but stay << fact tables); lineitem
    never shuffles for the dim joins.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .join(
            # customer/supplier grow linearly with SF: no forced hint —
            # Catalyst auto-broadcasts them while genuinely small
            # (accurate file-scan stats) and AQE re-plans at runtime;
            # only CONSTANT-size dims (nation/region) are hinted.
            customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(_dsum(revenue).alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-N per group (top 3 customers by balance per nation)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    window = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rn", F.row_number().over(window))
        .where(F.col("rn") <= 3)
        .select("n_name", "c_custkey", "c_name", "c_acctbal", "rn")
    )


Q_TOP_CUSTOMERS_SQL = """
SELECT n_name, c_custkey, c_name, c_acctbal, rn FROM (
  SELECT n_name, c_custkey, c_name, c_acctbal,
    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) WHERE rn <= 3
"""


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling 1-hour windows: count + value sum per type."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("sum_value"),
        )
    )


Q_EVENTS_TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS bucket, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity splits a session).

    lag + cumulative-sum over per-user event-time order; the batch
    equivalent of Structured Streaming's session_window, kept here in
    window-function form so the DuckDB oracle can replay it.
    """
    events = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts"))
    new_session = (
        F.when(
            epoch - F.lag(epoch).over(by_user) > 1800, F.lit(1)
        ).otherwise(F.lit(0))
    )
    session_run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        events.withColumn("_new", new_session)
        .withColumn("session_id", F.sum("_new").over(session_run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            _dsum(F.col("value")).alias("sum_value"),
        )
    )


Q_EVENTS_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS _new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
    CAST(SUM(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
  MIN(ts) AS session_start, MAX(ts) AS session_end,
  CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_id
"""


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (status → priority → grand total).

    One shuffle; Spark expands grouping sets map-side (Expand node), so
    the rollup costs the same single aggregation exchange as a flat
    groupBy at any scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


Q_ORDERS_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows: 1 h size, 30 min hop.

    Each event lands in exactly two overlapping windows; Spark's
    ``window()`` expands them map-side (epoch-aligned starts), then one
    aggregation shuffle — the batch shape of the Structured Streaming
    sliding-window aggregation.
    """
    events = load_table(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour", "30 minutes")
    return (
        events.groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


Q_EVENTS_SLIDING_SQL = """
SELECT CAST(to_timestamp(wstart) AS TIMESTAMP) AS w_start, event_type, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sum_value
FROM (
  SELECT event_type, value,
    unnest([floor(epoch(ts) / 1800) * 1800,
            floor(epoch(ts) / 1800) * 1800 - 1800]) AS wstart
  FROM events
)
GROUP BY 1, 2
"""


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no order since 2000, rolled up per nation.

    left_anti against orders' filtered key projection — at scale the
    right side reduces to distinct o_custkey before the join (Catalyst
    prunes all other order columns and pushes the date predicate to the
    scan), and the nation dim broadcasts. The date cutoff keeps the
    result non-empty on the synthetic data (every customer has *some*
    order, so an unfiltered anti-join would verify nothing).
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(F.col("c_acctbal")).alias("sum_acctbal"),
        )
    )


Q_CUSTOMERS_NO_ORDERS_SQL = """
SELECT n_name, COUNT(*) AS n_customers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
"""


def q_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders ≥1.5× their customer's average (decorrelated subquery).

    The correlated scalar subquery becomes one window aggregation over
    orders — a single shuffle on o_custkey, no self-join. The average is
    an exact decimal sum divided in double, identically in both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    by_cust = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast(DEC)).over(by_cust).cast("double")
        / F.count(F.lit(1)).over(by_cust)
    )
    return (
        orders.withColumn("cust_avg", cust_avg)
        .where(F.col("o_totalprice") >= 1.5 * F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


Q_ORDERS_ABOVE_AVG_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) OVER w AS DOUBLE)
      / COUNT(*) OVER w AS cust_avg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey)
)
WHERE o_totalprice >= 1.5 * cust_avg
"""


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured: parse the JSON ``props`` column, aggregate a field.

    ``from_json`` with an explicit schema stays JVM-side (Jackson inside
    codegen); at scale prefer this over ``get_json_object`` per-field
    calls — one parse serves all extracted fields.
    """
    events = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        events.select(k.alias("_k"), "value")
        .groupBy((F.col("_k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_k").alias("sum_k"),
            _dsum(F.col("value")).alias("sum_value"),
        )
    )


Q_EVENTS_JSON_EXTRACT_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
  CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1
"""


def q_events_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count aggregation: daily active users + events per type.

    count(distinct) plans as a two-phase aggregate (partial distinct
    map-side, exact merge) — one extra shuffle versus a plain count, the
    canonical exact-cardinality shape. (Approximate HLL variants exist
    in both engines but aren't bit-comparable across them.)
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


Q_EVENTS_DAILY_USERS_SQL = """
SELECT date_trunc('day', ts) AS day, event_type,
  COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
"""


def q_orders_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median order price per status (sort-based percentile).

    Exact percentiles need the group's values together — the expensive
    exact form kept for when correctness demands it; approx_percentile
    is the scale path when a bounded error is acceptable.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.median("o_totalprice").alias("median_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


Q_ORDERS_MEDIAN_PRICE_SQL = """
SELECT o_orderstatus, median(o_totalprice) AS median_price,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
"""


def q_events_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event gets the user's most recent
    order total as of the event time (operators/temporal.asof_join —
    union + ordered window, one shuffle; the oracle is DuckDB's native
    ASOF JOIN, so the window formulation is checked against a reference
    implementation of the semantics).

    The right side pre-aggregates to one row per (custkey, orderdate):
    as-of semantics are only well-defined for unique key-time pairs.
    """
    from ..operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("last_order_price"))
        .withColumnRenamed("o_custkey", "user_id")
    )
    out = asof_join(
        events, orders, ["user_id"], "ts", "o_orderdate", ["last_order_price"]
    )
    return out.select("event_id", "user_id", "ts", "last_order_price")


Q_EVENTS_ASOF_ORDER_SQL = """
WITH o AS (
  SELECT o_custkey AS user_id, o_orderdate,
    MAX(o_totalprice) AS last_order_price
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts, o.last_order_price
FROM events e
ASOF LEFT JOIN o ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
"""


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: events falling inside synthetic 1-day windows
    (every 1000th order opens one) — operators/temporal.range_join's
    bucketed equi-join, not the nested-loop plan Spark would pick for a
    bare inequality join.
    """
    from ..operators.temporal import range_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_timestamp("ts").alias("_ep")
    )
    # every 997th event opens a 2-hour incident window (keyless
    # intervals — the case where a bare inequality join would go
    # nested-loop over the whole corpus)
    windows = events.where(F.col("event_id") % 997 == 0).select(
        F.col("event_id").alias("window_id"),
        F.col("_ep").alias("_start"),
        (F.col("_ep") + 7200).alias("_end"),
    )
    joined = range_join(events, windows, "_ep", "_start", "_end", bucket_width=7200)
    return joined.groupBy("window_id").agg(F.count(F.lit(1)).alias("n_events"))


Q_EVENTS_RANGE_JOIN_SQL = """
WITH w AS (
  SELECT event_id AS window_id, epoch(ts) AS s, epoch(ts) + 7200 AS e
  FROM events WHERE event_id % 997 = 0
)
SELECT window_id, COUNT(*) AS n_events
FROM events ev JOIN w ON epoch(ev.ts) >= w.s AND epoch(ev.ts) < w.e
GROUP BY window_id
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: revenue from lineitems under 20% of their part's
    average quantity, for one brand.

    The correlated scalar subquery (per-part avg) decorrelates into one
    aggregation over lineitem joined back on partkey. The comparison is
    cross-multiplied (qty * 5 * cnt < sum) so both engines compare exact
    decimals — no division, no float rounding at the boundary. The brand
    dim filter broadcasts; the per-part agg and the join share the
    l_partkey key, so AQE plans one shuffle for both.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#13")
    per_part = l.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("_qsum"),
        F.count(F.lit(1)).alias("_qcnt"),
    )
    filtered = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(per_part, "l_partkey")
        .where(
            F.col("l_quantity").cast(DEC) * 5 * F.col("_qcnt") < F.col("_qsum")
        )
    )
    return filtered.agg(
        (_dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly")
    )


Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l
JOIN part ON p_partkey = l.l_partkey AND p_brand = 'Brand#13'
JOIN (
  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(30,10))) AS qsum, COUNT(*) AS qcnt
  FROM lineitem GROUP BY l_partkey
) a ON a.l_partkey = l.l_partkey
WHERE CAST(l.l_quantity AS DECIMAL(30,10)) * 5 * qcnt < qsum
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: orders whose total quantity exceeds 300, with
    their customer. The HAVING-IN subquery becomes an aggregate →
    filter → join pipeline: the tiny qualifying-order set broadcasts
    into both fact joins, so the big lineitem table never re-shuffles
    on a second key.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("_q"))
        .where(F.col("_q") > 300)
        .select("l_orderkey", F.col("_q").cast("double").alias("total_qty"))
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(q AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(30,10))) AS q
  FROM lineitem GROUP BY l_orderkey HAVING q > 300
) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_events_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective scan: predicate + projection both push to the parquet scan."""
    events = load_table(spark, sf_dir, "events")
    return events.where(
        (F.col("event_type") == "purchase") & (F.col("value") > 50.0)
    ).select("event_id", "user_id", "ts", "value")


Q_EVENTS_FILTER_SCAN_SQL = """
SELECT event_id, user_id, ts, value
FROM events
WHERE event_type = 'purchase' AND value > 50.0
"""


def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-event average per user (bounded window FRAME coverage).

    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW over per-user event order —
    one shuffle on user_id, linear within partitions; the exact-decimal
    running sum divides in double only at the end so both engines round
    identically.
    """
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    mavg = (
        F.sum(F.col("value").cast(DEC)).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return events.select(
        "event_id", "user_id", "value", mavg.alias("moving_avg")
    )


Q_EVENTS_MOVING_AVG_SQL = """
SELECT event_id, user_id, value,
  CAST(SUM(CAST(value AS DECIMAL(30,10))) OVER w AS DOUBLE)
    / COUNT(*) OVER w AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event types into per-user columns (wide-format export).

    ``pivot`` with an EXPLICIT value list — without it Spark runs an
    extra distinct job to discover values, and the output schema becomes
    data-dependent (both wrong at scale). Plans as one Expand-free
    aggregation: each (user, type) count lands in its column map-side.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


Q_EVENTS_PIVOT_SQL = f"""
SELECT user_id,
  {', '.join(f"CAST(COALESCE(SUM(CASE WHEN event_type = '{t}' THEN 1 END), 0) AS BIGINT) AS {t}" for t in EVENT_TYPES)}
FROM events
GROUP BY user_id
"""


def q_orders_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface: customers active in 1995 AND 1996,
    minus any with an open ('O') order — set semantics (distinct rows),
    planned as semi/anti joins over pre-aggregated key sets.
    """
    orders = load_table(spark, sf_dir, "orders")
    y = F.year(F.col("o_orderdate"))
    k95 = orders.where(y == 1995).select("o_custkey").distinct()
    k96 = orders.where(y == 1996).select("o_custkey").distinct()
    open_k = orders.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    return (
        k95.intersect(k96)
        .exceptAll(open_k)
        .select(F.col("o_custkey").alias("custkey"))
    )


Q_ORDERS_SET_OPS_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


def q_events_daily_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ variant of q_events_daily_users — the 100 TB scale
    path. approx_count_distinct keeps a fixed-size sketch per group and
    merges map-side, so the extra exact-distinct shuffle disappears;
    rsd=0.01 bounds the relative error at 1%. Gate: rows-only (Spark's
    HLL++ and DuckDB's HLL are not bit-comparable by design — the exact
    twin above is the value-level gate)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
        )
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


APPROX_QUANTILE_PROBS = [0.25, 0.5, 0.75, 0.95]


def q_orders_price_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate grouped quantiles — the 100 TB companion to the exact
    median (#45): ``percentile_approx`` keeps one fixed-size mergeable
    Greenwald-Khanna sketch per group with map-side partial merge, so
    cost is independent of group row count — the exact percentile's
    per-group sort/collect is the thing that stops scaling first. The
    accuracy parameter bounds rank error at 1/10000. Gate: rows-only
    (sketch internals differ across engines by design); the pytest
    tolerance check pins each approximate quantile against the exact
    one within the sketch's rank-error bound."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.percentile_approx(
            "o_totalprice", APPROX_QUANTILE_PROBS, 10000
        ).alias("price_quantiles"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ------------------------------------------ bloom-filtered semi-join (#93)

def q_lineitem_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-filtered semi-join (#93): lineitems of URGENT orders.

    The output is exactly the plain semi-join (the bloom has no false
    negatives and the closing exact join removes false positives), so
    the oracle is a plain EXISTS — what the gate certifies is that the
    pre-filtered plan is value-identical to the unfiltered one.
    """
    from ..operators import bloom

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    # Size the bitmap from the UNfiltered row count: count-star over
    # parquet is statistics-only (no column scan), and over-estimating
    # the build side only lowers the false-positive rate.
    out = bloom.bloom_semi_join(
        lineitem, urgent, "l_orderkey", "o_orderkey",
        expected_items=orders.count(),
    )
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice")


Q_LINEITEM_BLOOM_SEMI_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem l
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderpriority = '1-URGENT'
)
"""


# ----------------------------------------------- funnel analysis (#95)

def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (#95): view → click → purchase.

    A user converts a step only with an event strictly AFTER their
    previous step's first qualifying event (the product-analytics
    definition — unordered presence would overcount). t1 = first view,
    t2 = first click after t1, t3 = first purchase after t2.

    Round 15 (guide §2.3/§2.4 — partition once, reuse everywhere): ONE
    user-keyed exchange serves the whole funnel. The step times chain as
    per-user window minima over the pre-filtered stream (t2's predicate
    references the t1 window column, t3 folds into the per-user
    aggregate, which reuses the same partitioning), and the three user
    counts collapse into one global aggregate. The round-14 shape ran
    three user-keyed aggregations plus two events⋈user-frame joins —
    five shuffles and three full scans of events for the same rows.
    Output: one row per step with reach and conversion from the
    previous step (single exact division, identical operand order).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .where(F.col("event_type").isin("view", "click", "purchase"))
    )
    by_user = Window.partitionBy("user_id")
    staged = ev.withColumn(
        "_t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(by_user)
    ).withColumn(
        "_t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("_t1")),
                F.col("ts"),
            )
        ).over(by_user),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("_t1").alias("_t1"),
        F.max("_t2").alias("_t2"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("_t2")),
                F.col("ts"),
            )
        ).alias("_t3"),
    )
    counts = per_user.agg(
        F.count("_t1").alias("_n1"),
        F.count("_t2").alias("_n2"),
        F.count("_t3").alias("_n3"),
    )
    n1, n2, n3 = F.col("_n1"), F.col("_n2"), F.col("_n3")
    steps = F.array(
        F.struct(
            F.lit(1).alias("step_order"),
            F.lit("view").alias("step"),
            n1.alias("n_users"),
            F.lit(None).cast("double").alias("conv_from_prev"),
        ),
        F.struct(
            F.lit(2).alias("step_order"),
            F.lit("click").alias("step"),
            n2.alias("n_users"),
            F.when(n1 > 0, n2.cast("double") / n1.cast("double")).alias(
                "conv_from_prev"
            ),
        ),
        F.struct(
            F.lit(3).alias("step_order"),
            F.lit("purchase").alias("step"),
            n3.alias("n_users"),
            F.when(n2 > 0, n3.cast("double") / n2.cast("double")).alias(
                "conv_from_prev"
            ),
        ),
    )
    return counts.select(F.explode(steps).alias("_s")).select(
        "_s.step_order", "_s.step", "_s.n_users", "_s.conv_from_prev"
    )


Q_EVENTS_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id
),
counts AS (
  SELECT 1 AS step_order, 'view' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM t1
  UNION ALL
  SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM t2
  UNION ALL
  SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM t3
)
SELECT step_order, step, n_users,
  CASE WHEN LAG(n_users) OVER (ORDER BY step_order) > 0
    THEN n_users::DOUBLE / LAG(n_users) OVER (ORDER BY step_order)::DOUBLE END
    AS conv_from_prev
FROM counts
"""


# --------------------------------------------- retention cohorts (#96)

def q_events_retention(
    spark: SparkSession, sf_dir: str, max_day_offset: int | None = None
) -> DataFrame:
    """Retention cohort matrix (#96): users grouped by first-active day,
    distinct-user counts per day offset since that day. Two user-keyed
    aggregations + one linear equi-join; the distinct-count shuffle is
    the same shape as the daily-active-users gate.

    Scale note: the cohort×offset OUTPUT grows with the SQUARE of the
    calendar span (every cohort day × every later offset — ~(365·years)²/2
    rows), and so does each user's contribution to the distinct-count
    shuffle. The test table spans weeks, where unbounded is fine; on a
    multi-year event log pass ``max_day_offset`` (product analytics
    reads the matrix out to 30/90 days anyway). The cap filters BEFORE
    the aggregation, so the shuffle and the output are both bounded by
    cohorts × cap rather than span²."""
    # date_trunc (midnight TIMESTAMP), not to_date: the oracle bridge
    # compares DuckDB dates as midnight timestamps, the same convention
    # q_events_daily_users uses
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    activity = ev.distinct()
    offsets = activity.join(first, "user_id").select(
        "user_id",
        "cohort_day",
        F.datediff(F.col("d"), F.col("cohort_day")).alias("day_offset"),
    )
    if max_day_offset is not None:
        offsets = offsets.where(F.col("day_offset") <= max_day_offset)
    return offsets.groupBy("cohort_day", "day_offset").agg(
        F.count_distinct("user_id").alias("n_users")
    )


Q_EVENTS_RETENTION_SQL = """
WITH ev AS (SELECT user_id, date_trunc('day', ts) AS d FROM events),
first AS (SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY user_id),
activity AS (SELECT DISTINCT user_id, d FROM ev)
SELECT f.cohort_day, date_diff('day', f.cohort_day, a.d) AS day_offset,
  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN first f USING (user_id)
GROUP BY f.cohort_day, day_offset
"""


# ------------------------------------------- gap-fill / forward-fill (#101)

def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily value grid with forward-fill (#101): every day
    between a user's first and last activity appears exactly once;
    days without events carry the last observed daily max forward.

    The time-series densification shape: the calendar generates
    map-side (`sequence` + explode — never a driver loop), the grid
    left-joins the sparse dailies on (user, day), and one per-user
    ordered window forward-fills. Output is calendar-bounded (users ×
    their active span), not event-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.col("user_id"), F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.max("value").alias("v"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("_d0"), F.col("_d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.col("v").isNotNull().alias("observed"),
            F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        )
    )


Q_EVENTS_GAPFILL_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, MAX(value) AS v
  FROM events GROUP BY user_id, day
),
span AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM span
)
SELECT g.user_id, g.day,
  (d.v IS NOT NULL) AS observed,
  last_value(d.v IGNORE NULLS) OVER (
    PARTITION BY g.user_id ORDER BY g.day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS v_filled
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
"""


# --------------------------------------------------- skew report (#102)

def q_events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic (#102) over events.user_id: the report read
    before choosing plain shuffle vs AQE skew split vs a salted join."""
    from ..operators import skew

    return skew.skew_report(load_table(spark, sf_dir, "events"), ["user_id"], top_k=10)


Q_EVENTS_SKEW_REPORT_SQL = """
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows FROM events GROUP BY user_id
),
totals AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS nkeys
  FROM counts
),
top AS (
  SELECT user_id, n_rows FROM counts ORDER BY n_rows DESC, user_id LIMIT 10
)
SELECT user_id, n_rows,
  n_rows::DOUBLE / total::DOUBLE AS share,
  n_rows::DOUBLE * nkeys::DOUBLE / total::DOUBLE AS skew_x,
  (n_rows * nkeys + total - 1) // total AS salt_rec
FROM top CROSS JOIN totals
"""


# --------------------------------- event transition matrix (#116)

def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for
    each (from_type, to_type) pair of CONSECUTIVE events within a user's
    timeline, the count and the conditional probability p(to|from).

    One user-key window (lead — the sessionization footprint) + one
    pair-keyed count agg; the probability normalizes over a
    |event_types|²-bounded frame, never corpus-sized. Integer counts
    divide as doubles, so the gate hash is float-drift-free.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("next_type", F.lead("event_type").over(w)).where(
        F.col("next_type").isNotNull()
    )
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = Window.partitionBy("event_type")
    return counts.select(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
        "n",
        (F.col("n").cast("double") / F.sum("n").over(tot)).alias("p"),
    )


Q_EVENTS_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events
),
counts AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
  n::DOUBLE / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)::DOUBLE AS p
FROM counts
"""


# --------------------------------- RFM customer segmentation (#117)

RFM_REF_DATE = "1998-12-31"


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over orders: per customer recency (days before
    a fixed reference date), frequency and decimal-summed monetary,
    bucketed 1-4 against the EXACT population quartiles of each metric.

    Scale shape: bucketing compares against quartile BOUNDARIES from
    one bounded aggregate (9 doubles, broadcast back) instead of
    ntile's global single-partition window — the per-customer agg is
    the only corpus-sized shuffle. Quartile values interpolate the
    same way in Spark (percentile) and DuckDB (quantile_cont), the
    convention the exact-median gate already proves.
    """
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_REF_DATE).cast("date"), F.max("o_orderdate")
        ).alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        _dsum(F.col("o_totalprice")).alias("monetary"),
    )
    # one array-percentile per metric (3 buffers, not 9): each separate
    # percentile() aggregate buffers the full value multiset, so the
    # array form cuts the per-partition buffering and exchange payload
    # 3x at identical interpolation (same doubles)
    qs = per.agg(
        *[
            F.expr(f"percentile({c}, array(0.25, 0.5, 0.75))").alias(f"_{c}_qs")
            for c in ("recency_days", "frequency", "monetary")
        ]
    ).select(
        *[
            F.col(f"_{c}_qs").getItem(i).alias(f"{c[0]}{i + 1}")
            for c in ("recency_days", "frequency", "monetary")
            for i in range(3)
        ]
    )

    def bucket(col, lo, mid, hi):
        return (
            F.when(F.col(col) <= F.col(lo), F.lit(1))
            .when(F.col(col) <= F.col(mid), F.lit(2))
            .when(F.col(col) <= F.col(hi), F.lit(3))
            .otherwise(F.lit(4))
        )

    return per.crossJoin(F.broadcast(qs)).select(
        F.col("o_custkey").alias("c_custkey"),
        "recency_days",
        "frequency",
        "monetary",
        bucket("recency_days", "r1", "r2", "r3").alias("r_q"),
        bucket("frequency", "f1", "f2", "f3").alias("f_q"),
        bucket("monetary", "m1", "m2", "m3").alias("m_q"),
    )


Q_CUSTOMER_RFM_SQL = f"""
WITH per AS (
  SELECT o_custkey AS c_custkey,
    date_diff('day', MAX(o_orderdate), DATE '{RFM_REF_DATE}') AS recency_days,
    CAST(COUNT(*) AS BIGINT) AS frequency,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE) AS monetary
  FROM orders GROUP BY 1
),
q AS (
  SELECT
    quantile_cont(recency_days, 0.25) AS r1, quantile_cont(recency_days, 0.5) AS r2,
    quantile_cont(recency_days, 0.75) AS r3,
    quantile_cont(frequency, 0.25) AS f1, quantile_cont(frequency, 0.5) AS f2,
    quantile_cont(frequency, 0.75) AS f3,
    quantile_cont(monetary, 0.25) AS m1, quantile_cont(monetary, 0.5) AS m2,
    quantile_cont(monetary, 0.75) AS m3
  FROM per
)
SELECT c_custkey, CAST(recency_days AS INT) AS recency_days, frequency, monetary,
  CASE WHEN recency_days <= r1 THEN 1 WHEN recency_days <= r2 THEN 2
       WHEN recency_days <= r3 THEN 3 ELSE 4 END AS r_q,
  CASE WHEN frequency <= f1 THEN 1 WHEN frequency <= f2 THEN 2
       WHEN frequency <= f3 THEN 3 ELSE 4 END AS f_q,
  CASE WHEN monetary <= m1 THEN 1 WHEN monetary <= m2 THEN 2
       WHEN monetary <= m3 THEN 3 ELSE 4 END AS m_q
FROM per CROSS JOIN q
"""


# --------------------------------------- market-basket affinity (#120)

BASKET_MIN_SUPPORT = 3  # pairs must co-occur in at least this many orders


def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise part co-occurrence with support and lift (#120).

    The classic market-basket shape a recommender/feature pipeline runs
    over transactional CDC output: which part pairs land in the same
    order more often than chance. Pair generation is a self-join on the
    order key, so the fan-out is Σ_orders C(n_o, 2) with n_o bounded by
    the per-order line count (≤7 in TPC-H-shaped data, never corpus-
    sized) — the quadratic term is *per basket*, not per table. All
    shuffles are key-shaped: (order) for the pair join, (part_a,
    part_b) for the support count, (part) for the two marginal joins.
    The min-support filter runs on the aggregated pair counts BEFORE
    the marginal joins, so the join inputs are already sparse. Lift =
    P(a,b) / (P(a)·P(b)) computed from exact integer counts and one
    double division per surviving pair.
    """
    from ..operators import dedup as _dedup

    # Whole-substrate local solve first (round 14): under the scan gate
    # the pair counts, marginals, basket count AND the lift expression
    # compute in numpy from one toPandas job — same integer counts,
    # and lift = (pairs_d · n_d) / (na_d · nb_d) in the identical
    # floating-point operation order, so every double is bit-equal.
    loc = _copurchase_local(spark, sf_dir)
    if loc is not None:
        import numpy as np
        import pandas as pd

        keep = loc["w"] >= BASKET_MIN_SUPPORT
        da, db, w = loc["da"][keep], loc["db"][keep], loc["w"][keep]
        lift = (
            w.astype(np.float64) * np.float64(loc["n_orders"])
        ) / (
            loc["marg"][da].astype(np.float64)
            * loc["marg"][db].astype(np.float64)
        )
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "part_a": loc["parts"][da],
                    "part_b": loc["parts"][db],
                    "pair_orders": w,
                    "lift": lift,
                }
            ),
            schema="part_a bigint, part_b bigint, pair_orders bigint, lift double",
        )

    # The per-order sorted-array substrate (the #155/#157 builder's
    # shape): one order-keyed collect_set aggregation feeds the pair
    # fan-out, both marginals, and n_orders — replacing the round-13
    # distinct frame + per-order self-join, which cost two extra
    # exchanges (the alias-different join branches never get
    # ReusedExchange). Pair generation is map-side: position-exploded
    # anchor × suffix slice of the sorted array, so part_a < part_b by
    # construction and the pair multiset is exactly the self-join's.
    # Persisted because it feeds three consumers; tracked in the shared
    # registry the queries() wrapper drains after each entry.
    items = _dedup._track(_copurchase_baskets(spark, sf_dir).persist())
    # One count does double duty (round 14): it deterministically fills
    # the basket cache — unmaterialized, the marginal and pair map
    # stages race it and each re-run the order-keyed aggregation
    # (measured ~3 duplicate evaluations in the job profile) — and its
    # value IS n_orders, so the scalar-aggregate branch + broadcast
    # build + cross join disappear in favor of a literal.
    n_orders = items.count()
    part_n = items.select(F.explode("_parts").alias("pk")).groupBy("pk").agg(
        F.count(F.lit(1)).alias("_pn")
    )
    anchored = items.select(
        F.col("_parts"), F.posexplode("_parts").alias("_i", "part_a")
    )
    pairs = (
        anchored.select(
            "part_a",
            F.explode(
                F.slice("_parts", F.col("_i") + 2, F.size("_parts"))
            ).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .where(F.col("pair_orders") >= BASKET_MIN_SUPPORT)
    )
    return (
        pairs.join(
            part_n.select(F.col("pk").alias("part_a"), F.col("_pn").alias("_na")),
            "part_a",
        )
        .join(
            part_n.select(F.col("pk").alias("part_b"), F.col("_pn").alias("_nb")),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            (
                F.col("pair_orders").cast("double")
                * F.lit(n_orders).cast("double")
                / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
            ).alias("lift"),
        )
    )


Q_BASKET_AFFINITY_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
n_orders AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM items),
part_n AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS pn FROM items GROUP BY pk),
pairs AS (
  SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS pair_orders
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
)
SELECT part_a, part_b, pair_orders,
  pair_orders::DOUBLE * n::DOUBLE / (na.pn::DOUBLE * nb.pn::DOUBLE) AS lift
FROM pairs
JOIN part_n na ON na.pk = part_a
JOIN part_n nb ON nb.pk = part_b
CROSS JOIN n_orders
"""


# --------------------------------- time-decayed engagement score (#121)

DECAY_HALF_LIFE_DAYS = 7.0
# event weights: revenue-proximal actions count more
DECAY_WEIGHTS = {"purchase": 5, "signup": 3, "click": 2, "view": 1}


# one half-life in exact integer microseconds (7 days)
_DECAY_HALF_US = int(DECAY_HALF_LIFE_DAYS * 86400) * 1_000_000


def q_events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-decayed engagement score (#121).

    The recency-weighted activity feature every ranking/churn pipeline
    derives from an event stream: score = Σ w(type) · decay(Δt) with Δt
    measured back from the corpus max timestamp (in-plan aggregate,
    broadcast — no driver round-trip). decay halves every H=7 days.

    DETERMINISM (round-10 advice): the obvious 2^(−Δt/H) rides pow(),
    whose 1-ulp cross-engine divergence (JVM Math.pow vs libm) can flip
    the DECIMAL(30,10) term quantization and break the bit-identical
    oracle hash. The decay here is instead the piecewise-LINEAR
    exponential: with q = Δµs div H and r = Δµs mod H (exact BIGINT
    arithmetic on epoch microseconds),

        decay = (1 − r/(2H)) / 2^q          (2^q via integer shift)

    — exact halving at every whole half-life, linear in between (≤6%
    relative deviation from the smooth curve, monotone, same tail).
    Every operation is IEEE exactly-rounded (one divide, one subtract,
    one exact power-of-two scale, one multiply), so Spark and DuckDB
    produce bit-identical doubles, and the DECIMAL cast before the sum
    keeps the aggregate order-independent. Map-only per event after one
    tiny broadcast join; one user-keyed aggregation ends the plan.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    anchor = ev.agg(F.max("ts").alias("_t_max"))
    w = F.lit(None).cast("int")
    for k, v in DECAY_WEIGHTS.items():
        w = F.when(F.col("event_type") == k, F.lit(v)).otherwise(w)
    h = _DECAY_HALF_US
    dus = F.unix_micros(F.col("_t_max").cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    q = F.expr(f"_dus div {h}")
    r = F.col("_dus") % F.lit(h)
    # beyond 62 half-lives the shift overflows; the true term is < 1e-18,
    # below the DECIMAL(30,10) grid — exactly 0 in both engines
    decay = F.when(q > 62, F.lit(0.0)).otherwise(
        (F.lit(1.0) - r.cast("double") / F.lit(2.0 * h))
        / F.expr("cast(shiftleft(1L, cast(_q as int)) as double)")
    )
    term = F.col("_w").cast("double") * decay
    return (
        ev.select("user_id", "ts", w.alias("_w"))
        .where(F.col("_w").isNotNull())
        .join(F.broadcast(anchor))
        .withColumn("_dus", dus)
        .withColumn("_q", q)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(term).alias("decay_score"),
        )
    )


Q_EVENTS_DECAY_SCORE_SQL = f"""
WITH anchor AS (SELECT MAX(ts) AS t_max FROM events),
weighted AS (
  SELECT user_id,
    CASE event_type
      WHEN 'purchase' THEN 5 WHEN 'signup' THEN 3
      WHEN 'click' THEN 2 WHEN 'view' THEN 1 END AS w,
    epoch_us(t_max) - epoch_us(ts) AS dus
  FROM events CROSS JOIN anchor
),
terms AS (
  SELECT user_id, w,
    CASE WHEN dus // {_DECAY_HALF_US} > 62 THEN 0.0
      ELSE (1.0 - (dus % {_DECAY_HALF_US})::DOUBLE / {float(2 * _DECAY_HALF_US)})
           / ((1::BIGINT << (dus // {_DECAY_HALF_US})::INT)::DOUBLE)
    END AS decay
  FROM weighted WHERE w IS NOT NULL
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(w::DOUBLE * decay AS DECIMAL(30,10))) AS DOUBLE) AS decay_score
FROM terms
GROUP BY user_id
"""


# ------------------------------------- last-touch attribution (#122)

ATTRIBUTION_WINDOW_DAYS = 7


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution by channel (#122).

    For every purchase, credit the user's most recent click/view
    strictly before it; purchases with no touch inside the attribution
    window fall into the 'direct' bucket. One window pass per user
    (ordered by ts with event_id tiebreak, last_value IGNORE NULLS over
    the preceding frame) — a single user-keyed shuffle over the stream,
    no self-join, then a channel-keyed aggregate of counts and exact
    DECIMAL revenue. The product-analytics twin of the funnel/retention
    family (#95/#96).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    is_touch = F.col("event_type").isin("click", "view")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_ts = F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w)
    touch_ch = F.last(
        F.when(is_touch, F.col("event_type")), ignorenulls=True
    ).over(w)
    stale = (
        touch_ts.isNull()
        | (
            F.col("ts").cast("timestamp").cast("double")
            - touch_ts.cast("timestamp").cast("double")
            > ATTRIBUTION_WINDOW_DAYS * 86400.0
        )
    )
    return (
        ev.select(
            "*",
            F.when(stale, F.lit("direct")).otherwise(touch_ch).alias("channel"),
        )
        .where(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            _dsum(F.col("value")).alias("revenue"),
        )
    )


Q_EVENTS_ATTRIBUTION_SQL = f"""
WITH tagged AS (
  SELECT user_id, ts, event_type, value,
    last_value(CASE WHEN event_type IN ('click','view') THEN ts END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts,
    last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ch
  FROM events
)
SELECT
  CASE WHEN touch_ts IS NULL
         OR epoch(ts) - epoch(touch_ts) > {ATTRIBUTION_WINDOW_DAYS} * 86400.0
       THEN 'direct' ELSE touch_ch END AS channel,
  CAST(COUNT(*) AS BIGINT) AS purchases,
  CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS revenue
FROM tagged WHERE event_type = 'purchase'
GROUP BY 1
"""


# ----------------------------- customer ML feature matrix (#127)

FEATURE_WINDOWS_DAYS = (30, 90, 365)


def q_customer_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer trailing-window feature matrix (#127).

    The feature-engineering shape a churn/LTV training pipeline derives
    from transactional CDC output: per customer, order counts and exact
    DECIMAL-summed spend over trailing 30/90/365-day windows (anchored
    at the corpus max order date — in-plan aggregate, broadcast), plus
    recency and average order value. One conditional aggregation pass:
    every window is a CASE inside the same customer-keyed groupBy, so
    the plan is one scan + one shuffle regardless of how many windows
    are configured — never one join per feature.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d"), "o_totalprice"
    )
    anchor = o.agg(F.max("d").alias("_dmax"))
    age = F.datediff(F.col("_dmax"), F.col("d"))
    aggs = [
        F.count(F.lit(1)).alias("orders_total"),
        _dsum(F.col("o_totalprice")).alias("spend_total"),
        F.min(age).alias("days_since_last_order"),
        (
            _dsum(F.col("o_totalprice"))
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_order_value"),
    ]
    for w in FEATURE_WINDOWS_DAYS:
        in_w = age < F.lit(w)
        aggs.append(
            F.sum(F.when(in_w, 1).otherwise(0)).alias(f"orders_{w}d")
        )
        aggs.append(
            F.coalesce(
                _dsum(F.when(in_w, F.col("o_totalprice"))), F.lit(0.0)
            ).alias(f"spend_{w}d")
        )
    return o.join(F.broadcast(anchor)).groupBy("o_custkey").agg(*aggs)


_FM_WINDOW_COLS = ",\n  ".join(
    f"CAST(SUM(CASE WHEN age < {w} THEN 1 ELSE 0 END) AS BIGINT) AS orders_{w}d,\n"
    f"  COALESCE(CAST(SUM(CASE WHEN age < {w} THEN CAST(o_totalprice AS DECIMAL(30,10)) END) AS DOUBLE), 0.0) AS spend_{w}d"
    for w in FEATURE_WINDOWS_DAYS
)

Q_CUSTOMER_FEATURE_MATRIX_SQL = f"""
WITH anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
aged AS (
  SELECT o_custkey, o_totalprice,
    datediff('day', CAST(o_orderdate AS DATE), dmax) AS age
  FROM orders CROSS JOIN anchor
)
SELECT o_custkey,
  CAST(COUNT(*) AS BIGINT) AS orders_total,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE) AS spend_total,
  CAST(MIN(age) AS INT) AS days_since_last_order,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
    / COUNT(*)::DOUBLE AS avg_order_value,
  {_FM_WINDOW_COLS}
FROM aged GROUP BY o_custkey
"""


# ---------------------- linear multi-touch attribution (#131)


def _attribution_linear_local(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """Driver-side twin of the #131 report (see the gate comment in
    :func:`q_events_attribution_linear`)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("channel", StringType()),
            StructField("touched_purchases", LongType()),
            StructField("credit", DoubleType()),
        ]
    )
    pdf = ev.select("event_id", "user_id", "ts", "event_type", "value").toPandas()
    sec = (
        pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64).astype(np.float64)
        / 1e6
    )
    et = pdf["event_type"].to_numpy()
    pmask = et == "purchase"
    tmask = (et == "click") | (et == "view")
    p = pd.DataFrame(
        {
            "u": pdf["user_id"].to_numpy()[pmask],
            "p_id": pdf["event_id"].to_numpy()[pmask],
            "p_sec": sec[pmask],
            "p_val": pdf["value"].to_numpy(dtype=np.float64)[pmask],
        }
    )
    t = pd.DataFrame(
        {
            "u": pdf["user_id"].to_numpy()[tmask],
            "t_sec": sec[tmask],
            "channel": et[tmask],
        }
    )
    win_s = ATTRIBUTION_WINDOW_DAYS * 86400.0
    pairs = p.merge(t, on="u")
    age = pairs["p_sec"].to_numpy() - pairs["t_sec"].to_numpy()
    pairs = pairs[(age > 0) & (age <= win_s)]
    def _dec_sum(vals) -> float:
        # Spark's double→DECIMAL(30,10) cast goes through the shortest
        # decimal repr (BigDecimal.valueOf) then HALF_UP at scale 10 —
        # Decimal(repr(x)) is the same value; summing the scaled
        # integers is exact and one Decimal division renders the result
        acc = 0
        for x in vals:
            acc += int(
                Decimal(repr(float(x))).scaleb(10).to_integral_value(
                    rounding=ROUND_HALF_UP
                )
            )
        return float(Decimal(acc).scaleb(-10))

    rows = []
    if len(pairs):
        nt = pairs.groupby("p_id")["u"].transform("size").to_numpy(np.float64)
        credit = pairs["p_val"].to_numpy() / nt
        g = pd.DataFrame(
            {"channel": pairs["channel"].to_numpy(), "p_id": pairs["p_id"].to_numpy(), "c": credit}
        )
        for ch, sub in g.groupby("channel", sort=False):
            rows.append(
                (str(ch), int(sub["p_id"].nunique()), _dec_sum(sub["c"]))
            )
        touched = set(g["p_id"].unique().tolist())
    else:
        touched = set()
    direct = p[~p["p_id"].isin(touched)]
    if len(direct):
        rows.append(("direct", int(len(direct)), _dec_sum(direct["p_val"])))
    out = pd.DataFrame(rows, columns=["channel", "touched_purchases", "credit"])
    return spark.createDataFrame(out, out_schema)


def q_events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution by channel (#131).

    The multi-touch complement of #122's last-touch rule: every
    click/view inside the window before a purchase shares its revenue
    equally (credit = value / n_touches); purchases with no in-window
    touch stay whole in the 'direct' bucket. The purchase×touch pair
    set is a per-user range join — bounded by each user's own event
    count inside the window, the same fan-out argument as the as-of /
    range joins (#47/#48) — followed by one purchase-keyed count and a
    channel-keyed DECIMAL credit sum. Per-pair credit is a double
    division (IEEE-identical cross-engine); sums go through DECIMAL.
    """
    ev = load_table(spark, sf_dir, "events")
    # Small-input local solve (round 14): one toPandas job + numpy/
    # Decimal replaces the range join, the per-purchase count join and
    # the two aggregations. Per-pair credit is the same IEEE double
    # division; the DECIMAL(30,10) sums are replayed with Python
    # Decimal (same HALF_UP quantization, exact integer-scaled sum) —
    # and the oracle comparison normalizes doubles to 6 significant
    # digits anyway, far above any representation corner.
    from ..operators.dedup import _small_scan

    if _small_scan(ev):
        return _attribution_linear_local(spark, ev)
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_val"),
    )
    t = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    win_s = ATTRIBUTION_WINDOW_DAYS * 86400.0
    age = (
        F.col("p_ts").cast("timestamp").cast("double")
        - F.col("t_ts").cast("timestamp").cast("double")
    )
    pairs = p.join(t, "u").where((age > 0) & (age <= win_s))
    n_t = pairs.groupBy("p_id").agg(F.count(F.lit(1)).alias("_nt"))
    credited = (
        pairs.join(n_t, "p_id")
        .groupBy("channel")
        .agg(
            F.countDistinct("p_id").alias("touched_purchases"),
            _dsum(F.col("p_val") / F.col("_nt").cast("double")).alias("credit"),
        )
    )
    direct = (
        p.join(n_t.select("p_id"), "p_id", "left_anti")
        .agg(
            F.count(F.lit(1)).alias("touched_purchases"),
            F.coalesce(_dsum(F.col("p_val")), F.lit(0.0)).alias("credit"),
        )
        .select(F.lit("direct").alias("channel"), "touched_purchases", "credit")
        .where(F.col("touched_purchases") > 0)
    )
    return credited.unionByName(direct)


Q_EVENTS_ATTRIBUTION_LINEAR_SQL = f"""
WITH p AS (
  SELECT event_id AS p_id, user_id AS u, ts AS p_ts, value AS p_val
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id AS u, ts AS t_ts, event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')
),
pairs AS (
  SELECT p_id, p_val, channel
  FROM p JOIN t USING (u)
  WHERE epoch(p_ts) - epoch(t_ts) > 0
    AND epoch(p_ts) - epoch(t_ts) <= {ATTRIBUTION_WINDOW_DAYS} * 86400.0
),
n_t AS (SELECT p_id, COUNT(*) AS nt FROM pairs GROUP BY p_id),
credited AS (
  SELECT channel,
    CAST(COUNT(DISTINCT p_id) AS BIGINT) AS touched_purchases,
    CAST(SUM(CAST(p_val / nt::DOUBLE AS DECIMAL(30,10))) AS DOUBLE) AS credit
  FROM pairs JOIN n_t USING (p_id)
  GROUP BY channel
),
direct AS (
  SELECT 'direct' AS channel,
    CAST(COUNT(*) AS BIGINT) AS touched_purchases,
    COALESCE(CAST(SUM(CAST(p_val AS DECIMAL(30,10))) AS DOUBLE), 0.0) AS credit
  FROM p WHERE p_id NOT IN (SELECT p_id FROM n_t)
)
SELECT * FROM credited
UNION ALL
SELECT * FROM direct WHERE touched_purchases > 0
"""

# ------------------- revenue concentration: Gini + Pareto share (#132)


def q_customer_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment revenue concentration: exact Gini + top-20% share.

    The whale-detection diagnostic every marketplace/ads pipeline runs
    before trusting per-segment averages: Gini over buying customers'
    lifetime revenue (2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n with x ascending,
    ties broken by custkey so the rank is a bijection) plus the Pareto
    top-20% revenue share (the ⌈n/5⌉ highest-revenue customers).

    Determinism: per-customer revenue is an exact DECIMAL sum; the
    rank·revenue terms are single correctly-rounded double products
    re-quantized through DECIMAL for an order-independent sum; the
    final Gini is a fixed chain of exactly-rounded ops — no pow/ln, so
    Spark and DuckDB agree bit-for-bit. Scale: one customer-keyed agg,
    one bounded-segment sort window (the exact form; at 100 TB swap the
    per-group sort for quantile-bucketed partial ranks), one
    segment-keyed reduce of |segments| rows.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("_r")
    )
    seg = rev.join(c, rev["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "c_custkey", "_r"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("_r").asc(), F.col("c_custkey").asc()
    )
    wn = Window.partitionBy("c_mktsegment")
    ranked = seg.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wn)
    )
    top = F.col("_n") - F.col("_rk") + F.lit(1) <= F.floor(
        (F.col("_n") + F.lit(4)) / F.lit(5)
    )
    per = ranked.groupBy("c_mktsegment").agg(
        F.max("_n").alias("_nn"),
        F.sum("_r").alias("_s"),
        F.sum(
            (F.col("_rk").cast("double") * F.col("_r").cast("double")).cast(DEC)
        ).alias("_s1"),
        F.sum(F.when(top, F.col("_r"))).alias("_st"),
    )
    n_d = F.col("_nn").cast("double")
    s_d = F.col("_s").cast("double")
    gini = (F.lit(2.0) * F.col("_s1").cast("double")) / (n_d * s_d) - (
        F.col("_nn") + F.lit(1.0)
    ) / n_d
    return per.select(
        "c_mktsegment",
        F.col("_nn").cast("long").alias("n_customers"),
        s_d.alias("revenue"),
        gini.alias("gini"),
        (F.col("_st").cast("double") / s_d).alias("top20_share"),
    )


Q_CUSTOMER_GINI_SQL = """
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS r
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT c_mktsegment, r,
    row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY r ASC, c_custkey ASC) AS rk,
    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM rev JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment,
  CAST(MAX(n) AS BIGINT) AS n_customers,
  CAST(SUM(r) AS DOUBLE) AS revenue,
  (2.0 * CAST(SUM(CAST(rk::DOUBLE * r::DOUBLE AS DECIMAL(30,10))) AS DOUBLE))
    / (MAX(n)::DOUBLE * CAST(SUM(r) AS DOUBLE))
    - (MAX(n) + 1.0) / MAX(n)::DOUBLE AS gini,
  CAST(SUM(CASE WHEN n - rk + 1 <= (n + 4) // 5 THEN r END) AS DOUBLE)
    / CAST(SUM(r) AS DOUBLE) AS top20_share
FROM ranked GROUP BY c_mktsegment
"""


# --------------- signup -> purchase conversion latency cohorts (#133)


def q_events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly signup cohorts: conversion rate + exact latency quantiles.

    Time-to-convert is the activation metric growth teams pull from the
    event stream: per user, the first signup and the first purchase at
    or after it; per signup-month cohort, how many converted and the
    exact median / p90 of the latency in whole seconds. Quantiles are
    element-picks on integer seconds (row_number + index arithmetic:
    lower median at (n+1) div 2, p90 at ceil(0.9n) = (9n+9) div 10) —
    no interpolation, no floats, bit-exact in any engine.

    Scale: two user-keyed aggs + one user join (purchase fan-out
    bounded per user), then a per-cohort sort window whose partition
    count is the cohort-month cardinality; the output is cohort-sized.
    """
    # Round 15: a one-user-exchange window form was A/B'd and REJECTED
    # (0.32 → 0.35 s interleaved): the window shuffles RAW
    # signup/purchase events while this shape's signup aggregate is
    # map-side partial before its exchange (guide §2.3) — the join then
    # moves only purchases plus the small signup frame.
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("_s_ts"))
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("_p_ts")
    )
    conv = (
        s.join(p, "user_id")
        .where(F.col("_p_ts") >= F.col("_s_ts"))
        .groupBy("user_id", "_s_ts")
        .agg(F.min("_p_ts").alias("_first_p"))
    )
    lat = conv.select(
        # midnight TIMESTAMP, not DATE: the oracle bridge maps both
        # engines' timestamps to the same pandas dtype (repo convention,
        # see q_events_funnel)
        F.date_trunc("month", F.col("_s_ts").cast("timestamp")).alias(
            "cohort_month"
        ),
        F.expr(
            "(unix_micros(cast(_first_p as timestamp)) - "
            "unix_micros(cast(_s_ts as timestamp))) div 1000000"
        ).alias("_lat_s"),
    )
    w = Window.partitionBy("cohort_month").orderBy(F.col("_lat_s").asc())
    wn = Window.partitionBy("cohort_month")
    ranked = lat.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wn)
    )
    med_idx = F.expr("(_n + 1) div 2")
    p90_idx = F.expr("(9 * _n + 9) div 10")
    q = ranked.groupBy("cohort_month").agg(
        F.max("_n").cast("long").alias("n_converted"),
        F.max(F.when(F.col("_rk") == med_idx, F.col("_lat_s"))).alias(
            "median_latency_s"
        ),
        F.max(F.when(F.col("_rk") == p90_idx, F.col("_lat_s"))).alias(
            "p90_latency_s"
        ),
    )
    cohorts = s.groupBy(
        F.date_trunc("month", F.col("_s_ts").cast("timestamp")).alias(
            "cohort_month"
        )
    ).agg(F.count(F.lit(1)).alias("n_signups"))
    return cohorts.join(q, "cohort_month", "left").select(
        "cohort_month",
        "n_signups",
        F.coalesce(F.col("n_converted"), F.lit(0)).alias("n_converted"),
        (
            F.coalesce(F.col("n_converted"), F.lit(0)).cast("double")
            / F.col("n_signups").cast("double")
        ).alias("conversion_rate"),
        "median_latency_s",
        "p90_latency_s",
    )


Q_EVENTS_CONVERSION_LATENCY_SQL = """
WITH s AS (
  SELECT user_id, MIN(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT s.user_id, s_ts, MIN(e.ts) AS first_p
  FROM s JOIN events e ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s_ts
  GROUP BY s.user_id, s_ts
),
lat AS (
  SELECT date_trunc('month', s_ts) AS cohort_month,
    (epoch_us(first_p) - epoch_us(s_ts)) // 1000000 AS lat_s
  FROM conv
),
ranked AS (
  SELECT cohort_month, lat_s,
    row_number() OVER (PARTITION BY cohort_month ORDER BY lat_s ASC) AS rk,
    COUNT(*) OVER (PARTITION BY cohort_month) AS n
  FROM lat
),
q AS (
  SELECT cohort_month,
    CAST(MAX(n) AS BIGINT) AS n_converted,
    MAX(CASE WHEN rk = (n + 1) // 2 THEN lat_s END) AS median_latency_s,
    MAX(CASE WHEN rk = (9 * n + 9) // 10 THEN lat_s END) AS p90_latency_s
  FROM ranked GROUP BY cohort_month
),
cohorts AS (
  SELECT date_trunc('month', s_ts) AS cohort_month,
    CAST(COUNT(*) AS BIGINT) AS n_signups
  FROM s GROUP BY 1
)
SELECT cohort_month, n_signups,
  COALESCE(n_converted, 0) AS n_converted,
  COALESCE(n_converted, 0)::DOUBLE / n_signups::DOUBLE AS conversion_rate,
  median_latency_s, p90_latency_s
FROM cohorts LEFT JOIN q USING (cohort_month)
"""


# --------------- per-channel conversion with Wilson intervals (#134)

WILSON_Z = 1.96  # 95% two-sided
_WILSON_Z2 = WILSON_Z * WILSON_Z


def q_events_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel touch→purchase conversion with Wilson 95% bounds.

    The interval every experimentation readout needs before comparing
    channel conversion rates on unequal sample sizes: for each touch
    channel (click/view), n = users who touched, k = those with a later
    purchase, and the Wilson score interval

        (p + z²/2n ± z·√(p(1−p)/n + z²/4n²)) / (1 + z²/n)

    — built ONLY from exactly-rounded IEEE ops (÷, ×, −, √: sqrt is
    correctly rounded by the standard, unlike pow/ln), written in the
    identical evaluation order in both engines, so the doubles match
    bit-for-bit. Plan: one (channel,user)-keyed agg, one user-keyed
    purchase agg broadcast-joined back, one |channels|-row reduce.
    """
    # Round 15: a one-user-exchange window form was A/B'd and REJECTED
    # (0.22 → 0.28 s interleaved): the window shuffles RAW filtered
    # events while this shape's two aggregations are map-side partial
    # (guide §2.3 "aggregate before you shuffle") — fewer exchanges but
    # more bytes loses at every scale.
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    touch = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy(F.col("event_type").alias("channel"), "user_id")
        .agg(F.min("ts").alias("_t_ts"))
    )
    pur = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.max("ts").alias("_last_p"))
    )
    per = (
        touch.join(pur, "user_id", "left")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(
                F.when(F.col("_last_p") > F.col("_t_ts"), 1).otherwise(0)
            ).alias("n_converted"),
        )
    )
    n = F.col("n_users").cast("double")
    p = F.col("n_converted").cast("double") / n
    z2 = F.lit(_WILSON_Z2)
    denom = F.lit(1.0) + z2 / n
    center = p + z2 / (F.lit(2.0) * n)
    rad = F.lit(WILSON_Z) * F.sqrt(
        (p * (F.lit(1.0) - p)) / n + z2 / (F.lit(4.0) * n * n)
    )
    return per.select(
        "channel",
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_converted").cast("long").alias("n_converted"),
        p.alias("p_hat"),
        ((center - rad) / denom).alias("wilson_low"),
        ((center + rad) / denom).alias("wilson_high"),
    )


Q_EVENTS_WILSON_SQL = f"""
WITH touch AS (
  SELECT event_type AS channel, user_id, MIN(ts) AS t_ts FROM events
  WHERE event_type IN ('click', 'view') GROUP BY 1, 2
),
pur AS (
  SELECT user_id, MAX(ts) AS last_p FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
per AS (
  SELECT channel,
    CAST(COUNT(*) AS BIGINT) AS n_users,
    CAST(SUM(CASE WHEN last_p > t_ts THEN 1 ELSE 0 END) AS BIGINT)
      AS n_converted
  FROM touch LEFT JOIN pur USING (user_id)
  GROUP BY channel
)
SELECT channel, n_users, n_converted,
  n_converted::DOUBLE / n_users::DOUBLE AS p_hat,
  ((n_converted::DOUBLE / n_users::DOUBLE
      + {_WILSON_Z2!r} / (2.0 * n_users::DOUBLE))
   - {WILSON_Z!r} * sqrt(
       ((n_converted::DOUBLE / n_users::DOUBLE)
          * (1.0 - n_converted::DOUBLE / n_users::DOUBLE)) / n_users::DOUBLE
       + {_WILSON_Z2!r} / (4.0 * n_users::DOUBLE * n_users::DOUBLE)))
  / (1.0 + {_WILSON_Z2!r} / n_users::DOUBLE) AS wilson_low,
  ((n_converted::DOUBLE / n_users::DOUBLE
      + {_WILSON_Z2!r} / (2.0 * n_users::DOUBLE))
   + {WILSON_Z!r} * sqrt(
       ((n_converted::DOUBLE / n_users::DOUBLE)
          * (1.0 - n_converted::DOUBLE / n_users::DOUBLE)) / n_users::DOUBLE
       + {_WILSON_Z2!r} / (4.0 * n_users::DOUBLE * n_users::DOUBLE)))
  / (1.0 + {_WILSON_Z2!r} / n_users::DOUBLE) AS wilson_high
FROM per
"""


# ------------------------- top session paths (#142)

SESSION_PATH_K = 20
SESSION_PATH_LEN = 3


def q_events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k opening event paths per session (#142).

    The navigation-analysis twin of sessionization (#17): sessions form
    with the same 30-min-gap lag+cumsum, each session reduces to its
    first ``SESSION_PATH_LEN`` event types joined as 'a>b>c'
    (concat_ws skips the NULLs of shorter sessions — identical
    semantics in DuckDB), and the report is the k most frequent paths
    (ties to the lexically smaller path). Two user-keyed window passes
    over the stream + one path-keyed count whose cardinality is the
    path vocabulary, then a driver-free top-k.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts"))
    new_session = F.when(
        epoch - F.lag(epoch).over(by_user) > 1800, F.lit(1)
    ).otherwise(F.lit(0))
    run = by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = events.withColumn("_new", new_session).withColumn(
        "session_id", F.sum("_new").over(run)
    )
    in_sess = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    firsts = (
        sess.withColumn("_rn", F.row_number().over(in_sess))
        .where(F.col("_rn") <= SESSION_PATH_LEN)
        .groupBy("user_id", "session_id")
        .agg(
            *[
                F.min(
                    F.when(F.col("_rn") == k, F.col("event_type"))
                ).alias(f"_e{k}")
                for k in range(1, SESSION_PATH_LEN + 1)
            ]
        )
    )
    path = F.concat_ws(
        ">", *[F.col(f"_e{k}") for k in range(1, SESSION_PATH_LEN + 1)]
    )
    counts = firsts.select(path.alias("path")).groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    w = Window.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= SESSION_PATH_K)
        .select("path", "n_sessions", F.col("rank").cast("int").alias("rank"))
    )


Q_EVENTS_SESSION_PATHS_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(new_s) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS session_id
  FROM marked
),
firsts AS (
  SELECT user_id, session_id,
    {", ".join(f"MIN(CASE WHEN rn = {k} THEN event_type END) AS e{k}" for k in range(1, SESSION_PATH_LEN + 1))}
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, session_id ORDER BY ts, event_id
    ) AS rn FROM sess
  ) WHERE rn <= {SESSION_PATH_LEN}
  GROUP BY user_id, session_id
),
counts AS (
  SELECT concat_ws('>', {", ".join(f"e{k}" for k in range(1, SESSION_PATH_LEN + 1))}) AS path,
    CAST(COUNT(*) AS BIGINT) AS n_sessions
  FROM firsts GROUP BY 1
)
SELECT path, n_sessions, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS rank
  FROM counts
) WHERE rank <= {SESSION_PATH_K}
"""


# ----------------------- equi-width value histogram (#143)

HIST_BINS = 20


def q_orders_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (#143).

    The profiling primitive (#103's distribution panel): min/max from
    one tiny aggregate broadcast back in-plan, then every row maps to
    bin = min(floor((x−lo)/width), bins−1) — the max value closes into
    the last bin — and one bin-keyed count ends the plan (≤ bins rows
    shuffle after map-side combine). All arithmetic is exactly-rounded
    doubles on identical inputs, so bin assignment is engine-identical;
    bin edges recompute as lo + bin·width in pinned order. Empty bins
    are absent by construction (count source, not a calendar spine).
    """
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    mm = o.agg(
        F.min("o_totalprice").alias("_lo"), F.max("o_totalprice").alias("_hi")
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(HIST_BINS))
    bin_ = F.least(
        F.floor((F.col("o_totalprice") - F.col("_lo")) / width),
        F.lit(HIST_BINS - 1),
    ).cast("int")
    return (
        o.join(F.broadcast(mm))
        .select(bin_.alias("bin"), F.col("_lo"), width.alias("_w"))
        .groupBy("bin", "_lo", "_w")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "bin",
            (F.col("_lo") + F.col("bin").cast("double") * F.col("_w")).alias(
                "bin_lo"
            ),
            "n_orders",
        )
    )


Q_ORDERS_HISTOGRAM_SQL = f"""
WITH mm AS (
  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
),
binned AS (
  SELECT CAST(LEAST(
      FLOOR((o_totalprice - lo) / ((hi - lo) / {float(HIST_BINS)})),
      {HIST_BINS - 1}) AS INT) AS bin,
    lo, (hi - lo) / {float(HIST_BINS)} AS w
  FROM orders CROSS JOIN mm
)
SELECT bin, lo + bin::DOUBLE * w AS bin_lo,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM binned GROUP BY bin, lo, w
"""


# ---------------- percentile-rank feature transform (#145)


def q_orders_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-segment percentile-rank transform of order totals (#145).

    The monotone feature scaling (CDF transform) a ranking model wants
    instead of raw currency: pct = (rank−1)/(n−1) with RANK (ties share
    a rank, so equal prices map to equal features — integer arithmetic,
    one exactly-rounded division, engine-identical). Partitioned by the
    customer segment: the window's partition count is |segments| — the
    exact per-group sort form; a 100 TB variant buckets by the #143
    histogram and interpolates. Output keeps the raw value for audits.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "c_mktsegment", "o_totalprice"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").asc())
    wn = Window.partitionBy("c_mktsegment")
    return j.select(
        "o_orderkey",
        "c_mktsegment",
        "o_totalprice",
        (
            (F.rank().over(w) - F.lit(1)).cast("double")
            / (F.count(F.lit(1)).over(wn) - F.lit(1)).cast("double")
        ).alias("pct_rank"),
    )


Q_ORDERS_PERCENTILE_SQL = """
SELECT o_orderkey, c_mktsegment, o_totalprice,
  (rank() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice ASC) - 1)::DOUBLE
    / (COUNT(*) OVER (PARTITION BY c_mktsegment) - 1)::DOUBLE AS pct_rank
FROM orders JOIN customer ON o_custkey = c_custkey
"""


# ------------------- MAD robust outlier report (#146)

MAD_K = 10.0  # flag |x - median| > K * MAD (tight data: high K)


def _mad_outliers_local(
    spark: SparkSession, o: DataFrame, c: DataFrame
) -> DataFrame:
    """Driver-side twin of the #146 report (see the gate comment in
    :func:`q_orders_mad_outliers`)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("c_mktsegment", c.schema["c_mktsegment"].dataType),
            StructField("n_orders", LongType()),
            StructField("median_price", DoubleType()),
            StructField("mad", DoubleType()),
            StructField("n_outliers", LongType()),
        ]
    )
    op = o.toPandas()
    cp = c.toPandas()
    seg_of = dict(zip(cp["c_custkey"].to_numpy(), cp["c_mktsegment"].to_numpy()))
    segs = op["o_custkey"].map(seg_of)
    mask = segs.notna().to_numpy()
    price = op["o_totalprice"].to_numpy(dtype=np.float64)[mask]
    scodes, suniq = pd.factorize(segs[mask], sort=True)

    def _median_sorted(v: np.ndarray) -> float:
        # Spark Percentile(0.5): pos = 0.5·(n−1); lower + 0.5·(upper−lower)
        n = v.size
        if n % 2:
            return float(v[n // 2])
        a, b = v[n // 2 - 1], v[n // 2]
        return float(a + 0.5 * (b - a))

    rows = []
    for si, seg in enumerate(suniq):
        v = np.sort(price[scodes == si])
        m = _median_sorted(v)
        dev = np.abs(price[scodes == si] - m)
        mad = _median_sorted(np.sort(dev))
        n_out = int((dev > np.float64(MAD_K) * mad).sum())
        rows.append((seg, int(v.size), m, mad, n_out))
    out = pd.DataFrame(
        rows,
        columns=["c_mktsegment", "n_orders", "median_price", "mad", "n_outliers"],
    )
    return spark.createDataFrame(out, out_schema)


def q_orders_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier report per segment (#146).

    The robust twin of the z-score anomaly counts (#108): mean/stddev
    move with the outliers they hunt, median/MAD don't. Per segment:
    exact median price, exact MAD (median of |x−median|), and the count
    beyond K·MAD. Both medians are exact sort-based percentiles (the
    even-n midpoint (a+b)/2 is one exactly-rounded add + halving —
    engine-identical); the flag threshold is a fixed multiply. Two
    grouped exact-median passes + one counting pass, all keyed on the
    bounded segment column.
    """
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # Small-input local solve (round 14): two toPandas jobs + numpy
    # replace the join, two grouped exact-median passes, two broadcast
    # joins and the counting pass. The medians replicate Spark's
    # Percentile(0.5) interpolation (lower + 0.5·(upper−lower)) on the
    # sorted doubles; |x−median| and the K·MAD threshold are the same
    # single-rounding float ops.
    from ..operators.dedup import _small_scan

    if _small_scan(o) and _small_scan(c):
        return _mad_outliers_local(spark, o, c)
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_totalprice"
    )
    med = j.groupBy("c_mktsegment").agg(
        F.median("o_totalprice").alias("median_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    dev = j.join(F.broadcast(med), "c_mktsegment").select(
        "c_mktsegment",
        "median_price",
        "n_orders",
        F.abs(F.col("o_totalprice") - F.col("median_price")).alias("_dev"),
    )
    mad = dev.groupBy("c_mktsegment", "median_price", "n_orders").agg(
        F.median("_dev").alias("mad")
    )
    flagged = (
        dev.join(
            F.broadcast(mad.select("c_mktsegment", "mad")), "c_mktsegment"
        )
        .where(F.col("_dev") > F.lit(MAD_K) * F.col("mad"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return mad.join(flagged, "c_mktsegment", "left").select(
        "c_mktsegment",
        "n_orders",
        "median_price",
        "mad",
        F.coalesce(F.col("n_outliers"), F.lit(0)).alias("n_outliers"),
    )


Q_ORDERS_MAD_OUTLIERS_SQL = f"""
WITH j AS (
  SELECT c_mktsegment, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
),
med AS (
  SELECT c_mktsegment, median(o_totalprice) AS median_price,
    CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM j GROUP BY c_mktsegment
),
dev AS (
  SELECT j.c_mktsegment, median_price, n_orders,
    abs(o_totalprice - median_price) AS d
  FROM j JOIN med ON j.c_mktsegment = med.c_mktsegment
),
mad AS (
  SELECT c_mktsegment, median_price, n_orders, median(d) AS mad
  FROM dev GROUP BY c_mktsegment, median_price, n_orders
),
flagged AS (
  SELECT dev.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_outliers
  FROM dev JOIN mad ON dev.c_mktsegment = mad.c_mktsegment
  WHERE d > {MAD_K!r} * mad
  GROUP BY dev.c_mktsegment
)
SELECT c_mktsegment, n_orders, median_price, mad,
  COALESCE(n_outliers, 0) AS n_outliers
FROM mad LEFT JOIN flagged USING (c_mktsegment)
"""


# --------------------- time-constrained funnel (#147)

FUNNEL_STEP_HOURS = 48
_FUNNEL_STEP_US = FUNNEL_STEP_HOURS * 3600 * 1_000_000
FUNNEL_STEPS = ["signup", "click", "purchase"]


def q_events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained conversion funnel (#147).

    The bounded-window variant of #95's ordered funnel: each step must
    land within ``FUNNEL_STEP_HOURS`` of the user's PREVIOUS completed
    step (signup → click → purchase), the standard product-analytics
    definition where a purchase a month after the click no longer
    credits the funnel. Earliest-completion semantics: step k's
    timestamp is the MIN eligible event after step k−1 — deterministic
    and replayable in SQL. All time arithmetic is integer epoch
    microseconds. Plan: one user-keyed agg per step + one bounded
    user join per transition (each user contributes its own events
    only — the #47/#48 fan-out argument); the output is |steps| rows
    with exactly-rounded conversion-rate divisions.
    """
    # Round 15 (guide §2.3/§2.4): the same one-exchange window form as
    # q_events_funnel — the r14 shape was three user-keyed aggs, two
    # events⋈user-frame joins, three scalar counts and a 3-way union
    # (30 Exchange nodes in the static plan). Step times chain as
    # per-user window minima over the pre-filtered stream; the three
    # counts collapse into one global aggregate; the rate divisions are
    # the identical double casts.
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .where(F.col("event_type").isin(*FUNNEL_STEPS))
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.select("user_id", "event_type", us.alias("_us"))
    by_user = Window.partitionBy("user_id")
    staged = base.withColumn(
        "_t1",
        F.min(
            F.when(F.col("event_type") == FUNNEL_STEPS[0], F.col("_us"))
        ).over(by_user),
    ).withColumn(
        "_t2",
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STEPS[1])
                & (F.col("_us") >= F.col("_t1"))
                & (F.col("_us") - F.col("_t1") <= F.lit(_FUNNEL_STEP_US)),
                F.col("_us"),
            )
        ).over(by_user),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("_t1").alias("_t1"),
        F.max("_t2").alias("_t2"),
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STEPS[2])
                & (F.col("_us") >= F.col("_t2"))
                & (F.col("_us") - F.col("_t2") <= F.lit(_FUNNEL_STEP_US)),
                F.col("_us"),
            )
        ).alias("_t3"),
    )
    counts = per_user.agg(
        F.count("_t1").alias("_n1"),
        F.count("_t2").alias("_n2"),
        F.count("_t3").alias("_n3"),
    )
    steps = F.array(
        *[
            F.struct(
                F.lit(k + 1).alias("step"),
                F.lit(FUNNEL_STEPS[k]).alias("step_name"),
                F.col(f"_n{k + 1}").alias("n_users"),
                (
                    F.col(f"_n{k + 1}").cast("double")
                    / F.col("_n1").cast("double")
                ).alias("rate_from_first"),
            )
            for k in range(3)
        ]
    )
    return counts.select(F.explode(steps).alias("_s")).select(
        "_s.step", "_s.step_name", "_s.n_users", "_s.rate_from_first"
    )


Q_EVENTS_FUNNEL_WINDOWED_SQL = f"""
WITH s1 AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, t1, MIN(epoch_us(e.ts)) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[1]}'
    AND epoch_us(e.ts) >= t1
    AND epoch_us(e.ts) - t1 <= {_FUNNEL_STEP_US}
  GROUP BY e.user_id, t1
),
s3 AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[2]}'
    AND epoch_us(e.ts) >= t2
    AND epoch_us(e.ts) - t2 <= {_FUNNEL_STEP_US}
  GROUP BY e.user_id
),
n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s1),
n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s2),
n3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s3)
SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS step_name, n1.n AS n_users,
  n1.n::DOUBLE / n1.n::DOUBLE AS rate_from_first FROM n1
UNION ALL
SELECT 2, '{FUNNEL_STEPS[1]}', n2.n, n2.n::DOUBLE / n1.n::DOUBLE FROM n1, n2
UNION ALL
SELECT 3, '{FUNNEL_STEPS[2]}', n3.n, n3.n::DOUBLE / n1.n::DOUBLE FROM n1, n3
"""


# ----------------- per-day peak concurrency sweep-line (#148)

CONCURRENCY_GAP_S = 1800  # session gap, same convention as #17
# sub-day sweep chunk (1 h): the running sum's window partitions on
# (day, chunk), never a whole day — see q_events_peak_concurrency
CONCURRENCY_CHUNK_US = 3_600_000_000


def _peak_concurrency_local(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Driver-side twin of the #148 sweep for gate-small scans. The
    whole computation is integer epoch-microsecond arithmetic — session
    gaps, day clipping, +1/−1 deltas, running sums — so the numpy
    replay is exact by construction; ranks/ties realize the same
    (ts ASC, delta DESC) sweep order and the same earliest-instant
    peak tie-break."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("day", TimestampType()),
            StructField("peak_concurrency", LongType()),
            StructField("ts_at_peak_us", LongType()),
        ]
    )
    pdf = events.select("user_id", "ts", "event_id").toPandas()
    if not len(pdf):
        return spark.createDataFrame([], out_schema)
    us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    uid = pdf["user_id"].to_numpy()
    eid = pdf["event_id"].to_numpy()
    order = np.lexsort((eid, us, uid))
    u, t = uid[order], us[order]
    gap = np.int64(CONCURRENCY_GAP_S * 1_000_000)
    boundary = np.ones(t.size, dtype=bool)
    boundary[1:] = (u[1:] != u[:-1]) | ((t[1:] - t[:-1]) > gap)
    starts_idx = np.nonzero(boundary)[0]
    ends_idx = np.concatenate([starts_idx[1:] - 1, [t.size - 1]])
    s_us, e_us = t[starts_idx], t[ends_idx]
    day_us = np.int64(86_400 * 1_000_000)
    d0, d1 = s_us // day_us, e_us // day_us
    cnt = (d1 - d0 + 1).astype(np.int64)
    total = int(cnt.sum())
    offs = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    within = np.arange(total, dtype=np.int64) - np.repeat(offs, cnt)
    dayno = np.repeat(d0, cnt) + within
    cs = np.maximum(np.repeat(s_us, cnt), dayno * day_us)
    ce = np.minimum(np.repeat(e_us, cnt), (dayno + 1) * day_us - 1)
    dn = np.concatenate([dayno, dayno])
    ts2 = np.concatenate([cs, ce])
    delta = np.concatenate(
        [np.ones(total, dtype=np.int64), -np.ones(total, dtype=np.int64)]
    )
    so = np.lexsort((-delta, ts2, dn))
    dns, tss, ds = dn[so], ts2[so], delta[so]
    newd = np.ones(dns.size, dtype=bool)
    newd[1:] = dns[1:] != dns[:-1]
    dstarts = np.nonzero(newd)[0]
    # per-day running sum (the day count is small; the loop is cheap)
    peak_rows = []
    bounds = np.concatenate([dstarts, [dns.size]])
    for i in range(len(dstarts)):
        lo, hi = bounds[i], bounds[i + 1]
        c = np.cumsum(ds[lo:hi])
        p = int(c.max())
        at = int(tss[lo:hi][c == p].min())
        peak_rows.append((int(dns[lo]), p, at))
    out = pd.DataFrame(
        {
            "day": pd.to_datetime(
                np.array([r[0] for r in peak_rows], dtype=np.int64) * 86_400,
                unit="s",
            ),
            "peak_concurrency": np.array(
                [r[1] for r in peak_rows], dtype=np.int64
            ),
            "ts_at_peak_us": np.array(
                [r[2] for r in peak_rows], dtype=np.int64
            ),
        }
    )
    return spark.createDataFrame(out, out_schema)


def q_events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak concurrent sessions via a sweep line (#148).

    Capacity-planning readout: how many sessions (the #17 gap
    definition) overlap at the busiest instant of each day. Sessions
    become +1/-1 deltas at their (day-clipped) endpoints; a running
    sum over (ts, delta DESC) is the concurrency curve — at a tie the
    start counts before the end, so back-to-back sessions touching at
    one microsecond overlap (closed intervals). Midnight-spanning
    sessions are split by exploding their day span.

    The sweep is TWO-LEVEL so no window partition ever spans a whole
    day (a single busy day at 100 TB would otherwise be one task's
    sort + sequential sum, and AQE cannot split a window partition):
    deltas are chunked by fixed hour buckets (``CONCURRENCY_CHUNK_US``)
    and each (day, chunk) computes its running sum and its chunk total
    in parallel; the per-chunk totals — a |days × 24|-row frame —
    prefix-sum per day and broadcast back as chunk offsets, and
    ``conc = within-chunk running sum + offset``. Output is identical
    to the single-level sweep; the only cross-chunk work is the tiny
    offset window. All time arithmetic is
    integer epoch microseconds; the running sum is an integer —
    engine-identical. Peak ties resolve to the earliest instant
    (MIN ts at the max).
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    # Small-input local solve (round 14): all-integer arithmetic, so
    # the numpy replay is exact — one toPandas job replaces the session
    # windows, the day explode, the two-level sweep and the peak joins.
    from ..operators.dedup import _small_scan

    if _small_scan(events):
        return _peak_concurrency_local(spark, events)
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    new_session = F.when(
        epoch - F.lag(epoch).over(by_user) > CONCURRENCY_GAP_S * 1_000_000,
        F.lit(1),
    ).otherwise(F.lit(0))
    run = by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        events.withColumn("_us", epoch)
        .withColumn("_new", new_session)
        .withColumn("_sid", F.sum("_new").over(run))
        .groupBy("user_id", "_sid")
        .agg(F.min("_us").alias("_start"), F.max("_us").alias("_end"))
    )
    # Clip to day boundaries: one row per (session, day) it touches.
    day_us = F.lit(86_400 * 1_000_000).cast("bigint")
    clipped = (
        sessions.select(
            F.explode(
                F.sequence(
                    F.expr("_start div 86400000000"),
                    F.expr("_end div 86400000000"),
                )
            ).alias("_dayno"),
            "_start",
            "_end",
        )
        .select(
            "_dayno",
            F.greatest(F.col("_start"), F.col("_dayno") * day_us).alias("_s"),
            F.least(F.col("_end"), (F.col("_dayno") + 1) * day_us - 1).alias("_e"),
        )
    )
    deltas = clipped.select(
        "_dayno", F.col("_s").alias("ts_us"), F.lit(1).alias("delta")
    ).unionByName(
        clipped.select(
            "_dayno", F.col("_e").alias("ts_us"), F.lit(-1).alias("delta")
        )
    )
    # two-level sweep: chunk = fixed hour bucket (monotone in ts_us, so
    # concatenating chunks in _chunk order IS the day's (ts, delta DESC)
    # order — the running sums compose exactly). No persist: both
    # consumers shuffle the identical session subtree, so ReuseExchange
    # computes the expensive part once (measured faster than a persist
    # at every sf: cache write + broadcast barrier cost more than the
    # duplicated post-shuffle map work).
    deltas = deltas.withColumn(
        "_chunk", F.expr(f"ts_us div {CONCURRENCY_CHUNK_US}")
    )
    sweep = Window.partitionBy("_dayno", "_chunk").orderBy(
        F.col("ts_us").asc(), F.col("delta").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = (
        deltas.groupBy("_dayno", "_chunk")
        .agg(F.sum("delta").alias("_tot"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_tot").over(
                    Window.partitionBy("_dayno")
                    .orderBy("_chunk")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_dayno", "_chunk", "_off")
    )
    curve = deltas.withColumn("_run", F.sum("delta").over(sweep)).join(
        F.broadcast(offsets), ["_dayno", "_chunk"]
    ).withColumn("conc", F.col("_run") + F.col("_off"))
    peak = curve.groupBy("_dayno").agg(F.max("conc").alias("peak_concurrency"))
    at = (
        curve.join(F.broadcast(peak), "_dayno")
        .where(F.col("conc") == F.col("peak_concurrency"))
        .groupBy("_dayno", "peak_concurrency")
        .agg(F.min("ts_us").alias("ts_at_peak_us"))
    )
    # midnight TIMESTAMP, not DATE: the oracle bridge renders both
    # engines' date_trunc-style values identically (same as #96/#101)
    return at.select(
        F.timestamp_seconds(F.col("_dayno") * 86_400).alias("day"),
        F.col("peak_concurrency").cast("bigint").alias("peak_concurrency"),
        "ts_at_peak_us",
    )


Q_EVENTS_PEAK_CONCURRENCY_SQL = f"""
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
      OVER (PARTITION BY user_id ORDER BY ts, event_id)
      > {CONCURRENCY_GAP_S * 1_000_000} THEN 1 ELSE 0 END AS _new
  FROM events
), sessions AS (
  SELECT user_id,
    SUM(_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid,
    us
  FROM flagged
), spans AS (
  SELECT MIN(us) AS s, MAX(us) AS e FROM sessions GROUP BY user_id, sid
), clipped AS (
  SELECT dayno,
    GREATEST(s, dayno * 86400000000) AS s,
    LEAST(e, (dayno + 1) * 86400000000 - 1) AS e
  FROM (
    SELECT unnest(generate_series(s // 86400000000, e // 86400000000)) AS dayno,
      s, e
    FROM spans
  )
), deltas AS (
  SELECT dayno, s AS ts_us, 1 AS delta FROM clipped
  UNION ALL
  SELECT dayno, e AS ts_us, -1 AS delta FROM clipped
), curve AS (
  SELECT dayno, ts_us,
    SUM(delta) OVER (PARTITION BY dayno ORDER BY ts_us ASC, delta DESC
                     ROWS UNBOUNDED PRECEDING) AS conc
  FROM deltas
), peak AS (
  SELECT dayno, MAX(conc) AS peak_concurrency FROM curve GROUP BY dayno
)
SELECT epoch_ms(dayno * 86400000) AS day,
  CAST(peak.peak_concurrency AS BIGINT) AS peak_concurrency,
  MIN(ts_us) AS ts_at_peak_us
FROM curve JOIN peak USING (dayno)
WHERE conc = peak.peak_concurrency
GROUP BY dayno, peak.peak_concurrency
"""


# --------------------- month-over-month revenue growth (#149)


def q_orders_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth (#149).

    Period-over-period KPI: revenue per calendar month (DECIMAL sum —
    order-independent, engine-exact), previous month via LAG over the
    month spine, growth = (cur − prev)/prev on the two exactly-rounded
    doubles. The window runs AFTER the aggregation, over |months| rows
    — a single-partition sort of a few hundred rows regardless of data
    scale, so the plan is one grouped agg + one tiny window. First
    month reports NULL growth (no prior period).
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    monthly = (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(_dsum(F.col("o_totalprice")).alias("revenue"))
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("growth"),
    )


Q_ORDERS_MOM_GROWTH_SQL = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
  LAG(revenue) OVER (ORDER BY month) AS prev_revenue,
  (revenue - LAG(revenue) OVER (ORDER BY month))
    / LAG(revenue) OVER (ORDER BY month) AS growth
FROM monthly
"""


# ------------------- equi-depth (quantile) histogram (#153)

EQDEPTH_BUCKETS = 10


def q_orders_histogram_eqdepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of order totals (#153).

    The quantile twin of #143's equi-width bins — the distribution
    panel an optimizer's statistics (and any drift monitor) actually
    want, since equal-population buckets resolve the dense region
    equal-width bins smear. Boundaries are the exact population
    deciles from ONE bounded aggregate (9 doubles, broadcast back —
    the #117 pattern, never a global ntile window); every row then
    buckets through the same <= chain in both engines, and the
    per-bucket count/min/max is one grouped agg. Interpolated decile
    values match across engines (percentile == quantile_cont, the
    convention the exact-median gate proves).
    """
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    n = EQDEPTH_BUCKETS
    # ONE percentile(col, array(...)) aggregate, not n-1 independent
    # percentile() calls: each percentile aggregate buffers the full
    # per-partition value multiset, so nine of them serialized nine
    # copies of the column through the single-partition exchange
    # (measured 2.7 s at sf0.1; the array form shares one buffer and
    # computes all nine cut points from it — identical interpolation,
    # identical doubles).
    probs = ", ".join(str(i / n) for i in range(1, n))
    qs = o.agg(
        F.expr(f"percentile(o_totalprice, array({probs}))").alias("_bs")
    ).select(
        *[F.col("_bs").getItem(i - 1).alias(f"_b{i}") for i in range(1, n)]
    )
    bucket = F.lit(n - 1)
    for i in range(n - 1, 0, -1):
        bucket = F.when(
            F.col("o_totalprice") <= F.col(f"_b{i}"), F.lit(i - 1)
        ).otherwise(bucket)
    return (
        o.join(F.broadcast(qs))
        .select(bucket.cast("int").alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


_EQD_BOUNDS = ",\n    ".join(
    f"quantile_cont(o_totalprice, {i / EQDEPTH_BUCKETS}) AS b{i}"
    for i in range(1, EQDEPTH_BUCKETS)
)
_EQD_CASE = " ".join(
    f"WHEN o_totalprice <= b{i} THEN {i - 1}"
    for i in range(1, EQDEPTH_BUCKETS)
)
Q_ORDERS_HISTOGRAM_EQDEPTH_SQL = f"""
WITH q AS (
  SELECT {_EQD_BOUNDS}
  FROM orders
)
SELECT CASE {_EQD_CASE} ELSE {EQDEPTH_BUCKETS - 1} END AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM orders CROSS JOIN q
GROUP BY 1
"""


# ----------- categorical distribution drift, integer-exact TVD (#154)

DRIFT_PIVOT_DATE = "1998-01-01"


def q_orders_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical distribution drift between order eras (#154).

    The monitoring readout a lake pipeline schedules after every load:
    did the categorical mix shift between the early and late era (fixed
    pivot date)? Total variation distance — TVD = ½ Σ|p_i − q_i| — is
    computed WITHOUT any float accumulation: with per-category counts
    n_i (early, total Te) and m_i (late, total Tl),
    TVD = Σ|n_i·Tl − m_i·Te| / (2·Te·Tl), an integer absolute-sum and
    ONE exactly-rounded division — bit-identical across engines, no
    log/entropy needed. One scan builds both eras' counts per audited
    dimension (categories are bounded, the agg is |dims×cats| rows);
    the totals ride the same frame. Te·Tl stays under 2^63 through
    ~3×10⁹ rows per era; past that compute the final ratio in DECIMAL.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_orderpriority", "o_orderstatus"
    )
    era = (F.col("o_orderdate") < F.lit(DRIFT_PIVOT_DATE).cast("timestamp")).cast(
        "int"
    )
    rows = None
    for dim in ("o_orderpriority", "o_orderstatus"):
        per = (
            o.select(F.lit(dim).alias("dim"), F.col(dim).alias("category"), era.alias("_early"))
            .groupBy("dim", "category")
            .agg(
                F.sum("_early").alias("_n"),
                (F.count(F.lit(1)) - F.sum("_early")).alias("_m"),
            )
        )
        rows = per if rows is None else rows.unionByName(per)
    tot = rows.groupBy("dim").agg(
        F.sum("_n").alias("_te"), F.sum("_m").alias("_tl")
    )
    return (
        rows.join(tot, "dim")
        .groupBy("dim", "_te", "_tl")
        .agg(
            F.sum(F.abs(F.col("_n") * F.col("_tl") - F.col("_m") * F.col("_te"))).alias(
                "_num"
            ),
            F.count(F.lit(1)).alias("n_categories"),
        )
        .select(
            "dim",
            F.col("_te").alias("n_early"),
            F.col("_tl").alias("n_late"),
            "n_categories",
            (
                F.col("_num").cast("double")
                / (F.lit(2.0) * (F.col("_te") * F.col("_tl")).cast("double"))
            ).alias("tvd"),
        )
    )


Q_ORDERS_DRIFT_TVD_SQL = f"""
WITH rows_ AS (
  SELECT dim, category,
    CAST(SUM(early) AS BIGINT) AS n, CAST(COUNT(*) - SUM(early) AS BIGINT) AS m
  FROM (
    SELECT 'o_orderpriority' AS dim, o_orderpriority AS category,
      CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_PIVOT_DATE}' THEN 1 ELSE 0 END AS early
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', o_orderstatus,
      CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_PIVOT_DATE}' THEN 1 ELSE 0 END
    FROM orders
  )
  GROUP BY dim, category
),
tot AS (
  SELECT dim, CAST(SUM(n) AS BIGINT) AS te, CAST(SUM(m) AS BIGINT) AS tl
  FROM rows_ GROUP BY dim
)
SELECT rows_.dim, te AS n_early, tl AS n_late,
  CAST(COUNT(*) AS BIGINT) AS n_categories,
  CAST(SUM(abs(n * tl - m * te)) AS DOUBLE) / (2.0 * CAST(te * tl AS DOUBLE)) AS tvd
FROM rows_ JOIN tot ON rows_.dim = tot.dim
GROUP BY rows_.dim, te, tl
"""


# ------------------- co-purchase PageRank, top parts (#155)

PAGERANK_TOP_K = 25


def _copurchase_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order SORTED array of distinct co-purchased parts — the
    substrate every co-purchase query starts from. One order-keyed
    aggregation (collect_set dedups in the partial, so the shuffle
    carries bounded per-order sets, not raw line items); pair and
    marginal consumers then fan out MAP-SIDE from the arrays. This
    replaced the round-13 distinct-(order, part) frame + per-order
    self-join: that shape cost four exchanges (distinct, two join-side
    re-shuffles on the order key — alias-different branches get no
    ReusedExchange — and the pair aggregation) where this one costs two
    (the group-by here, the pair aggregation in the consumer). Persist
    before multi-consumer reuse."""
    # Repartition the two projected columns by the group key BEFORE the
    # aggregation (round 14): the single-row-group bench file arrives as
    # ONE scan partition, so the groupBy's partial collect_set otherwise
    # runs serially in the scan task; hash-partitioning by l_orderkey
    # satisfies the aggregation's distribution, so this is still ONE
    # exchange total — it just moves the serial work down to a cheap raw
    # two-column shuffle write and runs the set-building in parallel.
    # At scale (orderkey, partkey) is near-unique per row, so the lost
    # partial aggregation deduped almost nothing anyway.
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("_parts"))
    )


# Whole-substrate local solve gate (round 14): at or below this many
# on-disk lineitem bytes, the ENTIRE co-purchase substrate — distinct
# (order, part) membership, canonical pair counts, per-part marginals,
# basket count — computes on the driver from ONE column-pruned toPandas
# job. The distributed build costs an order-keyed exchange, a
# collect_set aggregation, the pair explode and a pair-keyed exchange
# per standalone graph query (~1.5 s of each query's wall at sf0.1)
# for integer work that takes ~0.2 s in numpy at this size. 32 MiB of
# parquet ≈ a few MB of (order, part) int64 pairs in memory — bounded
# driver work by construction; bigger scans (sf1+, the 100 TB shape)
# fall through to the distributed builder unchanged.
COPURCHASE_LOCAL_SCAN_BYTES = 32 * 1024 * 1024


def _copurchase_local(spark: SparkSession, sf_dir: str) -> dict | None:
    """Driver-side co-purchase substrate, or None above the size gate.

    Returns numpy arrays: sorted unique part keys (``parts``), the
    UNFILTERED canonical pair codes/counts (``da``/``db``/``w`` — codes
    index ``parts``, ``da < db`` by part order, consumers apply their
    own min-support), per-part distinct-basket counts (``marg``), and
    the basket count (``n_orders``). Pair counting reuses
    :func:`~..operators.dedup._posting_pair_counts` over the distinct
    (order, part-code) postings — the same chunked kernel the fused
    dedup solvers share — so the pair multiset is exactly the
    distributed builder's (distinct membership, all within-order
    combinations, counted across orders)."""
    import numpy as np
    import pandas as pd

    from ..operators.dedup import _posting_pair_counts, scan_bytes

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    total = scan_bytes(li)
    if total is None or total >= COPURCHASE_LOCAL_SCAN_BYTES:
        return None
    pdf = li.toPandas()
    empty = np.empty(0, dtype=np.int64)
    if not len(pdf):
        return {
            "parts": empty, "da": empty, "db": empty, "w": empty,
            "marg": empty, "n_orders": 0,
        }
    pk_codes, parts = pd.factorize(pdf["l_partkey"], sort=True)
    ok = pdf["l_orderkey"].to_numpy(dtype=np.int64)
    npart = len(parts)
    # distinct (order, part) membership via one packed-key unique; for
    # equal orders the part codes come out ascending — the sorted
    # collect_set array order the distributed builder explodes
    uk = np.unique(ok * np.int64(npart) + pk_codes)
    o, pc = uk // npart, uk % npart
    marg = np.bincount(pc, minlength=npart)
    # uk is sorted, so (o, pc) is already posting-major / code-minor
    ppc = _posting_pair_counts(o, pc, npart, presorted=True)
    da, db, w = ppc if ppc is not None else (empty, empty, empty)
    return {
        "parts": np.asarray(parts, dtype=np.int64),
        "da": da, "db": db, "w": w, "marg": marg,
        "n_orders": int(np.unique(o).size),
    }


def _copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    min_support: int,
    baskets: DataFrame | None = None,
) -> DataFrame:
    """Canonical (pa < pb) co-purchase part pairs with basket support.

    Shared edge builder for the graph queries (#155 PageRank, #157
    triangles, #160 neighbors, #170 assortativity): pairs are generated
    MAP-SIDE from the per-order sorted part arrays — position-exploded
    anchor × suffix slice, so ``_pa < _pb`` holds by construction and
    the per-basket-quadratic fan-out never passes through a join — then
    one canonical pair aggregation + support filter. Exactly the
    round-13 self-join's pair multiset (sorted distinct parts per
    order), at half its exchanges. Callers mirror to both directions
    when they need a symmetric/directed view. ``baskets`` lets a
    caller hand in an already-persisted substrate so the order-keyed
    aggregation runs once for several consumers; standalone callers
    need no persist at all (the substrate feeds exactly one consumer).
    """
    li = baskets
    if li is None:
        li = _copurchase_baskets(spark, sf_dir)
    anchored = li.select(
        F.col("_parts"), F.posexplode("_parts").alias("_i", "_pa")
    )
    pairs = anchored.select(
        "_pa",
        F.explode(
            F.slice("_parts", F.col("_i") + 2, F.size("_parts"))
        ).alias("_pb"),
    )
    return (
        pairs.groupBy("_pa", "_pb")
        .agg(F.count(F.lit(1)).alias("_w"))
        .where(F.col("_w") >= min_support)
    )


def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top parts by PageRank over the co-purchase graph (#155).

    The graph-centrality upgrade of #120's pairwise lift: a part is
    central if baskets connect it to parts that are themselves
    central — the "anchor product" readout lift can't express. Edges
    are co-occurrence pairs within an order (both directions, weight =
    basket count, the #120 per-basket-quadratic join with min-support
    on the marginal), ranks come from 5 synchronous rounds of
    operators/graph.pagerank (one node-keyed shuffle per round).
    Rows-only correctness (receiver sums are shuffle-order doubles —
    the operator's invariants are pinned in pytest against numpy).
    """
    from ..operators import graph
    from ..operators.dedup import _track

    # min-support shared with the triangle census (#157): single-basket
    # coincidences are noise, and pruning them shrinks the iterated
    # edge frame ~5x before the 5 rank rounds ever see it. The canonical
    # frame is persisted BEFORE mirroring — the union's two branches get
    # no ReusedExchange (same pitfall the _copurchase_edges docstring
    # records for the self-join), so without the pin the pair join runs
    # twice (measured 16 s -> 35 s at sf0.1).
    canon = _track(
        _copurchase_edges(spark, sf_dir, TRIANGLE_MIN_BASKETS).persist()
    )
    edges = canon.unionByName(
        canon.select(
            F.col("_pb").alias("_pa"), F.col("_pa").alias("_pb"), "_w"
        )
    )
    ranks = graph.pagerank(edges, "_pa", "_pb", "_w")
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(PAGERANK_TOP_K)
        .select(F.col("node").alias("p_partkey"), "rank")
    )


# -------------------- rolling 7-day distinct users (#156)

ROLLING_DISTINCT_DAYS = 7


def q_events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (#156).

    The windowed-DISTINCT metric sliding aggs (#32) can't express:
    COUNT(DISTINCT) does not decompose over a sliding frame. The
    scalable form inverts the window: each (user, active-day) pair —
    already deduplicated, the frame sliding aggs also start from —
    CONTRIBUTES to the 7 window-days it falls inside (one bounded
    explode, fan-out = window length), then one grouped exact distinct
    per window day. Shuffle volume is 7×|user-days|, never
    |days|×|users|; no per-day self-joins, no re-scans. Output is
    clipped to days that exist in the data (midnight-TIMESTAMP
    convention).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    ud = (
        ev.select(
            "user_id", F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("_dayno")
        )
        .distinct()
    )
    span = ud.agg(
        F.min("_dayno").alias("_lo"), F.max("_dayno").alias("_hi")
    )
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("_dayno"),
                F.col("_dayno") + F.lit(ROLLING_DISTINCT_DAYS - 1),
            )
        ).alias("_wday"),
    )
    return (
        contrib.join(F.broadcast(span))
        .where((F.col("_wday") >= F.col("_lo")) & (F.col("_wday") <= F.col("_hi")))
        .groupBy("_wday")
        .agg(F.count_distinct("user_id").alias("n_users_7d"))
        .select(
            F.timestamp_seconds(F.col("_wday") * 86_400).alias("day"),
            "n_users_7d",
        )
    )


Q_EVENTS_ROLLING_DISTINCT_SQL = f"""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS dayno FROM events
),
span AS (SELECT MIN(dayno) AS lo, MAX(dayno) AS hi FROM ud),
contrib AS (
  SELECT user_id, unnest(generate_series(dayno, dayno + {ROLLING_DISTINCT_DAYS - 1})) AS wday
  FROM ud
)
SELECT epoch_ms(wday * 86400000) AS day,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_7d
FROM contrib CROSS JOIN span
WHERE wday >= lo AND wday <= hi
GROUP BY wday
"""


# ------------- degree-ordered triangle counting (#157)

TRIANGLE_MIN_BASKETS = 2  # edge = parts co-purchased in >= this many orders


# Bounds the driver-side wedge merge of the triangle local solve: Σ
# outdeg² rows materialize in pandas, so past this the distributed
# wedge join (which never materializes the wedge set on one machine)
# is the right plan even when the edge list itself fits.
TRIANGLE_LOCAL_WEDGE_CAP = 3_000_000


def _local_triangle_census(probe):
    """Exact census over a collected canonical edge list ``(_pa, _pb)``.
    Returns the five-integer row, or None when the oriented wedge
    volume exceeds TRIANGLE_LOCAL_WEDGE_CAP (caller falls back to the
    distributed joins). Identical arithmetic to the distributed plan:
    degree-ordered orientation, wedge closure, Σ C(deg,2) — integers
    end to end, so the result is bit-identical."""
    import numpy as np
    import pandas as pd

    m = len(probe)
    if m == 0:
        return (0, 0, None, 0, 0)
    va = probe["_pa"].to_numpy()
    vb = probe["_pb"].to_numpy()
    codes, uniq = pd.factorize(
        pd.concat([probe["_pa"], probe["_pb"]], ignore_index=True)
    )
    deg = np.bincount(codes).astype(np.int64)
    a, b = codes[:m], codes[m:]
    n_nodes = len(uniq)
    n_wedges = int((deg * (deg - 1) // 2).sum())
    da, db = deg[a], deg[b]
    fwd = (da < db) | ((da == db) & (va < vb))
    src = np.where(fwd, a, b)
    dstv = np.where(fwd, vb, va)
    od = np.bincount(src, minlength=n_nodes).astype(np.int64)
    if int((od * (od - 1) // 2).sum()) > TRIANGLE_LOCAL_WEDGE_CAP:
        return None
    oe = pd.DataFrame({"s": src, "dv": dstv})
    w = oe.merge(oe, on="s")
    w = w[w["dv_x"] < w["dv_y"]]
    closing = pd.DataFrame(
        {"dv_x": np.concatenate([va, vb]), "dv_y": np.concatenate([vb, va])}
    )
    n_tri = len(w.merge(closing, on=["dv_x", "dv_y"]))
    return (n_nodes, m, n_wedges, n_tri, 3 * n_tri)


def _triangle_schema():
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType(
        [
            StructField("n_nodes", LongType(), False),
            StructField("n_edges", LongType(), False),
            StructField("n_wedges", LongType(), True),
            StructField("n_triangles", LongType(), False),
            StructField("closure_num", LongType(), False),
        ]
    )


def q_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase triangle census via degree-ordered orientation (#157).

    Triangle density separates genuine product communities from hub
    noise (the closure evidence behind #120's pairwise lift and #155's
    centrality). The naive 3-way edge self-join explodes on hubs; the
    classical fix (degree-ordered orientation — public algorithm,
    Schank/Wagner, also MR "node-iterator++") orients every edge from
    the (degree, node)-smaller endpoint to the larger, which caps
    out-degree at O(√m) and makes wedge volume Σ outdeg² ≤ O(m^1.5)
    regardless of hub skew. Wedges (u→v, u→w) then semi-join the
    oriented edge list once to close. All counts integer; edge support
    threshold keeps the graph the co-purchase signal, not noise.
    Output: one row — nodes, edges, wedges, triangles, global closure
    numerator/denominator (engine-exact integers).
    """
    from ..operators.dedup import _track
    from ..operators.graph import KCORE_LOCAL_SOLVE_EDGES

    canon = _copurchase_edges(spark, sf_dir, TRIANGLE_MIN_BASKETS)
    edges = _track(canon.select("_pa", "_pb").persist())
    # Local-solve probe (the graph-operator pattern, round 14): the
    # census is five INTEGER aggregates of the canonical edge set, so a
    # driver-sized graph computes them exactly (bit-identical to the
    # distributed joins — no floats anywhere) in pandas from one probe,
    # replacing the oriented-edge persist + wedge/closing joins (~6
    # fixed-overhead jobs). An oriented-wedge volume gate bounds the
    # driver merge; a graph over either cap runs distributed unchanged.
    probe = edges.limit(KCORE_LOCAL_SOLVE_EDGES + 1).toPandas()
    if len(probe) <= KCORE_LOCAL_SOLVE_EDGES:
        out = _local_triangle_census(probe)
        if out is not None:
            return spark.createDataFrame([out], schema=_triangle_schema())
    deg = (
        edges.select(F.col("_pa").alias("node"))
        .unionByName(edges.select(F.col("_pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    da = deg.select(F.col("node").alias("_pa"), F.col("_deg").alias("_da"))
    db = deg.select(F.col("node").alias("_pb"), F.col("_deg").alias("_db"))
    ranked = edges.join(da, "_pa").join(db, "_pb")
    # orient from (deg, node)-smaller to larger: total order, no ties
    fwd = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_pa") < F.col("_pb"))
    )
    oe = ranked.select(
        F.when(fwd, F.col("_pa")).otherwise(F.col("_pb")).alias("_src"),
        F.when(fwd, F.col("_pb")).otherwise(F.col("_pa")).alias("_dst"),
    )
    oe = _track(oe.persist())
    e1 = oe.select(F.col("_src"), F.col("_dst").alias("_v"))
    e2 = oe.select(F.col("_src"), F.col("_dst").alias("_w"))
    wedges = e1.join(e2, "_src").where(F.col("_v") < F.col("_w"))
    closing = oe.select(F.col("_src").alias("_v"), F.col("_dst").alias("_w")).unionByName(
        oe.select(F.col("_src").alias("_w"), F.col("_dst").alias("_v"))
    )
    tri = wedges.join(closing, ["_v", "_w"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    # UNDIRECTED wedge count Σ C(deg,2) — the global-closure denominator
    # (3·T / wedges). The oriented wedge join above exists only to FIND
    # triangles; its row count Σ C(outdeg,2) is smaller by construction
    # and is not a closure denominator, so it is neither output nor
    # computed a second time.
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("_deg * (_deg - 1) div 2")).alias("n_wedges"),
    )
    return (
        nodes.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (F.lit(3) * F.col("n_triangles")).alias("closure_num"),
        )
    )


Q_PART_TRIANGLES_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {TRIANGLE_MIN_BASKETS}
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges
  ) GROUP BY node
),
oe AS (
  SELECT CASE WHEN (da.d, pa) < (db.d, pb) THEN pa ELSE pb END AS src,
         CASE WHEN (da.d, pa) < (db.d, pb) THEN pb ELSE pa END AS dst
  FROM edges
  JOIN deg da ON da.node = pa
  JOIN deg db ON db.node = pb
),
wedges AS (
  SELECT e1.src, e1.dst AS v, e2.dst AS w
  FROM oe e1 JOIN oe e2 ON e1.src = e2.src AND e1.dst < e2.dst
),
closing AS (
  SELECT src AS v, dst AS w FROM oe UNION ALL SELECT dst, src FROM oe
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM wedges JOIN closing ON wedges.v = closing.v AND wedges.w = closing.w
),
nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
    CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
  3 * n_triangles AS closure_num
FROM nn, ne, tri
"""


# ------------------- trailing z-score daily anomaly detector (#159)

ANOMALY_TRAIL_DAYS = 14  # trailing baseline window (calendar days)
ANOMALY_MIN_BASELINE = 7  # need at least this many prior observed days
ANOMALY_Z = 2.0  # |z| above this flags the day


def q_events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly days per event type (#159).

    The time-series complement of #108's per-user outliers: for each
    (event_type, day), the daily event count is scored against the
    TRAILING ``ANOMALY_TRAIL_DAYS`` calendar days (RANGE frame on the
    integer day number, so missing days shrink the baseline instead of
    silently stretching it) and flagged when |z| > ``ANOMALY_Z``.

    Engine-exact float discipline (the #134 Wilson recipe): the z-score
    is algebraically rearranged so every input to the one division and
    one sqrt is an INTEGER aggregate —

        z = (m·x − s) / sqrt(m·q − s²)

    with m = baseline day count, s = Σ counts, q = Σ counts² over the
    window (population variance scaled by m²). Integer window sums are
    order-independent, sqrt and the final division are exactly rounded
    — both engines produce bit-identical doubles. Zero-variance
    baselines are excluded (a constant baseline makes z undefined).

    Overflow discipline: a 100 TB event table can see ~1e12 events per
    (type, day), so n², s², and m·q wrap int64 — q's per-row square
    wraps INSIDE the window sum already. The squares, window sums, and
    variance products therefore run in DECIMAL(38,0) (exact integers,
    order-independent — double factors would make the window sums
    accumulation-order-dependent), mirrored by HUGEINT in the oracle;
    the final division/sqrt inputs cast to double as before.

    Scale: one row-keyed aggregation to days, then windows over the
    tiny (type, day) frame — nothing row-scale is ever sorted.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias(
            "_dayno"
        ),
    ).agg(F.count(F.lit(1)).alias("n"))
    trail = (
        Window.partitionBy("event_type")
        .orderBy("_dayno")
        .rangeBetween(-ANOMALY_TRAIL_DAYS, -1)
    )
    dec = "decimal(19,0)"
    n_dec = F.col("n").cast(dec)
    scored = (
        daily.withColumn("_m", F.count(F.lit(1)).over(trail))
        .withColumn("_s", F.sum(n_dec).over(trail))
        .withColumn("_q", F.sum(n_dec * n_dec).over(trail))
        .withColumn(
            "_var_num",
            F.col("_m").cast(dec) * F.col("_q") - F.col("_s") * F.col("_s"),
        )
        .where(F.col("_m") >= ANOMALY_MIN_BASELINE)
        # Overflow surfaces, never vanishes (round-13 ADVICE): under
        # non-ANSI Spark a DECIMAL(38,0) product that overflows yields
        # NULL, and a bare `_var_num > 0` would silently drop that
        # (type, day) row while the DuckDB HUGEINT oracle raises — a
        # silent cross-engine divergence. A NULL _var_num on a row that
        # passed the baseline-count filter can ONLY be overflow (the
        # window sums are non-NULL whenever _m > 0), so raise loudly.
        .where(
            F.when(
                F.col("_var_num").isNull(),
                F.raise_error(
                    F.lit(
                        "q_events_daily_anomaly: variance product "
                        "overflowed DECIMAL(38,0) — daily counts exceed "
                        "the documented ~1e18 envelope; pre-aggregate "
                        "or widen the arithmetic"
                    )
                ).cast("boolean"),
            ).otherwise(F.col("_var_num") > 0)
        )
        .withColumn(
            "z",
            (F.col("_m").cast(dec) * n_dec - F.col("_s")).cast("double")
            / F.sqrt(F.col("_var_num").cast("double")),
        )
        .where(F.abs(F.col("z")) > ANOMALY_Z)
    )
    return scored.select(
        "event_type",
        F.timestamp_seconds(F.col("_dayno") * 86_400).alias("day"),
        F.col("n").cast("bigint").alias("n_events"),
        F.col("_m").cast("bigint").alias("baseline_days"),
        "z",
    )


Q_EVENTS_DAILY_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS dayno,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), scored AS (
  -- HUGEINT mirrors Spark's DECIMAL(38,0): n^2, s^2, m*q wrap int64
  -- at realistic 100 TB daily volumes
  SELECT event_type, dayno, n,
    CAST(COUNT(*) OVER w AS HUGEINT) AS m,
    SUM(CAST(n AS HUGEINT)) OVER w AS s,
    SUM(CAST(n AS HUGEINT) * n) OVER w AS q
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY dayno
               RANGE BETWEEN {ANOMALY_TRAIL_DAYS} PRECEDING
                         AND 1 PRECEDING)
)
SELECT event_type, epoch_ms(dayno * 86400000) AS day,
  n AS n_events, CAST(m AS BIGINT) AS baseline_days,
  CAST(m * n - s AS DOUBLE) / sqrt(CAST(m * q - s * s AS DOUBLE)) AS z
FROM scored
WHERE m >= {ANOMALY_MIN_BASELINE} AND m * q - s * s > 0
  AND abs(CAST(m * n - s AS DOUBLE) / sqrt(CAST(m * q - s * s AS DOUBLE)))
      > {ANOMALY_Z}
"""


# ---------------- item-item co-purchase cosine neighbors (#160)

NEIGHBOR_TOP_K = 5


def _local_neighbors_pdf(loc: dict, min_support: int, top_k: int):
    """Driver-side twin of the #160 cosine/top-k tail over the local
    co-purchase substrate. Same arithmetic in the same order: cosine =
    w_double / sqrt(c_a_double · c_b_double) (one exactly-rounded
    multiply, divide, sqrt — bit-identical to the distributed
    expression), rank = row_number over (cosine DESC, neighbor ASC)
    per anchor — realized as one stable lexsort + per-group cumcount,
    the same deterministic total order."""
    import numpy as np
    import pandas as pd

    keep = loc["w"] >= min_support
    da, db, w = loc["da"][keep], loc["db"][keep], loc["w"][keep]
    ap = np.concatenate([da, db])
    bp = np.concatenate([db, da])
    w2 = np.concatenate([w, w])
    cf = w2.astype(np.float64) / np.sqrt(
        loc["marg"][ap].astype(np.float64) * loc["marg"][bp].astype(np.float64)
    )
    parts = loc["parts"]
    # anchor ASC, cosine DESC, neighbor ASC — negating a float is exact,
    # so -cf sorts by cosine DESC with identical tie classes
    order = np.lexsort((parts[bp], -cf, parts[ap]))
    ap, bp, w2, cf = ap[order], bp[order], w2[order], cf[order]
    anchor = parts[ap]
    newg = np.ones(anchor.size, dtype=bool)
    newg[1:] = anchor[1:] != anchor[:-1]
    starts = np.nonzero(newg)[0]
    rk = np.arange(anchor.size, dtype=np.int64) - np.repeat(
        starts, np.diff(np.concatenate([starts, [anchor.size]]))
    ) + 1
    kkeep = rk <= top_k
    return pd.DataFrame(
        {
            "p_partkey": anchor[kkeep],
            "neighbor_partkey": parts[bp[kkeep]],
            "n_baskets": w2[kkeep],
            "cosine": cf[kkeep],
            "rank": rk[kkeep].astype(np.int32),
        }
    )


def q_part_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k co-purchase cosine neighbors per part (#160).

    Item-item collaborative filtering over the same basket pairs as
    #120/#155/#157, scored by cosine over basket-membership vectors:
    cos(a,b) = c_ab / sqrt(c_a·c_b) with c_a = baskets containing a and
    c_ab = baskets containing both — sqrt over exact integer counts, so
    the score is engine-identical (one exactly-rounded divide + sqrt).
    Where #120's lift ranks PAIRS globally, this emits each part's
    k nearest neighbors (row_number over cosine DESC, neighbor ASC) —
    the per-anchor similar-items readout a recommender actually serves.

    Scale: the canonical pair frame is the shared per-basket-quadratic
    builder (min-support pruned); marginals join back by part key; the
    per-part top-k is one window over pair rows keyed by anchor.
    """
    from ..operators.dedup import _materialize, _track

    # whole-substrate local solve first (round 14): under the scan
    # gate the entire query — pairs, marginals, cosine, per-anchor
    # top-k — computes in numpy from one toPandas job, replacing
    # the basket/edge persists, two marginal joins and the window
    loc = _copurchase_local(spark, sf_dir)
    if loc is not None:
        return spark.createDataFrame(
            _local_neighbors_pdf(loc, TRIANGLE_MIN_BASKETS, NEIGHBOR_TOP_K),
            schema=(
                "p_partkey bigint, neighbor_partkey bigint, "
                "n_baskets bigint, cosine double, rank int"
            ),
        )
    # persisted ONCE, reused by the edge builder's pair fan-out AND
    # the per-part marginals below — standalone used to run the
    # basket scan twice (once inside _copurchase_edges, once here).
    # _materialize: the edge build and the marginals launch as
    # INDEPENDENT stages that race an unfilled cache and each re-run
    # the basket aggregation (observed as twin ~0.6 s job shapes in
    # the round-14 profile); one deterministic fill pins a single
    # evaluation.
    baskets = _materialize(_track(_copurchase_baskets(spark, sf_dir).persist()))
    # same race: canon feeds its own union flip (two consumers)
    canon = _materialize(
        _track(
            _copurchase_edges(
                spark, sf_dir, TRIANGLE_MIN_BASKETS, baskets=baskets
            ).persist()
        )
    )
    # per-part basket count from the same array substrate (sets hold
    # distinct parts per order, so the exploded count == the old
    # distinct-(order, part) count)
    marg = (
        baskets.select(F.explode("_parts").alias("_p"))
        .groupBy("_p")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    pairs = canon.unionByName(
        canon.select(F.col("_pb").alias("_pa"), F.col("_pa").alias("_pb"), "_w")
    )
    scored = (
        pairs.join(marg.select(F.col("_p").alias("_pa"), F.col("_c").alias("_ca")), "_pa")
        .join(marg.select(F.col("_p").alias("_pb"), F.col("_c").alias("_cb")), "_pb")
        .withColumn(
            "cosine",
            F.col("_w").cast("double")
            / F.sqrt(F.col("_ca").cast("double") * F.col("_cb").cast("double")),
        )
    )
    w = Window.partitionBy("_pa").orderBy(F.col("cosine").desc(), F.col("_pb").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= NEIGHBOR_TOP_K)
        .select(
            F.col("_pa").alias("p_partkey"),
            F.col("_pb").alias("neighbor_partkey"),
            F.col("_w").cast("bigint").alias("n_baskets"),
            "cosine",
            F.col("_rk").cast("int").alias("rank"),
        )
    )


Q_PART_NEIGHBORS_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), canon AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS w
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {TRIANGLE_MIN_BASKETS}
), pairs AS (
  SELECT pa, pb, w FROM canon UNION ALL SELECT pb, pa, w FROM canon
), marg AS (
  SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY 1
), scored AS (
  SELECT pa, pb, w,
    CAST(w AS DOUBLE) / sqrt(CAST(ma.c AS DOUBLE) * CAST(mb.c AS DOUBLE)) AS cosine
  FROM pairs JOIN marg ma ON pairs.pa = ma.p JOIN marg mb ON pairs.pb = mb.p
), ranked AS (
  SELECT pa, pb, w, cosine,
    row_number() OVER (PARTITION BY pa ORDER BY cosine DESC, pb ASC) AS rk
  FROM scored
)
SELECT pa AS p_partkey, pb AS neighbor_partkey, w AS n_baskets, cosine,
  CAST(rk AS INT) AS rank
FROM ranked WHERE rk <= {NEIGHBOR_TOP_K}
"""


# -------------------- top session path trigrams (#161)

TRIGRAM_TOP_K = 20


def q_events_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step event-type paths within sessions (#161).

    The n-gram generalization of #116's pairwise transition matrix and
    #142's opening paths: every run of three CONSECUTIVE events inside
    one session (the #17 gap definition) counts as a path occurrence,
    wherever it sits in the session — the behavioral motifs funnel
    definitions are built from. Two LEADs over the session-ordered
    window build the triple; rows where either lead crosses a session
    boundary drop. Top-k by count with full lexicographic tie-break —
    deterministic, integer counts, engine-exact.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    new_session = F.when(
        epoch - F.lag(epoch).over(by_user) > CONCURRENCY_GAP_S * 1_000_000,
        F.lit(1),
    ).otherwise(F.lit(0))
    run = by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = ev.withColumn("_us", epoch).withColumn(
        "_sid", F.sum(new_session).over(run)
    )
    by_sess = Window.partitionBy("user_id", "_sid").orderBy("_us", "event_id")
    tri = (
        sessions.withColumn("_e2", F.lead("event_type", 1).over(by_sess))
        .withColumn("_e3", F.lead("event_type", 2).over(by_sess))
        .where(F.col("_e2").isNotNull() & F.col("_e3").isNotNull())
        .groupBy(
            F.col("event_type").alias("step1"),
            F.col("_e2").alias("step2"),
            F.col("_e3").alias("step3"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(
        F.col("n").desc(), F.col("step1").asc(), F.col("step2").asc(), F.col("step3").asc()
    )
    return (
        tri.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= TRIGRAM_TOP_K)
        .select("step1", "step2", "step3", "n", F.col("_rk").cast("int").alias("rank"))
    )


Q_EVENTS_TRIGRAMS_SQL = f"""
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
      OVER (PARTITION BY user_id ORDER BY ts, event_id)
      > {CONCURRENCY_GAP_S * 1_000_000} THEN 1 ELSE 0 END AS _new
  FROM events
), sess AS (
  SELECT user_id, us, event_id, event_type,
    SUM(_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), tri AS (
  SELECT event_type AS step1,
    LEAD(event_type, 1) OVER w AS step2,
    LEAD(event_type, 2) OVER w AS step3
  FROM sess
  WINDOW w AS (PARTITION BY user_id, sid ORDER BY us, event_id)
), counted AS (
  SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n
  FROM tri WHERE step2 IS NOT NULL AND step3 IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT step1, step2, step3, n, CAST(rk AS INT) AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY n DESC, step1, step2, step3) AS rk
  FROM counted
) WHERE rk <= {TRIGRAM_TOP_K}
"""


# ------------- co-purchase degree assortativity (#170)


def _local_assortativity_rows(probe):
    """Exact Newman r over a collected canonical edge list ``(_pa,
    _pb)``: every sum is an integer (int64 is safe at the probe cap —
    max Σdx·dy ≈ 1.3e17 at 250k edges), the m·Σxy − Σx·Σy products run
    in arbitrary-precision Python ints (the DECIMAL(38,0)/HUGEINT
    twin), and exactly one correctly-rounded int→double conversion per
    factor feeds the same double-typed divide/sqrt as the distributed
    plan — so the emitted row is bit-identical. Returns [] when the
    graph is empty or degenerate (the distributed var>0 filter)."""
    import numpy as np
    import pandas as pd

    mc = len(probe)
    if mc == 0:
        return []
    codes, uniq = pd.factorize(
        pd.concat(
            [probe["_pa"], probe["_pb"], probe["_pb"], probe["_pa"]],
            ignore_index=True,
        )
    )
    u = np.concatenate([codes[:mc], codes[mc : 2 * mc]])
    v = np.concatenate([codes[2 * mc : 3 * mc], codes[3 * mc :]])
    deg = np.bincount(u, minlength=len(uniq)).astype(np.int64)
    dx, dy = deg[u], deg[v]
    m = 2 * mc
    sx, sy = int(dx.sum()), int(dy.sum())
    sxy = int((dx * dy).sum())
    sxx = int((dx * dx).sum())
    syy = int((dy * dy).sum())
    var_x = float(m * sxx - sx * sx)
    var_y = float(m * syy - sy * sy)
    if not (var_x > 0 and var_y > 0):
        return []
    cov = float(m * sxy - sx * sy)
    import math

    return [(len(uniq), m, cov / math.sqrt(var_x * var_y))]


def _assortativity_schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("n_nodes", LongType(), False),
            StructField("n_directed_edges", LongType(), False),
            StructField("assortativity", DoubleType(), True),
        ]
    )


def q_copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (#170).

    The one-number structure readout for the graph #155/#157/#160 rank
    and count (Newman 2002, public formula): the Pearson correlation of
    endpoint degrees over all directed edges. Positive = hubs link to
    hubs (rich-club catalogs); negative = hubs link to leaves (anchor
    products pulling long-tail attachments) — it decides whether
    centrality or coverage drives basket growth.

    Exactness: degrees are integers; every sum (Σx, Σxy, Σx², and the
    twins) runs in DECIMAL(38,0) — m·Σxy reaches ~1e36 at catalog
    scale, far past int64 — mirrored by HUGEINT in the oracle. The
    final r is divisions/sqrt of double-cast exact integers, the same
    one-rounding-per-op discipline as #163. The mirrored edge frame is
    symmetric, so Σx = Σy by construction; both are computed anyway and
    the formula stays the general one.

    Shape: the shared canonical edge builder, one degree aggregation,
    one degree join onto edges (node-keyed equi-joins), one scalar
    reduce. Nothing pairs beyond the edges that already exist.
    """
    from ..operators.dedup import _track

    # persist BEFORE mirroring and before the two degree joins: the
    # union's branches and the deg reuse get no ReusedExchange (the
    # #155/#120 pitfall), so without the pins the per-basket pair join
    # runs twice and the degree agg four times (measured 4.4 -> 2.x s
    # at sf0.1).
    canon = _track(
        _copurchase_edges(spark, sf_dir, TRIANGLE_MIN_BASKETS).persist()
    )
    # Local-solve probe (round 14, the graph-family pattern): the whole
    # readout is integer sums + one final double expression, so a
    # driver-sized edge list computes the bit-identical row in numpy,
    # replacing the mirror union + two degree joins + scalar reduce
    # (~5 fixed-overhead jobs at bench scale). Bigger graphs fall
    # through to the distributed plan below unchanged.
    from ..operators.graph import KCORE_LOCAL_SOLVE_EDGES

    probe = canon.select("_pa", "_pb").limit(KCORE_LOCAL_SOLVE_EDGES + 1).toPandas()
    if len(probe) <= KCORE_LOCAL_SOLVE_EDGES:
        return spark.createDataFrame(
            _local_assortativity_rows(probe), schema=_assortativity_schema()
        )
    edges = canon.select(F.col("_pa").alias("_u"), F.col("_pb").alias("_v")).unionByName(
        canon.select(F.col("_pb").alias("_u"), F.col("_pa").alias("_v"))
    )
    deg = _track(
        edges.groupBy(F.col("_u").alias("_node"))
        .agg(F.count(F.lit(1)).alias("_deg"))
        .persist()
    )
    dec = "decimal(19,0)"
    dx = F.col("_dx").cast(dec)
    dy = F.col("_dy").cast(dec)
    sums = (
        edges.join(deg.select(F.col("_node").alias("_u"), F.col("_deg").alias("_dx")), "_u")
        .join(deg.select(F.col("_node").alias("_v"), F.col("_deg").alias("_dy")), "_v")
        .agg(
            F.count(F.lit(1)).alias("_m"),
            F.sum(dx).alias("_sx"),
            F.sum(dy).alias("_sy"),
            F.sum(dx * dy).alias("_sxy"),
            F.sum(dx * dx).alias("_sxx"),
            F.sum(dy * dy).alias("_syy"),
        )
    )
    m = F.col("_m").cast(dec)
    var_x = (m * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    var_y = (m * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    cov = (m * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    n_nodes = deg.agg(F.count(F.lit(1)).alias("_nn"))
    return (
        sums.crossJoin(F.broadcast(n_nodes))
        .where((var_x > 0) & (var_y > 0))
        .select(
            F.col("_nn").cast("bigint").alias("n_nodes"),
            F.col("_m").cast("bigint").alias("n_directed_edges"),
            (cov / F.sqrt(var_x * var_y)).alias("assortativity"),
        )
    )


Q_COPURCHASE_ASSORTATIVITY_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), canon AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {TRIANGLE_MIN_BASKETS}
), edges AS (
  SELECT pa AS u, pb AS v FROM canon UNION ALL SELECT pb, pa FROM canon
), deg AS (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1
), sums AS (
  -- HUGEINT mirrors Spark's DECIMAL(38,0): m * sum(x*y) passes 1e36
  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
    SUM(CAST(du.d AS HUGEINT)) AS sx,
    SUM(CAST(dv.d AS HUGEINT)) AS sy,
    SUM(CAST(du.d AS HUGEINT) * dv.d) AS sxy,
    SUM(CAST(du.d AS HUGEINT) * du.d) AS sxx,
    SUM(CAST(dv.d AS HUGEINT) * dv.d) AS syy
  FROM edges JOIN deg du ON edges.u = du.node JOIN deg dv ON edges.v = dv.node
), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT n_nodes, CAST(m AS BIGINT) AS n_directed_edges,
  CAST(m * sxy - sx * sy AS DOUBLE)
    / sqrt(CAST(m * sxx - sx * sx AS DOUBLE) * CAST(m * syy - sy * sy AS DOUBLE))
    AS assortativity
FROM sums, nn
WHERE CAST(m * sxx - sx * sx AS DOUBLE) > 0
  AND CAST(m * syy - sy * sy AS DOUBLE) > 0
"""


# ------------- Benford first-digit audit (#172)

# math.log10(1 + 1/d), materialized as decimal literals so BOTH engines
# parse the identical double — log10() is a libm call with no cross-
# engine correct-rounding guarantee, a literal is bit-pinned by IEEE 754
# shortest round-trip parsing.
BENFORD_EXPECTED = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def q_orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (#172).

    The classic fabricated-data screen (Benford 1938, public): natural
    multi-scale amounts put ~30.1% of leading digits at 1; uniform or
    hand-entered values flatten the curve. Per digit: observed count,
    observed share (one exact division), the Benford expectation, and
    the signed deviation. The first digit comes from the DECIMAL-
    STRING of floor(total) — integer-to-string is exact and identical
    in both engines, where log10-based digit extraction would ride an
    unpinned libm call. Totals below 1 (none in TPC-H, but the guard
    is free) are excluded rather than mis-bucketed.

    Shape: one scan, one 9-row aggregation, broadcast total. Output is
    bounded at nine rows whatever the data scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = (
        orders.where(F.col("o_totalprice") >= 1.0)
        .select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    total = digits.agg(F.sum("n_orders").alias("_tot"))
    expected = F.create_map(
        *[F.lit(x) for kv in BENFORD_EXPECTED.items() for x in kv]
    )
    return (
        digits.crossJoin(F.broadcast(total))
        .withColumn("observed_share", F.col("n_orders").cast("double") / F.col("_tot").cast("double"))
        .withColumn("expected_share", expected[F.col("digit")])
        .select(
            "digit",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            "observed_share",
            "expected_share",
            (F.col("observed_share") - F.col("expected_share")).alias("deviation"),
        )
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {v!r}" for d, v in BENFORD_EXPECTED.items()
)

Q_ORDERS_BENFORD_SQL = f"""
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
    CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1
), tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS t FROM digits)
SELECT digit, n_orders,
  CAST(n_orders AS DOUBLE) / CAST(t AS DOUBLE) AS observed_share,
  CASE digit {_BENFORD_CASE} END AS expected_share,
  CAST(n_orders AS DOUBLE) / CAST(t AS DOUBLE)
    - (CASE digit {_BENFORD_CASE} END) AS deviation
FROM digits, tot
"""


# ------------- per-customer order-cadence profile (#178)

CADENCE_MIN_ORDERS = 3


def q_customer_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order cadence per repeat customer (#178).

    The churn-model feature block #117's RFM snapshot can't express:
    HOW REGULARLY a customer orders, not just how recently/often. Per
    customer with ≥ {CADENCE_MIN_ORDERS} orders: gap count, min/max
    gap (days), mean gap as one exactly-rounded division of exact
    integers, and the day span. Same-day repeat orders are real
    zero-day gaps, kept.

    Shape: one LAG window partitioned by customer (each partition is
    that customer's own orders — bounded by per-customer order count,
    never data-scale; ordering tie-breaks on o_orderkey so same-day
    orders are deterministic), one per-customer aggregation. Day
    arithmetic is integer epoch-day division — identical floors in
    both engines for the non-negative epoch range.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").alias(
            "_day"
        ),
    )
    w = Window.partitionBy("o_custkey").orderBy("_day", "o_orderkey")
    gaps = orders.withColumn("_prev", F.lag("_day").over(w)).withColumn(
        "_gap", F.col("_day") - F.col("_prev")
    )
    agg = gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("_gap").alias("_n_gaps"),
        F.min("_gap").alias("min_gap_days"),
        F.max("_gap").alias("max_gap_days"),
        F.sum("_gap").alias("_gap_sum"),
        (F.max("_day") - F.min("_day")).alias("span_days"),
    )
    return (
        agg.where(F.col("n_orders") >= CADENCE_MIN_ORDERS)
        .select(
            "o_custkey",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("min_gap_days").cast("bigint").alias("min_gap_days"),
            F.col("max_gap_days").cast("bigint").alias("max_gap_days"),
            (
                F.col("_gap_sum").cast("double") / F.col("_n_gaps").cast("double")
            ).alias("mean_gap_days"),
            F.col("span_days").cast("bigint").alias("span_days"),
        )
    )


Q_CUSTOMER_CADENCE_SQL = f"""
WITH days AS (
  SELECT o_custkey, o_orderkey,
    epoch_us(o_orderdate) // 86400000000 AS day
  FROM orders
), gaps AS (
  SELECT o_custkey, day,
    day - lag(day) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey)
      AS gap
  FROM days
), agg AS (
  SELECT o_custkey,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(COUNT(gap) AS BIGINT) AS n_gaps,
    CAST(MIN(gap) AS BIGINT) AS min_gap_days,
    CAST(MAX(gap) AS BIGINT) AS max_gap_days,
    CAST(SUM(gap) AS BIGINT) AS gap_sum,
    CAST(MAX(day) - MIN(day) AS BIGINT) AS span_days
  FROM gaps GROUP BY 1
)
SELECT o_custkey, n_orders, min_gap_days, max_gap_days,
  CAST(gap_sum AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_days,
  span_days
FROM agg WHERE n_orders >= {CADENCE_MIN_ORDERS}
"""


# ------------- lag-1 autocorrelation of daily order volume (#184)

AUTOCORR_MIN_PAIRS = 8


def q_orders_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily order-count series per
    priority (#184).

    The volatility-structure readout behind #159's anomaly days: a
    series with high lag-1 autocorrelation trends (yesterday predicts
    today — capacity planning can smooth), one near zero is shot noise
    (alerting thresholds must widen). Pairs are CONSECUTIVE calendar
    days only (LAG over the day spine, gap days break the pair rather
    than silently stretching it — the #159 discipline); Pearson r over
    the (yesterday, today) pairs.

    Exactness (the #170 recipe): counts are integers, all six sums run
    in DECIMAL(38,0)/HUGEINT (m·Σxy wraps int64 at ~1e12 orders/day),
    r = double-cast exact integers through one division and two
    exactly-rounded sqrts — bit-identical across engines. Zero-variance
    series (constant counts) are excluded; fewer than
    ``AUTOCORR_MIN_PAIRS`` pairs is noise, not signal.

    Scale: one row-keyed agg to days, one LAG + reduce over the tiny
    (priority, day) frame — nothing row-scale sorts.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderdate"
    )
    daily = o.groupBy(
        "o_orderpriority",
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ).alias("_d"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy("o_orderpriority").orderBy("_d")
    paired = daily.select(
        "o_orderpriority",
        "_d",
        "_n",
        F.lag("_d").over(w).alias("_pd"),
        F.lag("_n").over(w).alias("_pn"),
    ).where(F.col("_pd") == F.col("_d") - 1)
    dec = "decimal(19,0)"
    x = F.col("_pn").cast(dec)
    y = F.col("_n").cast(dec)
    sums = paired.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    m = F.col("_m").cast(dec)
    var_x = (m * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    var_y = (m * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    cov = (m * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    return (
        sums.where(
            (F.col("_m") >= AUTOCORR_MIN_PAIRS) & (var_x > 0) & (var_y > 0)
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("_m").cast("bigint").alias("n_pairs"),
            (cov / (F.sqrt(var_x) * F.sqrt(var_y))).alias("autocorr_lag1"),
        )
    )


Q_ORDERS_AUTOCORR_SQL = f"""
WITH daily AS (
  SELECT o_orderpriority AS priority,
    epoch_us(o_orderdate) // 86400000000 AS d,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
), paired AS (
  SELECT priority, d, n,
    LAG(d) OVER w AS pd, LAG(n) OVER w AS pn
  FROM daily WINDOW w AS (PARTITION BY priority ORDER BY d)
), p2 AS (
  SELECT * FROM paired WHERE pd = d - 1
), sums AS (
  -- HUGEINT mirrors Spark's DECIMAL(38,0): m * sum(x*y) wraps int64
  SELECT priority, CAST(COUNT(*) AS HUGEINT) AS m,
    SUM(CAST(pn AS HUGEINT)) AS sx, SUM(CAST(n AS HUGEINT)) AS sy,
    SUM(CAST(pn AS HUGEINT) * n) AS sxy,
    SUM(CAST(pn AS HUGEINT) * pn) AS sxx,
    SUM(CAST(n AS HUGEINT) * n) AS syy
  FROM p2 GROUP BY 1
)
SELECT priority, CAST(m AS BIGINT) AS n_pairs,
  CAST(m * sxy - sx * sy AS DOUBLE)
    / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
       * sqrt(CAST(m * syy - sy * sy AS DOUBLE))) AS autocorr_lag1
FROM sums
WHERE m >= {AUTOCORR_MIN_PAIRS}
  AND m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
"""


# ------------- per-user burst-rate bot screen (#186)

BOT_BURST_WINDOW_US = 86_400_000_000
BOT_BURST_MIN = 5


def q_events_bot_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users whose densest trailing-24-hour burst reaches
    ``BOT_BURST_MIN`` events (#186) — the rate-limit / bot screen a
    training-data pipeline runs before trusting engagement signals
    (the window is a constant; a production screen tightens it to
    minutes as volume grows).

    Exact sweep: per event, the count of the SAME user's events in the
    trailing (24 h − 1 µs, inclusive] window — a RANGE frame over the
    integer microsecond timestamp, so simultaneous events are peers in
    both engines — then one max per user. No self-join, no bucketing
    approximation: the window is user-partitioned (the natural key; no
    global sort) and the frame bound is a constant.

    Scale: one user-keyed window + one user-keyed agg — both shuffles
    on the same key, and AQE coalesces them into one exchange.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per = ev.withColumn(
        "_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_us")
        .rangeBetween(-(BOT_BURST_WINDOW_US - 1), 0)
    )
    return (
        per.withColumn("_burst", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(
            F.max("_burst").cast("bigint").alias("max_burst_24h"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .where(F.col("max_burst_24h") >= BOT_BURST_MIN)
    )


Q_EVENTS_BOT_BURST_SQL = f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
b AS (
  SELECT user_id,
    COUNT(*) OVER (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN {BOT_BURST_WINDOW_US - 1} PRECEDING
                             AND CURRENT ROW) AS burst
  FROM e
)
SELECT user_id, CAST(MAX(burst) AS BIGINT) AS max_burst_24h,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM b GROUP BY 1 HAVING MAX(burst) >= {BOT_BURST_MIN}
"""


# ------------- supplier shipping-reliability report (#188)

SLOW_SHIP_DAYS = 90
RELIABILITY_MIN_LINES = 20


def q_supplier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier slow-shipment rate (#188): the share of a
    supplier's line items shipped more than ``SLOW_SHIP_DAYS`` whole
    days after the order date, over suppliers with at least
    ``RELIABILITY_MIN_LINES`` lines (a rate over three lines is noise).

    The operational twin of #134's Wilson funnel: integer day lag
    (microsecond subtraction, floor division — identical in both
    engines), integer counts, one exactly-rounded division for the
    rate.

    Scale: lineitem⋈orders is the schema's canonical keyed equi-join
    (shuffle on orderkey, AQE picks the side to build), then one
    supplier-keyed agg with map-side partials. Nothing row-scale sorts.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    lag_days = F.expr(
        "(unix_micros(cast(l_shipdate as timestamp))"
        " - unix_micros(cast(o_orderdate as timestamp))) div 86400000000"
    )
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_suppkey", (lag_days > SLOW_SHIP_DAYS).cast("long").alias("_slow"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("_slow").alias("n_slow"),
        )
    )
    return agg.where(F.col("n_lines") >= RELIABILITY_MIN_LINES).select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_slow").cast("bigint").alias("n_slow"),
        (F.col("n_slow").cast("double") / F.col("n_lines").cast("double")).alias(
            "slow_rate"
        ),
    )


Q_SUPPLIER_RELIABILITY_SQL = f"""
WITH j AS (
  SELECT l_suppkey,
    CASE WHEN (epoch_us(l_shipdate) - epoch_us(o_orderdate))
              // 86400000000 > {SLOW_SHIP_DAYS} THEN 1 ELSE 0 END AS slow
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT l_suppkey AS suppkey,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(slow) AS BIGINT) AS n_slow,
  CAST(SUM(slow) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS slow_rate
FROM j GROUP BY 1 HAVING COUNT(*) >= {RELIABILITY_MIN_LINES}
"""


# ------------- k-core census of the co-purchase graph (#190)

KCORE_K = 3
KCORE_TOP = 20


def q_part_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top members of the co-purchase graph's {KCORE_K}-core (#190).

    The cohesion readout the rest of the graph family can't give:
    PageRank (#155) finds globally central hubs, triangles (#157) count
    closure, but the k-core is the maximal subgraph where EVERY member
    keeps ≥ k co-purchase partners — the standard dense-community
    extraction (Seidman 1983) whose members are mutually substitutable
    catalog anchors. Iterative peeling via operators/graph.kcore over
    the shared canonical edge frame; output is the top
    ``KCORE_TOP`` members by within-core degree (ties to the smaller
    part key) — deterministic, so the rows-only gate holds (the
    fixpoint loop is not SQL-expressible; invariants pinned in pytest).
    """
    from ..operators import graph
    from ..operators.dedup import _track

    canon = _track(
        _copurchase_edges(spark, sf_dir, TRIANGLE_MIN_BASKETS).persist()
    )
    core = graph.kcore(
        canon.select("_pa", "_pb"), "_pa", "_pb", KCORE_K
    )
    deg = (
        core.select(F.col("_pa").alias("p_partkey"))
        .unionByName(core.select(F.col("_pb").alias("p_partkey")))
        .groupBy("p_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )
    return (
        deg.orderBy(F.col("core_degree").desc(), F.col("p_partkey"))
        .limit(KCORE_TOP)
        .select("p_partkey", "core_degree")
    )
