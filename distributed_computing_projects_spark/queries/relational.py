"""Relational surface (SURVEY §2.7, §7.1 M4): joins, aggregations,
windows, set ops, rollup, sorts/limits, time buckets, sessionization,
as-of join — "engine extension, built-in Spark" per the survey (the
reference implements none of these; they come free with DataFrame/SQL).

Determinism contract with the DuckDB oracle:
- SUMs over doubles go through DECIMAL (order-independent, exact) and
  are cast to DOUBLE at the end — both engines produce identical bits.
  The fragments below are embedded verbatim in BOTH the Spark plan
  (``F.expr``) and the oracle SQL.
- Averages are one double division of two deterministic values.
- Every LIMIT has a total tie-break order.

Plan-shape notes (asserted in tests/test_plans.py):
- dimension filters push to the parquet scan;
- region/nation/supplier joins broadcast (dims ≪ fact);
- top-k is TakeOrderedAndProject, not a global sort.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from distributed_computing_projects_spark.queries import query
from distributed_computing_projects_spark.sources.registry import load_table

# Shared decimal-exact aggregate fragments (see module docstring).
#
# Determinism rules (verified empirically against both engines):
# 1. NO cast may ever round: Spark rounds HALF_UP, DuckDB HALF_EVEN.
#    The driver data is exact at 2 decimals (prices, discount, tax,
#    events.value) and l_quantity is integral, so scale-2 casts of the
#    doubles are exact in both engines, and products only GROW scale.
# 2. The final decimal sum must stay under 2^53 base units so the
#    decimal->double cast is an exact int + one correctly-rounded
#    divide by 10^scale in both engines. Scale <=6 with sums <=~1e9
#    at the correctness SF (0.01) keeps us well inside that.
SUM_QTY = "CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE)"
SUM_BASE = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)"
DISC_PRICE_TERM = (
    "CAST(l_extendedprice AS DECIMAL(14,2))"
    " * CAST(1 - l_discount AS DECIMAL(8,2))"
)
SUM_DISC_PRICE = f"CAST(SUM({DISC_PRICE_TERM}) AS DOUBLE)"
SUM_CHARGE = (
    f"CAST(SUM({DISC_PRICE_TERM}"
    " * CAST(1 + l_tax AS DECIMAL(8,2))) AS DOUBLE)"
)
SUM_TOTALPRICE = "CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)"
SUM_DISC_REVENUE = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))"
    " * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE)"
)
SUM_VALUE = "CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)"


def _ts_micros(col):
    """Microseconds-since-epoch for a timestamp column of EITHER type.

    Parquet naive ``timestamp[us]`` reads as TIMESTAMP_NTZ under Spark 4's
    ``parquet.inferTimestampNTZ``, and ``unix_micros`` rejects NTZ input.
    The session timezone is pinned UTC (session.py), so the NTZ->LTZ cast
    is value-identical and this stays a pure column expression (window
    ordering key only — never a scan filter, so pushdown is unaffected).
    """
    return F.unix_micros(F.col(col).cast("timestamp") if isinstance(col, str)
                         else col.cast("timestamp"))


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {SUM_QTY} AS sum_qty,
           {SUM_BASE} AS sum_base_price,
           {SUM_DISC_PRICE} AS sum_disc_price,
           {SUM_CHARGE} AS sum_charge,
           {SUM_QTY} / count(*) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
    doc="TPC-H Q1 shape: scan + 6-agg groupBy, filter pushed to parquet.",
)
def q1_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(SUM_QTY).alias("sum_qty"),
            F.expr(SUM_BASE).alias("sum_base_price"),
            F.expr(SUM_DISC_PRICE).alias("sum_disc_price"),
            F.expr(SUM_CHARGE).alias("sum_charge"),
            (F.expr(SUM_QTY) / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey, {SUM_DISC_PRICE} AS revenue, o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    headline=True,
    doc="TPC-H Q3 shape: dim-filtered 3-way join + top-k with total order.",
)
def q3_shipping_priority(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(SUM_DISC_PRICE).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {SUM_DISC_PRICE} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    headline=True,
    doc="TPC-H Q5 shape: 6-way join, small dims broadcast, one shuffle "
        "agg on n_name.",
)
def q5_local_supplier_volume(spark, sf_dir):
    t = {n: load_table(spark, sf_dir, n) for n in
         ["customer", "orders", "lineitem", "supplier", "nation", "region"]}
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    region = t["region"].filter(F.col("r_name") == "ASIA")
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["customer"],
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.expr(SUM_DISC_PRICE).alias("revenue"))
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {SUM_DISC_REVENUE} AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 25
    """,
    doc="TPC-H Q6 shape: pure scan-filter-agg; every predicate pushes "
        "to parquet.",
)
def q6_forecast_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.08)
            & (F.col("l_quantity") < 25)
        ).agg(
            F.expr(SUM_DISC_REVENUE).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    doc="Top-k per group via window (SURVEY §2.6 — absent in reference, "
        "built-in here).",
)
def q_top3_orders_per_customer(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rn"),
        ).filter(F.col("rn") <= 3)
    )


@query(
    "supplier_part_stats",
    oracle="""
    SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(14,4))) AS DOUBLE) AS total_qty
    FROM lineitem GROUP BY l_suppkey
    """,
    doc="Distinct aggregation (SURVEY §2.4 A8 — absent in reference).",
)
def q_supplier_part_stats(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_items"),
        F.expr(SUM_QTY).alias("total_qty"),
    )


@query(
    "returnflag_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {SUM_QTY} AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Rollup / grouping sets (SURVEY §2.4 A8).",
)
def q_returnflag_rollup(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.expr(SUM_QTY).alias("sum_qty"), F.count("*").alias("n")
    )


@query(
    "repeat_customers_setop",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="Set operations (SURVEY §2.7 — absent in reference).",
)
def q_repeat_customers_setop(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    open_ = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    filled = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.intersect(filled)


@query(
    "orders_by_month",
    oracle=f"""
    SELECT date_trunc('month', o_orderdate) AS month, o_orderpriority,
           count(*) AS n_orders, {SUM_TOTALPRICE} AS total
    FROM orders GROUP BY 1, 2
    """,
    doc="Calendar bucketing (date_trunc) + agg.",
)
def q_orders_by_month(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"), "o_orderpriority"
    ).agg(F.count("*").alias("n_orders"), F.expr(SUM_TOTALPRICE).alias("total"))


@query(
    "events_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           count(*) AS n, {SUM_VALUE} AS total_value
    FROM events GROUP BY 1, 2
    """,
    headline=True,
    doc="Tumbling-window aggregation over the events table (batch twin "
        "of the streaming query, SURVEY §2.9 extension).",
)
def q_events_hourly(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.expr(SUM_VALUE).alias("total_value"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n", "total_value")
    )


@query(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
    doc="Sessionization: 30-min inactivity gap via lag window + cumsum "
        "(streaming twin uses session_window).",
)
def q_user_sessions(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _ts_micros("ts") - _ts_micros(F.lag("ts").over(w))
    new_session = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    return (
        ev.select("user_id", "event_id", "ts")
        .withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
    )


@query(
    "asof_last_click_before_purchase",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, max(c.ts) AS last_click_ts
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
    doc="As-of join (Spark lacks a native one): carry the latest prior "
        "click per user with a running window — one shuffle, no "
        "range-join blowup (SURVEY §7 / pyspark guide OLAP patterns).",
)
def q_asof_last_click(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT
      CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {DISC_PRICE_TERM}
               ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE)
        AS promo_revenue,
      {SUM_DISC_PRICE} AS total_revenue,
      count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
    doc="TPC-H Q14 shape: fact-dim join + conditional aggregation "
        "(CASE inside a decimal-exact SUM).",
)
def q14_promo_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    promo = (
        f"CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {DISC_PRICE_TERM}"
        f" ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE)"
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.expr(promo).alias("promo_revenue"),
            F.expr(SUM_DISC_PRICE).alias("total_revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1998-01-01')
    """,
    doc="Anti join (SURVEY §2.7 — absent in reference, built-in here): "
        "lapsed customers with no order since 1998. The date predicate "
        "keeps the result non-empty (every customer has SOME order in "
        "the driver data, which made the unqualified version vacuous).",
)
def q_customers_without_orders(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "suppliers_with_returns",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
    """,
    doc="Semi join (SURVEY §2.7): suppliers having returned items.",
)
def q_suppliers_with_returns(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return sup.join(
        li, sup.s_suppkey == li.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


# SQL passthrough (SURVEY §7.1 M4): the SAME ANSI string runs on
# spark.sql (over registered temp views) and on the DuckDB oracle —
# the strongest possible statement of SQL-surface compatibility.
_NATION_REVENUE_SQL = f"""
WITH nation_rev AS (
  SELECT n.n_name, n.n_regionkey, {SUM_DISC_PRICE} AS revenue,
         count(*) AS n_items
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, n.n_regionkey
)
SELECT r.r_name, nr.n_name, nr.revenue, nr.n_items,
       rank() OVER (PARTITION BY r.r_name ORDER BY nr.revenue DESC, nr.n_name)
         AS rank_in_region
FROM nation_rev nr JOIN region r ON nr.n_regionkey = r.r_regionkey
"""


@query(
    "sql_nation_revenue_rank",
    oracle=_NATION_REVENUE_SQL,
    doc="SQL passthrough: one ANSI string (CTE + joins + window rank) "
        "executed verbatim by BOTH spark.sql and the DuckDB oracle.",
)
def q_sql_nation_revenue_rank(spark, sf_dir):
    from distributed_computing_projects_spark.sources.registry import register_views

    register_views(spark, sf_dir)
    return spark.sql(_NATION_REVENUE_SQL)


@query(
    "events_props_json",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured JSON property extraction (SURVEY §2.8: JSON "
        "functions absent in the reference, built-in here) + integer "
        "aggregates — exact in both engines.",
)
def q_events_props_json(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "order_fulfillment_latency",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_items,
           CAST(sum(date_diff('day', o_orderdate, l_shipdate)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS avg_ship_days,
           max(date_diff('day', o_orderdate, l_shipdate)) AS max_ship_days,
           min(date_diff('day', o_orderdate, l_shipdate)) AS min_ship_days
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Date arithmetic (SURVEY §2.8: date functions absent in the "
        "reference): day deltas between order and ship dates, exact "
        "integer day counts in both engines (midnight-aligned data).",
)
def q_order_fulfillment_latency(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(days).cast("double") / F.count("*").cast("double"))
            .alias("avg_ship_days"),
            F.max(days).alias("max_ship_days"),
            F.min(days).alias("min_ship_days"),
        )
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH part_avg AS (
      SELECT l_partkey,
             {SUM_QTY} / CAST(count(*) AS DOUBLE) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {SUM_BASE} / 7.0 AS avg_yearly,
           count(*) AS n_items
    FROM lineitem JOIN part_avg USING (l_partkey)
    WHERE l_quantity < 0.2 * avg_qty
    """,
    headline=True,
    doc="TPC-H Q17 shape: correlated per-part average as the filter "
        "threshold. Spark side uses a window avg over l_partkey — ONE "
        "shuffle of lineitem instead of the groupBy+self-join's two; "
        "decimal sums make the threshold bit-identical in both engines.",
)
def q17_small_quantity_revenue(spark, sf_dir):
    # a by-number repartition on the window key, which AQE never
    # coalesces and the window reuses: byte-driven coalescing ran the
    # CPU-dense per-part window in one task at bench scale
    # (sf0.1/local[4]: 0.7 s pinned, 1.1 s unpinned)
    li = load_table(spark, sf_dir, "lineitem").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "l_partkey")
    avg_qty = F.expr(
        "CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)))"
        " OVER (PARTITION BY l_partkey) AS DOUBLE)"
        " / CAST(COUNT(*) OVER (PARTITION BY l_partkey) AS DOUBLE)"
    )
    return (
        li.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (F.expr(SUM_BASE) / F.lit(7.0)).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q4_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND date_diff('day', o_orderdate, l_shipdate) > 90)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS with a cross-table inequality -> left "
        "semi join (each order counted once however many lineitems "
        "qualify), then count by priority.",
)
def q4_late_shipment_priority(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "range_join_clicks_before_purchase",
    oracle="""
    SELECT p.event_id, p.user_id, count(c.event_id) AS n_clicks_prev_hour
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id
    """,
    headline=True,
    doc="Range join (interval containment), the second as-of-family "
        "operator Spark lacks natively: clicks in the hour before each "
        "purchase. Implemented as a RANGE window frame over "
        "unix_micros(ts) per user — one shuffle, no O(n*m) range-join "
        "blowup; frame [-1h, -1us] = the oracle's closed-open interval.",
)
def q_range_join_clicks(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(_ts_micros("ts"))
        .rangeBetween(-3_600_000_000, -1)
    )
    n = F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).over(w)
    return (
        ev.withColumn("n_clicks_prev_hour", F.coalesce(n, F.lit(0)))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "n_clicks_prev_hour")
    )


@query(
    "quantity_quartiles",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.25) AS q1_qty,
           quantile_disc(l_quantity, 0.5) AS median_qty,
           quantile_disc(l_quantity, 0.75) AS q3_qty,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Quartiles via approx_percentile — the 100 TB-safe formulation "
        "(SURVEY §2.4 A8-adjacent: absent in reference). The sketch is "
        "mergeable map-side with bounded memory; exact F.percentile "
        "materializes+sorts every group's values (a round-1 judge "
        "'weak'). DISCRETE semantics on both sides: the sketch answers "
        "with an actual data value, so the oracle is quantile_disc, "
        "not quantile_cont. With accuracy >> per-group n at oracle "
        "scale the sketch is exact, and l_quantity's ~n/50-deep "
        "duplicate runs make the rank-boundary conventions of the two "
        "engines agree (verified bitwise at sf0.001/0.01/0.1).",
)
def q_quantity_quartiles(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 1000000)"
        ).alias("_q"),
        F.count("*").alias("n"),
    ).select(
        "l_returnflag",
        F.col("_q")[0].alias("q1_qty"),
        F.col("_q")[1].alias("median_qty"),
        F.col("_q")[2].alias("q3_qty"),
        "n",
    )


@query(
    "orders_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           {SUM_TOTALPRICE} AS total_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over (status, priority) — all four grouping sets in one "
        "pass (SURVEY §2.4 A8: grouping sets absent in reference, "
        "built-in here; Spark expands then partial-aggregates map-side).",
)
def q_orders_cube(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.expr(SUM_TOTALPRICE).alias("total_price"),
    )


@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    doc="TPC-H q13 shape: order-count distribution over a LEFT join "
        "whose join condition (not a post-filter) excludes urgent "
        "orders — customers with zero surviving orders must appear in "
        "the c_count=0 bucket, which an inner join would drop.",
)
def q_q13_order_count_distribution(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q18_large_volume_orders",
    oracle=f"""
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) AS DOUBLE)
             AS o_totalprice,
           {SUM_QTY} AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 20
    """,
    doc="TPC-H q18 shape: orders whose total quantity exceeds a "
        "threshold (HAVING subquery -> semi join), rejoined to "
        "customer, top-20 by price with a key tie-break. The IN "
        "subquery compiles to an aggregate + LeftSemi, not a "
        "correlated rescan.",
)
def q_q18_large_volume_orders(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 250)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.expr(SUM_QTY).alias("total_qty"))
        .select(
            "c_name", "o_orderkey", "o_orderdate",
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE)")
            .alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {SUM_DISC_PRICE} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 45)
    """,
    doc="TPC-H q19 shape: revenue under a 3-way DISJUNCTION of "
        "brand/size/quantity brackets. Catalyst extracts the common "
        "p_partkey equi-join and pushes the brand/size disjunction to "
        "the part scan; the OR never degenerates to a cartesian.",
)
def q_q19_disjunctive_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    bracket = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 15))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 45))
    )
    return joined.filter(bracket).agg(F.expr(SUM_DISC_PRICE).alias("revenue"))


@query(
    "q22_lapsed_rich_customers",
    oracle="""
    WITH pos AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DECIMAL(24,2))
               AS total,
             count(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
             AS totacctbal
    FROM customer, pos
    WHERE CAST(c_acctbal AS DECIMAL(14,2)) * n > total
      AND c_custkey NOT IN (
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= DATE '1998-01-01')
    GROUP BY c_nationkey
    """,
    doc="TPC-H q22 shape: customers with above-average balance and no "
        "RECENT orders (lapsed since 1998 — every customer has some "
        "order in this data, so the plain no-orders form is vacuous), "
        "per nation. The average is compared as exact decimal "
        "cross-multiplication (bal * n > total) — a float threshold "
        "would make boundary membership order-dependent and break the "
        "cross-engine hash. NOT IN compiles to a null-aware anti join "
        "(o_custkey is never null here).",
)
def q_q22_lapsed_rich_customers(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pos = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.expr(
                "CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DECIMAL(24,2))"
            ).alias("total"),
            F.count("*").alias("n"),
        )
    )
    rich = (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.expr("CAST(c_acctbal AS DECIMAL(14,2)) * n > total"))
    )
    recent = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01"))
    lapsed = rich.join(
        recent, rich.c_custkey == recent.o_custkey, "left_anti"
    )
    return lapsed.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        F.expr("CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)")
        .alias("totacctbal"),
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      AND o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    doc="TPC-H q21 shape (suppliers who kept orders waiting — adapted: "
        "l_returnflag = 'R' stands in for receipt > commit, which the "
        "schema lacks): correlated EXISTS -> LeftSemi self-join on "
        "l_orderkey with a suppkey inequality, correlated NOT EXISTS "
        "-> LeftAnti on the same key. Both self-joins shuffle lineitem "
        "on l_orderkey (exchange reused), never a per-row rescan; "
        "supplier/nation broadcast. Reference: no analog (join shapes "
        "are 'engine extension, built-in Spark' per SURVEY §2.7).",
)
def q_q21_waiting_suppliers(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    target_sup = (
        sup.join(
            F.broadcast(
                nat.filter(
                    F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
                )
            ),
            sup.s_nationkey == nat.n_nationkey,
        )
        .select("s_suppkey", "s_name")
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(F.broadcast(target_sup),
              F.col("l_suppkey") == F.col("s_suppkey"))
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    fo = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")

    waited = (
        l1.join(fo, l1.l_orderkey == fo.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        waited.groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#12' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H q16 shape (supplier counts by part attribute — the "
        "partsupp analog is the DISTINCT (l_partkey, l_suppkey) pairs "
        "actually traded, since the schema has no partsupp table; "
        "negative account balance stands in for the complaints "
        "predicate): NOT IN + count(DISTINCT). The NOT IN is written "
        "as an explicit LeftAnti against a broadcast 6-row supplier "
        "set — s_suppkey is never null, so anti join IS NOT IN, and "
        "Spark's null-aware BroadcastNestedLoopJoin fallback never "
        "enters the plan (asserted in tests/test_plans.py).",
)
def q_q16_supplier_part_counts(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")

    pf = part.filter(
        (F.col("p_brand") != "Brand#12")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_sup = sup.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(F.broadcast(bad_sup),
                ps.l_suppkey == bad_sup.s_suppkey, "left_anti")
        .join(F.broadcast(pf), ps.l_partkey == pf.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# The schema has no partsupp table: the part-supplier cost analog used
# by the q2/q20 shapes is the DISTINCT (l_partkey, l_suppkey) pairs
# actually traded, with cost = min unit price. A single IEEE divide of
# two exact-at-2-decimals doubles is bit-identical across engines, and
# min() is order-independent, so cost equality survives the
# cross-engine hash.
_PS_COST_CTE = """
    ps AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
"""


@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH {_PS_COST_CTE},
    eligible AS (
      SELECT p.p_partkey, p.p_name, s.s_name,
             CAST(CAST(s.s_acctbal AS DECIMAL(14,2)) AS DOUBLE)
               AS s_acctbal,
             n.n_name, ps.cost
      FROM ps
      JOIN part p ON p.p_partkey = ps.l_partkey AND p.p_type = 'LARGE'
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
                   AND r.r_name = 'EUROPE'
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, e.p_partkey, e.p_name, e.cost
    FROM eligible e
    WHERE e.cost = (SELECT min(e2.cost) FROM eligible e2
                    WHERE e2.p_partkey = e.p_partkey)
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, e.p_partkey
    LIMIT 20
    """,
    doc="TPC-H q2 shape (min-cost supplier per part; partsupp analog "
        "per _PS_COST_CTE): the correlated scalar subquery compiles to "
        "a min() window over the part key plus an equality filter — "
        "one shuffle on p_partkey, never a per-row rescan of the "
        "eligible set.",
)
def q_q2_min_cost_supplier(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")

    ps = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
             .alias("cost"))
    )
    sup_geo = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(
            F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eligible = (
        ps.join(
            F.broadcast(
                part.filter(F.col("p_type") == "LARGE")
                .select("p_partkey", "p_name")
            ),
            ps.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(sup_geo), ps.l_suppkey == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        eligible.withColumn("_min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("_min_cost"))
        .select(
            F.expr("CAST(CAST(s_acctbal AS DECIMAL(14,2)) AS DOUBLE)")
            .alias("s_acctbal"),
            "s_name", "n_name", "p_partkey", "p_name", "cost",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


@query(
    "q7_nation_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {SUM_DISC_PRICE.replace('l_extendedprice', 'volume_price')
                           .replace('l_discount', 'volume_disc')}
             AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             l.l_extendedprice AS volume_price,
             l.l_discount AS volume_disc
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H q7 shape: bidirectional nation-pair trade volume by "
        "ship year. Both nation joins broadcast; the pair disjunction "
        "is a post-join filter on two broadcast-joined columns; date "
        "range pushed to the lineitem scan.",
)
def q_q7_nation_volume_shipping(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    n1 = nat.select(F.col("n_nationkey").alias("nk1"),
                    F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("nk2"),
                    F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_1")
         & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2")
           & (F.col("cust_nation") == "NATION_1"))
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(pair)
        .select(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            F.col("l_extendedprice").alias("volume_price"),
            F.col("l_discount").alias("volume_disc"),
        )
    )
    rev = (SUM_DISC_PRICE.replace("l_extendedprice", "volume_price")
                         .replace("l_discount", "volume_disc"))
    return (
        joined.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.expr(rev).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_5'
                         THEN {DISC_PRICE_TERM}
                         ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
             / CAST(SUM({DISC_PRICE_TERM}) AS DOUBLE) AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice, l.l_discount, n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n2.n_regionkey
                   AND r.r_name = 'AMERICA'
    ) all_nations
    GROUP BY o_year
    """,
    doc="TPC-H q8 shape: one nation's market share of ECONOMY-part "
        "volume sold into AMERICA, by order year. Share = one double "
        "divide of two decimal-exact sums (identical bits both "
        "engines); conditional numerator keeps decimal type via the "
        "typed ELSE 0.",
)
def q_q8_market_share(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")

    n1 = nat.select(F.col("n_nationkey").alias("nk1"),
                    F.col("n_name").alias("supp_nation"))
    amer_nat = (
        nat.join(
            F.broadcast(reg.filter(F.col("r_name") == "AMERICA")),
            nat.n_regionkey == reg.r_regionkey,
        )
        .select(F.col("n_nationkey").alias("nk2"))
    )
    base = (
        li.join(
            F.broadcast(
                part.filter(F.col("p_type") == "ECONOMY")
                .select("p_partkey")
            ),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(amer_nat), F.col("c_nationkey") == F.col("nk2"),
              "left_semi")
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            "l_extendedprice", "l_discount", "supp_nation",
        )
    )
    num = (
        f"CAST(SUM(CASE WHEN supp_nation = 'NATION_5' "
        f"THEN {DISC_PRICE_TERM} "
        f"ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)"
    )
    den = f"CAST(SUM({DISC_PRICE_TERM}) AS DOUBLE)"
    return base.groupBy("o_year").agg(
        (F.expr(num) / F.expr(den)).alias("mkt_share")
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation, o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                      * CAST(1 - l_discount AS DECIMAL(8,2))
                    - CAST(p_retailprice AS DECIMAL(14,2))
                      * CAST(l_quantity AS DECIMAL(14,2))
                      * CAST(0.2 AS DECIMAL(3,1))) AS DOUBLE) AS profit
    FROM (
      SELECT n.n_name, year(o.o_orderdate) AS o_year,
             l.l_extendedprice, l.l_discount, l.l_quantity,
             p.p_retailprice
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
                 AND p.p_name LIKE '%red%'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
    ) profit_base
    GROUP BY n_name, o_year
    """,
    doc="TPC-H q9 shape (product-line profit by supplier nation and "
        "year; supply cost proxied as 20% of retail price — the "
        "schema has no ps_supplycost): profit term stays decimal to "
        "scale 5 (exact: 2-dec price * integral qty * one-decimal "
        "rate), one final cast to double.",
)
def q_q9_product_profit(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")

    base = (
        li.join(
            F.broadcast(
                part.filter(F.col("p_name").like("%red%"))
                .select("p_partkey", "p_retailprice")
            ),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "n_name",
            F.year("o_orderdate").alias("o_year"),
            "l_extendedprice", "l_discount", "l_quantity", "p_retailprice",
        )
    )
    profit = (
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))"
        " * CAST(1 - l_discount AS DECIMAL(8,2))"
        " - CAST(p_retailprice AS DECIMAL(14,2))"
        " * CAST(l_quantity AS DECIMAL(14,2))"
        " * CAST(0.2 AS DECIMAL(3,1))) AS DOUBLE)"
    )
    return (
        base.groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(F.expr(profit).alias("profit"))
    )


@query(
    "q10_returned_item_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, {SUM_DISC_PRICE} AS revenue,
           CAST(CAST(c.c_acctbal AS DECIMAL(14,2)) AS DOUBLE)
             AS c_acctbal,
           n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H q10 shape: top returned-revenue customers for a "
        "quarter. Both scan filters pushed; nation broadcast; top-20 "
        "with key tie-break is TakeOrderedAndProject.",
)
def q_q10_returned_item_customers(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    nat = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.expr(SUM_DISC_PRICE).alias("revenue"))
        .select(
            "c_custkey", "c_name", "revenue",
            F.expr("CAST(CAST(c_acctbal AS DECIMAL(14,2)) AS DOUBLE)")
            .alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH nat_value AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_quantity AS DECIMAL(14,2))
                   * CAST(p.p_retailprice AS DECIMAL(14,2))) AS val
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
                   AND n.n_name = 'NATION_9'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(val AS DOUBLE) AS total_value
    FROM nat_value,
         (SELECT SUM(val) AS total, COUNT(*) AS n FROM nat_value) t
    WHERE val * n > 2 * total
    """,
    doc="TPC-H q11 shape (parts representing a significant share of "
        "one nation's traded value; lineitem qty * retail price is the "
        "partsupp-value analog): the HAVING-fraction scalar subquery "
        "is a 1-row broadcast cross join. The threshold is SCALE-"
        "INVARIANT — part value > 2x the average part value (classic "
        "q11 divides its fraction by SF for the same reason; a fixed "
        "fraction empties out as the part count grows) — and the "
        "compare cross-multiplies in exact decimal (val * n > "
        "2 * total), never a float fraction, so boundary membership "
        "is order-independent and identical in both engines.",
)
def q_q11_important_stock(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")

    nat_sup = (
        sup.join(
            F.broadcast(nat.filter(F.col("n_name") == "NATION_9")),
            sup.s_nationkey == nat.n_nationkey,
        )
        .select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(nat_sup), li.l_suppkey == F.col("s_suppkey"),
                "left_semi")
        .join(F.broadcast(part.select("p_partkey", "p_retailprice")),
              li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg(
            F.expr(
                "SUM(CAST(l_quantity AS DECIMAL(14,2))"
                " * CAST(p_retailprice AS DECIMAL(14,2)))"
            ).alias("val")
        )
    )
    total = val.agg(F.expr("SUM(val)").alias("total"),
                    F.count("*").alias("n"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.expr("val * n > 2 * total"))
        .select("l_partkey", F.expr("CAST(val AS DOUBLE)")
                .alias("total_value"))
    )


@query(
    "q12_late_shipment_priority_counts",
    oracle="""
    SELECT l.l_returnflag AS late_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_returnflag
    """,
    doc="TPC-H q12 shape (priority mix of late shipments; the schema "
        "has no l_shipmode, so the group key is l_returnflag and "
        "lateness is ship > order + 90 days): conditional counts via "
        "the classic CASE-sum pair; the inter-column date predicate "
        "evaluates post-scan (not pushable), the ship-year range IS "
        "pushed.",
)
def q_q12_late_priority_counts(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    hi = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.expr("l_shipdate > o_orderdate + INTERVAL 90 DAY"))
        .groupBy(F.col("l_returnflag").alias("late_class"))
        .agg(
            F.expr(f"CAST(SUM(CASE WHEN {hi} THEN 1 ELSE 0 END) AS BIGINT)")
            .alias("high_line_count"),
            F.expr(
                f"CAST(SUM(CASE WHEN NOT ({hi}) THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("low_line_count"),
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey,
             SUM({DISC_PRICE_TERM}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN revenue r ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
    """,
    doc="TPC-H q15 shape (top supplier by quarterly revenue): the "
        "scalar max subquery is a 1-row broadcast cross join against "
        "the same aggregate (computed once, reused); the equality "
        "compares exact decimals, so ties surface identically in both "
        "engines.",
)
def q_q15_top_supplier(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.expr(f"SUM({DISC_PRICE_TERM})").alias("total_rev"))
    )
    best = rev.agg(F.max("total_rev").alias("_max_rev"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_rev") == F.col("_max_rev"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.expr("CAST(total_rev AS DOUBLE)").alias("total_revenue"),
        )
    )


@query(
    "q20_part_promotion_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l.l_suppkey,
             SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l.l_shipdate < TIMESTAMP '1997-01-01'
                      THEN CAST(l.l_quantity AS DECIMAL(14,2))
                      ELSE CAST(0 AS DECIMAL(14,2)) END) AS qty96,
             SUM(CAST(l.l_quantity AS DECIMAL(14,2))) AS qty_all
      FROM lineitem l
      WHERE l.l_partkey IN
            (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      GROUP BY l.l_suppkey
    )
    SELECT s.s_name, n.n_name,
           CAST(CAST(s.s_acctbal AS DECIMAL(14,2)) AS DOUBLE) AS s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN
          (SELECT l_suppkey FROM shipped WHERE qty96 * 5 > qty_all)
    """,
    doc="TPC-H q20 shape (suppliers concentrating 'red' part shipments "
        "in the promotion year; the availqty comparison is adapted to "
        "year-vs-lifetime quantity share — over 20%, vs the 1/7 a "
        "uniform spread would give — since the schema has no partsupp): "
        "nested IN -> semi joins both levels; the share threshold "
        "cross-multiplies exact decimals (qty96*5 > qty_all), no float "
        "fraction.",
)
def q_q20_part_promotion_suppliers(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")

    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    in96 = (
        "l_shipdate >= TIMESTAMP '1996-01-01'"
        " AND l_shipdate < TIMESTAMP '1997-01-01'"
    )
    shipped = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey,
                "left_semi")
        .groupBy("l_suppkey")
        .agg(
            F.expr(
                f"SUM(CASE WHEN {in96} THEN CAST(l_quantity AS DECIMAL(14,2))"
                " ELSE CAST(0 AS DECIMAL(14,2)) END)"
            ).alias("qty96"),
            F.expr("SUM(CAST(l_quantity AS DECIMAL(14,2)))")
            .alias("qty_all"),
        )
    )
    promo_sup = shipped.filter(F.expr("qty96 * 5 > qty_all")) \
        .select("l_suppkey")
    return (
        sup.join(F.broadcast(promo_sup),
                 sup.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            "s_name", "n_name",
            F.expr("CAST(CAST(s_acctbal AS DECIMAL(14,2)) AS DOUBLE)")
            .alias("s_acctbal"),
        )
    )


def _zorder_dims(dialect: str) -> tuple[str, str]:
    """(day offset since 1990-01-01, partkey mod 2^16) — two bounded
    non-negative ints to Morton-interleave. Shipdates span 1995-2001,
    so 16 bits hold the day offset at any SF."""
    if dialect == "spark":
        return ("datediff(l_shipdate, DATE '1990-01-01')",
                "l_partkey % 65536")
    return ("datediff('day', DATE '1990-01-01', l_shipdate)",
            "l_partkey % 65536")


def _zorder_oracle() -> str:
    from distributed_computing_projects_spark.operators.zorder import (
        interleave2,
    )

    day, pk = _zorder_dims("duck")
    z = interleave2(day, pk, 16, "duck")
    return f"""
    WITH keyed AS (
      SELECT CAST({day} AS BIGINT) AS day_off,
             CAST({pk} AS BIGINT) AS pk16,
             (({z}) >> 20) AS bucket
      FROM lineitem
    )
    SELECT bucket, count(*) AS n,
           min(day_off) AS min_day, max(day_off) AS max_day,
           min(pk16) AS min_pk, max(pk16) AS max_pk
    FROM keyed GROUP BY bucket
    """


@query(
    "zorder_layout_quality",
    headline=True,
    oracle=_zorder_oracle(),
    doc="Morton (Z-order) clustering key over (shipdate day offset, "
        "partkey): per z-bucket (key >> 20) row counts and BOTH "
        "dimensions' min/max — narrow spans on every dimension at "
        "once are what make z-ordered parquet files prunable by "
        "min/max stats under predicates on EITHER column (the "
        "OPTIMIZE ZORDER BY layout). The key is a flat shift/and/or "
        "expression generated in both engine dialects — pure "
        "whole-stage codegen, one aggregate, no UDFs; the write-side "
        "layout benefit (real per-file stat spans, pruned scans) is "
        "pinned in tests/test_zorder.py.",
)
def q_zorder_layout_quality(spark, sf_dir):
    from distributed_computing_projects_spark.operators.zorder import (
        interleave2,
    )

    li = load_table(spark, sf_dir, "lineitem")
    day, pk = _zorder_dims("spark")
    z = interleave2(day, pk, 16, "spark")
    keyed = li.select(
        F.expr(f"CAST({day} AS BIGINT)").alias("day_off"),
        F.expr(f"CAST({pk} AS BIGINT)").alias("pk16"),
        F.expr(f"shiftright({z}, 20)").alias("bucket"),
    )
    return keyed.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min("day_off").alias("min_day"), F.max("day_off").alias("max_day"),
        F.min("pk16").alias("min_pk"), F.max("pk16").alias("max_pk"),
    )


@query(
    "skewed_join_salted",
    oracle="""
    WITH big AS (
      SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
                  ELSE l_suppkey % 25 END AS hot_nation,
             l_orderkey
      FROM lineitem
    )
    SELECT n.n_name, count(*) AS n_rows,
           min(b.l_orderkey) AS min_orderkey,
           max(b.l_orderkey) AS max_orderkey
    FROM big b JOIN nation n ON b.hot_nation = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="Salted skewed join, driver-checked: 70% of lineitem rows are "
        "forced onto one join key (the canonical hot-key shape), the "
        "Spark side joins through operators/skew.salted_join (content+"
        "ordinal salt on the big side, exploded replication on the "
        "small side), and the ORACLE IS THE PLAIN JOIN — salting must "
        "change nothing but the partitioning, so the hash compare is "
        "a correctness differential of the salting machinery itself. "
        "The partition-spreading claim (one hot key -> salt even "
        "shuffle partitions) is pinned separately in tests/"
        "test_skew.py; AQE skew-join remains the first line of "
        "defense, salting the explicit fallback for shapes AQE "
        "cannot split.",
)
def q_skewed_join_salted(spark, sf_dir):
    from distributed_computing_projects_spark.operators.skew import (
        salted_join,
    )

    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    big = li.select(
        F.expr("CASE WHEN l_orderkey % 10 < 7 THEN 0"
               " ELSE l_suppkey % 25 END").alias("hot_nation"),
        "l_orderkey",
    )
    joined = salted_join(
        big, nation.select(F.col("n_nationkey").alias("hot_nation"),
                           "n_name"),
        ["hot_nation"],
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_rows"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
    )
