"""The general ad-hoc SQL surface (SURVEY §2.6 Q6).

"Regular SQL is a stated product requirement" (/root/reference/
README.md:7,32). The reference delegates this surface to ClickHouse; we
delegate to Spark SQL/Catalyst — these entries pin down the semantics
over the TPC-H-ish star schema: multi-way joins, grouped aggregation,
windows, rollup, semi/anti joins, pivot-style conditional aggregation,
as-of join, sessionization.

Scale notes per query live in the docstrings; the common theme: dims
(region/nation/supplier/part/customer) broadcast, facts (orders/
lineitem) never leave their partitions except for the one shuffle their
group/join key requires, AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rsyslog_nginx_clickhouse_spark.catalog import load
from rsyslog_nginx_clickhouse_spark.functions.revenue import (
    DISCOUNT_CENTS_SQL,
    PRICE_CENTS_SQL,
    REV_ROUND1_SQL,
    REV_UNITS_SQL,
    rev_round1,
    rev_units,
)
from rsyslog_nginx_clickhouse_spark.functions.rounding import (
    exact_units,
    exact_units_sql,
    int_ratio_round,
    int_ratio_round_sql,
    int_sum_round,
    int_sum_round_sql,
    tie_round,
    tie_round_sql,
)
from rsyslog_nginx_clickhouse_spark.operators.asof import asof_join
from rsyslog_nginx_clickhouse_spark.operators.sessionize import session_stats
from rsyslog_nginx_clickhouse_spark.operators.topk import topk_per_group
from rsyslog_nginx_clickhouse_spark.queries import query


#: q1 money aggregates in exact integer units (see functions/rounding
#: .py): prices/discounts/taxes are exact 2-decimal values, so group
#: sums are exact cent (10^-2), a·(100-b) ten-thousandth (10^-4) and
#: a·(100-b)·(100+c) millionth (10^-6) integers — summed as int64/
#: HUGEINT they are order-independent, and the final HALF_UP is integer
#: arithmetic. Float sums land a few ulps to either side of the exact
#: value DEPENDING ON PARTITIONING, which flips the rounded digit
#: whenever the exact sum sits on a tie (q1's N/O group at sf0.01 IS
#: one: sum_base_price = ...182.45).
_Q1_A = PRICE_CENTS_SQL
_Q1_B = DISCOUNT_CENTS_SQL
_Q1_C = exact_units_sql("l_tax", 2)

#: q6's ext*disc in exact ten-thousandths (a·b, both cents)
_Q6_REV = int_sum_round_sql(f"sum({_Q1_A} * {_Q1_B})", 4, 1)

#: parts_above_brand_avg shared body — ANSI SQL valid in BOTH engines;
#: see the query's oracle comment for why the mean is not avg().
_PARTS_ABOVE_AVG_BODY = f"""
    SELECT p_partkey, p_brand, p_retailprice
    FROM part
    WHERE p_retailprice >
          (SELECT CAST(sum({exact_units_sql('p2.p_retailprice', 2)})
                       AS DOUBLE) / (count(*) * 100)
           FROM part p2 WHERE p2.p_brand = part.p_brand)
"""


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 1) AS sum_qty,
           {int_sum_round_sql(f'sum({_Q1_A})', 2, 1)} AS sum_base_price,
           {int_sum_round_sql(f'sum({_Q1_A} * (100 - {_Q1_B}))', 4, 1)}
             AS sum_disc_price,
           {int_sum_round_sql(
               f'sum({_Q1_A} * (100 - {_Q1_B}) * (100 + {_Q1_C}))', 6, 1)}
             AS sum_charge,
           {int_ratio_round_sql(
               f'sum({exact_units_sql("l_quantity", 0)})', 'count(*)', 4)}
             AS avg_qty,
           {int_ratio_round_sql(f'sum({_Q1_A})', 'count(*) * 100', 4)}
             AS avg_price,
           {int_ratio_round_sql(f'sum({_Q1_B})', 'count(*) * 100', 4)}
             AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1: scan-heavy grouped aggregation; partial agg map-side, "
        "shuffle carries 4 groups not 600k rows. Money aggregates are "
        "exact-integer-unit sums (order-independent) with integer "
        "HALF_UP — float sums straddle rounding ties per-partitioning",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    a = exact_units(F.col("l_extendedprice"), 2)
    b = exact_units(F.col("l_discount"), 2)
    c = exact_units(F.col("l_tax"), 2)
    n = F.count("*")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 1).alias("sum_qty"),
                 int_sum_round(F.sum(a), 2, 1).alias("sum_base_price"),
                 int_sum_round(F.sum(a * (100 - b)), 4, 1)
                 .alias("sum_disc_price"),
                 int_sum_round(F.sum(a * (100 - b) * (100 + c)), 6, 1)
                 .alias("sum_charge"),
                 int_ratio_round(
                     F.sum(exact_units(F.col("l_quantity"), 0)), n, 4)
                 .alias("avg_qty"),
                 int_ratio_round(F.sum(a), n * F.lit(100), 4)
                 .alias("avg_price"),
                 int_ratio_round(F.sum(b), n * F.lit(100), 4)
                 .alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o_orderkey,
           {REV_ROUND1_SQL} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
    doc="TPC-H Q3: dim filter broadcast into fact join, top-10 by revenue",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
              .agg(rev_round1().alias("revenue"))
              .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
              .orderBy(F.desc("revenue"), "o_orderkey").limit(10))


@query(
    "q5_regional_revenue",
    oracle=f"""
    SELECT n_name, {REV_ROUND1_SQL} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5: 6-way join; region/nation/supplier/customer broadcast, "
        "facts shuffle once on the join key chain",
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(supp),
                    (li.l_suppkey == supp.s_suppkey)
                    & (cust.c_nationkey == supp.s_nationkey))
              .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
              .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
              .groupBy("n_name")
              .agg(rev_round1().alias("revenue"))
              .orderBy(F.desc("revenue"), "n_name"))


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {_Q6_REV} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    doc="TPC-H Q6: pure filter+agg — every predicate must reach the scan",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                     & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
                     & (F.col("l_discount").between(0.05, 0.07))
                     & (F.col("l_quantity") < 24))
            .agg(int_sum_round(
                     F.sum(exact_units(F.col("l_extendedprice"), 2)
                           * exact_units(F.col("l_discount"), 2)), 4, 1)
                 .alias("revenue")))


@query(
    "rollup_customer_balance",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
    doc="ROLLUP grouping sets: region → nation → grand total in one pass",
)
def rollup_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    return (cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
                .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
                .rollup("r_name", "n_name")
                .agg(F.count("*").alias("n_customers"),
                     F.round(F.sum("c_acctbal"), 2).alias("total_acctbal")))


@query(
    "running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), 2) AS running_spend
    FROM orders
    """,
    doc="analytic window: per-customer running total in deterministic "
        "(o_orderdate, o_orderkey) order — identical float accumulation "
        "order on both engines",
)
def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (load(spark, sf_dir, "orders")
            .select("o_custkey", "o_orderkey",
                    F.round(F.sum("o_totalprice").over(w), 2)
                     .alias("running_spend")))


@query(
    "top3_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rk FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             (row_number() OVER (
               PARTITION BY p_brand
               ORDER BY p_retailprice DESC, p_partkey))::int AS rk
      FROM part) WHERE rk <= 3
    """,
    doc="top-k per group: one shuffle on the group key, rank window",
)
def top3_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk_per_group(
        load(spark, sf_dir, "part").select("p_brand", "p_partkey",
                                           "p_retailprice"),
        ["p_brand"], 3, F.desc("p_retailprice"), F.col("p_partkey"))


@query(
    "big_spender_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    doc="EXISTS → left-semi join (no row multiplication, fact side streams)",
)
def big_spender_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return (cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
                .select("c_custkey", "c_name"))


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="NOT EXISTS → left-anti join",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
                .select("c_custkey", "c_name"))


@query(
    "orderstatus_pivot",
    oracle="""
    SELECT o_orderpriority,
           cast(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS bigint)
             AS n_f,
           cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS bigint)
             AS n_o,
           cast(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS bigint)
             AS n_p
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="pivot as conditional aggregation (portable across engines)",
)
def orderstatus_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")

    def n(status: str):
        return F.sum(F.when(F.col("o_orderstatus") == status, 1).otherwise(0)) \
                .cast("long").alias(f"n_{status.lower()}")

    return (orders.groupBy("o_orderpriority")
                  .agg(n("F"), n("O"), n("P"))
                  .orderBy("o_orderpriority"))


@query(
    "purchase_last_view_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           v.event_id AS view_event_id, v.ts AS ts_asof
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    doc="as-of join (operators/asof.py): union-sort-window composition — "
        "one shuffle on the key, no range cross-product. Oracle uses "
        "DuckDB's native ASOF JOIN",
)
def purchase_last_view_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase") \
                  .select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view") \
              .select("user_id", "ts", F.col("event_id").alias("view_event_id"))
    out = asof_join(purchases, views, on="user_id", time_col="ts",
                    value_cols=["view_event_id"], suffix="_asof")
    return out.select("event_id", "user_id", "ts",
                      F.col("view_event_id_asof").alias("view_event_id"),
                      "ts_asof")


@query(
    "asof_join_sql",
    # same oracle family as purchase_last_view_asof — DuckDB's native
    # ASOF JOIN over the two filtered sides
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           v.event_id AS view_event_id, v.ts AS ts_asof
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    doc="ClickHouse `ASOF LEFT JOIN` SQL surface: the verbatim CH "
        "text runs through the engine's SQL entry, which routes the "
        "clause into operators/asof.asof_join — the union-sort-window "
        "composition (ONE shuffle on the key, no range cross-product) "
        "— and rewrites the surrounding alias references onto the "
        "result; strict/forward inequalities and subquery sides are "
        "refused loudly (functions/macros._asof_join); inner "
        "ASOF JOIN drops unmatched left rows like ClickHouse",
)
def asof_join_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsyslog_nginx_clickhouse_spark.functions import macros

    ev = load(spark, sf_dir, "events")
    ev.where(F.col("event_type") == "purchase") \
      .select("event_id", "user_id", "ts") \
      .createOrReplaceTempView("asof_purchases")
    ev.where(F.col("event_type") == "view") \
      .select(F.col("event_id").alias("view_event_id"),
              "user_id", "ts") \
      .createOrReplaceTempView("asof_views")
    return macros.sql(spark, """
        SELECT p.event_id, p.user_id, p.ts,
               v.view_event_id AS view_event_id, v.ts AS ts_asof
        FROM asof_purchases p ASOF LEFT JOIN asof_views v
          ON p.user_id = v.user_id AND v.ts <= p.ts
    """)


@query(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR floor(epoch(ts))::bigint - floor(epoch(lag(ts) OVER w))::bigint > 3600
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING))::bigint - 1
               AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           floor(epoch(max(ts)))::bigint - floor(epoch(min(ts)))::bigint
             AS duration_s
    FROM numbered GROUP BY user_id, session_id
    """,
    doc="gap-based sessionization (operators/sessionize.py), 1h gap",
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_stats(load(spark, sf_dir, "events"), "user_id", "ts",
                         gap_s=3600)


@query(
    "latency_quantiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="exact interpolated percentiles per group (ClickHouse "
        "quantileExact surface); Spark percentile == DuckDB "
        "quantile_cont (linear interpolation). At 100 TB swap to "
        "approx_percentile: t-digest sketch, no per-group sort",
)
def latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
              .agg(F.round(F.percentile("value", 0.5), 4).alias("p50"),
                   F.round(F.percentile("value", 0.9), 4).alias("p90"),
                   F.round(F.percentile("value", 0.99), 4).alias("p99"))
              .orderBy("event_type"))


@query(
    "revenue_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {REV_ROUND1_SQL} AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets (all 2^2 rollup combinations) — Catalyst "
        "expands to a single Expand+HashAggregate: one scan, one "
        "shuffle, regardless of the number of grouping sets",
)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
              .agg(rev_round1().alias("revenue"),
                   F.count("*").alias("n")))


@query(
    "orders_moving_avg",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate)::TIMESTAMP AS d,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY d)
    SELECT d, revenue,
           round(avg(revenue) OVER (ORDER BY d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
    FROM daily ORDER BY d
    """,
    doc="7-day moving average over daily revenue: one shuffle for the "
        "daily agg; the window runs on the (tiny) aggregate, never the "
        "fact table",
)
def orders_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    daily = (orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
                   .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return (daily.select("d", "revenue",
                         F.round(F.avg("revenue").over(w), 4).alias("ma7"))
                 .orderBy("d"))


@query(
    "repeat_users_intersect",
    oracle="""
    SELECT user_id FROM events
    WHERE date_trunc('day', ts) = TIMESTAMP '2024-01-01 00:00:00'
    INTERSECT
    SELECT user_id FROM events
    WHERE date_trunc('day', ts) = TIMESTAMP '2024-01-15 00:00:00'
    """,
    doc="set operation surface (INTERSECT distinct): users active on "
        "both days; planned as an aggregate-style left-semi over the "
        "two filtered scans",
)
def repeat_users_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    d1 = ev.where(day == F.lit("2024-01-01").cast("timestamp")) \
           .select("user_id")
    d2 = ev.where(day == F.lit("2024-01-15").cast("timestamp")) \
           .select("user_id")
    return d1.intersect(d2)


@query(
    "q14_promo_revenue",
    # Both revenue sums are exact integer unit sums (order-independent
    # → identical in both engines), the ratio is then the SAME two
    # float ops on the SAME doubles, and tie_round closes the method
    # gap — a ratio of float sums would straddle a round-4 tie
    # per-partitioning like any other money sum. Pure-integer HALF_UP
    # is not an option here: 2·A·10^4 overflows int64 at bench scale.
    oracle=f"""
    SELECT {tie_round_sql(
        "100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN "
        + REV_UNITS_SQL
        + " ELSE 0 END) AS DOUBLE) / CAST(sum("
        + REV_UNITS_SQL + ") AS DOUBLE)", 4)} AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
    doc="TPC-H Q14: conditional aggregation over a broadcast dim join — "
        "the CASE rides inside the partial aggregate, one shuffle of "
        "two partial sums (exact integer units; see oracle comment)",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp")))
    part = load(spark, sf_dir, "part")
    units = rev_units()
    promo = F.when(F.col("p_type").like("PROMO%"), units).otherwise(F.lit(0))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .agg(tie_round(F.lit(100.0)
                             * F.sum(promo).cast("double")
                             / F.sum(units).cast("double"), 4)
                   .alias("promo_pct")))


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {REV_ROUND1_SQL} AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc="TPC-H Q10: returned-item revenue ranking; customer/nation "
        "broadcast, facts shuffle once, top-20 via TakeOrdered",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
              .groupBy("c_custkey", "c_name", "n_name")
              .agg(rev_round1().alias("revenue"))
              .select("c_custkey", "c_name", "revenue", "n_name")
              .orderBy(F.desc("revenue"), "c_custkey").limit(20))


@query(
    "parts_above_brand_avg",
    # threshold as CAST(exact-cents-sum AS DOUBLE)/(count*100), not
    # avg(): each engine's float avg accumulates in its own order, and
    # a 2-decimal price can sit exactly ON the brand mean (sum_cents
    # divisible by count), where the boundary would flip. One division
    # of an identical exact integer is identical in both engines.
    oracle=_PARTS_ABOVE_AVG_BODY,
    doc="correlated scalar subquery — Catalyst decorrelates it into an "
        "aggregate + join (no per-row re-execution); expressed via "
        "spark.sql to exercise the SQL front door; identical text runs "
        "as the DuckDB oracle (threshold integer-exact, see comment)",
)
def parts_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_PARTS_ABOVE_AVG_BODY)


@query(
    "events_in_sessions_rangejoin",
    # gap rule mirrors sessionize's FLOORED-SECOND diff (unix_timestamp
    # truncation), same as the user_sessions oracle — an exact
    # sub-second epoch(ts - prev) rule places some boundaries
    # differently (e.g. exact diff 1800.8 s vs floored 1800) and would
    # only be masked here because n_matched degenerates to the event
    # count under any boundary placement
    oracle="""
    WITH s AS (
      SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end
      FROM (
        SELECT user_id, ts,
               sum(CASE WHEN prev IS NULL
                        OR floor(epoch(ts))::bigint
                           - floor(epoch(prev))::bigint > 1800
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
        FROM (SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
              FROM events))
      GROUP BY user_id, sid)
    SELECT e.user_id, count(*) AS n_matched
    FROM events e JOIN s ON e.user_id = s.user_id
                       AND e.ts BETWEEN s.session_start AND s.session_end
    GROUP BY e.user_id ORDER BY e.user_id
    """,
    doc="range join via interval bucketing (point-in-interval equi-join "
        "on (key, time-bin), exact predicate re-check): events matched "
        "into their session intervals; a plain BETWEEN join would plan "
        "BroadcastNestedLoop — the quadratic shape plancheck flags. "
        "Oracle runs the naive non-equi join, results must agree",
)
def events_in_sessions_rangejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsyslog_nginx_clickhouse_spark.operators.rangejoin import range_join

    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    sessions = session_stats(ev, "user_id", "ts", gap_s=1800) \
        .select("user_id", "session_start", "session_end")
    matched = range_join(ev, sessions, on="user_id", time_col="ts",
                         start_col="session_start", end_col="session_end",
                         bin_s=1800)
    return (matched.groupBy("user_id")
                   .agg(F.count("*").alias("n_matched"))
                   .orderBy("user_id"))


@query(
    "select_except_modifier",
    # DuckDB spells the star modifier EXCLUDE; same column algebra
    oracle="""
    SELECT * EXCLUDE (s_acctbal, s_name) FROM supplier
    WHERE s_nationkey < 5 ORDER BY s_suppkey
    """,
    doc="ClickHouse `SELECT * EXCEPT (cols)` star modifier — the "
        "column-pruning idiom for wide tables (drop the blob/comment "
        "columns without naming the 50 you keep): Spark parses the "
        "CH text natively, and the pruned list reaches the scan's "
        "ReadSchema — the parquet reader never materializes the "
        "excluded columns (asserted in tests/test_plans.py); at "
        "100 TB the excluded comment column IS the I/O difference",
)
def select_except_modifier(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        sql as engine_sql,
    )

    load(spark, sf_dir, "supplier").createOrReplaceTempView(
        "sem_supplier")
    return engine_sql(spark, """
        SELECT * EXCEPT (s_acctbal, s_name) FROM sem_supplier
        WHERE s_nationkey < 5 ORDER BY s_suppkey
    """)


@query(
    "dict_get_enrichment",
    oracle="""
    SELECT coalesce(n.n_name, 'unknown') AS nation,
           count(*)::bigint AS cnt,
           round(sum(c.c_acctbal), 2) AS total_balance
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY nation ORDER BY nation
    """,
    doc="ClickHouse external-dictionary surface "
        "(`dictGet('nations', 'n_name', c_nationkey)`): a CH "
        "dictionary is BY DEFINITION an in-memory lookup table "
        "replicated to every server, so the faithful Spark analog is "
        "a literal map() inside a SQL function — the literal ships "
        "with the plan to every executor (replicate-everywhere) and "
        "stays inside whole-stage codegen: NO join, NO shuffle for "
        "the enrichment (plancheck shows a single scan). "
        "declare_dictionary enforces a parameter-size row cap and "
        "points bigger tables at the broadcast lookup_join — the "
        "same dictionary-vs-JOIN split CH users make "
        "(functions/dictionary.py; default-on-missing honored)",
)
def dict_get_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsyslog_nginx_clickhouse_spark.functions.dictionary import (
        declare_dictionary,
    )
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        sql as engine_sql,
    )

    declare_dictionary(spark, "nations", load(spark, sf_dir, "nation"),
                       key_col="n_nationkey",
                       attrs={"n_name": "'unknown'"})
    load(spark, sf_dir, "customer").createOrReplaceTempView(
        "dict_customer")
    return engine_sql(spark, """
        SELECT dictGet('nations', 'n_name', c_nationkey) AS nation,
               CAST(count() AS bigint) AS cnt,
               round(sum(c_acctbal), 2) AS total_balance
        FROM dict_customer GROUP BY nation ORDER BY nation
    """)


@query(
    "dict_get_large",
    # quantities are integer-valued exact decimals, so the double sum
    # is exact and the BIGINT cast agrees cross-engine
    oracle="""
    SELECT coalesce(p.p_brand, 'unknown') AS brand,
           count(*)::bigint AS cnt,
           CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY brand ORDER BY brand
    """,
    doc="dictGet over a TABLE-SIZED dimension (part — 20M rows at "
        "TPC-H sf100, far past any map-literal budget): "
        "declare_dictionary(style='join') keeps the SAME dictGet call "
        "sites but backs each attribute function with a correlated "
        "AGGREGATE scalar subquery + BROADCAST hint, which Catalyst "
        "rewrites to a broadcast-hash LEFT OUTER join — the plan a CH "
        "user would hand-write when their dictionary outgrows memory "
        "(VERDICT r9 item 7: the over-cap case used to refuse; "
        "style='auto' now degrades to this path automatically). The "
        "aggregate form is load-bearing: the bare scalar subquery "
        "plans as BroadcastNestedLoopJoin/LeftSingle, O(rows·dict). "
        "Default-on-missing and key-uniqueness verification (one "
        "distributed aggregate, parameter-sized result) are "
        "preserved (functions/dictionary._declare_join_dictionary)",
)
def dict_get_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsyslog_nginx_clickhouse_spark.functions.dictionary import (
        declare_dictionary,
    )
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        sql as engine_sql,
    )

    declare_dictionary(spark, "parts_dim", load(spark, sf_dir, "part"),
                       key_col="p_partkey",
                       attrs={"p_brand": "'unknown'"}, style="join")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "dictl_lineitem")
    return engine_sql(spark, """
        SELECT dictGet('parts_dim', 'p_brand', l_partkey) AS brand,
               CAST(count() AS bigint) AS cnt,
               CAST(sum(l_quantity) AS BIGINT) AS total_qty
        FROM dictl_lineitem GROUP BY brand ORDER BY brand
    """)
