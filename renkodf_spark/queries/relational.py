"""Relational query surface (SURVEY.md §2 Part B): scans, projections,
filters, every join flavor, aggregation, rollup/cube/grouping sets,
ranking and running windows, set ops, string/date/JSON/conditional
scalar functions, sort/limit, percentiles, pivot, sessionization,
event-time windows, and the as-of join composition.

Every query is a (DataFrame builder, DuckDB oracle SQL) pair. Float
aggregates are ROUNDed on both sides because summation order across a
shuffle is not associative-stable; everything else compares exactly.

Plan hygiene: dimension joins broadcast (nation/region/supplier are
tiny); fact-fact joins shuffle on their keys; filters sit directly on
the scans so Catalyst pushes them into parquet.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from renkodf_spark.operators.asof import asof_join
from renkodf_spark.queries.registry import query
from renkodf_spark.sources.tables import load_table


def _t(spark, sf_dir, name):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- scans/aggs

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: filtered scan + 8-agg groupBy (map-side partials).",
)
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: fact-fact join + broadcast-able customer filter + top-k.",
)
def q3_shipping_priority(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation   ON s_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: snowflake join, dims broadcast, single agg.",
)
def q5_region_revenue(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


# ---------------------------------------------------------------- join flavors

@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderdate < TIMESTAMP '1996-01-01')
    """,
    doc="left-anti join (customers with no orders before 1996).",
)
def customers_without_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "segment_buyers",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_buyers
    FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    doc="left-semi join + agg.",
)
def segment_buyers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_buyers"))
    )


@query(
    "customer_order_stats",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    doc="left-outer join preserving zero-order customers.",
)
def customer_order_stats(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@query(
    "nation_full_outer_activity",
    oracle="""
    WITH c AS (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT COALESCE(c.k, s.k) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.k = s.k
    """,
    doc="full-outer join of two pre-aggregates.",
)
def nation_full_outer_activity(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("k")).agg(F.count(F.lit(1)).alias("n_cust"))
    s = _t(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("k")).agg(F.count(F.lit(1)).alias("n_supp"))
    return c.join(s, "k", "full_outer").select(
        F.coalesce(c["k"], s["k"]).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


# ---------------------------------------------------------------- windows

@query(
    "running_order_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER w AS order_rank,
           ROUND(SUM(o_totalprice) OVER w, 2) AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="running-sum + row_number window.",
)
def running_order_total(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_rank"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@query(
    "top3_orders_per_customer",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
    WHERE rnk <= 3
    """,
    doc="top-k per group via ranking window.",
)
def top3_orders_per_customer(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "event_gaps",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events
    """,
    doc="lag/lead windows over event time.",
)
def event_gaps(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return ev.select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             (SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
      FROM flagged)
    SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="sessionization: lag + gap flag + running sum + per-session agg (30 min gap).",
)
def user_sessions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (us - F.lag(us).over(w) > 1_800_000_000) | F.lag("ts").over(w).isNull(), 1
        ).otherwise(0).alias("is_new"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------- rollup/cube/sets

@query(
    "rollup_lineitem_flags",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals.",
)
def rollup_lineitem_flags(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "cube_order_status_priority",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two dimensions.",
)
def cube_order_status_priority(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@query(
    "grouping_sets_events",
    oracle="""
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(CAST(user_id % 10 AS VARCHAR), 'ALL') AS user_bucket,
           COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
    """,
    doc="GROUPING SETS via SQL.",
)
def grouping_sets_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__events_gs")
    return spark.sql(
        """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(CAST(user_id % 10 AS STRING), 'ALL') AS user_bucket,
               COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value
        FROM __events_gs
        GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
        """
    )


@query(
    "intersect_buyers_positive_bal",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    """,
    doc="INTERSECT set op.",
)
def intersect_buyers_positive_bal(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0).select(F.col("c_custkey").alias("custkey"))
    return orders.intersect(cust)


@query(
    "except_unordered_parts",
    oracle="""
    SELECT p_partkey AS partkey FROM part
    EXCEPT
    SELECT l_partkey FROM lineitem
    """,
    doc="EXCEPT set op.",
)
def except_unordered_parts(spark, sf_dir):
    part = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("partkey"))
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("partkey"))
    return part.exceptAll(li).distinct()


@query(
    "distinct_segment_nation",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    doc="distinct / dropDuplicates.",
)
def distinct_segment_nation(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------- scalar funcs

@query(
    "part_string_features",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_uc,
           SUBSTRING(p_name, 1, 6) AS name_prefix,
           regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           LENGTH(p_name) AS name_len
    FROM part
    """,
    doc="string scalar functions.",
)
def part_string_features(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_name", 1, 6).alias("name_prefix"),
        F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.length("p_name").alias("name_len"),
    )


@query(
    "monthly_order_stats",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS month,
           EXTRACT(year FROM o_orderdate) AS yr,
           COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY 1, 2
    """,
    doc="date_trunc/extract + agg.",
)
def monthly_order_stats(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.year("o_orderdate").cast("long").alias("yr"),
    ).agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))


@query(
    "acctbal_buckets",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 1000 THEN 'low'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bucket,
           COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer GROUP BY 1
    """,
    doc="CASE WHEN bucketing.",
)
def acctbal_buckets(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 1000, "low")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    return cust.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("c_acctbal"), 2).alias("total_bal")
    )


@query(
    "props_json_extract",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
    doc="JSON scalar extraction from the props column.",
)
def props_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.get_json_object("props", "$.k").cast("long").alias("k")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))


@query(
    "ts_conversions",
    oracle="""
    SELECT event_id, epoch_us(ts) AS ts_us,
           make_timestamp(epoch_us(ts)) AS ts_roundtrip,
           date_trunc('hour', ts) AS ts_hour
    FROM events WHERE event_id % 97 = 0
    """,
    doc="timestamp <-> epoch conversions (O-20).",
)
def ts_conversions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    return ev.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.timestamp_micros(F.unix_micros("ts")).alias("ts_roundtrip"),
        F.date_trunc("hour", "ts").alias("ts_hour"),
    )


# ---------------------------------------------------------------- sort/limit/percentiles

@query(
    "lineitem_top20_price",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20
    """,
    doc="global sort + limit (top-k).",
)
def lineitem_top20_price(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(20)
    )


@query(
    "events_time_slice",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(MIN(value), 4) AS min_v, ROUND(MAX(value), 4) AS max_v
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
    GROUP BY event_type
    """,
    doc="time-range filter (O-18) + min/max agg.",
)
def events_time_slice(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20").cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("min_v"),
            F.round(F.max("value"), 4).alias("max_v"),
        )
    )


@query(
    "event_value_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS p50,
           ROUND(quantile_cont(value, 0.9), 4) AS p90,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    doc="exact interpolated percentiles + count distinct.",
)
def event_value_percentiles(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "approx_distinct_users",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS approx_within_15pct
    FROM events GROUP BY event_type
    """,
    doc="approx_count_distinct (HLL) — tolerance-band oracle (VERDICT r3 "
    "item 3): the HLL estimate itself is engine-specific, so the query "
    "emits the exact distinct count (hash-matched) plus a boolean that "
    "the estimate lies within 15% of it (3x the default rsd 0.05; "
    "observed worst case 6.7% at sf0.1). HLL merge is commutative and "
    "its hash deterministic, so the flag is stable across partitionings.",
)
def approx_distinct_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    exact = F.count_distinct("user_id")
    approx = F.approx_count_distinct("user_id")
    return ev.groupBy("event_type").agg(
        exact.alias("n_users_exact"),
        (F.abs(approx - exact) <= exact * 0.15).alias("approx_within_15pct"),
    )


@query(
    "pivot_event_values",
    oracle="""
    SELECT user_id % 10 AS user_bucket,
           ROUND(COALESCE(SUM(value) FILTER (event_type = 'click'), 0), 2)    AS click,
           ROUND(COALESCE(SUM(value) FILTER (event_type = 'view'), 0), 2)     AS view,
           ROUND(COALESCE(SUM(value) FILTER (event_type = 'purchase'), 0), 2) AS purchase,
           ROUND(COALESCE(SUM(value) FILTER (event_type = 'signup'), 0), 2)   AS signup,
           ROUND(COALESCE(SUM(value) FILTER (event_type = 'error'), 0), 2)    AS error
    FROM events GROUP BY 1
    """,
    doc="pivot with explicit value list.",
)
def pivot_event_values(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    piv = (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .sum("value")
    )
    return piv.select(
        "user_bucket",
        *[F.round(F.coalesce(F.col(c), F.lit(0.0)), 2).alias(c) for c in ["click", "view", "purchase", "signup", "error"]],
    )


# ---------------------------------------------------------------- event-time windows

@query(
    "tumbling_event_windows",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS window_start,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
    doc="6-hour tumbling event-time windows (streaming semantics on batch).",
)
def tumbling_event_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


@query(
    "sliding_event_windows",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 10800000000) * 10800000000 - off) AS window_start,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events, (SELECT unnest([0, 10800000000]) AS off)
    WHERE epoch_us(ts) - ((epoch_us(ts) // 10800000000) * 10800000000 - off) < 21600000000
    GROUP BY 1
    """,
    doc="6h windows sliding every 3h: each event lands in 2 windows "
    "(oracle: per-slide bucket + containment filter).",
)
def sliding_event_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("window_start"), "n", "total")
    )


@query(
    "session_window_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts) > 3600000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    s AS (SELECT user_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged)
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) + INTERVAL 1 HOUR AS session_end, COUNT(*) AS n
    FROM s GROUP BY user_id, sid
    """,
    doc="session_window(ts, 1h) — oracle = lag/cumsum sessionization.",
)
def session_window_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )


# ---------------------------------------------------------------- as-of join

def _purchase_asof(spark, sf_dir, name: str, **frame):
    """Each click's as-of purchase of the same user (``frame`` picks
    ``asof_join``'s strictness, direction and tolerance), exported as
    ``{name}_ts`` and ``{name}_value``."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=["ts", "value"],
        **frame,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_asof").alias(f"{name}_ts"),
        F.round(F.col("value_asof"), 4).alias(f"{name}_value"),
    )


@query(
    "asof_purchase_before_click",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS purchase_ts, ROUND(p.value, 4) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts < c.ts
    """,
    doc="as-of join (latest purchase strictly before each click), union+window composition.",
)
def asof_purchase_before_click(spark, sf_dir):
    return _purchase_asof(spark, sf_dir, "purchase", strict=True)


@query(
    "asof_next_purchase_after_click",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS next_purchase_ts, ROUND(p.value, 4) AS next_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts > c.ts
    """,
    doc="forward as-of join (earliest purchase strictly after each click) — "
    "the mirrored frame of the union+window composition.",
)
def asof_next_purchase_after_click(spark, sf_dir):
    return _purchase_asof(spark, sf_dir, "next_purchase", strict=True, direction="forward")


@query(
    "asof_nearest_purchase",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    b AS (SELECT c.event_id, p.ts AS bts, p.value AS bval
          FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts),
    f AS (SELECT c.event_id, p.ts AS fts, p.value AS fval
          FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts > c.ts)
    SELECT c.event_id, c.user_id, c.ts,
           CASE WHEN fts IS NULL THEN bts WHEN bts IS NULL THEN fts
                WHEN (epoch_us(c.ts) - epoch_us(bts)) <= (epoch_us(fts) - epoch_us(c.ts))
                THEN bts ELSE fts END AS nearest_ts,
           ROUND(CASE WHEN fts IS NULL THEN bval WHEN bts IS NULL THEN fval
                      WHEN (epoch_us(c.ts) - epoch_us(bts)) <= (epoch_us(fts) - epoch_us(c.ts))
                      THEN bval ELSE fval END, 4) AS nearest_value
    FROM c JOIN b USING (event_id) JOIN f USING (event_id)
    """,
    doc="nearest as-of join (closest purchase in either direction, ties "
    "backward) — both frames evaluated in one window pass; distances "
    "compared in exact integer microseconds on both engines.",
)
def asof_nearest_purchase(spark, sf_dir):
    return _purchase_asof(spark, sf_dir, "nearest", strict=False, direction="nearest")


@query(
    "asof_tolerance_purchase",
    oracle="""
    WITH j AS (
      SELECT c.event_id, c.user_id, c.ts, p.ts AS pts, p.value AS pval
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND p.ts < c.ts)
    SELECT event_id, user_id, ts,
           CASE WHEN epoch_us(ts) - epoch_us(pts) <= 1800000000 THEN pts END AS purchase_ts,
           CASE WHEN epoch_us(ts) - epoch_us(pts) <= 1800000000
                THEN ROUND(pval, 4) END AS purchase_value
    FROM j
    """,
    doc="as-of join with tolerance (merge_asof's most-used knob): the "
    "latest purchase before each click only counts within 30 minutes — "
    "staler matches null out. Oracle = DuckDB ASOF + CASE on the exact "
    "integer-microsecond delta.",
)
def asof_tolerance_purchase(spark, sf_dir):
    import datetime as dt

    return _purchase_asof(spark, sf_dir, "purchase", strict=True, tolerance=dt.timedelta(minutes=30))


# ------------------------------------------------------- salted aggregation

@query(
    "salted_event_type_stats",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS total_cents,
           ROUND(MIN(value), 4) AS min_value, ROUND(MAX(value), 4) AS max_value
    FROM events GROUP BY event_type
    """,
    doc="two-stage salted aggregation over the hot-key axis "
    "(functions/skew.py): identical results to a plain groupBy — the "
    "salt changes the shuffle layout, never the algebra. Sums run in "
    "integer cents so re-association cannot move a ulp.",
)
def salted_event_type_stats(spark, sf_dir):
    from renkodf_spark.functions.skew import salted_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        "value_cents", F.floor(F.col("value") * 100).cast("long")
    )
    return salted_agg(
        ev,
        ["event_type"],
        {
            "n": ("count", "*"),
            "total_cents": ("sum", "value_cents"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
    ).select(
        "event_type",
        "n",
        "total_cents",
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
    )
