"""Relational surface, second tranche: scalar/correlated subqueries,
UNION ALL, explode, unpivot (stack), struct-max (deterministic argmax),
bounded window frames, regexp_replace, first/last values."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from renkodf_spark.queries.ctes import WS_TOKENS
from renkodf_spark.queries.registry import query
from renkodf_spark.sources.tables import load_table


def _t(spark, sf_dir, name):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return load_table(spark, sf_dir, name)


@query(
    "orders_near_max",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 0.9 * (SELECT MAX(o_totalprice) FROM orders)
    """,
    doc="scalar subquery (max is exact, no FP-boundary flakiness).",
)
def orders_near_max(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_sq")
    return spark.sql(
        "SELECT o_orderkey, o_totalprice FROM __orders_sq "
        "WHERE o_totalprice > 0.9 * (SELECT MAX(o_totalprice) FROM __orders_sq)"
    )


@query(
    "suppliers_shipping_late",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey AND l_shipdate >= TIMESTAMP '2001-01-01')
    """,
    doc="correlated EXISTS subquery.",
)
def suppliers_shipping_late(spark, sf_dir):
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    supp.createOrReplaceTempView("__supp_ex")
    li.createOrReplaceTempView("__li_ex")
    return spark.sql(
        "SELECT s_suppkey, s_name FROM __supp_ex WHERE EXISTS ("
        "SELECT 1 FROM __li_ex WHERE l_suppkey = s_suppkey "
        "AND l_shipdate >= TIMESTAMP '2001-01-01')"
    )


@query(
    "union_all_actors",
    oracle="""
    SELECT actor, COUNT(*) AS n FROM (
      SELECT user_id AS actor FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id FROM events WHERE event_type = 'purchase'
    ) GROUP BY actor
    """,
    doc="UNION ALL + re-aggregation.",
)
def union_all_actors(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(F.col("user_id").alias("actor"))
    buys = ev.filter(F.col("event_type") == "purchase").select(F.col("user_id").alias("actor"))
    return clicks.unionAll(buys).groupBy("actor").agg(F.count(F.lit(1)).alias("n"))


@query(
    "top_words",
    oracle=rf"""
    SELECT word, COUNT(*) AS n FROM (
      SELECT unnest({WS_TOKENS}) AS word FROM documents)
    GROUP BY word ORDER BY n DESC, word LIMIT 20
    """,
    doc="explode(split) + count + deterministic top-k.",
)
def top_words(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


@query(
    "unpivot_order_flags",
    oracle="""
    WITH agg AS (
      SELECT o_orderpriority,
             COUNT(*) FILTER (o_orderstatus = 'F') AS f_cnt,
             COUNT(*) FILTER (o_orderstatus = 'O') AS o_cnt,
             COUNT(*) FILTER (o_orderstatus = 'P') AS p_cnt
      FROM orders GROUP BY 1)
    SELECT o_orderpriority, 'F' AS status, f_cnt AS n FROM agg
    UNION ALL SELECT o_orderpriority, 'O', o_cnt FROM agg
    UNION ALL SELECT o_orderpriority, 'P', p_cnt FROM agg
    """,
    doc="unpivot via stack() (oracle: UNION ALL).",
)
def unpivot_order_flags(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
    )
    return wide.selectExpr(
        "o_orderpriority",
        "stack(3, 'F', F, 'O', O, 'P', P) AS (status, n)",
    )


@query(
    "largest_order_per_customer",
    oracle="""
    SELECT o_custkey,
           (MAX(struct_pack(p := o_totalprice, k := o_orderkey))).k AS top_orderkey,
           (MAX(struct_pack(p := o_totalprice, k := o_orderkey))).p AS top_price
    FROM orders GROUP BY o_custkey
    """,
    doc="deterministic argmax via struct max (ties break on orderkey).",
)
def largest_order_per_customer(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    s = F.max(F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")))
    return orders.groupBy("o_custkey").agg(
        s.getField("k").alias("top_orderkey"), s.getField("p").alias("top_price")
    )


@query(
    "rolling_3_order_avg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           AVG(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS avg3_cents,
           FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey) AS first_order
    FROM orders
    """,
    doc="bounded ROWS frame + first_value. Frame aggregates run in integer "
    "cents: windowed float sums are association-order-dependent (DuckDB "
    "uses segment trees) so cross-engine float frames cannot hash-match.",
)
def rolling_3_order_avg(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.avg(cents).over(w.rowsBetween(-2, 0)).alias("avg3_cents"),
        F.first("o_orderkey").over(w).alias("first_order"),
    )


_QS = [0.25, 0.5, 0.75, 0.99]
_QLBL = ["q25", "q50", "q75", "q99"]

@query(
    "sketch_value_quantiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 4) AS q25_exact,
           ROUND(quantile_cont(value, 0.50), 4) AS q50_exact,
           ROUND(quantile_cont(value, 0.75), 4) AS q75_exact,
           ROUND(quantile_cont(value, 0.99), 4) AS q99_exact,
           TRUE AS q25_rank_ok, TRUE AS q50_rank_ok,
           TRUE AS q75_rank_ok, TRUE AS q99_rank_ok
    FROM events GROUP BY event_type
    """,
    doc="approximate quantile sketch (percentile_approx / KLL-style) with "
    "a rank-space tolerance-band oracle (VERDICT r3 item 3): the exact "
    "interpolated percentiles hash-match DuckDB quantile_cont, and each "
    "approx quantile carries a boolean that its empirical rank (fraction "
    "of values <= estimate) is within 0.01 of the target — the sketch's "
    "actual guarantee is n/accuracy = 1e-4 rank error, so the band has "
    "100x slack yet stays meaningful (value-space bands are not: at "
    "sf0.001 the q99 tail is so sparse the estimate sits 20% of the "
    "value range from the interpolated exact).",
)
def sketch_value_quantiles(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", _QS, 10000).alias("_qs"),
        F.percentile("value", F.lit(_QS)).alias("_qe"),
    )
    # one more pass to measure the sketch's empirical ranks; the 5-row
    # agg side broadcasts
    joined = ev.join(F.broadcast(agg), "event_type")
    fracs = joined.groupBy("event_type").agg(
        F.first("_qe").alias("_qe"),
        *[
            F.avg((F.col("value") <= F.col("_qs")[i]).cast("double")).alias(f"_f{i}")
            for i in range(len(_QS))
        ],
    )
    return fracs.select(
        "event_type",
        *[F.round(F.col("_qe")[i], 4).alias(f"{l}_exact") for i, l in enumerate(_QLBL)],
        *[
            (F.abs(F.col(f"_f{i}") - F.lit(q)) <= 0.01).alias(f"{l}_rank_ok")
            for i, (q, l) in enumerate(zip(_QS, _QLBL))
        ],
    )


@query(
    "hll_sketch_rollup",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS group_est_within_15pct,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS total_users_exact,
           TRUE AS union_est_within_15pct
    FROM events GROUP BY event_type
    """,
    doc="mergeable HLL sketch rollup (functions/sketches.py): per-group "
    "DataSketches HLL built in one pass, then MERGED to the global "
    "estimate via hll_union_agg — no raw-data rescan, the 100 TB rollup "
    "shape. Binary sketches are engine-specific, so the gate checks "
    "exact anchors (hash-matched) plus 15%-band flags on both the "
    "per-group and the merged estimates (lgConfigK=12 -> rsd ~1.6%).",
)
def hll_sketch_rollup(spark, sf_dir):
    from renkodf_spark.functions import sketches

    ev = _t(spark, sf_dir, "events")
    sk = sketches.group_sketches(ev, "event_type", "user_id")
    exact = ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("n_users_exact"))
    total_est = sketches.rollup_sketches(sk).withColumnRenamed("estimate", "total_est")
    total_exact = ev.agg(F.count_distinct("user_id").alias("total_users_exact"))
    return (
        sk.join(exact, "event_type")
        .crossJoin(F.broadcast(total_est))
        .crossJoin(F.broadcast(total_exact))
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("estimate") - F.col("n_users_exact"))
                <= F.col("n_users_exact") * 0.15
            ).alias("group_est_within_15pct"),
            "total_users_exact",
            (
                F.abs(F.col("total_est") - F.col("total_users_exact"))
                <= F.col("total_users_exact") * 0.15
            ).alias("union_est_within_15pct"),
        )
    )


@query(
    "part_name_normalized",
    oracle="""
    SELECT regexp_replace(lower(p_name), '[aeiou]', '', 'g') AS consonants, COUNT(*) AS n
    FROM part GROUP BY 1
    """,
    doc="regexp_replace (global) + agg.",
)
def part_name_normalized(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy(
            F.regexp_replace(F.lower(F.col("p_name")), "[aeiou]", "").alias("consonants")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
