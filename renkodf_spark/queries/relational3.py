"""Round-7 phase-5 gate queries: bin-bucketed range joins
(point-in-interval and interval-overlap), funnel step analysis, weekly
cohort retention, snapshot differencing / MERGE INTO, count-min
frequency sketches (incl. sketch-then-verify heavy hitters), SCD
Type-2 + point-in-time joins, inverted-index search (boolean, phrase,
BM25, hybrid rerank + RRF fusion), token-budget / weighted sampling,
salted joins, binary quantization + Hamming ANN, table profiling,
RANGE-interval window frames, sweep-line concurrency, rolling z-score
anomalies, and key-skew reports.

Oracles follow the house conventions: DuckDB inequality joins replay
the range joins directly (the bin bucketing is an execution strategy,
not a semantics change — the oracle proves exactly that), timestamps
compare exactly (µs on both engines), md5-derived integers use the
``('0x' || substr(md5(x), 1, 8))::BIGINT`` ↔
``F.conv(F.substring(F.md5(x), 1, 8), 16, 10)`` pair, and the count-min
oracle replays every counter bit-for-bit.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import functions as F

from renkodf_spark.functions import countmin
from renkodf_spark.operators.funnel import cohort_retention, funnel_steps
from renkodf_spark.operators.rangejoin import (
    interval_overlap_join,
    point_in_interval_join,
)
from renkodf_spark.operators.snapshot import snapshot_diff
from renkodf_spark.queries.ctes import WS_TOKENS
from renkodf_spark.queries.registry import query
from renkodf_spark.sources.tables import load_table


def _t(spark, sf_dir, name):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return load_table(spark, sf_dir, name)


# ------------------------------------------------------ range joins

@query(
    "range_clicks_in_purchase_windows",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts,
             ts + INTERVAL 2 HOUR AS end_ts
      FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, p.user_id,
           COUNT(*)::BIGINT AS n_clicks,
           MIN(c.click_ts)  AS first_click_ts
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND c.click_ts >= p.p_ts AND c.click_ts < p.end_ts
    GROUP BY p.purchase_id, p.user_id
    """,
    doc="Point-in-interval range join (clicks within 2h after each "
    "purchase) via bin bucketing — equi-join on (user, time-bin), "
    "never a nested-loop plan; the oracle is the plain inequality join.",
)
def range_clicks_in_purchase_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    j = point_in_interval_join(
        clicks,
        purchases,
        point_col="click_ts",
        start_col="p_ts",
        end_col="end_ts",
        on=["user_id"],
        bin_width=timedelta(hours=2),
    )
    return j.groupBy("purchase_id", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.min("click_ts").alias("first_click_ts"),
    )


@query(
    "interval_overlap_daily_spans",
    oracle="""
    WITH s AS (
      SELECT date_trunc('day', ts) AS day, user_id, MIN(ts) AS s
      FROM events GROUP BY 1, 2),
    iv AS (SELECT day, user_id, s, s + INTERVAL 30 MINUTE AS e FROM s)
    SELECT a.day, a.user_id AS user_a, b.user_id AS user_b,
           epoch_us(LEAST(a.e, b.e)) - epoch_us(GREATEST(a.s, b.s)) AS overlap_us
    FROM iv a JOIN iv b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s < b.e AND b.s < a.e
    """,
    doc="Interval-overlap range join (concurrent 30-min first-activity "
    "spans per day) with the first-shared-bin dedup rule; oracle = "
    "plain overlap inequality join.",
)
def interval_overlap_daily_spans(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    spans = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), "user_id")
        .agg(F.min("ts").alias("s"))
        .withColumn("e", F.col("s") + F.expr("INTERVAL 30 MINUTES"))
    )
    a = spans.select(
        "day",
        F.col("user_id").alias("user_a"),
        F.col("s").alias("start_a"),
        F.col("e").alias("end_a"),
    )
    b = spans.select(
        "day",
        F.col("user_id").alias("user_b"),
        F.col("s").alias("start_b"),
        F.col("e").alias("end_b"),
    )
    ov = interval_overlap_join(
        a,
        b,
        left_start="start_a",
        left_end="end_a",
        right_start="start_b",
        right_end="end_b",
        on=["day"],
        bin_width=timedelta(minutes=30),
    )
    return ov.filter(F.col("user_a") < F.col("user_b")).select(
        "day",
        "user_a",
        "user_b",
        (
            F.unix_micros(F.least("end_a", "end_b"))
            - F.unix_micros(F.greatest("start_a", "start_b"))
        ).alias("overlap_us"),
    )


# ------------------------------------------------------ funnel / cohort

_FUNNEL4_ORACLE = """
WITH u AS (SELECT DISTINCT user_id FROM events),
s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
       WHERE event_type = 'signup' GROUP BY 1),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
       JOIN s1 ON s1.user_id = e.user_id
       WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1),
s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
       JOIN s2 ON s2.user_id = e.user_id
       WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY 1),
s4 AS (SELECT e.user_id, MIN(e.ts) AS t4 FROM events e
       JOIN s3 ON s3.user_id = e.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY 1)
SELECT u.user_id, t1 AS step1_ts, t2 AS step2_ts,
       t3 AS step3_ts, t4 AS step4_ts,
       ((t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT
        + (t3 IS NOT NULL)::INT + (t4 IS NOT NULL)::INT)::BIGINT
         AS steps_completed
FROM u
LEFT JOIN s1 ON s1.user_id = u.user_id
LEFT JOIN s2 ON s2.user_id = u.user_id
LEFT JOIN s3 ON s3.user_id = u.user_id
LEFT JOIN s4 ON s4.user_id = u.user_id
"""


@query(
    "funnel_signup_view_click_purchase",
    oracle=_FUNNEL4_ORACLE,
    doc="4-step funnel (earliest chain signup→view→click→purchase) as "
    "k layered window-minimums over one user-keyed exchange; oracle = "
    "the textbook CTE chain of per-step MIN joins.",
)
def funnel_signup_view_click_purchase(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = funnel_steps(
        ev,
        user_col="user_id",
        ts_col="ts",
        type_col="event_type",
        steps=["signup", "view", "click", "purchase"],
    )
    return out.withColumn("steps_completed", F.col("steps_completed").cast("long"))


_FUNNEL_H_ORACLE = """
WITH u AS (SELECT DISTINCT user_id FROM events),
s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
       JOIN s1 ON s1.user_id = e.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.t1
         AND epoch_us(e.ts) <= epoch_us(s1.t1) + 7200000000 GROUP BY 1),
s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
       JOIN s2 ON s2.user_id = e.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
         AND epoch_us(e.ts) <= epoch_us(s2.t2) + 7200000000 GROUP BY 1)
SELECT u.user_id, t1 AS step1_ts, t2 AS step2_ts, t3 AS step3_ts,
       ((t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT
        + (t3 IS NOT NULL)::INT)::BIGINT AS steps_completed
FROM u
LEFT JOIN s1 ON s1.user_id = u.user_id
LEFT JOIN s2 ON s2.user_id = u.user_id
LEFT JOIN s3 ON s3.user_id = u.user_id
"""


@query(
    "funnel_view_click_purchase_2h",
    oracle=_FUNNEL_H_ORACLE,
    doc="3-step funnel with a 2h per-step horizon (exact integer µs, "
    "the asof tolerance rule) — the horizon makes drop-off real.",
)
def funnel_view_click_purchase_2h(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = funnel_steps(
        ev,
        user_col="user_id",
        ts_col="ts",
        type_col="event_type",
        steps=["view", "click", "purchase"],
        horizon=timedelta(hours=2),
    )
    return out.withColumn("steps_completed", F.col("steps_completed").cast("long"))


@query(
    "cohort_retention_weekly",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY 1),
    act AS (
      SELECT DISTINCT e.user_id,
             date_trunc('week', f.first_ts) AS cohort_week,
             (date_diff('day',
                        CAST(date_trunc('week', f.first_ts) AS DATE),
                        CAST(date_trunc('week', e.ts) AS DATE)) // 7)::BIGINT
               AS week_index
      FROM events e JOIN firsts f ON f.user_id = e.user_id)
    SELECT cohort_week, week_index, COUNT(*)::BIGINT AS n_users
    FROM act GROUP BY 1, 2
    """,
    doc="Weekly cohort retention matrix: users bucketed by "
    "first-activity week, distinct-user counts per weeks-since offset.",
)
def cohort_retention_weekly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, user_col="user_id", ts_col="ts")


# ------------------------------------------------------ snapshot diff

@query(
    "orders_snapshot_diff",
    oracle="""
    WITH newt AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus,
             o_orderpriority
      FROM orders WHERE o_orderkey % 89 = 0)
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_totalprice = n.o_totalprice
                 AND o.o_orderstatus = n.o_orderstatus
                 AND o.o_orderpriority = n.o_orderpriority
                  THEN 'unchanged'
                ELSE 'changed' END AS change_type
    FROM orders o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey
    """,
    doc="Snapshot diff change feed (added/removed/changed/unchanged) — "
    "key+digest reduction, one full-outer equi-join; the 'new' "
    "snapshot is a deterministic perturbation of orders so the gate "
    "needs no fixture. The oracle classifies by direct column "
    "comparison, proving the digest path (operators/snapshot.py) "
    "equivalent.",
)
def orders_snapshot_diff(spark, sf_dir):
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"]
    old = _t(spark, sf_dir, "orders").select(*cols)
    key = F.col("o_orderkey")
    new = (
        old.filter(key % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(key % 13 == 0, F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            old.filter(key % 89 == 0).select(
                (key + 10000000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
                "o_orderpriority",
            )
        )
    )
    diff = snapshot_diff(old, new, keys=["o_orderkey"])
    return diff.select("o_orderkey", "change_type")


# ------------------------------------------------------ count-min sketch

_CMS_W, _CMS_D = 64, 4

_CMS_CELLS = """
WITH k AS (SELECT CAST(user_id AS VARCHAR) AS kk FROM events),
h AS (SELECT ('0x' || substr(md5(kk), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(kk), 9, 8))::BIGINT AS h2
      FROM k),
cells AS (
  SELECT d."row", (h1 + d."row" * h2) % 64 AS "col"
  FROM h CROSS JOIN (VALUES (0), (1), (2), (3)) AS d("row"))
"""


@query(
    "countmin_sketch_users",
    oracle=_CMS_CELLS
    + """
    SELECT "row"::INT AS "row", "col"::BIGINT AS "col",
           COUNT(*)::BIGINT AS count
    FROM cells GROUP BY 1, 2
    """,
    doc="Count-min sketch build over per-event user keys (width 64 × "
    "depth 4, Kirsch-Mitzenmacher double hashing) — the oracle replays "
    "every counter exactly; width 64 << 150 users so collisions are "
    "live in the gate.",
)
def countmin_sketch_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("kk")
    )
    return countmin.cms_build(ev, "kk", width=_CMS_W, depth=_CMS_D)


@query(
    "countmin_user_estimates",
    oracle=_CMS_CELLS
    + """,
    sketch AS (
      SELECT "row", "col", COUNT(*)::BIGINT AS cnt FROM cells GROUP BY 1, 2),
    probes AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS kk FROM events),
    pcells AS (
      SELECT p.kk, d."row",
             (('0x' || substr(md5(p.kk), 1, 8))::BIGINT
              + d."row" * ('0x' || substr(md5(p.kk), 9, 8))::BIGINT) % 64
               AS "col"
      FROM probes p CROSS JOIN (VALUES (0), (1), (2), (3)) AS d("row")),
    est AS (
      SELECT pc.kk, MIN(COALESCE(s.cnt, 0))::BIGINT AS est_count
      FROM pcells pc LEFT JOIN sketch s
        ON s."row" = pc."row" AND s."col" = pc."col"
      GROUP BY pc.kk),
    exact AS (
      SELECT CAST(user_id AS VARCHAR) AS kk, COUNT(*)::BIGINT AS exact_count
      FROM events GROUP BY 1)
    SELECT e.kk AS user_key, est.est_count, e.exact_count,
           (est.est_count >= e.exact_count)::INT AS is_overestimate
    FROM exact e JOIN est ON est.kk = e.kk
    """,
    doc="Count-min estimates vs exact counts per user — the oracle "
    "replays the estimate bit-for-bit AND pins the one-sided error "
    "guarantee (est >= exact on every row).",
)
def countmin_user_estimates(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("kk")
    )
    sketch = countmin.cms_build(ev, "kk", width=_CMS_W, depth=_CMS_D)
    est = countmin.cms_estimate(ev, sketch, "kk", width=_CMS_W, depth=_CMS_D)
    exact = ev.groupBy("kk").agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
    return (
        exact.join(est, "kk")
        .select(
            F.col("kk").alias("user_key"),
            "est_count",
            "exact_count",
            (F.col("est_count") >= F.col("exact_count")).cast("int").alias(
                "is_overestimate"
            ),
        )
    )


# ------------------------------------------------------ SCD2 / temporal

from renkodf_spark.operators.scd import point_in_time_join, scd2_from_changelog  # noqa: E402

_SCD2_CTES = """
WITH ch AS (
  SELECT user_id, ts, event_id, event_type AS status
  FROM events WHERE event_type IN ('signup', 'view', 'click')),
d AS (
  SELECT *, LAG(status) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
  FROM ch),
ep0 AS (SELECT user_id, status, ts, event_id FROM d
        WHERE prev IS NULL OR prev <> status),
ep AS (
  SELECT user_id, status, ts AS effective_from,
         LEAD(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS effective_to
  FROM ep0)
"""


@query(
    "scd2_user_status",
    oracle=_SCD2_CTES
    + """
    SELECT user_id, status, effective_from, effective_to,
           (effective_to IS NULL)::INT AS is_current
    FROM ep
    """,
    doc="SCD Type-2 build from a change log: collapse consecutive "
    "identical per-user statuses into [from, to) episodes via one "
    "key-partitioned window pass (lag-collapse + lead-close); "
    "event_id breaks equal-timestamp ties deterministically.",
)
def scd2_user_status(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "view", "click")
    )
    return scd2_from_changelog(
        ev.select("user_id", "ts", "event_id",
                  F.col("event_type").alias("status")),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["status"],
        seq_col="event_id",
    )


@query(
    "scd2_point_in_time_purchases",
    oracle=_SCD2_CTES
    + """
    SELECT f.event_id, f.user_id, f.ts, s.status AS status_pit
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') f
    ASOF LEFT JOIN ep s
      ON f.user_id = s.user_id AND f.ts >= s.effective_from
    """,
    doc="Point-in-time (temporal) join: each purchase gets the SCD2 "
    "status version valid AT its timestamp — the backward non-strict "
    "as-of composition; episodes partition time per key, so no "
    "interval filter is needed. The leakage-free feature join.",
)
def scd2_point_in_time_purchases(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    dim = scd2_from_changelog(
        ev.filter(F.col("event_type").isin("signup", "view", "click")).select(
            "user_id", "ts", "event_id", F.col("event_type").alias("status")
        ),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["status"],
        seq_col="event_id",
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return point_in_time_join(
        facts, dim, on=["user_id"], fact_time="ts", attr_cols=["status"]
    ).select("event_id", "user_id", "ts", F.col("status_pit"))


# ------------------------------------------------------ inverted index

from renkodf_spark.operators import search as search_ops  # noqa: E402

_TOKS_CTE = rf"""
WITH toks AS (
  SELECT doc_id, t.toks[i + 1] AS term, i AS pos
  FROM (SELECT doc_id, {WS_TOKENS} AS toks
        FROM documents) t,
  LATERAL (SELECT unnest(range(len(t.toks))) AS i))
"""


@query(
    "inverted_term_stats",
    oracle=_TOKS_CTE
    + """
    SELECT term, COUNT(DISTINCT doc_id)::BIGINT AS df,
           COUNT(*)::BIGINT AS cf
    FROM toks GROUP BY term
    """,
    doc="Inverted-index dictionary: per-term document and collection "
    "frequency from the postings relation (one corpus-sized (term, "
    "doc) shuffle with map-side partials).",
)
def inverted_term_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return search_ops.term_stats(search_ops.build_inverted_index(docs))


@query(
    "inverted_postings_spark",
    oracle=_TOKS_CTE
    + """
    SELECT doc_id, COUNT(*)::BIGINT AS tf, MIN(pos) AS first_pos,
           MAX(pos) AS last_pos
    FROM toks WHERE term = 'spark' GROUP BY doc_id
    """,
    doc="One term's postings with positional metadata (0-based token "
    "offsets, sorted for layout determinism).",
)
def inverted_postings_spark(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    idx = search_ops.build_inverted_index(docs)
    return idx.filter(F.col("term") == "spark").select(
        "doc_id",
        "tf",
        F.element_at("positions", 1).alias("first_pos"),
        F.element_at("positions", -1).alias("last_pos"),
    )


@query(
    "boolean_and_search",
    oracle=_TOKS_CTE
    + """
    SELECT doc_id FROM toks
    WHERE term IN ('spark', 'vector', 'stream')
    GROUP BY doc_id HAVING COUNT(DISTINCT term) = 3
    """,
    doc="AND query over the inverted index: postings intersection — "
    "only the three query terms' postings move, the corpus text is "
    "never rescanned.",
)
def boolean_and_search(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    idx = search_ops.build_inverted_index(docs)
    return search_ops.search_all_terms(idx, ["spark", "vector", "stream"])


@query(
    "phrase_search_table_table",
    oracle=_TOKS_CTE
    + """
    SELECT a.doc_id, COUNT(*)::BIGINT AS n_matches,
           MIN(a.pos) AS first_pos
    FROM toks a JOIN toks b
      ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.term = 'table' AND b.term = 'table'
    GROUP BY a.doc_id
    """,
    doc="Exact-phrase query ('table table') via the positional "
    "adjacency walk: position-list intersection per doc, overlapping "
    "occurrences counted like the naive positional self-join.",
)
def phrase_search_table_table(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    idx = search_ops.build_inverted_index(docs)
    return search_ops.phrase_search(idx, ["table", "table"])


# ------------------------------------------------------ token budget

from renkodf_spark.operators import corpus as corpus_ops  # noqa: E402


@query(
    "lang_token_budget_sample",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, lang,
             len({WS_TOKENS})::BIGINT AS n_tokens,
             md5('tokbudget:' || CAST(doc_id AS VARCHAR)) AS key
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY key, doc_id)
               AS sample_rank
      FROM d)
    SELECT doc_id, lang, n_tokens, sample_rank::BIGINT AS sample_rank,
           (cum_before + n_tokens)::BIGINT AS cum_tokens
    FROM c WHERE cum_before < 2000
    """,
    doc="Per-language TOKEN-budget sample (~2000 tokens per lang in "
    "deterministic hash order, first crossing doc kept) — the mixture-"
    "planning primitive where quota_sample counts documents; the "
    "window input is bounded by the exact token-mass over-admission "
    "pre-filter at any skew. Oracle replays the full cumulative "
    "window, proving the pre-filtered path bit-identical.",
)
def lang_token_budget_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    return corpus_ops.token_budget_sample(
        docs,
        "lang",
        budget=2000,
        tokens_col="n_tokens",
        salt="tokbudget",
    ).select("doc_id", "lang", "n_tokens",
             F.col("sample_rank").cast("long").alias("sample_rank"),
             "cum_tokens")


# ------------------------------------------------------ skew / weighted

from renkodf_spark.functions.skew import salted_join  # noqa: E402


@query(
    "salted_join_orders_customers",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_nationkey
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="Skew-resistant salted equi-join (dim replicated x8, facts "
    "salted by content hash) — row-identical to the plain join, which "
    "is exactly what the oracle pins; the layout change spreads a hot "
    "key over 8 reducers.",
)
def salted_join_orders_customers(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_nationkey"
    )
    return salted_join(orders, cust, "o_custkey", buckets=8).select(
        "o_orderkey", "o_totalprice", "c_name", "c_nationkey"
    )


@query(
    "lang_weighted_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             ('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
                             1, 12))::BIGINT AS h48
      FROM documents),
    keyed AS (
      SELECT doc_id, lang, n_chars,
             ROUND(ln(CAST(h48 + 1 AS DOUBLE) / 281474976710656.0)
                   / CAST(n_chars AS DOUBLE), 6) AS es_key
      FROM d WHERE n_chars IS NOT NULL AND n_chars > 0)
    SELECT doc_id, lang, n_chars, sample_rank FROM (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id)::BIGINT
               AS sample_rank
      FROM keyed)
    WHERE sample_rank <= 30
    """,
    doc="Weighted sampling without replacement (Efraimidis-Spirakis "
    "exponential keys, derandomized to the salted id hash; longer docs "
    "proportionally likelier) — per-language top-30; ES keys ROUNDed "
    "before ranking so libm ln ulp differences can't flip selection.",
)
def lang_weighted_sample(spark, sf_dir):
    from renkodf_spark.operators.corpus import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(
        docs, "lang", k=30, weight_col="n_chars", salt="wsample"
    ).select(
        "doc_id", "lang", "n_chars",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    )


# ------------------------------------------------------ binary quantization

_BQ_CODES_CTE = """
WITH idx AS (SELECT unnest(range(64)) AS i),
bits AS (
  SELECT vec_id, (i // 32) AS word_idx,
         CASE WHEN embedding[i + 1] >= 0
              THEN (CAST(1 AS BIGINT) << (i % 32)) ELSE 0 END AS b
  FROM embeddings, idx),
codes AS (
  SELECT vec_id, word_idx, SUM(b)::BIGINT AS word
  FROM bits GROUP BY 1, 2)
"""


@query(
    "binary_quantize_codes",
    oracle=_BQ_CODES_CTE
    + """
    SELECT vec_id, word_idx::INT AS word_idx, word FROM codes
    """,
    doc="Sign-bit binary quantization: 64 dims -> two 32-bit words in "
    "BIGINT (256x compression; no sign-bit shifts in either engine); "
    "exported one row per word for the cross-engine-safe projection.",
)
def binary_quantize_codes(spark, sf_dir):
    from renkodf_spark.operators.similarity import binary_quantize

    emb = _t(spark, sf_dir, "embeddings")
    codes = binary_quantize(emb, dim=64)
    return codes.select(
        "vec_id",
        F.posexplode("words").alias("word_idx", "word"),
    )


@query(
    "hamming_topk",
    oracle=_BQ_CODES_CTE
    + """,
    wide AS (
      SELECT vec_id,
             MAX(CASE WHEN word_idx = 0 THEN word END) AS w0,
             MAX(CASE WHEN word_idx = 1 THEN word END) AS w1
      FROM codes GROUP BY vec_id),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             (bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)))::BIGINT
               AS hamming
      FROM wide q JOIN wide c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5)
    SELECT query_id, neighbor_id, rank, hamming FROM (
      SELECT query_id, neighbor_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    doc="Exact Hamming top-5 over the binary codes (popcount of XOR, "
    "exact long): queries vec_id < 5 broadcast, corpus streams 16 "
    "bytes/vector — the bandwidth-bound ANN scale path with zero "
    "float caveats.",
)
def hamming_topk(spark, sf_dir):
    from renkodf_spark.operators.similarity import binary_quantize, hamming_topk

    emb = _t(spark, sf_dir, "embeddings")
    codes = binary_quantize(emb, dim=64)
    return hamming_topk(codes, codes.filter(F.col("vec_id") < 5), k=5)


# ------------------------------------------------------ table profiling

from renkodf_spark.operators.profile import profile_table  # noqa: E402


@query(
    "orders_profile",
    oracle="""
    WITH base AS (SELECT COUNT(*)::BIGINT AS n FROM orders)
    SELECT 'o_orderkey' AS "column", n AS n_rows,
           (SELECT COUNT(*) FILTER (o_orderkey IS NULL) FROM orders)::BIGINT AS n_nulls,
           (SELECT COUNT(DISTINCT o_orderkey) FROM orders)::BIGINT AS n_distinct,
           (SELECT ROUND(MIN(o_orderkey), 4) FROM orders)::DOUBLE AS numeric_min,
           (SELECT ROUND(MAX(o_orderkey), 4) FROM orders)::DOUBLE AS numeric_max,
           (SELECT ROUND(AVG(o_orderkey), 4) FROM orders)::DOUBLE AS numeric_avg,
           NULL::BIGINT AS ts_min_us, NULL::BIGINT AS ts_max_us,
           NULL::VARCHAR AS str_min, NULL::VARCHAR AS str_max,
           NULL::DOUBLE AS avg_len
    FROM base
    UNION ALL
    SELECT 'o_totalprice', n,
           (SELECT COUNT(*) FILTER (o_totalprice IS NULL) FROM orders)::BIGINT,
           (SELECT COUNT(DISTINCT o_totalprice) FROM orders)::BIGINT,
           (SELECT ROUND(MIN(o_totalprice), 4) FROM orders)::DOUBLE,
           (SELECT ROUND(MAX(o_totalprice), 4) FROM orders)::DOUBLE,
           (SELECT ROUND(AVG(o_totalprice), 4) FROM orders)::DOUBLE,
           NULL, NULL, NULL, NULL, NULL
    FROM base
    UNION ALL
    SELECT 'o_orderstatus', n,
           (SELECT COUNT(*) FILTER (o_orderstatus IS NULL) FROM orders)::BIGINT,
           (SELECT COUNT(DISTINCT o_orderstatus) FROM orders)::BIGINT,
           NULL, NULL, NULL, NULL, NULL,
           (SELECT MIN(o_orderstatus) FROM orders),
           (SELECT MAX(o_orderstatus) FROM orders),
           (SELECT ROUND(AVG(LENGTH(o_orderstatus)), 4) FROM orders)::DOUBLE
    FROM base
    UNION ALL
    SELECT 'o_orderdate', n,
           (SELECT COUNT(*) FILTER (o_orderdate IS NULL) FROM orders)::BIGINT,
           (SELECT COUNT(DISTINCT o_orderdate) FROM orders)::BIGINT,
           NULL, NULL, NULL,
           (SELECT MIN(epoch_us(o_orderdate)) FROM orders)::BIGINT,
           (SELECT MAX(epoch_us(o_orderdate)) FROM orders)::BIGINT,
           NULL, NULL, NULL
    FROM base
    """,
    doc="One-pass per-column table profile (completeness, exact "
    "cardinality, typed min/max/avg: numeric rounded, timestamps in "
    "exact integer µs, strings lexicographic + mean length) — the "
    "before/after data-quality report of every ingest.",
)
def orders_profile(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return profile_table(
        orders,
        ["o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate"],
    )


# ------------------------------------------------------ MERGE INTO

from renkodf_spark.operators.snapshot import merge_into  # noqa: E402


@query(
    "orders_merge_upsert",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             o_totalprice + 1.0 AS o_totalprice,
             o_orderstatus, FALSE AS del
      FROM orders WHERE o_orderkey % 13 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus, FALSE
      FROM orders WHERE o_orderkey % 89 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderstatus, TRUE
      FROM orders WHERE o_orderkey % 97 = 0)
    SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus
    FROM orders t FULL OUTER JOIN src s ON s.o_orderkey = t.o_orderkey
    WHERE NOT (s.o_orderkey IS NOT NULL AND s.del)
    """,
    doc="MERGE INTO as a pure transformation: updates (price+1 on "
    "%13), inserts (key+10M on %89), deletes (%97) applied to orders "
    "in ONE full-outer key join; oracle replays the textbook "
    "MERGE-as-join rewrite.",
)
def orders_merge_upsert(spark, sf_dir):
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    target = _t(spark, sf_dir, "orders").select(*cols)
    key = F.col("o_orderkey")
    updates = (
        target.filter(key % 13 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("del", F.lit(False))
    )
    inserts = target.filter(key % 89 == 0).select(
        (key + 10000000).alias("o_orderkey"), "o_totalprice", "o_orderstatus"
    ).withColumn("del", F.lit(False))
    deletes = target.filter(key % 97 == 0).withColumn("del", F.lit(True))
    source = updates.unionByName(inserts).unionByName(deletes)
    return merge_into(target, source, keys=["o_orderkey"], delete_col="del")


# ------------------------------------------------------ range frames

@query(
    "customer_7day_order_sum",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           SUM((ROUND(o_totalprice * 100))::BIGINT) OVER (
             PARTITION BY o_custkey
             ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
           )::BIGINT AS window_cents,
           COUNT(*) OVER (
             PARTITION BY o_custkey
             ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
           )::BIGINT AS window_orders
    FROM orders
    """,
    doc="RANGE-interval window frame: per customer, the trailing-7-day "
    "order total at every order — a VALUE-range frame (all orders "
    "within 604800s), not a row count; sums in integer cents so frame "
    "re-association across engines is exact (the house frame rule).",
)
def customer_7day_order_sum(spark, sf_dir):
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-604800, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(cents).over(w).cast("long").alias("window_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("window_orders"),
    )


def _bm25_ctes(name: str) -> str:
    """The BM25 oracle CTEs for 'spark vector' (k1=1.2, b=0.75): the
    postings, their statistics, and per-doc scores in CTE ``name``."""
    return _TOKS_CTE + f""",
postings AS (
  SELECT term, doc_id, COUNT(*)::BIGINT AS tf
  FROM toks GROUP BY term, doc_id),
doclen AS (SELECT doc_id, SUM(tf)::BIGINT AS dl FROM postings GROUP BY 1),
gstats AS (SELECT COUNT(DISTINCT doc_id)::BIGINT AS n,
                  SUM(tf)::BIGINT AS total FROM postings),
dfreq AS (SELECT term, COUNT(*)::BIGINT AS df FROM postings
          WHERE term IN ('spark', 'vector') GROUP BY 1),
contrib AS (
  SELECT p.doc_id,
         ROUND(
           ln(1.0 + (g.n - f.df + 0.5) / (f.df + 0.5))
           * (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * d.dl * g.n / g.total))
           * 1e6)::BIGINT AS c
  FROM postings p
  JOIN dfreq f ON f.term = p.term
  JOIN doclen d ON d.doc_id = p.doc_id
  CROSS JOIN gstats g
  WHERE p.term IN ('spark', 'vector')),
{name} AS (SELECT doc_id, SUM(c)::BIGINT AS score_micros
         FROM contrib GROUP BY 1)
"""


# the top-20 export of a `scored(doc_id, score_micros)` CTE
_TOP20 = """
SELECT doc_id, score_micros, rank FROM (
  SELECT doc_id, score_micros,
         ROW_NUMBER() OVER (ORDER BY score_micros DESC, doc_id) AS rank
  FROM scored)
WHERE rank <= 20
"""


@query(
    "bm25_search_spark_vector",
    oracle=_bm25_ctes("scored") + _TOP20,
    doc="BM25 ranked retrieval ('spark vector', top-20, k1=1.2 "
    "b=0.75): per-term contributions ROUNDed once to integer "
    "micro-units so per-doc scores are exact long sums in any "
    "aggregation order; |D|/avgdl computed as dl*N/total from three "
    "exact longs. The oracle replays the full formula.",
)
def bm25_search_spark_vector(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    idx = search_ops.build_inverted_index(docs)
    return search_ops.bm25_topk(idx, ["spark", "vector"], k=20)


# ------------------------------------------------------ hybrid retrieval

_BM25_CTES = _bm25_ctes("bm25")


@query(
    "hybrid_search_rerank",
    oracle=_BM25_CTES
    + """,
    cand AS (
      SELECT doc_id, score_micros FROM (
        SELECT doc_id, score_micros,
               ROW_NUMBER() OVER (ORDER BY score_micros DESC, doc_id) AS r
        FROM bm25) WHERE r <= 50),
    qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
    rer AS (
      SELECT c.doc_id, c.score_micros AS bm25_micros,
             list_dot_product(e.embedding::DOUBLE[], qv.v)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv.v, qv.v))) AS cos
      FROM cand c
      JOIN embeddings e ON e.vec_id = c.doc_id
      CROSS JOIN qv)
    SELECT doc_id, bm25_micros, ROUND(cos, 4) AS cos_sim, rank FROM (
      SELECT doc_id, bm25_micros, cos,
             ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rank
      FROM rer)
    WHERE rank <= 10
    """,
    doc="Hybrid retrieval: BM25 recall stage (top-50 lexical "
    "candidates for 'spark vector') -> dense rerank (cosine to the "
    "vec_id=0 embedding, cosine_topk's exact ranking convention) -> "
    "top-10. The two-stage retrieve-then-rerank shape of every "
    "modern search stack, composed from the engine's own operators "
    "in one declarative plan.",
)
def hybrid_search_rerank(spark, sf_dir):
    from renkodf_spark.operators.similarity import cosine

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    idx = search_ops.build_inverted_index(docs)
    cand = search_ops.bm25_topk(idx, ["spark", "vector"], k=50).select(
        "doc_id", F.col("score_micros").alias("bm25_micros")
    )
    qrow = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("__qv"))
    )
    rer = (
        cand.join(emb, cand["doc_id"] == emb["vec_id"])
        .crossJoin(F.broadcast(qrow))
        .select(
            "doc_id",
            "bm25_micros",
            cosine(
                F.col("embedding").cast("array<double>"), F.col("__qv")
            ).alias("__cos"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("__cos"), F.asc("doc_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("doc_id", "bm25_micros", F.round("__cos", 4).alias("cos_sim"), "rank")
    )


# ------------------------------------------------------ sweep line

from renkodf_spark.operators.sweepline import concurrency_profile, max_concurrency  # noqa: E402

_SWEEP_CTES = """
WITH p AS (
  SELECT user_id, ts AS s, ts + INTERVAL 2 HOUR AS e
  FROM events WHERE event_type = 'purchase'),
d AS (
  SELECT user_id, s AS ts, 1 AS dd FROM p
  UNION ALL
  SELECT user_id, e, -1 FROM p),
g AS (SELECT user_id, ts, SUM(dd)::BIGINT AS delta FROM d GROUP BY 1, 2),
prof AS (
  SELECT user_id, ts, delta,
         SUM(delta) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS active
  FROM g)
"""


@query(
    "purchase_window_concurrency",
    oracle=_SWEEP_CTES + "SELECT user_id, ts, delta, active FROM prof",
    doc="Sweep-line concurrency profile: per user, how many of their "
    "own 2h purchase windows are simultaneously open at every "
    "boundary — +1/-1 deltas and a keyed running sum; the O(n log n) "
    "count-only alternative to the range join (no candidate pairs "
    "ever materialize).",
)
def purchase_window_concurrency(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("e"),
    )
    return concurrency_profile(iv, start_col="s", end_col="e", on=["user_id"])


@query(
    "purchase_window_peak",
    oracle=_SWEEP_CTES
    + """
    SELECT user_id, active AS peak_active, ts AS peak_ts FROM prof
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY active DESC, ts) = 1
    """,
    doc="Peak simultaneous purchase windows per user with the "
    "earliest boundary achieving it (deterministic tie-break).",
)
def purchase_window_peak(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("e"),
    )
    return max_concurrency(iv, start_col="s", end_col="e", on=["user_id"])


# ------------------------------------------------------ anomaly scoring

from renkodf_spark.operators.anomaly import rolling_zscore  # noqa: E402


@query(
    "event_value_anomalies",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type, ts,
             (ROUND(value * 100))::BIGINT AS vc
      FROM events),
    framed AS (
      SELECT event_id, event_type, vc,
             COUNT(vc) OVER w::BIGINT AS n,
             SUM(vc) OVER w::BIGINT AS s,
             SUM(vc * vc) OVER w::BIGINT AS ss
      FROM base
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)),
    scored AS (
      SELECT event_id, event_type, n AS window_n,
             CASE WHEN n >= 3
                   AND (ss::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
                       / (n::DOUBLE - 1.0) > 0
                  THEN ROUND((vc::DOUBLE - s::DOUBLE / n::DOUBLE)
                             / sqrt((ss::DOUBLE - s::DOUBLE * s::DOUBLE
                                     / n::DOUBLE) / (n::DOUBLE - 1.0)), 4)
             END AS zscore
      FROM framed)
    SELECT event_id, event_type, window_n, zscore,
           COALESCE((ABS(zscore) > 3.0)::INT, 0) AS is_anomaly
    FROM scored
    """,
    doc="Trailing-50-row z-score per event type (ts+id total order): "
    "frame sums in exact integer cents so the mean/variance inputs "
    "are engine-identical; only the final z is rounded. The "
    "monitoring primitive for metric streams.",
)
def event_value_anomalies(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = rolling_zscore(
        ev,
        value_col="value",
        order_cols=["ts", "event_id"],
        partition_cols=["event_type"],
        window=50,
        threshold=3.0,
    )
    return out.select("event_id", "event_type", "window_n", "zscore", "is_anomaly")


# ------------------------------------------------------ skew report

from renkodf_spark.functions.skew import skew_report  # noqa: E402


@query(
    "events_user_skew_report",
    oracle="""
    WITH counts AS (
      SELECT user_id, COUNT(*)::BIGINT AS count FROM events GROUP BY 1),
    totals AS (
      SELECT SUM(count)::BIGINT AS total, COUNT(*)::BIGINT AS nkeys
      FROM counts),
    top AS (
      SELECT user_id, count,
             ROW_NUMBER() OVER (ORDER BY count DESC, user_id) AS rank
      FROM counts QUALIFY rank <= 10)
    SELECT rank, user_id, count,
           (count * 1000000 // total)::BIGINT AS share_ppm,
           SUM(count * 1000000 // total) OVER (ORDER BY rank
             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_share_ppm,
           total AS total_rows, nkeys AS n_keys
    FROM top CROSS JOIN totals
    """,
    doc="Key-skew observability: top-10 hottest event users with "
    "exact integer parts-per-million shares and cumulative share — "
    "the decide-before-you-shuffle report feeding salted_agg / "
    "salted_join.",
)
def events_user_skew_report(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return skew_report(ev, "user_id", top_k=10)


# ------------------------------------------------------ CMS heavy hitters

@query(
    "countmin_heavy_users",
    oracle=_CMS_CELLS
    + """,
    sketch AS (
      SELECT "row", "col", COUNT(*)::BIGINT AS cnt FROM cells GROUP BY 1, 2),
    probes AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS kk FROM events),
    pcells AS (
      SELECT p.kk, d."row",
             (('0x' || substr(md5(p.kk), 1, 8))::BIGINT
              + d."row" * ('0x' || substr(md5(p.kk), 9, 8))::BIGINT) % 64
               AS "col"
      FROM probes p CROSS JOIN (VALUES (0), (1), (2), (3)) AS d("row")),
    est AS (
      SELECT pc.kk, MIN(COALESCE(s.cnt, 0))::BIGINT AS est_count
      FROM pcells pc LEFT JOIN sketch s
        ON s."row" = pc."row" AND s."col" = pc."col"
      GROUP BY pc.kk),
    cands AS (SELECT kk, est_count FROM est WHERE est_count >= 80),
    exact AS (
      SELECT CAST(user_id AS VARCHAR) AS kk, COUNT(*)::BIGINT AS exact_count
      FROM events
      WHERE CAST(user_id AS VARCHAR) IN (SELECT kk FROM cands)
      GROUP BY 1 HAVING COUNT(*) >= 80)
    SELECT e.kk AS user_key, c.est_count, e.exact_count
    FROM exact e JOIN cands c ON c.kk = e.kk
    """,
    doc="Sketch-then-verify heavy hitters: count-min candidates (no "
    "false negatives) verified by an exact count over ONLY the "
    "candidate keys — the two-phase shape that works when the key "
    "space dwarfs memory. Oracle replays both phases bit-for-bit.",
)
def countmin_heavy_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("kk")
    )
    sketch = countmin.cms_build(ev, "kk", width=_CMS_W, depth=_CMS_D)
    hh = countmin.cms_heavy_hitters(
        ev, sketch, "kk", min_count=80, width=_CMS_W, depth=_CMS_D
    )
    return hh.select(F.col("kk").alias("user_key"), "est_count", "exact_count")


# ------------------------------------------------------ RRF fusion

@query(
    "hybrid_rrf_fusion",
    oracle=_BM25_CTES
    + """,
    bm25r AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_micros DESC, doc_id)
               AS rank
      FROM bm25 QUALIFY rank <= 20),
    qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
    cosr AS (
      SELECT c.vec_id AS doc_id,
             ROW_NUMBER() OVER (
               ORDER BY list_dot_product(c.embedding::DOUBLE[], qv.v)
                        / (sqrt(list_dot_product(c.embedding::DOUBLE[],
                                                 c.embedding::DOUBLE[]))
                           * sqrt(list_dot_product(qv.v, qv.v))) DESC,
                        c.vec_id) AS rank
      FROM embeddings c CROSS JOIN qv
      WHERE c.vec_id <> 0
      QUALIFY rank <= 20),
    contribs AS (
      SELECT doc_id, ROUND(1e9 / (60 + rank))::BIGINT AS c FROM bm25r
      UNION ALL
      SELECT doc_id, ROUND(1e9 / (60 + rank))::BIGINT FROM cosr),
    fused AS (SELECT doc_id, SUM(c)::BIGINT AS rrf_nanos
              FROM contribs GROUP BY 1)
    SELECT doc_id, rrf_nanos, rank FROM (
      SELECT doc_id, rrf_nanos,
             ROW_NUMBER() OVER (ORDER BY rrf_nanos DESC, doc_id) AS rank
      FROM fused)
    WHERE rank <= 10
    """,
    doc="Reciprocal-rank fusion of the BM25 top-20 and the dense "
    "cosine top-20 (score = sum 1/(60+rank), reciprocals rounded once "
    "to integer nano-units -> exact long sums) — the standard "
    "score-free hybrid fusion next to the rerank composition.",
)
def hybrid_rrf_fusion(spark, sf_dir):
    from renkodf_spark.operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    idx = search_ops.build_inverted_index(docs)
    bm25r = search_ops.bm25_topk(idx, ["spark", "vector"], k=20).select(
        "doc_id", "rank"
    )
    cosr = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return search_ops.rrf_fuse(bm25r, cosr, k=10)


# ------------------------------------------------------ epoch shuffle

@query(
    "epoch_shuffle_order",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang,
             md5('epoch:3:' || CAST(doc_id AS VARCHAR)) AS key,
             ('0x' || substr(md5('epoch:3:' || CAST(doc_id AS VARCHAR)),
                             1, 12))::BIGINT AS h48
      FROM documents)
    SELECT doc_id, lang,
           (h48 % 8)::INT AS shard,
           ROW_NUMBER() OVER (PARTITION BY h48 % 8
                              ORDER BY h48, doc_id)::BIGINT AS position
    FROM keyed
    """,
    doc="Deterministic per-epoch training order (epoch 3, 8 shards): "
    "a reproducible layout-independent permutation per epoch — shard "
    "= low bits of md5(salt:epoch:id), position = rank within shard; "
    "no global sort, the rank runs per shard.",
)
def epoch_shuffle_order(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return corpus_ops.epoch_shuffle(docs, epoch=3, shards=8)
