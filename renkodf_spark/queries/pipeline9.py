"""Round-12 pipeline queries, part 2: the exact set-similarity join
(``operators/setsim.py`` — prefix-filtered Jaccard threshold join,
SSJoin/PPJoin/Vernica et al.), the exact-recall complement to the
probabilistic MinHash-LSH dedup path.

Oracle strategy: ``setsim_join`` guarantees EXACT recall — the prefix/
length/positional filters are sound pruning, so the oracle is the
naive brute-force Jaccard threshold join (shared-element groupBy),
which is precisely the guarantee being verified: if a filter were
unsound the oracle would catch the missing pair. The prefix index
itself is pinned by ``setsim_prefix_index``, whose oracle replays the
frequency-ascending ordering and the integer prefix-length bound.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from renkodf_spark.functions import quantiles as qsk
from renkodf_spark.operators import setsim
from renkodf_spark.plans.persist import persist_block
from renkodf_spark.queries.pipeline import _docs
from renkodf_spark.queries.ctes import COMPONENT_WALK, WS_TOKENS
from renkodf_spark.queries.registry import query
from renkodf_spark.sources.tables import load_table

_SS_N = 3  # word shingle width
_SS_TNUM, _SS_TDEN = 1, 2  # Jaccard threshold 1/2, exact rational

# distinct 48-bit shingle-hash elements per doc — the hash_split /
# winnowing BIGINT convention, identical on both engines
_SETSIM_CTES = rf"""
WITH toks AS (
  SELECT doc_id, {WS_TOKENS} AS t FROM documents),
gr AS (
  SELECT doc_id,
         unnest([('0x' || substr(md5(concat_ws(' ', t[i + 1], t[i + 2], t[i + 3])), 1, 12))::BIGINT
                 for i in range(0, greatest(len(t) - {_SS_N - 1}, 0))]) AS h
  FROM toks),
e AS (SELECT DISTINCT doc_id, h FROM gr),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM e GROUP BY 1)
"""


@query(
    "setsim_prefix_index",
    oracle=_SETSIM_CTES
    + rf""",
f AS (SELECT h, COUNT(*) AS c FROM e GROUP BY 1),
ord AS (
  SELECT e.doc_id, sz.sz, e.h,
         CAST(ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY f.c, e.h) AS BIGINT) AS pos
  FROM e JOIN f USING (h) JOIN sz USING (doc_id))
SELECT doc_id AS id, sz, pos, h FROM ord
WHERE pos <= sz - (({_SS_TNUM} * sz + {_SS_TDEN - 1}) // {_SS_TDEN}) + 1
""",
    doc="the persistable prefix index of the exact set-similarity join "
    "(SSJoin ICDE 2006 / PPJoin WWW 2008): per doc, the distinct "
    f"{_SS_N}-gram shingle hashes ranked by ascending global document "
    "frequency (ties by hash), kept up to the prefix bound "
    "sz - ceil(t*sz) + 1 — any pair with Jaccard >= t must share a "
    "prefix element, so equi-joining this index generates every "
    "qualifying candidate. Integer-exact prefix arithmetic; text never "
    "enters an exchange.",
)
def setsim_prefix_index(spark, sf_dir):
    e = setsim.element_table(_docs(spark, sf_dir), shingle_n=_SS_N)
    return setsim.prefix_index(e, t_num=_SS_TNUM, t_den=_SS_TDEN)


@query(
    "setsim_exact_join",
    oracle=_SETSIM_CTES
    + rf""",
ov AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
       ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM ov
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE inter * {_SS_TDEN} >= {_SS_TNUM} * (sa.sz + sb.sz - inter)
""",
    doc="exact set-similarity join: ALL pairs with shingle-set Jaccard "
    f">= {_SS_TNUM}/{_SS_TDEN} (prefix + length + positional filters, "
    "100% recall — the oracle is the brute-force threshold join, so an "
    "unsound filter would surface as a missing pair). The engine's "
    "candidate join fans out only on prefix elements (the corpus-"
    "rarest by construction); the oracle's all-overlap join is the "
    "quadratic shape the filters exist to avoid.",
)
def setsim_exact_join(spark, sf_dir):
    return setsim.setsim_join(
        _docs(spark, sf_dir), shingle_n=_SS_N, t_num=_SS_TNUM, t_den=_SS_TDEN
    )


# ------------------------------------------- quantile sketch (DDSketch)

_QK = 64  # 2^6 sub-buckets per octave: relative error <= 1/64
_QB = 6
_QS = [(1, 2), (19, 20), (99, 100)]

# the integer-exact log-linear bucket (e, m) of a BIGINT ``v`` — the
# shift/bin primitives evaluate identically in both engines
_BUCKET_EM = rf"""CASE WHEN v <= 0 THEN -1 ELSE length(bin(v)) - 1 END AS e,
         CASE WHEN v <= 0 THEN CAST(0 AS BIGINT)
              WHEN length(bin(v)) - 1 >= {_QB}
                THEN (v - (CAST(1 AS BIGINT) << (length(bin(v)) - 1))) >> (length(bin(v)) - 1 - {_QB})
              ELSE ((v - (CAST(1 AS BIGINT) << (length(bin(v)) - 1))) << {_QB})
                   // (CAST(1 AS BIGINT) << (length(bin(v)) - 1)) END AS m"""
# per-group running and total bucket counts of the sketch ``sk``
_SK_CUM = """cum AS (
  SELECT g, e, m, cnt,
         SUM(cnt) OVER (PARTITION BY g ORDER BY e, m) AS cum,
         SUM(cnt) OVER (PARTITION BY g) AS n
  FROM sk)"""
# the value estimate of bucket (e, m): its lower bound, rounded up
_BUCKET_EST = rf"""CASE WHEN e < 0 THEN CAST(0 AS BIGINT)
              WHEN e >= {_QB}
                THEN (CAST(1 AS BIGINT) << e) + m * (CAST(1 AS BIGINT) << (e - {_QB}))
              ELSE (CAST(1 AS BIGINT) << e)
                   + ((m * (CAST(1 AS BIGINT) << e) + {_QK - 1}) >> {_QB}) END AS est"""

# integer-cents values + their bucket
_QSK_CTES = rf"""
WITH v AS (
  SELECT l_returnflag AS g, l_linestatus AS s,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem),
bk AS (
  SELECT g, s,
         {_BUCKET_EM}
  FROM v),
fine AS (SELECT g, s, e, m, CAST(COUNT(*) AS BIGINT) AS cnt FROM bk GROUP BY 1, 2, 3, 4),
sk AS (SELECT g, e, m, CAST(SUM(cnt) AS BIGINT) AS cnt FROM fine GROUP BY 1, 2, 3)
"""


@query(
    "quantile_sketch_buckets",
    oracle=_QSK_CTES + "SELECT g AS l_returnflag, e, m, cnt FROM sk",
    doc="the mergeable relative-error quantile sketch (integer-exact "
    "DDSketch variant, Masson et al. VLDB 2019): log-linear buckets "
    f"e = floor(log2 v), m = k={_QK} linear sub-buckets per octave, "
    "all bucket math in exact shifts (cross-engine bit-equal). Built "
    "HERE by merging finer per-(flag, linestatus) sketches with one "
    "SUM — the mergeability that lets 100 TB pipelines sketch per "
    "partition once and answer any coarser rollup without rescan.",
)
def quantile_sketch_buckets(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    fine = qsk.quantile_sketch(li, ["l_returnflag", "l_linestatus"], "cents", k=_QK)
    return qsk.merge_sketches(fine, "l_returnflag")


@query(
    "quantile_sketch_estimates",
    oracle=_QSK_CTES
    + rf""",
{_SK_CUM},
qs AS (SELECT * FROM (VALUES (1, 2, 500), (19, 20, 950), (99, 100, 990)) t(qn, qd, qp)),
sel AS (
  SELECT g, qp, n, (qn * n + qd - 1) // qd AS r, e, m,
         ROW_NUMBER() OVER (PARTITION BY g, qp ORDER BY e, m) AS rk
  FROM cum CROSS JOIN qs
  WHERE cum >= (qn * n + qd - 1) // qd),
est AS (
  SELECT g, qp, n, r, e, m,
         {_BUCKET_EST}
  FROM sel WHERE rk = 1),
ranked AS (
  SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rk FROM v),
exact AS (SELECT e2.g, e2.qp, r2.v AS v_star FROM est e2 JOIN ranked r2
          ON r2.g = e2.g AND r2.rk = e2.r),
xb AS (
  SELECT g, qp,
         CASE WHEN v_star <= 0 THEN -1 ELSE length(bin(v_star)) - 1 END AS xe,
         CASE WHEN v_star <= 0 THEN CAST(0 AS BIGINT)
              WHEN length(bin(v_star)) - 1 >= {_QB}
                THEN (v_star - (CAST(1 AS BIGINT) << (length(bin(v_star)) - 1))) >> (length(bin(v_star)) - 1 - {_QB})
              ELSE ((v_star - (CAST(1 AS BIGINT) << (length(bin(v_star)) - 1))) << {_QB})
                   // (CAST(1 AS BIGINT) << (length(bin(v_star)) - 1)) END AS xm
  FROM exact)
SELECT est.g AS l_returnflag, est.qp AS q_permille,
       CAST(est.n AS BIGINT) AS n, CAST(est.r AS BIGINT) AS r, est.est,
       (est.e = xb.xe AND est.m = xb.xm) AS bucket_contains_exact
FROM est JOIN xb ON xb.g = est.g AND xb.qp = est.qp
""",
    doc="quantile extraction from the sketch: for q in {50%, 95%, 99%} "
    "per returnflag, rank r = ceil(q*n) and estimate = lower bound of "
    "the first bucket whose cumulative count reaches r — by "
    "construction the bucket CONTAINING the exact order statistic, so "
    f"est is within relative error 1/{_QK} of it. The "
    "bucket_contains_exact flag recomputes the exact rank-r value's "
    "bucket independently on both engines (the approx_distinct_users "
    "band-flag policy) — the full sort behind it is the oracle device, "
    "not the production path (the sketch answers without raw data).",
)
def quantile_sketch_estimates(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    sk = qsk.quantile_sketch(li, "l_returnflag", "cents", k=_QK)
    # guide §3.3: est (a few rows) feeds both the output and the
    # full-sort exactness probe — truncate its lineage so the sketch
    # chain is planned/executed once. Identical rows.
    est = persist_block(qsk.sketch_quantiles(sk, "l_returnflag", _QS, k=_QK))
    ranked = li.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("l_returnflag").orderBy("cents")),
    )
    xe, xm = qsk.bucket_exprs("cents", _QK)
    # broadcast hints: est is a few rows by construction, but the
    # checkpoint leaf has no stats, so without the hint the planner
    # falls back to a sort-merge join of the full-sort side
    xb = (
        F.broadcast(est.select("l_returnflag", "q_permille", "r"))
        .join(ranked, ["l_returnflag"])
        .filter(F.col("rk") == F.col("r"))
        .select("l_returnflag", "q_permille", xe.alias("xe"), xm.alias("xm"))
    )
    return est.join(F.broadcast(xb), ["l_returnflag", "q_permille"]).select(
        "l_returnflag",
        "q_permille",
        "n",
        "r",
        "est",
        ((F.col("e") == F.col("xe")) & (F.col("m") == F.col("xm"))).alias(
            "bucket_contains_exact"
        ),
    )


# ------------------------------------------- graph centrality (PageRank)

from renkodf_spark.operators import graph  # noqa: E402
from renkodf_spark.queries.pipeline import _emb  # noqa: E402
from renkodf_spark.queries.pipeline8 import (  # noqa: E402
    _KNN_CTES,
    _KNN_K,
    _shared_knn_edges,
)

_PR_ITERS = 3
_PR_SCALE = 10**12
_PR_DNUM, _PR_DDEN = 85, 100
# the teleport term of every node's rank
_PR_BASE = f"(({_PR_DDEN - _PR_DNUM} * (SELECT pr0 FROM pb)) // {_PR_DDEN})"


def _pr_iters(base: str, *, contrib: str = "p.pr // o.od", cols: str = "n.id") -> str:
    """The PageRank oracles' fixpoint over ``pnodes``/``pedges``/``outd``
    from ``pr0``: ``_PR_ITERS`` integer iterations, each node's rank
    ``base`` plus the damped sum of its in-edges' ``contrib``, then the
    final ranks."""
    iters = "".join(
        f""",
pr{t} AS (
  SELECT {cols},
         CAST({base} + ({_PR_DNUM} * COALESCE(s.c, 0)) // {_PR_DDEN} AS BIGINT) AS pr
  FROM pnodes n LEFT JOIN (
    SELECT e.dst, SUM({contrib}) AS c
    FROM pedges e JOIN pr{t - 1} p ON p.id = e.src JOIN outd o ON o.src = e.src
    GROUP BY 1) s ON s.dst = n.id)"""
        for t in range(1, _PR_ITERS + 1)
    )
    return iters + f"\nSELECT id AS vec_id, pr FROM pr{_PR_ITERS}"


def _pr_oracle() -> str:
    head = (
        _KNN_CTES
        + f""",
pedges AS (SELECT src, dst FROM knn WHERE rk <= {_KNN_K}),
pnodes AS (SELECT vec_id AS id FROM embeddings),
pb AS (SELECT {_PR_SCALE} // COUNT(*) AS pr0 FROM pnodes),
outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM pedges GROUP BY 1),
pr0 AS (SELECT id, (SELECT pr0 FROM pb) AS pr FROM pnodes)"""
    )
    return head + _pr_iters(_PR_BASE)


@query(
    "knn_pagerank",
    oracle=_pr_oracle(),
    doc=f"fixed-point integer PageRank ({_PR_ITERS} iterations, "
    f"d={_PR_DNUM}/{_PR_DDEN}, scale 1e12) over the kNN similarity "
    "graph — graph-based curation's centrality signal (template/"
    "prototype detection in near-dup neighborhoods). Every division "
    "is an integer floor, so ranks are BIGINTs both engines replay "
    "bit-for-bit; one iteration = one edge equi-join + one groupBy "
    "over (id, pr) long pairs — vectors and text never enter the "
    "fixpoint.",
)
def knn_pagerank(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    edges = _shared_knn_edges(spark, sf_dir)
    return _knn_rank(edges.select("src", "dst"), emb)


def _knn_rank(edges, emb, **kw):
    """``graph.pagerank`` over kNN ``edges`` and ``emb``'s vectors at the
    oracles' fixed-point settings, as ``(vec_id, pr)``."""
    pr = graph.pagerank(
        edges,
        emb.select(F.col("vec_id").alias("id")),
        iterations=_PR_ITERS,
        d_num=_PR_DNUM,
        d_den=_PR_DDEN,
        scale=_PR_SCALE,
        **kw,
    )
    return pr.select(F.col("id").alias("vec_id"), "pr")


_TR_SEED_LABEL = 0  # the trusted subset: label-0 vectors


def _trustrank_oracle() -> str:
    head = (
        _KNN_CTES
        + f""",
pedges AS (SELECT src, dst FROM knn WHERE rk <= {_KNN_K}),
pnodes AS (SELECT vec_id AS id, (label = {_TR_SEED_LABEL}) AS sd FROM embeddings),
pb AS (SELECT {_PR_SCALE} // COUNT(*) AS pr0 FROM pnodes WHERE sd),
outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM pedges GROUP BY 1),
pr0 AS (SELECT id, sd, CASE WHEN sd THEN (SELECT pr0 FROM pb) ELSE 0 END AS pr FROM pnodes)"""
    )
    return head + _pr_iters(f"CASE WHEN n.sd THEN {_PR_BASE} ELSE 0 END", cols="n.id, n.sd")


@query(
    "knn_trustrank",
    oracle=_trustrank_oracle(),
    doc="TrustRank (Gyongyi et al. VLDB 2004): personalized PageRank "
    f"whose teleport mass goes only to the trusted seed set (label="
    f"{_TR_SEED_LABEL} vectors) — rank flows outward from trusted "
    "documents through kNN similarity edges and the low-rank "
    "periphery is the quality-suspect set. Same integer fixed-point "
    "recurrence as knn_pagerank (bit-replayable), seed-conditional "
    "base term.",
)
def knn_trustrank(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    edges = _shared_knn_edges(spark, sf_dir)
    seeds = emb.filter(F.col("label") == _TR_SEED_LABEL).select(
        F.col("vec_id").alias("id")
    )
    return _knn_rank(edges.select("src", "dst"), emb, seeds=seeds)


_SS_SPLIT = 250  # docs >= split are "today's increment" (the dedup_incremental_lsh convention)


@query(
    "setsim_incremental_join",
    oracle=_SETSIM_CTES
    + rf""",
ov AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
       ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM ov
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE inter * {_SS_TDEN} >= {_SS_TNUM} * (sa.sz + sb.sz - inter)
  AND id_b >= {_SS_SPLIT}
""",
    doc=f"incremental exact set-similarity join: docs >= {_SS_SPLIT} are "
    "'today's increment' run against the persisted setsim_index of the "
    "baseline (frozen element-frequency order — the prefix filter is "
    "sound under ANY shared total order, so recall stays 100% even "
    "under stale frequencies); historical text is never re-read. "
    "Oracle: full-corpus exact pairs filtered to at-least-one-new "
    "(id_a < id_b makes that id_b >= split).",
)
def setsim_incremental_join(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") < _SS_SPLIT)
    inc = docs.filter(F.col("doc_id") >= _SS_SPLIT)
    freq, pref, sets = setsim.setsim_index(
        base, shingle_n=_SS_N, t_num=_SS_TNUM, t_den=_SS_TDEN
    )
    return setsim.incremental_setsim_pairs(
        inc, freq, pref, sets, shingle_n=_SS_N, t_num=_SS_TNUM, t_den=_SS_TDEN
    )


# the sketch composed into a pipeline stage: per-source length-outlier
# trim driven by sketch quantiles (p05/p95 lower bounds)
_QT_CTES = rf"""
WITH v AS (SELECT source AS g, n_chars AS v, doc_id FROM documents),
bk AS (
  SELECT g, doc_id, v,
         {_BUCKET_EM}
  FROM v),
sk AS (SELECT g, e, m, CAST(COUNT(*) AS BIGINT) AS cnt FROM bk GROUP BY 1, 2, 3),
{_SK_CUM},
qs AS (SELECT * FROM (VALUES (1, 20, 50), (19, 20, 950)) t(qn, qd, qp)),
sel AS (
  SELECT g, qp, n, e, m,
         ROW_NUMBER() OVER (PARTITION BY g, qp ORDER BY e, m) AS rk
  FROM cum CROSS JOIN qs
  WHERE cum >= (qn * n + qd - 1) // qd),
est AS (
  SELECT g, qp, n,
         {_BUCKET_EST}
  FROM sel WHERE rk = 1),
bounds AS (
  SELECT g, MAX(n) AS n,
         MAX(CASE WHEN qp = 50 THEN est END) AS lo,
         MAX(CASE WHEN qp = 950 THEN est END) AS hi
  FROM est GROUP BY g)
SELECT b.g AS source, CAST(b.n AS BIGINT) AS n, b.lo, b.hi,
       CAST(COUNT(*) FILTER (v.v >= b.lo AND v.v <= b.hi) AS BIGINT) AS n_kept
FROM bounds b JOIN v ON v.g = b.g
GROUP BY 1, 2, 3, 4
"""


@query(
    "quantile_outlier_trim",
    oracle=_QT_CTES,
    doc="the sketch composed into a curation stage: per-source p05/p95 "
    "length bounds read off the quantile sketch (never the raw data) "
    "drive an outlier trim — (source, n, lo, hi, n_kept). At 100 TB "
    "the bounds come from the tiny persisted sketch; only the final "
    "keep-filter touches the corpus, and it is a broadcast join of "
    "one bounds row per source.",
)
def quantile_outlier_trim(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("source"), F.col("n_chars").alias("v"), "doc_id"
    )
    sk = qsk.quantile_sketch(docs, "source", "v", k=_QK)
    # guide §3.3: one tiny bounds row per source drives the broadcast
    # keep-filter — truncate so the sketch chain is planned once
    est = persist_block(qsk.sketch_quantiles(sk, "source", [(1, 20), (19, 20)], k=_QK))
    bounds = est.groupBy("source").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("q_permille") == 50, F.col("est"))).alias("lo"),
        F.max(F.when(F.col("q_permille") == 950, F.col("est"))).alias("hi"),
    )
    return (
        docs.join(F.broadcast(bounds), "source")
        .groupBy("source", "n", "lo", "hi")
        .agg(
            F.count(
                F.when((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")), 1)
            )
            .cast("long")
            .alias("n_kept")
        )
    )


def _wpr_oracle() -> str:
    head = (
        _KNN_CTES
        + f""",
pedges AS (
  SELECT src, dst,
         GREATEST(CAST(ROUND(cos_sim * 1e6) AS BIGINT), 1) AS w
  FROM knn WHERE rk <= {_KNN_K}),
pnodes AS (SELECT vec_id AS id FROM embeddings),
pb AS (SELECT {_PR_SCALE} // COUNT(*) AS pr0 FROM pnodes),
outd AS (SELECT src, CAST(SUM(w) AS BIGINT) AS od FROM pedges GROUP BY 1),
pr0 AS (SELECT id, (SELECT pr0 FROM pb) AS pr FROM pnodes)"""
    )
    return head + _pr_iters(_PR_BASE, contrib="(p.pr * e.w) // o.od")


@query(
    "knn_pagerank_weighted",
    oracle=_wpr_oracle(),
    doc="weighted fixed-point PageRank: edge weights are the rounded "
    "integer micro-cosines (clamped to >= 1 so every kNN edge stays "
    "effective), contribution pr(u)*w div W(u) — similarity-"
    "proportional rank flow, the form similarity graphs actually "
    "need. Same bit-replayable integer discipline; pr*w stays under "
    "2^63 by the documented scale x max-weight contract.",
)
def knn_pagerank_weighted(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    edges = _shared_knn_edges(spark, sf_dir).select(
        "src",
        "dst",
        F.greatest(
            F.round(F.col("cos_sim") * 1e6).cast("long"), F.lit(1)
        ).alias("w"),
    )
    return _knn_rank(edges, emb, weight_col="w")


# exact near-dup clusters: the composition proof that the EXACT join
# feeds the shared contraction stage (dedup.cluster_labels) unchanged
_SETSIM_CLUSTER_ORACLE = (
    _SETSIM_CTES.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + rf""",
ov AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM ov
  JOIN sz sa ON sa.doc_id = id_a
  JOIN sz sb ON sb.doc_id = id_b
  WHERE inter * {_SS_TDEN} >= {_SS_TNUM} * (sa.sz + sb.sz - inter)),
{COMPONENT_WALK}
SELECT id, MIN(node) AS cluster_id FROM walk GROUP BY id
"""
)


@query(
    "setsim_cluster_labels",
    oracle=_SETSIM_CLUSTER_ORACLE,
    doc="connected components over the EXACT set-similarity pairs — "
    "near-dup clusters with a provable membership criterion (Jaccard "
    f">= {_SS_TNUM}/{_SS_TDEN}, no LSH probability), fed to the shared "
    "large-star/small-star contraction unchanged. Oracle: recursive-"
    "CTE closure over the brute-force threshold pairs.",
)
def setsim_cluster_labels(spark, sf_dir):
    from renkodf_spark.operators import dedup

    docs = _docs(spark, sf_dir)
    pairs = setsim.setsim_join(
        docs, shingle_n=_SS_N, t_num=_SS_TNUM, t_den=_SS_TDEN
    ).select("id_a", "id_b")
    return dedup.cluster_labels(docs, pairs, on_nonconverge="raise")


_CN_TNUM, _CN_TDEN = 4, 5  # containment threshold 4/5


@query(
    "setsim_containment_join",
    oracle=_SETSIM_CTES
    + rf""",
ov AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM e a JOIN e b ON a.h = b.h AND a.doc_id <> b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
       ROUND(inter * 1.0 / sa.sz, 4) AS containment
FROM ov
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE inter * {_CN_TDEN} >= {_CN_TNUM} * sa.sz
""",
    doc="exact containment join: ORDERED pairs with |a∩b| >= "
    f"{_CN_TNUM}/{_CN_TDEN} * |a| — 'most of a appears in b', the "
    "quote/subset-duplication detector resemblance misses (a short "
    "doc inside a long one has small Jaccard but containment ~1). "
    "Asymmetric prefix filter: the contained side joins through its "
    "corpus-rarest prefix, the containing side is indexed in full; "
    "100% recall (oracle = brute force).",
)
def setsim_containment_join(spark, sf_dir):
    return setsim.containment_join(
        _docs(spark, sf_dir), shingle_n=_SS_N, t_num=_CN_TNUM, t_den=_CN_TDEN
    )


@query(
    "weighted_quantile_lengths",
    oracle=rf"""
WITH v AS (SELECT source AS g, n_chars AS v FROM documents),
bk AS (
  SELECT g, v,
         {_BUCKET_EM}
  FROM v),
sk AS (SELECT g, e, m, CAST(SUM(v) AS BIGINT) AS cnt FROM bk GROUP BY 1, 2, 3),
{_SK_CUM},
sel AS (
  SELECT g, n, (1 * n + 1) // 2 AS r, e, m,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY e, m) AS rk
  FROM cum WHERE cum >= (1 * n + 1) // 2)
SELECT g AS source, CAST(500 AS BIGINT) AS q_permille,
       CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
       {_BUCKET_EST}
FROM sel WHERE rk = 1
""",
    doc="mass-weighted quantiles off the sketch: value = doc length, "
    "weight = doc length — est answers 'half of source X's corpus "
    "BYTES sit in docs shorter than est' (the weighted median, rank "
    "measured in weight not rows). Same sketch machinery, cnt = "
    "bucket weight sum; the token-budget view of length distributions "
    "a row-median misreads when long docs dominate the mass.",
)
def weighted_quantile_lengths(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("source"), F.col("n_chars").alias("v")
    )
    sk = qsk.quantile_sketch(docs, "source", "v", k=_QK, weight_col="v")
    return qsk.sketch_quantiles(sk, "source", [(1, 2)], k=_QK).select(
        "source",
        F.col("q_permille").cast("long").alias("q_permille"),
        "n",
        "r",
        "est",
    )


@query(
    "knn_triangle_counts",
    oracle=_KNN_CTES
    + f""",
pedges AS (SELECT src, dst FROM knn WHERE rk <= {_KNN_K}),
und AS (
  SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM pedges WHERE src <> dst GROUP BY 1, 2),
adj AS (SELECT u AS a, v AS b FROM und UNION ALL SELECT v AS a, u AS b FROM und),
tri AS (
  SELECT t1.a AS apex, t1.b AS x, t2.b AS y
  FROM adj t1 JOIN adj t2 ON t2.a = t1.a AND t1.b < t2.b
  JOIN und e ON e.u = t1.b AND e.v = t2.b),
verts AS (SELECT u AS id FROM und UNION SELECT v FROM und),
cnt AS (SELECT apex AS id, CAST(COUNT(*) AS BIGINT) AS c FROM tri GROUP BY 1)
SELECT verts.id, COALESCE(cnt.c, CAST(0 AS BIGINT)) AS triangles
FROM verts LEFT JOIN cnt ON cnt.id = verts.id
""",
    doc="per-vertex triangle counts over the undirected kNN graph — "
    "the local-density curation signal (triangle-rich = cohesive "
    "near-dup community, triangle-poor hub = coincidental neighbor). "
    "Engine: node-iterator with (degree, id) orientation — wedge "
    "fan-out capped at O(sqrt(E)) out-degree per vertex regardless of "
    "skew, each triangle counted once at its order-minimal apex; "
    "oracle: the orientation-agnostic apex formulation (each triangle "
    "once per apex with x < y).",
)
def knn_triangle_counts(spark, sf_dir):
    edges = _shared_knn_edges(spark, sf_dir)
    return graph.triangle_counts(edges.select("src", "dst"))
