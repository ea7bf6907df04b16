"""Round-13 pipeline queries: the SIGNED-domain quantile sketch
(``functions/quantiles.py`` mirrored negative octaves — the sketch can
now summarize the engine's own negative integer micro-nat quality
scores), and persisted-graph centrality (PageRank over a stored
kNN-graph relation instead of rebuilding the graph from raw vectors
inside every centrality question).

Oracle strategy: the signed bucket/floor arithmetic is pure shifts and
integer division, replayed verbatim in DuckDB over the same
``_BG_CTES`` score relation the bigram-LM oracles already pin — the
whole chain (train -> score -> sketch -> quantile) is integer-exact
end to end, so the oracle hash-matches every bucket and estimate.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from renkodf_spark.functions import quantiles as qsk
from renkodf_spark.operators import text
from renkodf_spark.plans.persist import persist_block
from renkodf_spark.queries.pipeline import _docs
from renkodf_spark.queries.pipeline8 import _BG_CTES, _bigram_model
from renkodf_spark.queries.registry import query

_QK = 64
_QB = 6
_SGN_QS = [(1, 20), (1, 2), (19, 20)]

_GRAPH_STATE_DIR: list[str] = []


def _graph_state_path() -> str:
    """One kNN-graph state dir per process, rmtree'd at exit (ADVICE
    r13: per-invocation mkdtemp accumulated a full graph copy in /tmp
    for every indexed-centrality call across sweep/bench runs). Safe to
    share: each indexed query rewrites the graph before reading it, and
    write_knn_graph's static ``overwrite`` truncates the whole path —
    no stale cells can leak between scale factors."""
    if not _GRAPH_STATE_DIR:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="knn_graph_state_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _GRAPH_STATE_DIR.append(path)
    return _GRAPH_STATE_DIR[0]


def _m_pos_sql(u: str) -> str:
    """DuckDB sub-bucket of a strictly positive BIGINT expression —
    the _QSK_CTES shift pattern, parameterized on the expression."""
    return f"""CASE WHEN length(bin({u})) - 1 >= {_QB}
        THEN ({u} - (CAST(1 AS BIGINT) << (length(bin({u})) - 1))) >> (length(bin({u})) - 1 - {_QB})
        ELSE (({u} - (CAST(1 AS BIGINT) << (length(bin({u})) - 1))) << {_QB})
             // (CAST(1 AS BIGINT) << (length(bin({u})) - 1)) END"""


def _signed_bucket_sql(v: str) -> tuple[str, str]:
    """DuckDB (e, m) for a SIGNED BIGINT expression — mirrors
    functions/quantiles.bucket_exprs: zero -> (-1, 0), positives the
    classical octaves, negatives the mirrored octaves e <= -2 with
    m = k-1 - m(-v) so (e, m) order == value order."""
    e = f"""CASE WHEN {v} = 0 THEN -1
        WHEN {v} < 0 THEN -(length(bin(-({v}))) - 1) - 2
        ELSE length(bin({v})) - 1 END"""
    m = f"""CASE WHEN {v} = 0 THEN CAST(0 AS BIGINT)
        WHEN {v} < 0 THEN {_QK - 1} - ({_m_pos_sql(f'(-({v}))')})
        ELSE {_m_pos_sql(v)} END"""
    return e, m


# bucket floor from (e, m), signed — mirrors bucket_floor_expr: the
# most-negative member of a mirrored bucket is 1 - hi_u with hi_u the
# EXCLUSIVE bound of the mirrored positive bucket (eu=-e-2, mu=k-1-m);
# (k - m) * 2^eu is exactly divisible by k when eu >= b. Reassociated
# as (1 - p) - tail (ADVICE r13): the naive 1 - hi_u forms 2^63 on the
# extreme octave (e=-64, m=0) and errors in DuckDB; this chain keeps
# every intermediate in BIGINT, matching the Spark side exactly.
_SIGNED_FLOOR_SQL = f"""CASE WHEN e = -1 THEN CAST(0 AS BIGINT)
    WHEN e < -1 THEN (CASE WHEN (-e - 2) >= {_QB}
         THEN (1 - (CAST(1 AS BIGINT) << (-e - 2)))
              - ({_QK} - m) * (CAST(1 AS BIGINT) << (-e - 2 - {_QB}))
         ELSE (1 - (CAST(1 AS BIGINT) << (-e - 2)))
              - ((({_QK} - m) * (CAST(1 AS BIGINT) << (-e - 2)) + {_QK - 1}) >> {_QB}) END)
    WHEN e >= {_QB} THEN (CAST(1 AS BIGINT) << e) + m * (CAST(1 AS BIGINT) << (e - {_QB}))
    ELSE (CAST(1 AS BIGINT) << e)
         + ((m * (CAST(1 AS BIGINT) << e) + {_QK - 1}) >> {_QB}) END"""

_SGN_E, _SGN_M = _signed_bucket_sql("v")

_SGN_CTES = (
    _BG_CTES
    + rf""",
sv AS (
  SELECT d.lang AS g, s.s AS v
  FROM scores s JOIN documents d USING (doc_id)),
sbk AS (SELECT g, v, {_SGN_E} AS e, {_SGN_M} AS m FROM sv),
ssk AS (SELECT g, e, m, CAST(COUNT(*) AS BIGINT) AS cnt FROM sbk GROUP BY 1, 2, 3),
scum AS (
  SELECT g, e, m, cnt,
         SUM(cnt) OVER (PARTITION BY g ORDER BY e, m) AS cum,
         SUM(cnt) OVER (PARTITION BY g) AS n
  FROM ssk),
sqs AS (SELECT * FROM (VALUES (1, 20, 50), (1, 2, 500), (19, 20, 950)) t(qn, qd, qp)),
ssel AS (
  SELECT g, qp, n, (qn * n + qd - 1) // qd AS r, e, m,
         ROW_NUMBER() OVER (PARTITION BY g, qp ORDER BY e, m) AS rk
  FROM scum CROSS JOIN sqs
  WHERE cum >= (qn * n + qd - 1) // qd),
sest AS (
  SELECT g, qp, n, r, e, m, {_SIGNED_FLOOR_SQL} AS est
  FROM ssel WHERE rk = 1),
sranked AS (
  SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rk FROM sv),
sexact AS (SELECT e2.g, e2.qp, r2.v AS v_star FROM sest e2 JOIN sranked r2
           ON r2.g = e2.g AND r2.rk = e2.r),
sxb AS (
  SELECT g, qp, {_signed_bucket_sql("v_star")[0]} AS xe,
         {_signed_bucket_sql("v_star")[1]} AS xm
  FROM sexact)
"""
)


@query(
    "signed_lm_score_quantiles",
    oracle=_SGN_CTES
    + """
SELECT sest.g AS lang, sest.qp AS q_permille,
       CAST(sest.n AS BIGINT) AS n, CAST(sest.r AS BIGINT) AS r, sest.est,
       (sest.e = sxb.xe AND sest.m = sxb.xm) AS bucket_contains_exact
FROM sest JOIN sxb ON sxb.g = sest.g AND sxb.qp = sest.qp
""",
    doc="SIGNED quantile sketch (r13 mirrored negative octaves) over "
    "the engine's own negative quality scores: per-language p05/p50/"
    "p95 of the bigram Stupid-Backoff doc log-probs (integer "
    "micro-nats, all < 0) read off the log-linear sketch — value "
    "domain the pre-r13 sketch rejected. est is the most-negative "
    "member of the selected bucket; bucket_contains_exact recomputes "
    "the exact rank-r score's bucket independently on both engines "
    "(the full sort is the oracle device — the sketch answers from "
    "(g, e, m, cnt) alone). At 100 TB the score relation is (id, "
    "long); the sketch collapses it to a few hundred rows per "
    "language with one map-side-combined shuffle.",
)
def signed_lm_score_quantiles(spark, sf_dir):
    docs, model = _bigram_model(spark, sf_dir)
    scores = text.bigram_logprob(docs, model)
    # r14 (guide §3.3): the scored relation — the full bigram-LM
    # training + scoring chain — feeds the sketch AND the full-sort
    # exactness device; est feeds the output AND the rank probe.
    # Lazily localCheckpoint both narrow relations so each chain is
    # planned and executed once (the inline form stamped the LM chain
    # 140 scans deep into one physical plan). Identical rows.
    scored = persist_block(
        scores.join(docs.select("doc_id", "lang"), "doc_id").select(
            F.col("lang"), F.col("sum_logp_micros").alias("v")
        )
    )
    sk = qsk.quantile_sketch(scored, "lang", "v", k=_QK)
    est = persist_block(qsk.sketch_quantiles(sk, "lang", _SGN_QS, k=_QK))
    ranked = scored.withColumn(
        "rk", F.row_number().over(Window.partitionBy("lang").orderBy("v"))
    )
    xe, xm = qsk.bucket_exprs("v", _QK)
    # broadcast hints: the checkpointed est has no stats (pipeline9's
    # quantile_sketch_estimates measured the silent SMJ fallback)
    xb = (
        F.broadcast(est.select("lang", "q_permille", "r"))
        .join(ranked, ["lang"])
        .filter(F.col("rk") == F.col("r"))
        .select("lang", "q_permille", xe.alias("xe"), xm.alias("xm"))
    )
    return est.join(F.broadcast(xb), ["lang", "q_permille"]).select(
        "lang",
        "q_permille",
        "n",
        "r",
        "est",
        ((F.col("e") == F.col("xe")) & (F.col("m") == F.col("xm"))).alias(
            "bucket_contains_exact"
        ),
    )


# ------------- r14: signed WEIGHTED quantiles + signed outlier trim
# (VERDICT r13 item 5: r13 proved the signed sketch on the unweighted
# leg only; these exercise the weighted-rank and trim compositions on
# the negative score domain.)

_SGN_W_CTES = (
    _BG_CTES
    + rf""",
svw AS (
  SELECT d.lang AS g, s.s AS v, d.n_chars AS w
  FROM scores s JOIN documents d USING (doc_id)),
wbk AS (SELECT g, v, w, {_SGN_E} AS e, {_SGN_M} AS m FROM svw),
wsk AS (SELECT g, e, m, CAST(SUM(w) AS BIGINT) AS cnt FROM wbk GROUP BY 1, 2, 3),
wcum AS (
  SELECT g, e, m, cnt,
         SUM(cnt) OVER (PARTITION BY g ORDER BY e, m) AS cum,
         SUM(cnt) OVER (PARTITION BY g) AS n
  FROM wsk),
wqs AS (SELECT * FROM (VALUES (1, 20, 50), (1, 2, 500), (19, 20, 950)) t(qn, qd, qp)),
wsel AS (
  SELECT g, qp, n, (qn * n + qd - 1) // qd AS r, e, m,
         ROW_NUMBER() OVER (PARTITION BY g, qp ORDER BY e, m) AS rk
  FROM wcum CROSS JOIN wqs
  WHERE cum >= (qn * n + qd - 1) // qd),
west AS (
  SELECT g, qp, n, r, e, m, {_SIGNED_FLOOR_SQL} AS est
  FROM wsel WHERE rk = 1),
wdv AS (SELECT g, v, CAST(SUM(w) AS BIGINT) AS wv FROM svw GROUP BY 1, 2),
wcw AS (SELECT g, v, SUM(wv) OVER (PARTITION BY g ORDER BY v) AS cumw FROM wdv),
wx AS (
  SELECT e2.g, e2.qp, MIN(c.v) AS v_star
  FROM west e2 JOIN wcw c ON c.g = e2.g AND c.cumw >= e2.r
  GROUP BY 1, 2),
wxb AS (
  SELECT g, qp, {_signed_bucket_sql("v_star")[0]} AS xe,
         {_signed_bucket_sql("v_star")[1]} AS xm
  FROM wx)
"""
)


@query(
    "signed_weighted_quantiles",
    oracle=_SGN_W_CTES
    + """
SELECT west.g AS lang, west.qp AS q_permille,
       CAST(west.n AS BIGINT) AS n, CAST(west.r AS BIGINT) AS r, west.est,
       (west.e = wxb.xe AND west.m = wxb.xm) AS bucket_contains_exact
FROM west JOIN wxb ON wxb.g = west.g AND wxb.qp = west.qp
""",
    doc="byte-WEIGHTED quantiles on the SIGNED domain (r14): value = "
    "bigram Stupid-Backoff doc score (negative integer micro-nats), "
    "weight = doc n_chars — 'p95 of source bytes sit in docs scoring "
    "above est', the token-budget view of quality a row-quantile "
    "misreads when long docs dominate the mass. Rank is measured in "
    "weight via the overflow-free split identity (exact for total "
    "mass beyond 2^53); the exactness check recomputes the weighted "
    "order statistic v* (smallest v with cumulative weight >= r) by "
    "full sort on both engines and confirms the sketch's bucket "
    "contains it. At 100 TB: sketch rows are (lang, e, m, weight), "
    "the corpus collapses in one map-side-combined shuffle.",
)
def signed_weighted_quantiles(spark, sf_dir):
    docs, model = _bigram_model(spark, sf_dir)
    scores = text.bigram_logprob(docs, model)
    # guide §3.3 lineage truncation — see signed_lm_score_quantiles
    scored = persist_block(
        scores.join(docs.select("doc_id", "lang", "n_chars"), "doc_id").select(
            F.col("lang"), F.col("sum_logp_micros").alias("v"), F.col("n_chars").alias("w")
        )
    )
    sk = qsk.quantile_sketch(scored, "lang", "v", k=_QK, weight_col="w")
    est = persist_block(qsk.sketch_quantiles(sk, "lang", _SGN_QS, k=_QK))
    # exact weighted order statistic: smallest v whose cumulative
    # weight (ascending v, per-distinct-v pre-aggregated) reaches r
    cw = (
        scored.groupBy("lang", "v")
        .agg(F.sum("w").alias("wv"))
        .withColumn("cumw", F.sum("wv").over(Window.partitionBy("lang").orderBy("v")))
    )
    xb = (
        F.broadcast(est.select("lang", "q_permille", "r"))
        .join(cw, "lang")
        .filter(F.col("cumw") >= F.col("r"))
        .groupBy("lang", "q_permille")
        .agg(F.min("v").alias("v_star"))
    )
    xe, xm = qsk.bucket_exprs("v_star", _QK)
    xb = xb.select("lang", "q_permille", xe.alias("xe"), xm.alias("xm"))
    return est.join(F.broadcast(xb), ["lang", "q_permille"]).select(
        "lang",
        "q_permille",
        "n",
        "r",
        "est",
        ((F.col("e") == F.col("xe")) & (F.col("m") == F.col("xm"))).alias(
            "bucket_contains_exact"
        ),
    )


_SGN_TRIM_CTES = (
    _BG_CTES
    + rf""",
sv AS (
  SELECT d.lang AS g, s.s AS v, s.doc_id
  FROM scores s JOIN documents d USING (doc_id)),
tbk AS (SELECT g, v, {_SGN_E} AS e, {_SGN_M} AS m FROM sv),
tsk AS (SELECT g, e, m, CAST(COUNT(*) AS BIGINT) AS cnt FROM tbk GROUP BY 1, 2, 3),
tcum AS (
  SELECT g, e, m, cnt,
         SUM(cnt) OVER (PARTITION BY g ORDER BY e, m) AS cum,
         SUM(cnt) OVER (PARTITION BY g) AS n
  FROM tsk),
tqs AS (SELECT * FROM (VALUES (1, 20, 50), (19, 20, 950)) t(qn, qd, qp)),
tsel AS (
  SELECT g, qp, n, e, m,
         ROW_NUMBER() OVER (PARTITION BY g, qp ORDER BY e, m) AS rk
  FROM tcum CROSS JOIN tqs
  WHERE cum >= (qn * n + qd - 1) // qd),
test_ AS (
  SELECT g, qp, n, {_SIGNED_FLOOR_SQL} AS est
  FROM tsel WHERE rk = 1),
tbounds AS (
  SELECT g, MAX(n) AS n,
         MAX(CASE WHEN qp = 50 THEN est END) AS lo,
         MAX(CASE WHEN qp = 950 THEN est END) AS hi
  FROM test_ GROUP BY g)
"""
)


@query(
    "signed_score_trim",
    oracle=_SGN_TRIM_CTES
    + """
SELECT b.g AS lang, CAST(b.n AS BIGINT) AS n, b.lo, b.hi,
       CAST(COUNT(*) FILTER (sv.v >= b.lo AND sv.v <= b.hi) AS BIGINT) AS n_kept
FROM tbounds b JOIN sv ON sv.g = b.g
GROUP BY 1, 2, 3, 4
""",
    doc="outlier trim driven by SIGNED sketch quantiles (r14): "
    "per-language p05/p95 bounds of the (negative) bigram doc scores "
    "read off the sketch — never the raw score relation — then one "
    "broadcast join applies the keep-filter: (lang, n, lo, hi, "
    "n_kept). The quantile_outlier_trim composition, now proven on "
    "the mirrored-octave domain; at 100 TB the bounds relation is "
    "one row per language and only the final filter touches the "
    "corpus-sized score relation.",
)
def signed_score_trim(spark, sf_dir):
    docs, model = _bigram_model(spark, sf_dir)
    scores = text.bigram_logprob(docs, model)
    # guide §3.3 lineage truncation — see signed_lm_score_quantiles
    scored = persist_block(
        scores.join(docs.select("doc_id", "lang"), "doc_id").select(
            F.col("lang"), F.col("sum_logp_micros").alias("v")
        )
    )
    sk = qsk.quantile_sketch(scored, "lang", "v", k=_QK)
    est = qsk.sketch_quantiles(sk, "lang", [(1, 20), (19, 20)], k=_QK)
    bounds = est.groupBy("lang").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("q_permille") == 50, F.col("est"))).alias("lo"),
        F.max(F.when(F.col("q_permille") == 950, F.col("est"))).alias("hi"),
    )
    return (
        scored.join(F.broadcast(bounds), "lang")
        .groupBy("lang", "n", "lo", "hi")
        .agg(
            F.count(
                F.when((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")), 1)
            )
            .cast("long")
            .alias("n_kept")
        )
    )


# ------------------------------------- persisted-graph centrality

from renkodf_spark.operators import graph, similarity  # noqa: E402
from renkodf_spark.queries.pipeline import _emb  # noqa: E402
from renkodf_spark.queries.pipeline2 import _IVF_DIM  # noqa: E402
from renkodf_spark.queries.pipeline8 import (  # noqa: E402
    _KNN_K,
    _shared_knn_edges,
)
from renkodf_spark.queries.pipeline9 import _knn_rank, _pr_oracle  # noqa: E402


@query(
    "knn_pagerank_indexed",
    oracle=_pr_oracle(),
    doc="fixed-point integer PageRank over the PERSISTED kNN graph "
    "(r13): similarity.write_knn_graph stores the edge relation once "
    "per corpus snapshot (the streaming maintainer's edges/cell=... "
    "layout), and the fixpoint reads back only (src, dst) longs — "
    "same oracle as knn_pagerank because stored == inline edges "
    "(parity-pinned). Why it exists at scale: the inline query pays "
    "routing + the sum(|cell|^2) pair stage inside EVERY centrality "
    "question (~2/3 of its wall); against a 100 TB corpus snapshot "
    "asked N centrality questions, the build is paid once and each "
    "question costs only the narrow-edge fixpoint — embeddings never "
    "load again (the stored layout has no vector column at all).",
)
def knn_pagerank_indexed(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = similarity.embedding_centroids(emb, dim=_IVF_DIM)
    path = _graph_state_path()
    similarity.write_knn_graph(emb, cents, path, k=_KNN_K)
    edges = similarity.read_knn_graph(spark, path)
    return _knn_rank(edges.select("src", "dst"), emb)


# ------------------------------------------- LPA communities

from renkodf_spark.queries.pipeline8 import _KNN_CTES  # noqa: E402

_LPA_ITERS = 4


def _lpa_oracle() -> str:
    head = (
        _KNN_CTES
        + f""",
mutual AS (
  SELECT a.src AS id_a, a.dst AS id_b
  FROM (SELECT src, dst FROM knn WHERE rk <= {_KNN_K}) a
  JOIN (SELECT src, dst FROM knn WHERE rk <= {_KNN_K}) b
    ON a.src = b.dst AND a.dst = b.src
  WHERE a.src < a.dst),
uedges AS (
  SELECT id_a AS s, id_b AS d FROM mutual
  UNION
  SELECT id_b AS s, id_a AS d FROM mutual),
l0 AS (SELECT vec_id AS id, vec_id AS lbl FROM embeddings)"""
    )
    iters = "".join(
        f""",
v{t} AS (
  SELECT e.d AS id, l.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM uedges e JOIN l{t - 1} l ON l.id = e.s GROUP BY 1, 2),
w{t} AS (
  SELECT id, lbl,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, lbl) AS rk
  FROM v{t}),
l{t} AS (
  SELECT p.id, COALESCE(w.lbl, p.lbl) AS lbl
  FROM l{t - 1} p LEFT JOIN (SELECT id, lbl FROM w{t} WHERE rk = 1) w USING (id))"""
        for t in range(1, _LPA_ITERS + 1)
    )
    return head + iters + f"\nSELECT id AS vec_id, lbl AS community FROM l{_LPA_ITERS}"


@query(
    "knn_communities",
    oracle=_lpa_oracle(),
    doc=f"deterministic synchronous label propagation ({_LPA_ITERS} "
    "iterations, argmax-by-count ties to smallest label) over the "
    "mutual-kNN graph — community detection one level FINER than "
    "mutual_knn_cluster_labels' connected components: two dense "
    "template families joined by one accidental near-pair stay "
    "separate communities (CC merges them). Classical LPA is "
    "randomized and never replays; this variant's fixed-iteration "
    "integer votes are bit-identical on both engines. Iteration state "
    "is (id, label) longs — one edge equi-join + one (id, label) "
    "count + one per-id argmax per step; vectors cross only the kNN "
    "cell exchange.",
)
def knn_communities(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    g = _shared_knn_edges(spark, sf_dir)
    pairs = similarity.mutual_knn_edges(g)
    und = pairs.selectExpr("id_a as src", "id_b as dst").unionByName(
        pairs.selectExpr("id_b as src", "id_a as dst")
    )
    return graph.label_propagation(
        und,
        emb.select(F.col("vec_id").alias("id")),
        iterations=_LPA_ITERS,
    ).selectExpr("id as vec_id", "community")


from renkodf_spark.queries.pipeline9 import (  # noqa: E402
    _TR_SEED_LABEL,
    _trustrank_oracle,
)


@query(
    "knn_trustrank_indexed",
    oracle=_trustrank_oracle(),
    doc="TrustRank over the PERSISTED kNN graph (r13): same stored "
    "edge relation as knn_pagerank_indexed — one write_knn_graph "
    "snapshot serves every centrality question (PageRank, TrustRank, "
    "and any future seed set) without reloading vectors; the seeded "
    "fixpoint reads only (src, dst) longs plus the broadcast seed "
    "ids. Same oracle as knn_trustrank (stored == inline edges).",
)
def knn_trustrank_indexed(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = similarity.embedding_centroids(emb, dim=_IVF_DIM)
    path = _graph_state_path()
    similarity.write_knn_graph(emb, cents, path, k=_KNN_K)
    edges = similarity.read_knn_graph(spark, path)
    seeds = emb.filter(F.col("label") == _TR_SEED_LABEL).select(
        F.col("vec_id").alias("id")
    )
    return _knn_rank(edges.select("src", "dst"), emb, seeds=seeds)


@query(
    "knn_communities_indexed",
    oracle=_lpa_oracle(),
    doc="deterministic LPA communities over the PERSISTED kNN graph "
    "(r14, completing the indexed centrality set): mutual-kNN "
    "symmetrization runs on the stored (src, dst) relation — a narrow "
    "self-join, no vector anywhere in the plan — then the same "
    f"fixed-{_LPA_ITERS}-iteration argmax-vote loop as knn_communities. "
    "Same oracle (stored == inline edges, parity-pinned). Why at "
    "100 TB: communities was the last graph question still paying the "
    "routing + sum(|cell|^2) pair build inside every call; against a "
    "stored snapshot the marginal cost is symmetrize + vote rounds "
    "over (id, label) longs (bench centrality_split lpa_fixpoint).",
)
def knn_communities_indexed(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = similarity.embedding_centroids(emb, dim=_IVF_DIM)
    path = _graph_state_path()
    similarity.write_knn_graph(emb, cents, path, k=_KNN_K)
    stored = similarity.read_knn_graph(spark, path)
    pairs = similarity.mutual_knn_edges(stored)
    und = pairs.selectExpr("id_a as src", "id_b as dst").unionByName(
        pairs.selectExpr("id_b as src", "id_a as dst")
    )
    return graph.label_propagation(
        und,
        emb.select(F.col("vec_id").alias("id")),
        iterations=_LPA_ITERS,
    ).selectExpr("id as vec_id", "community")
