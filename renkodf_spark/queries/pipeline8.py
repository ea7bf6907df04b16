"""Round-11 pipeline queries, part 2: the bigram Stupid-Backoff
language model (``operators/text.py::bigram_lm_train`` /
``bigram_logprob``) — the KenLM-style n-gram LM of the CCNet recipe,
trained on a trusted subset and scoring the whole corpus so the
backoff and OOV branches genuinely fire — and the kNN-graph family
(``operators/similarity.py::knn_graph`` / ``mutual_knn_edges``): the
cell-bounded neighbor graph that SemDeDup-style clustering and
dataset-cartography pipelines build over the embedding table.

Oracles replay the integer micro-nat convention (round ONCE to BIGINT,
exact long sums) and the pipeline2/3 centroid-routing CTEs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from renkodf_spark.operators import dedup, similarity, text
from renkodf_spark.queries.pipeline import _docs, _emb
from renkodf_spark.queries.pipeline2 import _CENTROID_CTES, _IVF_DIM
from renkodf_spark.queries.ctes import IVF_ROUTE, MEM, WS_TOKENS, cosine
from renkodf_spark.queries.registry import query

# the trusted target domain (the CCNet "train on Wikipedia" stand-in),
# deterministic from the gate data — same convention as pipeline7's NB
# classifier.
_TRUSTED = "src0"


def _bigram_model(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs, text.bigram_lm_train(docs.filter(F.col("source") == _TRUSTED))


# Shared CTEs: train the unigram+bigram counts on the trusted subset,
# score every document. Cross-engine exactness: per-term / per-
# transition log scores are rounded ONCE to BIGINT micro-nats; the
# only float steps both engines share are ln() of identical
# integer-derived doubles (BIGINT / BIGINT is true division in both).
_BG_CTES = rf"""
WITH ttoks AS (
  SELECT doc_id, {WS_TOKENS} AS t
  FROM documents WHERE source = '{_TRUSTED}'),
uni AS (SELECT unnest(t) AS term FROM ttoks),
counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM uni GROUP BY 1),
tot AS (SELECT SUM(cnt) AS T, COUNT(*) AS V FROM counts),
umodel AS (
  SELECT term, cnt,
         CAST(ROUND(ln((cnt + 1) / (T + 1 * V)) * 1e6) AS BIGINT) AS lp
  FROM counts CROSS JOIN tot),
oov AS (SELECT CAST(ROUND(ln(1 / (T + 1 * V)) * 1e6) AS BIGINT) AS o FROM tot),
bk AS (SELECT CAST(ROUND(ln(0.4) * 1e6) AS BIGINT) AS b),
tpos AS (SELECT doc_id, unnest(range(1, len(t))) AS i, t FROM ttoks),
tbi AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM tpos),
bcounts AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt2 FROM tbi GROUP BY 1, 2),
bmodel AS (
  SELECT w1, w2, cnt2,
         CAST(ROUND(ln(cnt2 / cnt) * 1e6) AS BIGINT) AS tm
  FROM bcounts JOIN umodel ON w1 = term),
atoks AS (
  SELECT doc_id, {WS_TOKENS} AS t FROM documents),
firsts AS (SELECT doc_id, t[1] AS term, CAST(len(t) AS BIGINT) AS n FROM atoks),
apos AS (SELECT doc_id, unnest(range(1, len(t))) AS i, t FROM atoks),
abi AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM apos),
abtf AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS btf
         FROM abi GROUP BY 1, 2, 3),
tsum AS (
  SELECT doc_id,
         SUM(btf * COALESCE(tm, b + COALESCE(u2.lp, o))) AS s
  FROM abtf
  LEFT JOIN bmodel USING (w1, w2)
  LEFT JOIN umodel u2 ON abtf.w2 = u2.term
  CROSS JOIN oov CROSS JOIN bk
  GROUP BY 1),
scores AS (
  SELECT f.doc_id, f.n AS n_tokens,
         CAST(COALESCE(u.lp, o) + COALESCE(ts.s, 0) AS BIGINT) AS s
  FROM firsts f
  LEFT JOIN umodel u ON f.term = u.term
  CROSS JOIN oov
  LEFT JOIN tsum ts ON f.doc_id = ts.doc_id)
"""


@query(
    "bigram_lm_transitions",
    oracle=_BG_CTES
    + """
SELECT w1, w2, cnt2, tm AS trans_micros
FROM bmodel ORDER BY cnt2 DESC, w1, w2 LIMIT 100
""",
    doc="the 100 most frequent transitions of the Stupid-Backoff "
    f"bigram LM trained on the trusted source '{_TRUSTED}': "
    "maximum-likelihood ln(cnt(w1 w2)/cnt(w1)) rounded once to integer "
    "micro-nats; training is two map-side-combined count aggregations "
    "(term / bigram keys) — document text never shuffles.",
)
def bigram_lm_transitions(spark, sf_dir):
    _, (unigrams, bigrams, _) = _bigram_model(spark, sf_dir)
    return bigrams.orderBy(F.desc("cnt2"), "w1", "w2").limit(100)


@query(
    "bigram_lm_doc_quality",
    oracle=_BG_CTES
    + """
SELECT doc_id, n_tokens, s AS sum_logp_micros,
       ROUND(s / (n_tokens * 1e6), 6) AS avg_logp
FROM scores
""",
    doc="score every document under the trusted-source bigram LM: "
    "position 1 takes the smoothed unigram log-prob, positions 2..n "
    "the Stupid-Backoff rule (seen transition ratio, else 0.4 x "
    "unigram, OOV mass for unseen words) — the held-out-model CCNet "
    "shape, so backoff/OOV branches genuinely fire on non-trusted "
    "docs; all integer micro-nats, exact in any sum order.",
)
def bigram_lm_doc_quality(spark, sf_dir):
    docs, model = _bigram_model(spark, sf_dir)
    return text.bigram_logprob(docs, model)


@query(
    "bigram_perplexity_buckets",
    oracle=_BG_CTES
    + """
SELECT s.doc_id, d.lang, s.n_tokens,
       NTILE(3) OVER (PARTITION BY d.lang
                      ORDER BY s.s::DOUBLE / s.n_tokens DESC, s.doc_id)
         AS bucket,
       CASE NTILE(3) OVER (PARTITION BY d.lang
                           ORDER BY s.s::DOUBLE / s.n_tokens DESC, s.doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier
FROM scores s JOIN documents d USING (doc_id)
""",
    doc="CCNet head/middle/tail terciles under the held-out bigram LM "
    "(the real recipe: model trained on trusted text, tiers cut per "
    "language over the whole corpus); the ntile window sees only the "
    "(id, lang, long, long) score relation — never the document "
    "payload — and sorts by the IEEE quotient of two exact longs with "
    "the doc id as total tie-break.",
)
def bigram_perplexity_buckets(spark, sf_dir):
    docs, model = _bigram_model(spark, sf_dir)
    scores = text.bigram_logprob(docs, model)
    scored = scores.join(docs.select("doc_id", "lang"), "doc_id")
    order_key = F.col("sum_logp_micros") / F.col("n_tokens")
    w = Window.partitionBy("lang").orderBy(order_key.desc(), F.col("doc_id"))
    bucket = F.ntile(3).over(w)
    tier = (
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.select(
        "doc_id", "lang", "n_tokens", bucket.alias("bucket"), tier.alias("tier")
    )


# ------------------------------------------------------- kNN graph

_KNN_K = 3

# routing replay identical to pipeline2/3's IVF oracles: label-cell
# centroids, ROUND(cos, 6)-stable argmax assignment, then per-source
# top-k over within-cell pair cosines with (cos DESC, dst) total order.
_KNN_CTES = (
    _CENTROID_CTES
    + f""",
{IVF_ROUTE},
{MEM},
knnpairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         ROUND({cosine('a.v', 'b.v')}, 6) + 0.0
           AS cos_sim
  FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
knn AS (
  SELECT src, dst, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rk
  FROM knnpairs)
"""
)


@query(
    "knn_graph_edges",
    oracle=_KNN_CTES
    + f"""
SELECT src, dst, cos_sim FROM knn WHERE rk <= {_KNN_K}
""",
    doc=f"approximate kNN graph (k={_KNN_K}): each vector's top-k "
    "most-similar IVF-cell-mates by rounded cosine — candidate "
    "generation is the cell-bounded equi-join (sum(cell^2), never "
    "N^2) and the top-k window sees only the narrow (src, dst, cos) "
    "relation, never the vectors.",
)
def knn_graph_edges(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = similarity.embedding_centroids(emb, dim=_IVF_DIM)
    return similarity.knn_graph(emb, cents, k=_KNN_K)


# One materialized kNN edge relation shared by the downstream graph
# consumers (mirrors the LSH _PAIRS_MEMO design, pipeline.py:33): in a
# production pipeline the graph is built once and every analysis —
# components, density, centrality, communities, triangles — reads that
# relation (exactly the architecture the indexed/write_knn_graph
# queries benchmark on the storage path). knn_graph_edges deliberately
# does NOT use the memo: it *is* the benchmark of the graph build, so
# the bench accounting stays honest — build cost appears exactly once,
# under the query that builds it; consumers report their incremental
# fixpoint/contraction cost. The checkpointed relation is the narrow
# (src, dst, cos_sim) edge list, deterministic by construction (ROUND-6
# cosine with (cos DESC, dst) total order), so consumers produce
# bit-identical results to their previous inline builds. Keyed by
# (applicationId, sf_dir), capacity 1, eager localCheckpoint — same
# lifecycle rationale as _PAIRS_MEMO.
_KNN_EDGES_MEMO: dict[tuple[str, str], "object"] = {}


def _evict_knn_memo() -> None:
    for df in _KNN_EDGES_MEMO.values():
        try:
            df.rdd.unpersist(False)
        except Exception:
            pass
    _KNN_EDGES_MEMO.clear()


def clear_shared_knn_edges() -> None:
    """Drop the memoized kNN edge table (e.g. between benchmark phases)."""
    _evict_knn_memo()


def _shared_knn_edges(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _KNN_EDGES_MEMO:
        emb = _emb(spark, sf_dir)
        cents = similarity.embedding_centroids(emb, dim=_IVF_DIM)
        edges = similarity.knn_graph(emb, cents, k=_KNN_K)
        _evict_knn_memo()
        _KNN_EDGES_MEMO[key] = edges.localCheckpoint(eager=True)
    return _KNN_EDGES_MEMO[key]


@query(
    "mutual_knn_cluster_labels",
    oracle=_KNN_CTES.replace("WITH pos", "WITH RECURSIVE pos", 1)
    + f""",
mutual AS (
  SELECT a.src AS id_a, a.dst AS id_b
  FROM (SELECT src, dst FROM knn WHERE rk <= {_KNN_K}) a
  JOIN (SELECT src, dst FROM knn WHERE rk <= {_KNN_K}) b
    ON a.src = b.dst AND a.dst = b.src
  WHERE a.src < a.dst),
edges AS (
  SELECT id_a AS s, id_b AS d FROM mutual
  UNION
  SELECT id_b AS s, id_a AS d FROM mutual),
walk(id, node) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT w.id, e.d FROM walk w JOIN edges e ON e.s = w.node)
SELECT id AS vec_id, MIN(node) AS cluster_id FROM walk GROUP BY id
""",
    doc="semantic clusters from the mutual-kNN graph: symmetrize the "
    f"k={_KNN_K} graph (keep a-b only when both list each other — the "
    "standard hub-pruning step), then connected components via the "
    "shared alternating large-star/small-star contraction; every vector gets "
    "a cluster_id (singletons label themselves). Oracle is the "
    "recursive-CTE transitive closure.",
)
def mutual_knn_cluster_labels(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    # r12 measured an INLINE eager checkpoint of the graph slower than
    # letting the double-stamped pipeline overlap (7.9-8.9 vs
    # 6.9-8.3 s at sf0.1) — but the shared memo changes the economics:
    # the build is paid once across all seven graph consumers, and
    # every consumer after the first starts from the materialized
    # narrow edge list.
    graph = _shared_knn_edges(spark, sf_dir)
    pairs = similarity.mutual_knn_edges(graph)
    labels = dedup.cluster_labels(
        emb.select("vec_id"), pairs, id_col="vec_id", max_rounds=30,
        on_nonconverge="raise",
    )
    return labels.select(F.col("id").alias("vec_id"), "cluster_id")


@query(
    "knn_density_tiers",
    oracle=_KNN_CTES
    + f""",
edges AS (SELECT src, dst, cos_sim FROM knn WHERE rk <= {_KNN_K}),
dens AS (
  SELECT src AS vec_id,
         CAST(COUNT(*) AS BIGINT) AS n_neighbors,
         CAST(ROUND(SUM(CAST(ROUND(cos_sim * 1e6) AS BIGINT)) / COUNT(*)) AS BIGINT)
           AS mean_cos_micros,
         MAX(CAST(ROUND(cos_sim * 1e6) AS BIGINT)) AS max_cos_micros
  FROM edges GROUP BY 1),
alld AS (
  SELECT e.vec_id,
         COALESCE(d.n_neighbors, 0) AS n_neighbors,
         d.mean_cos_micros, d.max_cos_micros
  FROM embeddings e LEFT JOIN dens d USING (vec_id))
SELECT vec_id, n_neighbors, mean_cos_micros, max_cos_micros,
       CASE NTILE(3) OVER (ORDER BY mean_cos_micros DESC NULLS LAST, vec_id)
            WHEN 1 THEN 'prototype' WHEN 2 THEN 'typical' ELSE 'outlier'
       END AS tier
FROM alld
""",
    doc="dataset-cartography density tiers: per-vector mean/max "
    "neighbor cosine from the kNN graph as exact integer micro-units "
    "(order-independent long sums), every vector ranked into "
    "prototype/typical/outlier terciles (edge-less vectors sort last "
    "— the extreme outliers); the diversity-aware sampling dial. The "
    "tier window sees only the 4-column density relation.",
)
def knn_density_tiers(spark, sf_dir):
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    graph = _shared_knn_edges(spark, sf_dir)
    dens = similarity.knn_density(graph)
    alld = (
        emb.select("vec_id")
        .join(dens, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_neighbors", F.lit(0)).cast("long").alias("n_neighbors"),
            "mean_cos_micros",
            "max_cos_micros",
        )
    )
    w = Window.orderBy(F.desc_nulls_last("mean_cos_micros"), F.col("vec_id"))
    bucket = F.ntile(3).over(w)
    tier = (
        F.when(bucket == 1, F.lit("prototype"))
        .when(bucket == 2, F.lit("typical"))
        .otherwise(F.lit("outlier"))
    )
    return alld.select(
        "vec_id", "n_neighbors", "mean_cos_micros", "max_cos_micros", tier.alias("tier")
    )


# ------------------------------------------ IDF-weighted Jaccard verify

from renkodf_spark.queries.pipeline import _PAIRS_CTES, _shared_pairs  # noqa: E402

_WJACC_ORACLE = (
    _PAIRS_CTES
    + rf""",
dterms AS (
  SELECT doc_id,
         unnest(list_distinct({WS_TOKENS})) AS term
  FROM documents),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfq FROM dterms GROUP BY 1),
nd AS (SELECT COUNT(*) AS n FROM documents),
idf AS (
  SELECT term, CAST(ROUND((ln((n + 1) / (dfq + 1)) + 1) * 1e6) AS BIGINT) AS w
  FROM dfreq CROSS JOIN nd),
wt AS (SELECT doc_id, dterms.term, w FROM dterms JOIN idf USING (term)),
dsum AS (SELECT doc_id, SUM(w) AS s FROM wt GROUP BY 1),
shr AS (
  SELECT p.id_a, p.id_b, SUM(wa.w) AS shared
  FROM pairs p JOIN wt wa ON wa.doc_id = p.id_a
               JOIN wt wb ON wb.doc_id = p.id_b AND wb.term = wa.term
  GROUP BY 1, 2)
SELECT p.id_a, p.id_b,
       CAST(COALESCE(shared, 0) AS BIGINT) AS shared_idf_micros,
       CAST(sa.s + sb.s - COALESCE(shared, 0) AS BIGINT) AS union_idf_micros,
       ROUND(COALESCE(shared, 0) / (sa.s + sb.s - COALESCE(shared, 0)), 4)
         AS wjaccard
FROM pairs p
JOIN dsum sa ON sa.doc_id = p.id_a
JOIN dsum sb ON sb.doc_id = p.id_b
LEFT JOIN shr ON shr.id_a = p.id_a AND shr.id_b = p.id_b
"""
)


@query(
    "dedup_idf_weighted_jaccard",
    oracle=_WJACC_ORACLE,
    doc="rare-term-weighted verify for the shared LSH candidate pairs: "
    "weighted Jaccard with binary-presence x smoothed-IDF weights "
    "(= sum idf(shared) / sum idf(union)) — stopword overlap scores "
    "near zero, shared rare entities dominate; per-term IDF rounded "
    "once to integer micro-nats so both sums are exact longs, only "
    "the final ratio divides.",
)
def dedup_idf_weighted_jaccard(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return dedup.idf_weighted_jaccard_pairs(docs, _shared_pairs(spark, sf_dir))
