"""Round-7 training-pipeline gate queries: benchmark decontamination,
semantic (embedding) dedup, unigram-LM quality scoring, z-order layout
keys.

Oracles replay the exact normalized-token / md5 / rounded-cosine /
integer-micros arithmetic of the operators in DuckDB, following the
conventions established in pipeline.py / pipeline2.py (regexes pinned
to the Java-regex ∩ RE2 subset; float exports ROUNDed; log-prob sums
carried as exact integer micro-nats).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from renkodf_spark.functions import layout
from renkodf_spark.operators import corpus, pq, similarity, text
from renkodf_spark.queries.pipeline import _docs, _emb
from renkodf_spark.sources.tables import load_table
from renkodf_spark.queries.pipeline2 import _CENTROID_CTES, _IVF_DIM as _SEM_DIM
from renkodf_spark.queries.ctes import IVF_ROUTE, MEM, WS_TOKENS, cosine
from renkodf_spark.queries.registry import query

# -------------------------------------------------------- decontamination

_DECON_N = 5
_EVAL_MOD = 25  # every 25th doc contributes an eval snippet
_EVAL_START = 4  # 1-based token offset of the snippet
_EVAL_LEN = 16  # snippet length in tokens

# shared normalization CTE: same regexes as corpus._norm_gram_tokens
_DECON_CTES = rf"""
WITH nt AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
ev AS (
  SELECT doc_id AS eval_id, t[{_EVAL_START}:{_EVAL_START + _EVAL_LEN - 1}] AS t
  FROM nt WHERE doc_id % {_EVAL_MOD} = 0),
eg AS (
  SELECT DISTINCT eval_id,
         md5(array_to_string(t[s+1:s+{_DECON_N}], ' ')) AS gram
  FROM (SELECT eval_id, t,
               unnest(range(0, greatest(len(t) - {_DECON_N - 1}, 0))) AS s
        FROM ev)),
tg AS (
  SELECT doc_id, md5(array_to_string(t[s+1:s+{_DECON_N}], ' ')) AS gram
  FROM (SELECT doc_id, t,
               unnest(range(0, greatest(len(t) - {_DECON_N - 1}, 0))) AS s
        FROM nt)),
rep AS (
  SELECT tg.doc_id,
         COUNT(DISTINCT tg.gram) AS n_hit_grams,
         COUNT(DISTINCT eg.eval_id) AS n_eval_docs
  FROM tg JOIN eg USING (gram) GROUP BY 1)
"""

_DECON_REPORT_ORACLE = _DECON_CTES + "SELECT doc_id, n_hit_grams, n_eval_docs FROM rep"

_DECON_APPLY_ORACLE = (
    _DECON_CTES
    + """
SELECT d.doc_id, d.lang, d.source
FROM documents d LEFT JOIN rep USING (doc_id)
WHERE rep.doc_id IS NULL
"""
)


def _eval_snippets(spark, sf_dir):
    """Deterministic benchmark carve: every ``_EVAL_MOD``-th document
    contributes a ``_EVAL_LEN``-token snippet (normalized tokens
    ``_EVAL_START``..) as an eval 'prompt' — both engines derive the
    identical eval set from the corpus itself, so the gate needs no
    side-channel fixture."""
    toks = corpus._norm_gram_tokens("text")
    return (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.array_join(F.slice(toks, _EVAL_START, _EVAL_LEN), " ").alias("text"),
        )
    )


@query(
    "decontamination_report",
    oracle=_DECON_REPORT_ORACLE,
    doc="benchmark decontamination (GPT-3 appendix-C style): training "
    "docs sharing a normalized 5-gram with the eval snippet set, with "
    "distinct-gram and distinct-eval-doc hit counts. Eval grams are "
    "broadcast; the corpus is never shuffled.",
)
def decontamination_report(spark, sf_dir):
    return corpus.contamination(
        _docs(spark, sf_dir), _eval_snippets(spark, sf_dir), n=_DECON_N
    )


@query(
    "decontaminated_corpus",
    oracle=_DECON_APPLY_ORACLE,
    doc="the apply stage: corpus minus every doc flagged by "
    "decontamination_report (left-anti on the narrow report).",
)
def decontaminated_corpus(spark, sf_dir):
    kept = corpus.decontaminate(
        _docs(spark, sf_dir), _eval_snippets(spark, sf_dir), n=_DECON_N
    )
    return kept.select("doc_id", "lang", "source")


# ------------------------------------------------------ unigram LM quality

# Integer micro-nat replay: the per-term log-prob is rounded ONCE to a
# BIGINT and all sums are exact integer arithmetic, so the only float
# step both engines share is ln() of identical doubles (same ROUND-once
# convention as tfidf_top_terms' score rank).
_UNIGRAM_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, {WS_TOKENS} AS t FROM documents),
pairs AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY 1, 2),
counts AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT SUM(cnt) AS T, COUNT(*) AS V FROM counts),
model AS (
  SELECT term,
         CAST(ROUND(ln((cnt + 1) / (T + 1 * V)) * 1e6) AS BIGINT) AS lp
  FROM counts CROSS JOIN tot)
SELECT tf.doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(SUM(tf * lp) AS BIGINT) AS sum_logp_micros,
       ROUND(CAST(SUM(tf * lp) AS BIGINT) / (CAST(SUM(tf) AS BIGINT) * 1e6), 6) AS avg_logp
FROM tf JOIN model USING (term)
GROUP BY 1
"""


@query(
    "unigram_doc_quality",
    oracle=_UNIGRAM_ORACLE,
    doc="CCNet-style statistical quality score: per-doc mean token "
    "log-prob under an add-1-smoothed unigram LM trained on the corpus "
    "itself, carried as exact integer micro-nats so distributed sums "
    "hash-match a serial replay.",
)
def unigram_doc_quality(spark, sf_dir):
    return text.unigram_logprob(_docs(spark, sf_dir))


# ----------------------------------------------------------- semantic dedup

_SEMDEDUP_THR = 0.4

# routing replay identical to pipeline2's IVF oracles; the drop stage
# joins cell members pairwise and removes every vector with a rounded
# cosine >= threshold to a lower id in its cell.
_SEMDEDUP_ORACLE = (
    _CENTROID_CTES
    + f""",
{IVF_ROUTE},
{MEM},
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id > b.vec_id
  WHERE ROUND({cosine('a.v', 'b.v')}, 6)
        >= {_SEMDEDUP_THR})
SELECT mem.vec_id, mem.cell FROM mem LEFT JOIN dropped USING (vec_id)
WHERE dropped.vec_id IS NULL
"""
)


@query(
    "semantic_dedup_keep",
    oracle=_SEMDEDUP_ORACLE,
    doc="SemDeDup: embeddings kept after dropping every vector whose "
    "rounded cosine to a lower-id member of its IVF cell reaches 0.4 "
    "(the gate corpus is near-orthogonal synthetic — see ann_recall_report) — "
    "cell-bounded pairwise term, greedy-by-id keep policy.",
)
def semantic_dedup_keep(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = similarity.embedding_centroids(emb, dim=_SEM_DIM)
    return similarity.semantic_dedup(emb, cents, threshold=_SEMDEDUP_THR)


# r11 (VERDICT r10 item 4): the hot-cell guard, oracle-proven — the
# oracle replays the cell-size window, the ceil(n/cap) sub-cell count,
# the pmod(id, n_sub) round-robin split, and the within-sub-cell drop.
_SEMDEDUP_CAP = 20

_SEMDEDUP_CAPPED_ORACLE = (
    _CENTROID_CTES
    + f""",
{IVF_ROUTE},
{MEM},
subbed AS (
  SELECT vec_id, cell, v,
         vec_id % CAST(CEIL(COUNT(*) OVER (PARTITION BY cell)
                            / {_SEMDEDUP_CAP}.0) AS BIGINT) AS sub
  FROM mem),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM subbed a JOIN subbed b
    ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id > b.vec_id
  WHERE ROUND({cosine('a.v', 'b.v')}, 6)
        >= {_SEMDEDUP_THR})
SELECT s.vec_id, s.cell FROM subbed s LEFT JOIN dropped USING (vec_id)
WHERE dropped.vec_id IS NULL
"""
)


@query(
    "semantic_dedup_capped",
    oracle=_SEMDEDUP_CAPPED_ORACLE,
    doc="SemDeDup with the r11 hot-cell spill active (max_cell_size="
    f"{_SEMDEDUP_CAP}, small enough that every cell splits at both gate "
    "SFs): over-size cells split round-robin by pmod(id, ceil(n/cap)) "
    "and pairs compare only within a sub-cell — bounding the "
    "pathological sum(cell^2) term; the oracle replays the size window, "
    "the split arithmetic, and the capped drop set exactly.",
)
def semantic_dedup_capped(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = similarity.embedding_centroids(emb, dim=_SEM_DIM)
    return similarity.semantic_dedup(
        emb, cents, threshold=_SEMDEDUP_THR, max_cell_size=_SEMDEDUP_CAP
    )


# ------------------------------------------------------------ z-order layout

_Z_BITS = 16

# x = user_id, y = integer-cents value; both masked to 16 bits inside
# the shared Morton generator (two's-complement & is identical in Spark
# and DuckDB, so negative cents mask consistently too)
_Z_SQL = layout.zvalue_sql("user_id", "CAST(FLOOR(value * 100) AS BIGINT)", bits=_Z_BITS)

_ZORDER_ORACLE = f"""
WITH z AS (SELECT {_Z_SQL} AS zkey FROM events)
SELECT zkey >> 24 AS z_bucket,
       COUNT(*) AS n_events,
       MIN(zkey) AS min_z,
       MAX(zkey) AS max_z
FROM z GROUP BY 1
"""


@query(
    "zorder_events_hist",
    oracle=_ZORDER_ORACLE,
    doc="Morton (z-order) layout key over (user_id, value-cents) with a "
    "per-bucket histogram — the clustering key a compaction pass sorts "
    "by so parquet footer stats prune scans on EITHER dimension; the "
    "oracle replays the generated bit-interleave SQL verbatim.",
)
def zorder_events_hist(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    z = layout.zvalue(
        F.col("user_id"), F.floor(F.col("value") * 100).cast("long"), bits=_Z_BITS
    )
    return (
        ev.select(z.alias("zkey"))
        .groupBy(F.shiftright(F.col("zkey"), 24).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("zkey").alias("min_z"),
            F.max("zkey").alias("max_z"),
        )
    )


# --------------------------------------------------- temperature sampling

_TEMP_ALPHA = 0.5
_TEMP_TARGET = 200

# weight = round(n^alpha * 1e6) as BIGINT (exact normalizer sum), rate
# and threshold re-derived with the identical op order; the h48 compare
# is the lang_rate_sample convention.
_TEMP_ORACLE = f"""
WITH c AS (
  SELECT coalesce(lang, chr(0) || 'null') AS g, COUNT(*) AS n
  FROM documents GROUP BY 1),
w AS (
  SELECT g, n, CAST(ROUND(pow(n::DOUBLE, {_TEMP_ALPHA}) * 1e6) AS BIGINT) AS wt
  FROM c),
tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS W FROM w),
t AS (
  SELECT g,
         CAST(ROUND(LEAST(1.0, {float(_TEMP_TARGET)} * wt / W / n) * {1 << 48}) AS BIGINT)
           AS thresh
  FROM w CROSS JOIN tot)
SELECT d.doc_id, d.lang
FROM documents d JOIN t ON coalesce(d.lang, chr(0) || 'null') = t.g
WHERE ('0x' || substr(md5('sample:' || d.doc_id::VARCHAR), 1, 12))::BIGINT < t.thresh
"""


@query(
    "lang_temperature_sample",
    oracle=_TEMP_ORACLE,
    doc="UniMax/XLM-style temperature rebalancing: per-language keep "
    "rates proportional to n^0.5 toward a 200-doc target, applied with "
    "the deterministic 48-bit hash threshold — weights carried as exact "
    "integer micro-units so the normalizer sum is order-independent.",
)
def lang_temperature_sample(spark, sf_dir):
    return corpus.temperature_sample(
        _docs(spark, sf_dir), alpha=_TEMP_ALPHA, target_total=_TEMP_TARGET
    ).select("doc_id", "lang")


# -------------------------------------------------- product quantization

_PQ_M = 8
_PQ_DSUB = _SEM_DIM // _PQ_M  # 8

# per-(sub, code) codebooks are positional re-groupings of the labeled
# centroid means (same AVG + ROUND convention as _CENTROID_CTES)
_PQ_BOOKS_CTES = f"""
WITH pos AS (SELECT unnest(range(1, {_SEM_DIM + 1})) AS i),
mm AS (
  SELECT label AS code, i, AVG(embedding[i]::DOUBLE) AS mval
  FROM embeddings CROSS JOIN pos GROUP BY 1, 2),
books AS (
  SELECT CAST((i - 1) // {_PQ_DSUB} AS INT) AS sub, code,
         LIST(ROUND(mval, 6) + 0.0 ORDER BY i) AS cv
  FROM mm GROUP BY 1, 2)
"""

_PQ_CODEBOOKS_ORACLE = (
    _PQ_BOOKS_CTES
    + f""",
n AS (SELECT label AS code, COUNT(*) AS n_vectors FROM embeddings GROUP BY 1)
SELECT CAST((i - 1) // {_PQ_DSUB} AS INT) AS sub, mm.code,
       CAST((i - 1) % {_PQ_DSUB} AS INT) AS dim_idx,
       ROUND(mval, 6) + 0.0 AS val, n.n_vectors
FROM mm JOIN n USING (code)
"""
)


@query(
    "pq_codebooks",
    oracle=_PQ_CODEBOOKS_ORACLE,
    doc="PQ training: per-subspace codebooks (8 subspaces x 8 dims) as "
    "element-wise means of the labeled sample — exported one row per "
    "(sub, code, dim) with rounded values.",
)
def pq_codebooks(spark, sf_dir):
    books = pq.pq_codebooks(_emb(spark, sf_dir), dim=_SEM_DIM, m=_PQ_M)
    return books.select(
        "sub",
        "code",
        F.posexplode("subcentroid").alias("dim_idx", "__v"),
        "n_vectors",
    ).select(
        "sub", "code", "dim_idx", (F.round("__v", 6) + F.lit(0.0)).alias("val"), "n_vectors"
    )


# encode = per-(vec, sub) argmin of ROUND(<x,x> - 2<x,c> + <c,c>, 6),
# ties to the smallest code
_PQ_ASSIGN_CTES = (
    _PQ_BOOKS_CTES
    + f""",
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sv AS (
  SELECT vec_id, sub, v[sub * {_PQ_DSUB} + 1 : (sub + 1) * {_PQ_DSUB}] AS x
  FROM vecs CROSS JOIN (SELECT DISTINCT sub FROM books) s(sub)),
assign AS (
  SELECT vec_id, sub, code,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id, sub
           ORDER BY ROUND(list_dot_product(x, x) - 2.0 * list_dot_product(x, cv)
                          + list_dot_product(cv, cv), 6) ASC,
                    code) AS rk
  FROM sv JOIN books USING (sub)),
codes AS (SELECT vec_id, sub, CAST(code AS INT) AS code FROM assign WHERE rk = 1)
"""
)

_PQ_HIST_ORACLE = (
    _PQ_ASSIGN_CTES
    + """
SELECT sub, code, COUNT(*) AS n_vectors FROM codes GROUP BY 1, 2
"""
)


@query(
    "pq_code_hist",
    oracle=_PQ_HIST_ORACLE,
    doc="PQ encoding observability: per-(subspace, code) assignment "
    "counts after encoding the whole corpus — the histogram a caller "
    "reads to spot dead or overloaded codes.",
)
def pq_code_hist(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    books = pq.pq_codebooks(emb, dim=_SEM_DIM, m=_PQ_M).cache()
    codes = pq.pq_encode(emb, books, dim=_SEM_DIM, m=_PQ_M)
    return (
        codes.select(F.posexplode("codes").alias("sub", "code"))
        .groupBy("sub", "code")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


_PQ_ADC_ORACLE = (
    _PQ_ASSIGN_CTES
    + f""",
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < 5),
lut AS (
  SELECT q.query_id, b.sub, CAST(b.code AS INT) AS code,
         CAST(ROUND(list_dot_product(
             q.v[b.sub * {_PQ_DSUB} + 1 : (b.sub + 1) * {_PQ_DSUB}], b.cv) * 1e6)
           AS BIGINT) AS lutv
  FROM q CROSS JOIN books b),
scored AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, SUM(l.lutv) AS score_micros
  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
  WHERE c.vec_id <> l.query_id
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, neighbor_id, CAST(score_micros AS BIGINT) AS score_micros,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_micros DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, score_micros FROM ranked WHERE rank <= 5
"""
)


@query(
    "pq_adc_topk",
    oracle=_PQ_ADC_ORACLE,
    doc="PQ asymmetric-distance top-5: queries precompute an m x k "
    "inner-product lookup table in integer micro-units; every corpus "
    "vector's score is an exact long sum of m lookups over its 8-int "
    "code — the representation that makes 100 TB of embeddings "
    "scannable.",
)
def pq_adc_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    books = pq.pq_codebooks(emb, dim=_SEM_DIM, m=_PQ_M).cache()
    codes = pq.pq_encode(emb, books, dim=_SEM_DIM, m=_PQ_M)
    return pq.pq_adc_topk(
        codes, emb.filter(F.col("vec_id") < 5), books, dim=_SEM_DIM, m=_PQ_M, k=5
    )
