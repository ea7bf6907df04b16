"""Round-7 phase-3 training-pipeline gate queries: Gopher rule-based
filtering, C4-style cross-document boilerplate line removal, and
frequency-vocab build + tokenization.

Oracles follow the house conventions (pipeline.py / pipeline2.py /
pipeline3.py): regexes pinned to the Java-regex ∩ RE2 subset, float
features ROUNDed once and thresholds compared on the rounded values,
sequences exported as md5 digests of position-ordered joins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from renkodf_spark.operators import corpus, pq, similarity, text
from renkodf_spark.plans.persist import persist_block
from renkodf_spark.queries.pipeline import _docs, _emb
from renkodf_spark.queries.pipeline2 import _IVF_DIM
from renkodf_spark.queries.pipeline3 import _PQ_ASSIGN_CTES, _PQ_DSUB, _PQ_M
from renkodf_spark.queries.ctes import WS_TOKENS
from renkodf_spark.queries.registry import query

# --------------------------------------------------------- Gopher rules

# thresholds chosen to exercise both outcomes on the gate corpus
# (10-99 words/doc, stopword hits 0-1 — only 'the' occurs in its
# 31-term vocabulary): the word-count floor and the stopword rule are
# the discriminating ones; the rest sit at the published Gopher
# defaults
_G_MIN_WORDS = 30
_G_MIN_STOP = 1

_STOP_HITS_SQL = " + ".join(
    f"list_contains(t, '{w}')::INT" for w in text.GOPHER_STOPWORDS
)

_GOPHER_ORACLE = rf"""
WITH f AS (
  SELECT doc_id, text,
         {WS_TOKENS} AS t,
         string_split(text, chr(10)) AS ls
  FROM documents),
s AS (
  SELECT doc_id,
         len(t) AS n_words,
         CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS wc,
         length(text) - length(replace(text, '#', '')) AS hashes,
         CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS ell3,
         length(text) - length(replace(text, '…', '')) AS uell,
         len(ls) AS n_lines,
         len(list_filter(ls, x -> regexp_matches(x, '^\s*[-*•]'))) AS bl,
         len(list_filter(ls, x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS el,
         len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS aw,
         {_STOP_HITS_SQL} AS stopword_hits
  FROM f),
feat AS (
  SELECT doc_id, n_words,
         ROUND(wc / n_words, 6) AS avg_word_len,
         ROUND((hashes + ell3 + uell) / n_words, 6) AS symbol_word_ratio,
         ROUND(bl / n_lines, 6) AS bullet_line_frac,
         ROUND(el / n_lines, 6) AS ellipsis_line_frac,
         ROUND(aw / n_words, 6) AS alpha_word_frac,
         stopword_hits
  FROM s)
SELECT feat.*,
       CASE WHEN n_words BETWEEN {_G_MIN_WORDS} AND 100000
              AND avg_word_len BETWEEN 3.0 AND 10.0
              AND symbol_word_ratio <= 0.1
              AND bullet_line_frac <= 0.9
              AND ellipsis_line_frac <= 0.3
              AND alpha_word_frac >= 0.8
              AND stopword_hits >= {_G_MIN_STOP}
            THEN 1 ELSE 0 END AS gopher_pass
FROM feat
"""


@query(
    "gopher_quality_filter",
    oracle=_GOPHER_ORACLE,
    doc="Gopher rule-based filter (Rae et al. 2021 A1): per-doc rule "
    "features (word count, mean word length, symbol/bullet/ellipsis "
    "ratios, alphabetic fraction, stopword hits) plus the 0/1 verdict — "
    "a pure narrow projection that pipelines with the scan.",
)
def gopher_quality_filter(spark, sf_dir):
    return text.gopher_rules(
        _docs(spark, sf_dir), min_words=_G_MIN_WORDS, min_stop_hits=_G_MIN_STOP
    )


# ------------------------------------------- boilerplate line removal

# the gate corpus is single-line, so the gate derives a multi-line one
# deterministically: a header shared by every doc (always removed), a
# per-language footer (removed — each language has > max_docs docs), a
# 'sig' line shared by exactly max_docs docs (kept — pins the <= edge),
# and the unique body (kept)
_BOILER_MAX_DOCS = 2

_BOILER_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         '== shared header ==' || chr(10) || text || chr(10) ||
         'sig ' || (doc_id % 250)::VARCHAR || chr(10) ||
         'footer for ' || coalesce(lang, 'und') AS t
  FROM documents),
lx AS (
  SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, ls
  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d)),
ex AS (
  SELECT doc_id, pos, ls[pos] AS line, md5(lower(trim(ls[pos]))) AS k
  FROM lx),
freq AS (SELECT k, COUNT(DISTINCT doc_id) AS n_docs FROM ex GROUP BY 1),
fl AS (
  SELECT ex.doc_id, ex.pos, ex.line, freq.n_docs <= {_BOILER_MAX_DOCS} AS keep
  FROM ex JOIN freq USING (k))
SELECT doc_id,
       CAST(SUM(keep::INT) AS BIGINT) AS n_lines_kept,
       CAST(SUM((NOT keep)::INT) AS BIGINT) AS n_lines_removed,
       md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY pos), '')) AS clean_digest
FROM fl GROUP BY 1
"""


@query(
    "boilerplate_line_removal",
    oracle=_BOILER_ORACLE,
    doc="C4-style cross-doc boilerplate removal: lines whose normalized "
    "form appears in > 2 documents are dropped everywhere and documents "
    "reassembled in order — the shared header and per-language footers "
    "the gate injects vanish, unique bodies survive. Only 32-char line "
    "digests shuffle; the text shuffles once, keyed by doc.",
)
def boilerplate_line_removal(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("== shared header ==\n"),
            F.col("text"),
            F.lit("\nsig "),
            (F.col("doc_id") % 250).cast("string"),
            F.lit("\nfooter for "),
            F.coalesce(F.col("lang"), F.lit("und")),
        ).alias("text"),
    )
    out = corpus.remove_boilerplate_lines(d, max_docs=_BOILER_MAX_DOCS)
    return out.select(
        "doc_id",
        "n_lines_kept",
        "n_lines_removed",
        F.md5("clean_text").alias("clean_digest"),
    )


# ------------------------------------------------ vocab build + encode

# the gate corpus has 31 distinct terms, so size=20 exercises both the
# truncation and the OOV path
_VOCAB_SIZE = 20
_UNK = -1

_VOCAB_CTES = rf"""
WITH pairs AS (
  SELECT unnest({WS_TOKENS}) AS term
  FROM documents),
counts AS (SELECT term, COUNT(*) AS cnt FROM pairs GROUP BY 1),
vocab AS (
  SELECT term, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, term) - 1 AS token_id
  FROM counts QUALIFY token_id < {_VOCAB_SIZE})
"""

_VOCAB_ORACLE = _VOCAB_CTES + "SELECT term, cnt, token_id FROM vocab"

_ENCODE_ORACLE = (
    _VOCAB_CTES
    + rf""",
lx AS (
  SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, t
  FROM (SELECT doc_id, {WS_TOKENS} AS t
        FROM documents)),
p AS (SELECT doc_id, pos, t[pos] AS term FROM lx),
j AS (
  SELECT p.doc_id, p.pos, coalesce(v.token_id, {_UNK}) AS tid
  FROM p LEFT JOIN vocab v USING (term))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM((tid = {_UNK})::INT) AS BIGINT) AS n_unk,
       md5(string_agg(tid::VARCHAR, ',' ORDER BY pos)) AS ids_digest
FROM j GROUP BY 1
"""
)


@query(
    "vocab_top_terms",
    oracle=_VOCAB_ORACLE,
    doc="frequency-vocab build: the top-20 terms by (count desc, term "
    "asc) with dense ids assigned in that order — distributed "
    "TakeOrdered; the single-partition id window only ever sees the "
    "bounded ≤size-row result.",
)
def vocab_top_terms(spark, sf_dir):
    return text.build_vocab(_docs(spark, sf_dir), size=_VOCAB_SIZE)


@query(
    "vocab_encoded_docs",
    oracle=_ENCODE_ORACLE,
    doc="tokenization against the built vocab: per-doc token counts, "
    "OOV counts, and an md5 digest of the position-ordered id sequence "
    "— broadcast vocab join, one doc-keyed shuffle.",
)
def vocab_encoded_docs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    vocab = text.build_vocab(docs, size=_VOCAB_SIZE)
    enc = text.encode_with_vocab(docs, vocab, unk_id=_UNK)
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_unk",
        F.md5(
            F.array_join(
                F.transform("token_ids", lambda x: x.cast("string")), ","
            )
        ).alias("ids_digest"),
    )


# ----------------------------------------------------------------- IVF-PQ

_IVFPQ_NPROBE = 2
_IVFPQ_K = 5

# routing replay (rounded cosine, ties to smallest cell — the
# nearest_centroid convention) composed with pipeline3's codebook /
# encode CTEs; the full-dim cell centroids are re-derived from the same
# per-(code, dim) means the subspace books regroup
_IVFPQ_ROUTE_RANK = """
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ROUND(list_dot_product(v.v, c.cv)
                            / (sqrt(list_dot_product(v.v, v.v))
                               * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.cell) AS rk
"""

_IVFPQ_ORACLE = (
    _PQ_ASSIGN_CTES
    + f""",
cents AS (SELECT code AS cell, LIST(mval ORDER BY i) AS cv FROM mm GROUP BY 1),
crt AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell, {_IVFPQ_ROUTE_RANK}
    FROM vecs v CROSS JOIN cents c)
  WHERE rk = 1),
qrt AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT v.vec_id, c.cell, {_IVFPQ_ROUTE_RANK}
    FROM vecs v CROSS JOIN cents c
    WHERE v.vec_id < 5)
  WHERE rk <= {_IVFPQ_NPROBE}),
qlut AS (
  SELECT q.query_id, q.cell AS qcell, b.sub, CAST(b.code AS INT) AS code,
         CAST(ROUND(list_dot_product(
             v.v[b.sub * {_PQ_DSUB} + 1 : (b.sub + 1) * {_PQ_DSUB}], b.cv) * 1e6)
           AS BIGINT) AS lutv
  FROM qrt q JOIN vecs v ON v.vec_id = q.query_id CROSS JOIN books b),
scored AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, SUM(l.lutv) AS score_micros
  FROM codes c
  JOIN crt r ON r.vec_id = c.vec_id
  JOIN qlut l ON r.cell = l.qcell AND c.sub = l.sub AND c.code = l.code
  WHERE c.vec_id <> l.query_id
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, neighbor_id, CAST(score_micros AS BIGINT) AS score_micros,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_micros DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, score_micros
FROM ranked WHERE rank <= {_IVFPQ_K}
"""
)


@query(
    "similarity_ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    doc="IVF-PQ top-5 (FAISS-style composition): IVF routing bounds "
    "which rows are scored (n_probe=2 cells per query), PQ bounds what "
    "is read per row (8 codes, exact long ADC sums) — one fused corpus "
    "scan, broadcast cell join, zero corpus shuffle.",
)
def similarity_ivfpq_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    # r15 (guide §2.4/§3.3, VERDICT r14 item 7): cells and codebooks
    # train from the SAME per-label aggregate — pq_codebooks re-ran the
    # whole cells x dim corpus aggregation that embedding_centroids
    # already computed (one extra full corpus scan at 100 TB), and the
    # centroid relation's 3 consumers (corpus routing, query probes,
    # books) each re-stamped it into the plan. Persist the one
    # aggregate and derive the books as a narrow reshape — values
    # bit-identical (same means, same rounding; see
    # pq.codebooks_from_centroids).
    cents = persist_block(similarity.embedding_centroids(emb, dim=_IVF_DIM))
    books = pq.codebooks_from_centroids(cents, dim=_IVF_DIM, m=_PQ_M)
    return pq.ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        cents,
        books,
        dim=_IVF_DIM,
        m=_PQ_M,
        k=_IVFPQ_K,
        n_probe=_IVFPQ_NPROBE,
    )
