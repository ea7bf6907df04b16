"""Round-11 pipeline queries: model-based quality filtering — the
distributed Naive-Bayes classifier (``operators/classifier.py``), the
counting-only member of the fastText-filter family used by the
GPT-3 / LLaMA / CCNet pipelines.

Oracles replay the integer micro-nat convention of
``unigram_doc_quality`` (pipeline3): the per-term log-likelihood ratio
is rounded ONCE to a BIGINT; every downstream sum is exact long
arithmetic; the only float steps both engines share are ln() of
identical integer-derived doubles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from renkodf_spark.operators import classifier
from renkodf_spark.queries.pipeline import _docs
from renkodf_spark.queries.ctes import WS_TOKENS
from renkodf_spark.queries.registry import query

# the "trusted target domain" of the CCNet recipe, deterministic from
# the gate data: documents from source src0 are the positive class.
_TARGET = "src0"


def _positive():
    return F.col("source") == _TARGET


# shared CTEs: whitespace tokens (the unigram_logprob convention),
# per-class term counts over the SHARED vocabulary, add-1-smoothed LLR
# rounded once to integer micro-nats.
_NB_CTES = rf"""
WITH pairs AS (
  SELECT CASE WHEN source = '{_TARGET}' THEN 1 ELSE 0 END AS pos,
         unnest({WS_TOKENS}) AS term
  FROM documents),
counts AS (
  SELECT term,
         CAST(SUM(pos) AS BIGINT) AS cnt_pos,
         CAST(SUM(1 - pos) AS BIGINT) AS cnt_neg
  FROM pairs GROUP BY 1),
tot AS (SELECT SUM(cnt_pos) AS Tp, SUM(cnt_neg) AS Tn, COUNT(*) AS V
        FROM counts),
model AS (
  SELECT term, cnt_pos, cnt_neg,
         CAST(ROUND((ln((cnt_pos + 1) / (Tp + 1 * V))
                   - ln((cnt_neg + 1) / (Tn + 1 * V))) * 1e6) AS BIGINT)
           AS llr_micros
  FROM counts CROSS JOIN tot),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id,
               unnest({WS_TOKENS}) AS term
        FROM documents)
  GROUP BY 1, 2),
prior AS (
  SELECT CAST(ROUND(ln(
           CAST(SUM(CASE WHEN source = '{_TARGET}' THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(SUM(CASE WHEN source = '{_TARGET}' THEN 0 ELSE 1 END) AS DOUBLE)
         ) * 1e6) AS BIGINT) AS p
  FROM documents),
scores AS (
  SELECT tf.doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(SUM(tf * COALESCE(llr_micros, 0)) AS BIGINT) + p AS score_micros,
         (CAST(SUM(tf * COALESCE(llr_micros, 0)) AS BIGINT) + p) > 0 AS predicted
  FROM tf LEFT JOIN model USING (term) CROSS JOIN prior
  GROUP BY 1, p)
"""


@query(
    "nb_classifier_model",
    oracle=_NB_CTES
    + """
SELECT term, cnt_pos, cnt_neg, llr_micros
FROM model ORDER BY llr_micros DESC, term LIMIT 100
""",
    doc="train the NB quality-filter model (positive class = source "
    f"'{_TARGET}') and inspect the 100 most target-indicative terms; "
    "training is two map-side-combined aggregations keyed by term — "
    "document text never shuffles.",
)
def nb_classifier_model(spark, sf_dir):
    model = classifier.nb_train(_docs(spark, sf_dir), positive=_positive())
    return model.orderBy(F.desc("llr_micros"), "term").limit(100)


@query(
    "nb_classifier_scores",
    oracle=_NB_CTES + "SELECT doc_id, n_tokens, score_micros, predicted FROM scores",
    doc="score every document under the trained model: integer "
    "micro-nat sum of per-term LLRs plus the class prior; predicted = "
    "MAP rule score > 0. One vocab-keyed equi-join, no text exchange.",
)
def nb_classifier_scores(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    model = classifier.nb_train(docs, positive=_positive())
    return classifier.nb_score(docs, model, positive=_positive())


@query(
    "nb_classifier_eval",
    oracle=_NB_CTES
    + f"""
SELECT (source = '{_TARGET}') AS is_target, predicted,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents JOIN scores USING (doc_id)
GROUP BY 1, 2
""",
    doc="train-on-self confusion matrix against the deterministic "
    "proxy label — the bounded (<=4 row) relation precision/recall "
    "derive from; composes train -> score -> eval in one DAG.",
)
def nb_classifier_eval(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    model = classifier.nb_train(docs, positive=_positive())
    scores = classifier.nb_score(docs, model, positive=_positive())
    return classifier.nb_eval(docs, scores, positive=_positive())
