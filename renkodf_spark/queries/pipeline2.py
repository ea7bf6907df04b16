"""Corpus-curation gate queries (the *apply* half of the training-data
pipeline): dedup filtering, document chunking, PII redaction,
deterministic splits, quota sampling.

Oracles replay the exact md5/regexp/slice arithmetic of
``operators/corpus.py`` in DuckDB; regex patterns are pinned to the
Java-regex ∩ RE2 shared subset so both engines match the same spans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from renkodf_spark.operators import corpus, dedup, similarity, text
from renkodf_spark.plans.persist import persist_block
from renkodf_spark.queries.pipeline import (
    _LANG_CASE,
    _LANG_SCORES,
    _PAIRS_CTES,
    _docs,
    _emb,
    _rp_bucket_sql,
    _shared_pairs,
)
from renkodf_spark.queries.ctes import (
    CELL_COS,
    CENTS,
    COMPONENT_WALK,
    COS_RANK,
    COS_TOP5,
    IVF_ROUTE,
    VECS,
    WS_TOKENS,
    assign,
    scored,
    top_ids,
)
from renkodf_spark.queries.registry import query

# ------------------------------------------------------- dedup apply stage

_DEDUP_FILTER_ORACLE = (
    _PAIRS_CTES.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + f""",
{COMPONENT_WALK},
labels AS (SELECT id, MIN(node) AS cluster_id FROM walk GROUP BY id),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY cluster_id)
SELECT l.id AS doc_id, s.cluster_size
FROM labels l JOIN sizes s USING (cluster_id)
WHERE l.id = l.cluster_id
"""
)


@query(
    "corpus_dedup_filter",
    oracle=_DEDUP_FILTER_ORACLE,
    doc="end-to-end dedup apply: keep the canonical doc per near-dup "
    "cluster (id == cluster label) with the cluster size it represents.",
)
def corpus_dedup_filter(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    labels = dedup.cluster_labels(
        docs, _shared_pairs(spark, sf_dir), on_nonconverge="raise"
    )
    return corpus.dedup_filter(docs, labels).select("doc_id", "cluster_size")


# ------------------------------------------------------------- chunking

_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24

_CHUNKS_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, {WS_TOKENS} AS t FROM documents
),
st AS (
  SELECT doc_id, t, unnest(range(0, len(t), {_CHUNK_STRIDE})) AS s FROM toks
)
SELECT doc_id,
       (s // {_CHUNK_STRIDE}) AS chunk_id,
       len(t[s+1 : s+{_CHUNK_SIZE}]) AS n_tokens,
       md5(array_to_string(t[s+1 : s+{_CHUNK_SIZE}], ' ')) AS chunk_digest
FROM st
"""


@query(
    "corpus_chunks",
    oracle=_CHUNKS_ORACLE,
    doc="overlapping token-window chunking (size 32, stride 24) — the "
    "fixed-context pre-tokenization split; digest stands in for the text.",
)
def corpus_chunks(spark, sf_dir):
    chunks = corpus.chunk_documents(
        _docs(spark, sf_dir), chunk_size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )
    return chunks.select(
        "doc_id", "chunk_id", "n_tokens", F.md5("chunk_text").alias("chunk_digest")
    )


# --------------------------------------------------------- PII redaction

# Deterministic augmentation so the patterns actually fire: every third
# doc gets one email + one IPv4 + one phone appended. Both engines build
# the identical augmented text from doc_id arithmetic.
# counts replay the operator's SEQUENTIAL semantics: kind k counts on
# the text with earlier kinds already replaced (see corpus.redact_pii)
_PII_COUNT_PARTS = []
_PII_REDACT_SQL = "text"
for _kind, _pat in corpus.PII_PATTERNS.items():
    _PII_COUNT_PARTS.append(
        "len(regexp_extract_all(" + _PII_REDACT_SQL + ", '" + _pat + "')) AS n_" + _kind
    )
    _PII_REDACT_SQL = (
        "regexp_replace(" + _PII_REDACT_SQL + ", '" + _pat + "', '<" + _kind.upper() + ">', 'g')"
    )
_PII_COUNTS_SQL = ",\n       ".join(_PII_COUNT_PARTS)

_PII_ORACLE = """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact u' || doc_id::VARCHAR || '@ex.co at 10.0.'
                   || (doc_id % 256)::VARCHAR || '.7 or 555-123-4567'
              ELSE text END AS text
  FROM documents)
SELECT doc_id,
       {counts},
       md5({redact}) AS clean_digest
FROM aug
""".format(counts=_PII_COUNTS_SQL, redact=_PII_REDACT_SQL)


@query(
    "pii_redaction",
    oracle=_PII_ORACLE,
    doc="email/IPv4/phone span counting + placeholder redaction over a "
    "deterministically PII-augmented corpus (patterns in the "
    "Java-regex ∩ RE2 subset).",
)
def pii_redaction(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@ex.co at 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 or 555-123-4567"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return corpus.redact_pii(aug)


# ------------------------------------------------------ deterministic split

_SPLIT_ORACLE = """
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 12))::BIGINT % 100 AS bucket
  FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'valid'
            ELSE 'test' END AS split
FROM b
"""


@query(
    "train_test_split",
    oracle=_SPLIT_ORACLE,
    doc="deterministic 90/5/5 holdout split by salted id hash — stable "
    "across runs, partitionings, and cluster sizes (unlike randomSplit).",
)
def train_test_split(spark, sf_dir):
    return corpus.hash_split(_docs(spark, sf_dir)).select("doc_id", "bucket", "split")


# ------------------------------------------------- winnowing (MOSS)

_WINNOW_K = 3
_WINNOW_W = 4
# hot-fingerprint cap (the LSH MAX_BUCKET convention): a boilerplate
# phrase shared by millions of docs would otherwise make its
# fingerprint bucket quadratic; the cap keeps the first N docs per fp
# (deterministic by id), trading recall only inside over-cap buckets
_WINNOW_MAX_FP = 1000

# grams: 0-based k-gram offsets + the 48-bit md5-prefix hash (the
# hash_split BIGINT convention); windows: every full w-window as a
# (window-end, member) range join; selection: min hash per window,
# RIGHTMOST position on ties (MAX(i) over the min-hash members)
_WINNOW_CTES = rf"""
WITH toks AS (
  SELECT doc_id, {WS_TOKENS} AS t FROM documents),
gh AS (
  SELECT doc_id, unnest(range(1, len(t) - {_WINNOW_K - 2})) - 1 AS i,
         t
  FROM toks WHERE len(t) >= {_WINNOW_K}),
gh2 AS (
  SELECT doc_id, i,
         ('0x' || substr(md5(concat_ws(' ', t[i + 1], t[i + 2], t[i + 3])), 1, 12))::BIGINT AS h
  FROM gh),
wnd AS (
  SELECT a.doc_id, a.i AS jend, g.i, g.h
  FROM gh2 a JOIN gh2 g
    ON g.doc_id = a.doc_id AND g.i BETWEEN a.i - {_WINNOW_W - 1} AND a.i
  WHERE a.i >= {_WINNOW_W - 1}),
mins AS (SELECT doc_id, jend, MIN(h) AS mh FROM wnd GROUP BY 1, 2),
sel AS (
  SELECT w.doc_id, w.jend, m.mh AS fp, MAX(w.i) AS pos
  FROM wnd w JOIN mins m
    ON m.doc_id = w.doc_id AND m.jend = w.jend AND w.h = m.mh
  GROUP BY 1, 2, 3),
fps AS (SELECT DISTINCT doc_id, pos, fp FROM sel),
fdocs AS (
  SELECT DISTINCT doc_id, fp FROM fps
  QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) <= {_WINNOW_MAX_FP})
"""


@query(
    "winnow_fingerprints",
    oracle=_WINNOW_CTES + "SELECT doc_id, pos, fp FROM fps",
    doc="winnowing document fingerprints (Schleimer/Wilkerson/Aiken "
    f"MOSS, SIGMOD 2003): word {_WINNOW_K}-gram hashes, window "
    f"{_WINNOW_W}, each window's min hash selected with rightmost "
    "tie-break — guarantees any shared run of >= "
    f"{_WINNOW_W + _WINNOW_K - 1} tokens shares a fingerprint; "
    "selection is one window-min over a (hash, -pos) struct, text "
    "never enters an exchange.",
)
def winnow_fingerprints(spark, sf_dir):
    return text.winnow_fingerprints(
        _docs(spark, sf_dir), k=_WINNOW_K, window=_WINNOW_W
    )


@query(
    "winnow_candidate_pairs",
    oracle=_WINNOW_CTES
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS n_shared
FROM fdocs a JOIN fdocs b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(DISTINCT a.fp) >= 2
""",
    doc="the MOSS match stage: candidate near-dup pairs sharing >= 2 "
    "winnowing fingerprints — a fp-keyed equi-join of the narrow "
    "distinct (id, fp) relation with the LSH-style deterministic "
    f"hot-bucket cap (first {_WINNOW_MAX_FP} docs per fp; a "
    "boilerplate phrase cannot go quadratic — the recall trade lives "
    "only inside over-cap buckets, the _band_keys contract), then a "
    "distinct count per pair; the >= 2 floor drops single-phrase "
    "coincidences.",
)
def winnow_candidate_pairs(spark, sf_dir):
    from pyspark.sql import Window

    # r15 (guide §2.3/§2.4, VERDICT r14 item 3): start from the
    # doc-local DISTINCT (doc_id, fp) relation — winnow_doc_fps runs
    # the whole selection + per-doc dedup as narrow array expressions,
    # so the r14 shape's two pre-cap shuffles (the exploded gram
    # triples keyed by doc_id for the selection window, then the
    # distinct) are gone; the hot-fp cap's Exchange(fp) is the first
    # and only shuffle of the fingerprint pipeline. Rows identical
    # (same selections, same dedup grain).
    fdocs = persist_block(
        text.winnow_doc_fps(_docs(spark, sf_dir), k=_WINNOW_K, window=_WINNOW_W)
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
        )
        .filter(F.col("__rn") <= _WINNOW_MAX_FP)
        .drop("__rn")
    )
    a = fdocs.select(F.col("doc_id").alias("id_a"), "fp")
    b = fdocs.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        # count(*) == COUNT(DISTINCT fp) here: fdocs is distinct on
        # (doc_id, fp), so each joined (fp, id_a, id_b) triple is
        # unique — dropping the distinct-aggregate removes its extra
        # Exchange on (id_a, id_b, fp) (guide §2.4); the oracle keeps
        # COUNT(DISTINCT) and the values match exactly
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


_LEAKAGE_SPLIT_ORACLE = (
    _PAIRS_CTES.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + """,
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
walk(id, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.node),
lab AS (SELECT id AS doc_id, MIN(node) AS cluster_id FROM walk GROUP BY id),
b AS (
  SELECT doc_id, cluster_id,
         ('0x' || substr(md5('split:' || cluster_id::VARCHAR), 1, 12))::BIGINT % 100
           AS bucket
  FROM lab)
SELECT doc_id, cluster_id, bucket,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'valid'
            ELSE 'test' END AS split
FROM b
"""
)


@query(
    "leakage_safe_splits",
    oracle=_LEAKAGE_SPLIT_ORACLE,
    doc="LEAKAGE-SAFE holdout split (r12): the deterministic 90/5/5 "
    "hash split keyed by the near-dup CLUSTER id instead of the doc "
    "id, so a near-duplicate pair can never straddle train and "
    "validation — the standard contamination guard a plain per-doc "
    "split silently violates (near-dups of training docs leak into "
    "eval). Composes cluster_labels -> hash_split; by construction "
    "every member of a cluster shares its split assignment.",
)
def leakage_safe_splits(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    labels = dedup.cluster_labels(
        docs, _shared_pairs(spark, sf_dir), on_nonconverge="raise"
    )
    return corpus.hash_split(labels, id_col="cluster_id").select(
        F.col("id").alias("doc_id"), "cluster_id", "bucket", "split"
    )


# ---------------------------------------------------------- quota sampling

_QUOTA = 25

_QUOTA_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
       {_LANG_SCORES}
  FROM documents),
langs AS (SELECT doc_id, {_LANG_CASE} AS pred_lang FROM scored),
ranked AS (
  SELECT doc_id, pred_lang,
         ROW_NUMBER() OVER (PARTITION BY pred_lang
                            ORDER BY md5('sample:' || doc_id::VARCHAR), doc_id) AS sample_rank
  FROM langs)
SELECT doc_id, pred_lang, sample_rank FROM ranked WHERE sample_rank <= {_QUOTA}
"""


# ---------------------------------------------------- fixed-rate sampling

_RATE_BY_LANG = {"en": 0.1, "de": 0.5}
_RATE_DEFAULT = 0.9


def _rate_thresh(rate: float) -> int:
    return int(round(rate * (1 << 48)))


_RATE_ORACLE = f"""
SELECT doc_id, lang
FROM documents
WHERE ('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 12))::BIGINT <
      CASE lang
           WHEN 'en' THEN {_rate_thresh(_RATE_BY_LANG["en"])}
           WHEN 'de' THEN {_rate_thresh(_RATE_BY_LANG["de"])}
           ELSE {_rate_thresh(_RATE_DEFAULT)} END
"""


@query(
    "lang_rate_sample",
    oracle=_RATE_ORACLE,
    doc="deterministic per-language RATE sampling (10% en, 50% de, 90% "
    "rest) by integer hash threshold — the zero-shuffle companion to "
    "quota sampling: one narrow filter, nested samples, no skew "
    "sensitivity at all.",
)
def lang_rate_sample(spark, sf_dir):
    return corpus.rate_sample(
        _docs(spark, sf_dir),
        _RATE_BY_LANG,
        group_col="lang",
        default_rate=_RATE_DEFAULT,
    ).select("doc_id", "lang")


# ------------------------------------------------- curation dashboard

# split x quality-bucket counts: the one-look dashboard a curation run
# ends with (is junk uniform across holdout splits?). Pure composition
# of two gated operators; the oracle recomposes their SQL.
_DASH_ORACLE = rf"""
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 12))::BIGINT % 100 AS bucket,
         len({WS_TOKENS}) AS n_words,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
         length(text) AS n_chars
  FROM documents),
j AS (
  SELECT CASE WHEN bucket < 90 THEN 'train'
              WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split,
         CASE WHEN n_words < 5 THEN 'too_short'
              WHEN punct / n_chars > 0.1 THEN 'punct_heavy'
              ELSE 'keep' END AS quality_bucket
  FROM b)
SELECT split, quality_bucket, COUNT(*) AS n_docs FROM j GROUP BY split, quality_bucket
"""


@query(
    "curation_split_quality",
    oracle=_DASH_ORACLE,
    doc="per-holdout-split quality-bucket counts — the composition "
    "check that junk is uniform across train/valid/test (hash_split "
    "x quality_score, one aggregation).",
)
def curation_split_quality(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    splits = corpus.hash_split(docs).select("doc_id", "split")
    buckets = text.quality_score(docs).select("doc_id", "quality_bucket")
    return (
        splits.join(buckets, "doc_id")
        .groupBy("split", "quality_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ------------------------------------------------------- repetition filters

_REP_NS = (2, 3)

_REPETITION_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, len(text) AS chars, {WS_TOKENS} AS t
  FROM documents),
ns AS (SELECT unnest([{", ".join(str(n) for n in _REP_NS)}]) AS n),
st AS (
  SELECT doc_id, n, t, unnest(range(0, len(t) - n + 1)) AS s
  FROM toks CROSS JOIN ns),
sh AS (SELECT doc_id, n, array_to_string(t[s+1 : s+n], ' ') AS gram FROM st),
counts AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM sh GROUP BY ALL),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram) AS rk
  FROM counts),
per AS (
  SELECT doc_id, n, SUM(cnt)::BIGINT AS total_ngrams, COUNT(*) AS distinct_ngrams,
         MAX(CASE WHEN rk = 1 THEN gram END) AS top_gram,
         MAX(CASE WHEN rk = 1 THEN cnt END) AS top_count
  FROM ranked GROUP BY doc_id, n),
base AS (SELECT doc_id, len(text) AS chars, n FROM documents CROSS JOIN ns)
SELECT b.doc_id, b.n,
       COALESCE(p.total_ngrams, 0) AS total_ngrams,
       COALESCE(p.distinct_ngrams, 0) AS distinct_ngrams,
       ROUND(1.0 - p.distinct_ngrams / p.total_ngrams, 6) AS dup_ngram_frac,
       p.top_gram, p.top_count,
       ROUND(p.top_count * len(p.top_gram) / b.chars, 6) AS top_gram_char_frac
FROM base b LEFT JOIN per p USING (doc_id, n)
"""


@query(
    "text_repetition",
    oracle=_REPETITION_ORACLE,
    doc="Gopher-style intra-doc repetition filters: duplicate-n-gram "
    "fraction and most-frequent-n-gram character coverage, per doc "
    "per n in (2, 3); the argmax gram tie-breaks lexicographically "
    "so both engines pick the same one.",
)
def text_repetition(spark, sf_dir):
    return text.repetition_signals(_docs(spark, sf_dir), ngram_ns=_REP_NS)


# ------------------------------------------------------------- TF-IDF

_TFIDF_K = 3

_TFIDF_ORACLE = rf"""
WITH pairs AS (
  SELECT doc_id, unnest({WS_TOKENS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY ALL),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         ROUND(tf * (ln((n + 1) / (df + 1)) + 1), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored)
SELECT doc_id, rank, term, tf, df, score FROM ranked WHERE rank <= {_TFIDF_K}
"""


@query(
    "tfidf_top_terms",
    oracle=_TFIDF_ORACLE,
    doc=f"top-{_TFIDF_K} TF-IDF terms per doc (smoothed IDF); ranking on "
    "ROUND(score, 6) with lexicographic ties — ln() can differ by an "
    "ulp between libm implementations.",
)
def tfidf_top_terms(spark, sf_dir):
    return text.tfidf_top_terms(_docs(spark, sf_dir), k=_TFIDF_K)


# ------------------------------------------------------------ IVF ANN

_IVF_DIM = 64

# Element-wise centroid means per label cell, replayed positionally:
# DuckDB averages embedding[i] (1-based) per (cell, i); Spark averages
# element_at(vec, i+1). Distributed double sums differ from DuckDB's in
# the last ulp, so every exported/compared value is ROUNDed, and the
# `x + 0.0` folds a -0.0 round result onto +0.0 on both engines.
_CENTROID_CTES = f"""
WITH pos AS (SELECT unnest(range(1, {_IVF_DIM + 1})) AS i),
m AS (
  SELECT label AS cell, i, AVG(embedding[i]::DOUBLE) AS mval
  FROM embeddings CROSS JOIN pos GROUP BY 1, 2)
"""

_IVF_CENTROIDS_ORACLE = (
    _CENTROID_CTES
    + """,
n AS (SELECT label AS cell, COUNT(*) AS n_vectors FROM embeddings GROUP BY 1)
SELECT m.cell, (m.i - 1)::INT AS dim_idx, ROUND(m.mval, 6) + 0.0 AS centroid_val, n.n_vectors
FROM m JOIN n USING (cell)
"""
)


@query(
    "ivf_centroids",
    oracle=_IVF_CENTROIDS_ORACLE,
    doc="IVF training step: per-label-cell element-wise mean vectors "
    "(exported one row per (cell, dim) with rounded values — the "
    "cross-engine-safe projection of an array<double> column).",
)
def ivf_centroids(spark, sf_dir):
    cents = similarity.embedding_centroids(_emb(spark, sf_dir), dim=_IVF_DIM)
    return cents.select(
        "cell",
        F.posexplode("centroid").alias("dim_idx", "__v"),
        "n_vectors",
    ).select(
        "cell",
        "dim_idx",
        (F.round("__v", 6) + F.lit(0.0)).alias("centroid_val"),
        "n_vectors",
    )


# Cell assignment = argmax over cells of ROUND(cos(vec, centroid), 6),
# ties to the smallest cell — the rounding makes the argmax stable
# under last-ulp centroid differences, so both engines route every
# vector identically (similarity.nearest_centroid docstring).
_IVF_TOPK_ORACLE = (
    _CENTROID_CTES
    + f""",
{IVF_ROUTE},
cellof AS (SELECT vec_id, cell FROM assign WHERE rk = 1),
q AS (SELECT v.vec_id AS query_id, v.v AS qv, c.cell
      FROM vecs v JOIN cellof c USING (vec_id) WHERE v.vec_id < 5),
nb AS (SELECT v.vec_id AS neighbor_id, v.v AS nv, c.cell
       FROM vecs v JOIN cellof c USING (vec_id)),
{scored("scored", "q JOIN nb USING (cell)")},
{COS_TOP5}
"""
)


_IVF_CELL_STATS_ORACLE = (
    _CENTROID_CTES
    + f""",
{CENTS},
{VECS},
{assign(f"vec_id, cell, {CELL_COS} AS rcos")}
SELECT cell, COUNT(*) AS n_assigned,
       MIN(rcos) AS min_cos, MAX(rcos) AS max_cos
FROM assign WHERE rk = 1 GROUP BY cell
"""
)


@query(
    "ivf_cell_stats",
    oracle=_IVF_CELL_STATS_ORACLE,
    doc="IVF observability (the lsh_bucket_stats counterpart): per-cell "
    "assigned-vector count and routing-cosine range — the numbers a "
    "caller reads before choosing n_probe / re-training centroids.",
)
def ivf_cell_stats(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = similarity.embedding_centroids(emb, dim=_IVF_DIM)
    routed = similarity.nearest_centroid(emb, cents)
    return routed.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.min("cell_cos").alias("min_cos"),
        F.max("cell_cos").alias("max_cos"),
    )


_IVF_PROBE2_ORACLE = (
    _CENTROID_CTES
    + f""",
{IVF_ROUTE},
q AS (SELECT v.vec_id AS query_id, v.v AS qv, c.cell
      FROM vecs v JOIN assign c USING (vec_id) WHERE v.vec_id < 5 AND c.rk <= 2),
nb AS (SELECT v.vec_id AS neighbor_id, v.v AS nv, c.cell
       FROM vecs v JOIN assign c USING (vec_id) WHERE c.rk = 1),
{scored("scored", "q JOIN nb USING (cell)")},
{COS_TOP5}
"""
)


@query(
    "similarity_ivf_probe2_topk",
    oracle=_IVF_PROBE2_ORACLE,
    doc="IVF top-5 with n_probe=2: queries search their two nearest "
    "cells — the recall/cost dial (probed corpus fraction doubles, "
    "recall rises toward exact).",
)
def similarity_ivf_probe2_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = similarity.embedding_centroids(emb, dim=_IVF_DIM).cache()
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), cents, k=5, n_probe=2
    )


@query(
    "similarity_ivf_topk",
    oracle=_IVF_TOPK_ORACLE,
    doc="IVF approximate top-5 (n_probe=1): route corpus + queries to "
    "their nearest label-centroid cell, brute-force only within the "
    "query's cell — the data-adapted ANN path beside the oblivious "
    "LSH-bucket one.",
)
def similarity_ivf_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = similarity.embedding_centroids(emb, dim=_IVF_DIM).cache()
    return similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), cents, k=5)


# ---------------------------------------------------------- ANN recall

# the same 20-query set for all three methods; exact top-5 is the truth
_RECALL_EXACT = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
{scored("scored", "c, q", nv="cv")},
ranked AS (
  SELECT query_id, neighbor_id, {COS_RANK} FROM scored)
SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5
"""


def _recall_oracle() -> str:
    from renkodf_spark.queries.pipeline import _LSH_ANN_ORACLE

    ivf20 = _IVF_TOPK_ORACLE.replace("vec_id < 5", "vec_id < 20")
    return f"""
WITH exact AS ({_RECALL_EXACT}),
ivf AS ({ivf20}),
lsh AS ({_LSH_ANN_ORACLE}),
m AS (
  SELECT 'ivf' AS method, COUNT(a.neighbor_id)::BIGINT AS hits, COUNT(*)::BIGINT AS total
  FROM exact e LEFT JOIN ivf a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  UNION ALL
  SELECT 'lsh', COUNT(b.neighbor_id)::BIGINT, COUNT(*)::BIGINT
  FROM exact e LEFT JOIN lsh b ON e.query_id = b.query_id AND e.neighbor_id = b.neighbor_id)
SELECT method, hits, total, ROUND(hits::DOUBLE / total, 4) AS recall FROM m
"""


def _recall_row(method: str, exact, ann):
    """One ``(method, hits, total, recall)`` row: the recall of the
    ``ann`` neighbor lists against the ``exact`` ones."""
    j = exact.join(
        ann.select("query_id", "neighbor_id").withColumn("__h", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return (
        j.groupBy(F.lit(method).alias("method"))
        .agg(
            F.sum(F.coalesce("__h", F.lit(0))).alias("hits"),
            F.count(F.lit(1)).alias("total"),
        )
        .select(
            "method",
            "hits",
            "total",
            F.round(F.col("hits") / F.col("total"), 4).alias("recall"),
        )
    )


@query(
    "ann_recall_report",
    oracle=_recall_oracle(),
    doc="recall@5 of both ANN scale paths (IVF n_probe=1, RP-LSH "
    "buckets) against exact brute force over the same 20 queries — "
    "the measured version of the documented 'recall < 1'.",
)
def ann_recall_report(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q20 = emb.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, q20, k=5).select("query_id", "neighbor_id")
    cents = similarity.embedding_centroids(emb, dim=_IVF_DIM).cache()
    methods = {
        "ivf": similarity.ivf_topk(emb, q20, cents, k=5),
        "lsh": similarity.lsh_bucket_topk(emb, q20, k=5),
    }
    out = None
    for name, ann in methods.items():
        row = _recall_row(name, exact, ann)
        out = row if out is None else out.unionByName(row)
    return out


# planted-structure recall: the near-orthogonal synthetic embeddings
# carry no cluster signal (recall 0.16/0.04 above == random baseline),
# so plant one deterministically: planted_i = 0.3*v_i + 1.0 at the
# label's axis. Exact double arithmetic (one product + one add, no
# rounding needed), so both engines build bit-identical vectors; only
# the centroid averages downstream need the usual rounded-argmax guard.
_PLANTED_CTE = f"""
pos AS (SELECT unnest(range(1, {_IVF_DIM + 1})) AS i),
pl AS (
  SELECT vec_id, label, i,
         0.3 * embedding[i]::DOUBLE + (CASE WHEN i - 1 = label THEN 1.0 ELSE 0.0 END) AS x
  FROM embeddings CROSS JOIN pos),
planted AS (SELECT vec_id, label, LIST(x ORDER BY i) AS v FROM pl GROUP BY vec_id, label)
"""



def _planted_recall(method: str) -> str:
    """The planted-recall oracles' shared tail: IVF top-5 ids of the
    ``q``/``nb`` probe CTEs, exact top-5 ids over ``planted``, and the
    recall of the first against the second."""
    return f"""{scored("ivf_scored", "q JOIN nb USING (cell)")},
{top_ids("ivf", "ivf_scored")},
eq AS (SELECT vec_id AS query_id, v AS qv FROM planted WHERE vec_id < 20),
ec AS (SELECT vec_id AS neighbor_id, v AS cv FROM planted),
{scored("ex_scored", "ec, eq", nv="cv")},
{top_ids("exact", "ex_scored")}
SELECT '{method}' AS method, COUNT(a.neighbor_id)::BIGINT AS hits, COUNT(*)::BIGINT AS total,
       ROUND(COUNT(a.neighbor_id)::DOUBLE / COUNT(*), 4) AS recall
FROM exact e LEFT JOIN ivf a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
"""


_RECALL_PLANTED_ORACLE = f"""
WITH {_PLANTED_CTE},
m AS (SELECT label AS cell, i, AVG(x) AS mval FROM pl GROUP BY 1, 2),
{CENTS},
{assign(src="planted CROSS JOIN cents")},
cellof AS (SELECT vec_id, cell FROM assign WHERE rk = 1),
q AS (SELECT p.vec_id AS query_id, p.v AS qv, c.cell
      FROM planted p JOIN cellof c USING (vec_id) WHERE p.vec_id < 20),
nb AS (SELECT p.vec_id AS neighbor_id, p.v AS nv, c.cell
       FROM planted p JOIN cellof c USING (vec_id)),
{_planted_recall("ivf_planted")}"""


def _planted(spark, sf_dir):
    """The gate embeddings with the label-axis cluster planted."""
    v = F.col("embedding").cast("array<double>")
    # 2-arg lambda = (element, index) dispatch, used deliberately here
    return _emb(spark, sf_dir).select(
        "vec_id",
        "label",
        F.transform(
            v,
            lambda x, i: 0.3 * x + F.when(i == F.col("label"), 1.0).otherwise(0.0),
        ).alias("embedding"),
    )


@query(
    "ann_recall_planted",
    oracle=_RECALL_PLANTED_ORACLE,
    doc="IVF recall@5 on deterministically CLUSTERED vectors (label-axis "
    "planting) — the counterpart to ann_recall_report's unstructured "
    "baseline: same machinery, structured data, high recall.",
)
def ann_recall_planted(spark, sf_dir):
    planted = _planted(spark, sf_dir)
    q20 = planted.filter(F.col("vec_id") < 20)
    cents = similarity.embedding_centroids(planted, dim=_IVF_DIM).cache()
    exact = similarity.cosine_topk(planted, q20, k=5).select("query_id", "neighbor_id")
    ivf = similarity.ivf_topk(planted, q20, cents, k=5).select("query_id", "neighbor_id")
    return _recall_row("ivf_planted", exact, ivf)


# -------------------------------------------------- unlabeled IVF training

_SEED_PLANES = 4
_LLOYD_ITERS = 2


def _lloyd_ctes(iters: int) -> str:
    """CTE chain replaying ``similarity.train_ivf_centroids``: given
    ``pos(i)``, ``e(vec_id, v)`` and seed assignment ``b(vec_id, v,
    cell)``, emits ``m0/c0 .. m{iters}/c{iters}`` — per-iteration
    centroid means ROUNDed (+0.0-folded) exactly as the operator
    rounds them, and rounded-argmax reassignment between steps."""
    parts = [
        "m0 AS (SELECT cell, i, ROUND(AVG(v[i]), 6) + 0.0 AS mval FROM b CROSS JOIN pos GROUP BY 1, 2)",
        "c0 AS (SELECT cell, LIST(mval ORDER BY i) AS cv FROM m0 GROUP BY cell)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""a{t} AS (
  SELECT vec_id, v, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
           {CELL_COS} DESC,
           cell) AS rk
  FROM e CROSS JOIN c{t - 1})"""
        )
        parts.append(
            f"m{t} AS (SELECT cell, i, ROUND(AVG(v[i]), 6) + 0.0 AS mval FROM a{t} CROSS JOIN pos WHERE rk = 1 GROUP BY 1, 2)"
        )
        parts.append(f"c{t} AS (SELECT cell, LIST(mval ORDER BY i) AS cv FROM m{t} GROUP BY cell)")
    return ",\n".join(parts)


_TRAIN_UNLABELED_ORACLE = f"""
WITH pos AS (SELECT unnest(range(1, {_IVF_DIM + 1})) AS i),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {_rp_bucket_sql(_SEED_PLANES, _IVF_DIM)} AS cell FROM e),
{_lloyd_ctes(_LLOYD_ITERS)},
n AS (SELECT cell, COUNT(*) AS n_vectors FROM a{_LLOYD_ITERS} WHERE rk = 1 GROUP BY cell)
SELECT m.cell, (m.i - 1)::INT AS dim_idx, m.mval AS centroid_val, n.n_vectors
FROM m{_LLOYD_ITERS} m JOIN n USING (cell)
"""


@query(
    "ivf_train_unlabeled",
    oracle=_TRAIN_UNLABELED_ORACLE,
    doc=f"IVF training with NO label column (the real-corpus shape): "
    f"RP-LSH sign-pattern seeding (up to 2^{_SEED_PLANES} cells) + "
    f"{_LLOYD_ITERS} Lloyd iterations, centroids re-rounded each step "
    "so the iterated state stays bit-exact cross-engine.",
)
def ivf_train_unlabeled(spark, sf_dir):
    cents = similarity.train_ivf_centroids(
        _emb(spark, sf_dir), dim=_IVF_DIM, n_planes=_SEED_PLANES, iters=_LLOYD_ITERS
    )
    return cents.select(
        "cell",
        F.posexplode("centroid").alias("dim_idx", "centroid_val"),
        "n_vectors",
    )


_RECALL_PLANTED_UNLABELED_ORACLE = f"""
WITH {_PLANTED_CTE},
e AS (SELECT vec_id, v FROM planted),
b AS (SELECT vec_id, v, {_rp_bucket_sql(_SEED_PLANES, _IVF_DIM)} AS cell FROM e),
{_lloyd_ctes(_LLOYD_ITERS)},
af AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
           {CELL_COS} DESC,
           cell) AS rk
  FROM e CROSS JOIN c{_LLOYD_ITERS}),
cellof AS (SELECT vec_id, cell FROM af WHERE rk = 1),
q AS (SELECT e.vec_id AS query_id, e.v AS qv, a.cell
      FROM e JOIN af a USING (vec_id) WHERE e.vec_id < 20 AND a.rk <= 2),
nb AS (SELECT e.vec_id AS neighbor_id, e.v AS nv, c.cell
       FROM e JOIN cellof c USING (vec_id)),
{_planted_recall("ivf_planted_unlabeled")}"""


@query(
    "ann_recall_planted_unlabeled",
    oracle=_RECALL_PLANTED_UNLABELED_ORACLE,
    doc="IVF recall@5 on planted-cluster vectors with centroids trained "
    "WITHOUT labels (RP-LSH seed + Lloyd): sign-pattern seeding can "
    "fragment a cluster across cells, and n_probe=2 recovers it — "
    "recall 1.0 at the gate SF, same machinery as ann_recall_planted.",
)
def ann_recall_planted_unlabeled(spark, sf_dir):
    planted = _planted(spark, sf_dir)
    q20 = planted.filter(F.col("vec_id") < 20)
    cents = similarity.train_ivf_centroids(
        planted, dim=_IVF_DIM, n_planes=_SEED_PLANES, iters=_LLOYD_ITERS
    ).cache()
    exact = similarity.cosine_topk(planted, q20, k=5).select("query_id", "neighbor_id")
    ivf = similarity.ivf_topk(planted, q20, cents, k=5, n_probe=2).select(
        "query_id", "neighbor_id"
    )
    return _recall_row("ivf_planted_unlabeled", exact, ivf)


# --------------------------------------------------------- sequence packing

_PACK_BUDGET = 128
_PACK_SHARDS = 4

_PACK_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, {WS_TOKENS} AS t FROM documents),
st AS (SELECT doc_id, t, unnest(range(0, len(t), {_CHUNK_STRIDE})) AS s FROM toks),
chunks AS (
  SELECT doc_id, (s // {_CHUNK_STRIDE}) AS chunk_id,
         len(t[s+1 : s+{_CHUNK_SIZE}]) AS n_tokens
  FROM st),
sh AS (
  SELECT *, ('0x' || substr(md5('pack:' || doc_id::VARCHAR), 1, 12))::BIGINT % {_PACK_SHARDS} AS shard
  FROM chunks),
cum AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_id
                                ROWS UNBOUNDED PRECEDING) AS rend
  FROM sh)
SELECT doc_id, chunk_id, shard, n_tokens,
       ((rend - n_tokens) // {_PACK_BUDGET})::BIGINT AS bin_id,
       ((rend - n_tokens) % {_PACK_BUDGET})::BIGINT AS bin_offset,
       ((rend - n_tokens) % {_PACK_BUDGET} + n_tokens) > {_PACK_BUDGET} AS spans_bins
FROM cum
"""


@query(
    "sequence_packing",
    oracle=_PACK_ORACLE,
    doc=f"concat-and-split sample packing: chunks laid end-to-end per "
    f"salted doc-hash shard, cut every {_PACK_BUDGET} tokens; pure "
    "integer arithmetic so the bin/offset/straddle labels replay "
    "exactly.",
)
def sequence_packing(spark, sf_dir):
    chunks = corpus.chunk_documents(
        _docs(spark, sf_dir), chunk_size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    ).drop("chunk_text")
    return corpus.pack_sequences(chunks, budget=_PACK_BUDGET, shards=_PACK_SHARDS)


# ------------------------------------------------------------ bin assembly

# replay chunking -> shard cumsum -> boundary split -> per-bin ordered
# reassembly; the digest pins the bin's exact packed text and
# bin_tokens == budget for every non-terminal bin is part of the values
_BINS_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, {WS_TOKENS} AS t FROM documents),
st AS (SELECT doc_id, t, unnest(range(0, len(t), {_CHUNK_STRIDE})) AS s FROM toks),
chunks AS (
  SELECT doc_id, (s // {_CHUNK_STRIDE}) AS chunk_id,
         t[s+1 : s+{_CHUNK_SIZE}] AS ct
  FROM st),
sh AS (
  SELECT *, ('0x' || substr(md5('pack:' || doc_id::VARCHAR), 1, 12))::BIGINT % {_PACK_SHARDS} AS shard
  FROM chunks),
cum AS (
  SELECT *, SUM(len(ct)) OVER (PARTITION BY shard ORDER BY doc_id, chunk_id
                               ROWS UNBOUNDED PRECEDING) AS rend
  FROM sh),
pos AS (SELECT shard, ct, (rend - len(ct))::BIGINT AS cs, rend::BIGINT AS ce FROM cum),
spans AS (
  SELECT shard, ct, cs, ce,
         unnest(range(cs // {_PACK_BUDGET}, (ce - 1) // {_PACK_BUDGET} + 1)) AS bin_id
  FROM pos),
pieces AS (
  SELECT shard, bin_id,
         greatest(cs, bin_id * {_PACK_BUDGET}) AS ps,
         ct[(greatest(cs, bin_id * {_PACK_BUDGET}) - cs + 1) :
            (least(ce, (bin_id + 1) * {_PACK_BUDGET}) - cs)] AS piece
  FROM spans)
SELECT shard, bin_id,
       SUM(len(piece))::BIGINT AS bin_tokens,
       md5(string_agg(array_to_string(piece, ' '), ' ' ORDER BY ps)) AS bin_digest
FROM pieces GROUP BY shard, bin_id
"""


@query(
    "packed_bins",
    oracle=_BINS_ORACLE,
    doc="materialized training sequences from pack_sequences labels: "
    "boundary chunks split at the bin edge, per-bin pieces reassembled "
    "in global token order — every non-terminal bin holds exactly "
    f"{_PACK_BUDGET} tokens and the digest pins the packed text.",
)
def packed_bins(spark, sf_dir):
    chunks = corpus.chunk_documents(
        _docs(spark, sf_dir), chunk_size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )
    packed = corpus.pack_sequences(chunks, budget=_PACK_BUDGET, shards=_PACK_SHARDS)
    bins = corpus.assemble_bins(packed, budget=_PACK_BUDGET)
    return bins.select(
        "shard", "bin_id", "bin_tokens", F.md5("bin_text").alias("bin_digest")
    )


# ------------------------------------------------------ int8 quantized ANN

_QTOPK_ORACLE = f"""
WITH qz AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(greatest(least(x, 1.0), -1.0) * 127) AS INT)) AS qv
  FROM embeddings),
q AS (SELECT vec_id AS query_id, qv::DOUBLE[] AS qvec FROM qz WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, qv::DOUBLE[] AS cvec FROM qz),
{scored("scored", "c, q", "qvec", "cvec")},
{COS_TOP5}
"""


@query(
    "quantized_cosine_topk",
    oracle=_QTOPK_ORACLE,
    doc="top-5 cosine over int8-quantized embeddings — integer-valued "
    "dots make every similarity EXACT in double arithmetic (no fold-"
    "order sensitivity at all), trading ~4x storage for ~1e-2 cosine "
    "error vs float.",
)
def quantized_cosine_topk(spark, sf_dir):
    qz = similarity.quantize_embeddings(_emb(spark, sf_dir))
    return similarity.cosine_topk(
        qz, qz.filter(F.col("id") < 5), id_col="id", vec_col="qvec", k=5
    )


@query(
    "lang_quota_sample",
    oracle=_QUOTA_ORACLE,
    doc=f"per-language quota sample (top {_QUOTA} per predicted language "
    "in salted-hash order) — deterministic corpus balancing.",
)
def lang_quota_sample(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    langs = text.lang_id(docs).select("doc_id", "pred_lang")
    return corpus.quota_sample(langs, "pred_lang", per_group=_QUOTA).select(
        "doc_id", "pred_lang", "sample_rank"
    )
