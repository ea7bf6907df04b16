"""Round-7 phase-4 training-pipeline gate queries: quality-aware dedup
keep (cluster representatives), CCNet perplexity bucketing, Bloom-filter
membership sketches, DSIR importance resampling, and per-source
curation stats.

Oracles follow the house conventions (pipeline.py..pipeline4.py):
md5-derived integers via the ``('0x' || substr(md5(x), 1, 8))::BIGINT``
↔ ``F.conv(F.substring(F.md5(x), 1, 8), 16, 10)`` pair, per-term /
per-bucket log values ROUNDed once to integer micro-nats so distributed
sums are exact, and ``quantile_cont`` ↔ ``F.percentile`` for exact
interpolated percentiles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from renkodf_spark.functions import bloom
from renkodf_spark.operators import corpus, dedup, text
from renkodf_spark.plans.hints import maybe_broadcast_verdict
from renkodf_spark.plans.persist import persist_block
from renkodf_spark.queries.pipeline import _PAIRS_CTES, _docs, _shared_pairs
from renkodf_spark.queries.ctes import COMPONENT_WALK, COS_RANK, WS_TOKENS, cosine
from renkodf_spark.queries.registry import query

# ------------------------------------------- quality-aware dedup keep

# the recursive min-label walk from dedup_cluster_labels, as CTEs, plus
# the representative election: highest n_chars, ties to smallest id
_KEEP_ORACLE = (
    _PAIRS_CTES.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + f""",
{COMPONENT_WALK},
labels AS (SELECT id, MIN(node) AS cluster_id FROM walk GROUP BY id),
scored AS (
  SELECT l.id, l.cluster_id, d.n_chars::BIGINT AS score
  FROM labels l JOIN documents d ON d.doc_id = l.id),
reps AS (
  SELECT cluster_id, id AS keep_id, cluster_size
  FROM (SELECT cluster_id, id, score,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY score DESC, id) AS rn,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM scored)
  WHERE rn = 1)
SELECT s.id AS doc_id, s.cluster_id, r.keep_id,
       r.cluster_size::BIGINT AS cluster_size,
       (s.id = r.keep_id)::INT AS is_kept
FROM scored s JOIN reps r USING (cluster_id)
"""
)


@query(
    "dedup_keep_best",
    oracle=_KEEP_ORACLE,
    doc="quality-aware dedup keep: one representative per LSH near-dup "
    "cluster, elected by highest n_chars (ties to smallest id) via a "
    "map-side-combinable min_by — the real keep/drop decision, instead "
    "of the naive lowest-id policy; payload never shuffles.",
)
def dedup_keep_best(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    labels = dedup.cluster_labels(
        docs, _shared_pairs(spark, sf_dir), on_nonconverge="raise"
    )
    return dedup.cluster_representatives(docs, labels)


# ------------------------------------------- CCNet perplexity buckets

# unigram-LM CTEs (same integer micro-nat replay as unigram_doc_quality
# in pipeline3.py) + per-language NTILE over the exact-long quotient
_BUCKETS_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, {WS_TOKENS} AS t FROM documents),
prs AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM prs GROUP BY 1, 2),
counts AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT SUM(cnt) AS T, COUNT(*) AS V FROM counts),
model AS (
  SELECT term,
         CAST(ROUND(ln((cnt + 1) / (T + 1 * V)) * 1e6) AS BIGINT) AS lp
  FROM counts CROSS JOIN tot),
scores AS (
  SELECT tf.doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(SUM(tf * lp) AS BIGINT) AS s
  FROM tf JOIN model USING (term) GROUP BY 1)
SELECT s.doc_id, d.lang, s.n_tokens,
       ROUND(s.s / (s.n_tokens * 1e6), 6) AS avg_logp,
       NTILE(3) OVER (PARTITION BY d.lang
                      ORDER BY s.s::DOUBLE / s.n_tokens DESC, s.doc_id)
         AS bucket,
       CASE NTILE(3) OVER (PARTITION BY d.lang
                           ORDER BY s.s::DOUBLE / s.n_tokens DESC, s.doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier
FROM scores s JOIN documents d USING (doc_id)
"""


@query(
    "perplexity_buckets",
    oracle=_BUCKETS_ORACLE,
    doc="CCNet head/middle/tail: per-language equal-population terciles "
    "of the unigram-LM mean log-prob; the ntile window sees only the "
    "4-column score relation (id, lang, two exact longs), never the "
    "document payload, and its sort key is the IEEE quotient of two "
    "exact longs with the doc id as total tie-break.",
)
def perplexity_buckets(spark, sf_dir):
    return text.logprob_buckets(_docs(spark, sf_dir))


# ------------------------------------------- Bloom membership sketch

_BLOOM_BITS = 1024
_BLOOM_K = 3
_BLOOM_SPLIT = 250  # doc_id < split = the ingested history

# sized small on purpose: at ~250 distinct history keys the fill is
# ~0.5, so the gate exercises true positives, true negatives AND the
# false-positive path (one-sided error: never a false negative)
_BLOOM_CTES = f"""
WITH keys AS (
  SELECT doc_id, md5(lower(trim(text))) AS kk FROM documents),
hist AS (SELECT DISTINCT kk FROM keys WHERE doc_id < {_BLOOM_SPLIT}),
hpos AS (
  SELECT (('0x' || substr(md5(kk), 1, 8))::BIGINT
          + i * ('0x' || substr(md5(kk), 9, 8))::BIGINT) % {_BLOOM_BITS} AS pos
  FROM (SELECT kk, unnest(range(0, {_BLOOM_K})) AS i FROM hist)),
sketch AS (
  SELECT pos // 32 AS word_idx, bit_or(1::BIGINT << (pos % 32)::INT) AS bits
  FROM hpos GROUP BY 1)
"""

_BLOOM_MEMBER_ORACLE = (
    _BLOOM_CTES
    + f""",
pr AS (
  SELECT doc_id,
         (('0x' || substr(md5(kk), 1, 8))::BIGINT
          + i * ('0x' || substr(md5(kk), 9, 8))::BIGINT) % {_BLOOM_BITS} AS pos
  FROM (SELECT doc_id, kk, unnest(range(0, {_BLOOM_K})) AS i FROM keys)),
hits AS (
  SELECT doc_id,
         CASE WHEN s.bits IS NULL THEN 0
              WHEN (s.bits & (1::BIGINT << (p.pos % 32)::INT))
                   = (1::BIGINT << (p.pos % 32)::INT) THEN 1
              ELSE 0 END AS h
  FROM pr p LEFT JOIN sketch s ON s.word_idx = p.pos // 32),
mem AS (SELECT doc_id, MIN(h) AS might_contain FROM hits GROUP BY 1)
SELECT m.doc_id, m.might_contain,
       (k.kk IN (SELECT kk FROM hist))::INT AS in_history
FROM mem m JOIN keys k USING (doc_id)
"""
)


def _bloom_keys(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("key")
    )


@query(
    "bloom_membership",
    oracle=_BLOOM_MEMBER_ORACLE,
    doc="Bloom-sketch membership probe: history (doc_id < 250) digests "
    "summarized into a 1024-bit mergeable sketch (Kirsch-Mitzenmacher "
    "double hashing off md5, 32-bit words in BIGINT), every doc probed "
    "via a broadcast join against the <=32-row sketch. Emits the exact "
    "membership flag beside the probe so the gate pins the one-sided "
    "error: might_contain >= in_history row-by-row.",
)
def bloom_membership(spark, sf_dir):
    keys = _bloom_keys(spark, sf_dir)
    hist_keys = keys.filter(F.col("doc_id") < _BLOOM_SPLIT).select("key").distinct()
    sketch = _bloom_sketch(spark, sf_dir)
    mem = bloom.bloom_might_contain(
        keys, sketch, "key", id_col="doc_id", n_bits=_BLOOM_BITS, k=_BLOOM_K
    )
    in_hist = keys.join(
        F.broadcast(hist_keys.withColumn("__h", F.lit(1))), "key", "left"
    ).select("doc_id", F.coalesce("__h", F.lit(0)).alias("in_history"))
    return mem.join(in_hist, "doc_id")


def _bloom_sketch(spark, sf_dir):
    keys = _bloom_keys(spark, sf_dir)
    hist = keys.filter(F.col("doc_id") < _BLOOM_SPLIT).select("key").distinct()
    return bloom.bloom_build(hist, "key", n_bits=_BLOOM_BITS, k=_BLOOM_K)


_BLOOM_STATS_ORACLE = (
    _BLOOM_CTES
    + f"""
SELECT CAST(SUM(bit_count(bits)) AS BIGINT) AS set_bits,
       ROUND(SUM(bit_count(bits)) / {_BLOOM_BITS}, 6) AS fill_frac,
       ROUND(pow(SUM(bit_count(bits)) / {_BLOOM_BITS}, {_BLOOM_K}), 6) AS est_fpp
FROM sketch
"""
)


@query(
    "bloom_fill_stats",
    oracle=_BLOOM_STATS_ORACLE,
    doc="Bloom sketch health: set-bit count, fill fraction, implied "
    "false-positive rate fill^k — the resize dial for the membership "
    "sketch.",
)
def bloom_fill_stats(spark, sf_dir):
    return bloom.bloom_stats(_bloom_sketch(spark, sf_dir), n_bits=_BLOOM_BITS, k=_BLOOM_K)


# ------------------------------------------- DSIR importance weights

_DSIR_BUCKETS = 4096
_DSIR_KEEP = 100

# hashed unigram+bigram bag over the shared normalized tokens; target =
# the English slice of the corpus (deterministic, needs no fixture)
_DSIR_CTES = rf"""
WITH nt AS (
  SELECT doc_id, lang,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
gr AS (
  SELECT doc_id,
         ('0x' || substr(g, 1, 8))::BIGINT % {_DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id,
               unnest(list_concat(
                 list_transform(t, x -> md5(x)),
                 list_transform(range(1, len(t)),
                                i -> md5(t[i] || ' ' || t[i + 1])))) AS g
        FROM nt)),
tg AS (
  SELECT ('0x' || substr(g, 1, 8))::BIGINT % {_DSIR_BUCKETS} AS bucket
  FROM (SELECT unnest(list_concat(
                 list_transform(t, x -> md5(x)),
                 list_transform(range(1, len(t)),
                                i -> md5(t[i] || ' ' || t[i + 1])))) AS g
        FROM nt WHERE lang = 'en')),
rc AS (SELECT bucket, COUNT(*) AS cr FROM gr GROUP BY 1),
tc AS (SELECT bucket, COUNT(*) AS ct FROM tg GROUP BY 1),
tot AS (SELECT (SELECT SUM(cr) FROM rc) AS Tr, (SELECT SUM(ct) FROM tc) AS Tt),
model AS (
  SELECT rc.bucket,
         CAST(ROUND((ln((coalesce(ct, 0) + 1) / (Tt + {_DSIR_BUCKETS}))
                     - ln((cr + 1) / (Tr + {_DSIR_BUCKETS}))) * 1e6) AS BIGINT)
           AS lr
  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot),
sc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(lr) AS BIGINT) AS weight_micros
  FROM gr JOIN model USING (bucket) GROUP BY 1),
wts AS (
  SELECT d.doc_id,
         coalesce(sc.n_grams, 0)::BIGINT AS n_grams,
         coalesce(sc.weight_micros, 0)::BIGINT AS weight_micros,
         CASE WHEN coalesce(sc.n_grams, 0) = 0 THEN 0.0
              ELSE ROUND(sc.weight_micros / (sc.n_grams * 1e6), 6) END
           AS avg_weight
  FROM documents d LEFT JOIN sc USING (doc_id))
"""


def _dsir_args(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs, docs.filter(F.col("lang") == "en")


@query(
    "dsir_weights_en",
    oracle=_DSIR_CTES + "SELECT doc_id, n_grams, weight_micros, avg_weight FROM wts",
    doc="DSIR importance weights (Xie et al. 2023): hashed unigram+"
    "bigram bag, add-1-smoothed bucket LMs for target (the English "
    "slice) vs raw, per-bucket log-ratio rounded once to integer "
    "micro-nats so per-doc sums are exact longs; the <=4096-row model "
    "broadcasts and the corpus text never shuffles.",
)
def dsir_weights_en(spark, sf_dir):
    raw, target = _dsir_args(spark, sf_dir)
    return corpus.dsir_weights(raw, target, n_buckets=_DSIR_BUCKETS)


@query(
    "dsir_top_sample",
    oracle=_DSIR_CTES
    + f"""
SELECT doc_id, n_grams, weight_micros, avg_weight FROM wts
ORDER BY weight_micros DESC, doc_id LIMIT {_DSIR_KEEP}
""",
    doc="DSIR selection: top-100 docs by importance weight (ties to "
    "smallest id) via TakeOrdered — per-partition heaps, no global "
    "sort.",
)
def dsir_top_sample(spark, sf_dir):
    raw, target = _dsir_args(spark, sf_dir)
    return corpus.dsir_top_sample(raw, target, _DSIR_KEEP, n_buckets=_DSIR_BUCKETS)


# ------------------------------------------- per-source curation stats


@query(
    "source_quality_report",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, lang, length(text)::BIGINT AS len,
         md5(lower(trim(text))) AS dg
  FROM documents),
dc AS (SELECT dg, COUNT(*) AS n FROM keyed GROUP BY 1)
SELECT source, COUNT(*)::BIGINT AS n_docs,
       COUNT(DISTINCT lang)::BIGINT AS n_langs,
       ROUND(AVG(len), 4) AS avg_chars,
       ROUND(quantile_cont(len, 0.5), 4) AS p50_chars,
       ROUND(SUM((n > 1)::INT) / COUNT(*), 6) AS dup_frac
FROM keyed JOIN dc USING (dg)
GROUP BY 1
""",
    doc="per-source curation dashboard: doc count, language spread, "
    "mean/median length, exact-duplicate rate (digest seen >1 anywhere "
    "in the corpus) — the table a pipeline ranks to down-weight or "
    "drop domains; only digests and lengths shuffle.",
)
def source_quality_report(spark, sf_dir):
    return corpus.source_quality_report(_docs(spark, sf_dir))


# ------------------------------------------- JL random projection

_JL_OUT = 16
_JL_DIM = 64


def _proj_sql(out_dim: int, dim: int) -> str:
    """DuckDB BIGINT[] expression over a DOUBLE[] column named v —
    inlines the exact rp_planes constants random_project compiles in,
    with the same ROUND-once-to-micro-units convention."""
    from renkodf_spark.operators.similarity import rp_planes

    planes = rp_planes(out_dim, dim)
    comps = []
    for plane in planes:
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        comps.append(f"CAST(ROUND(list_dot_product(v, {lit}) * 1e6) AS BIGINT)")
    return "[" + ", ".join(comps) + "]"


_JL_CTES = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT vec_id, {_proj_sql(_JL_OUT, _JL_DIM)} AS proj FROM e)
"""

_JL_TOPK_CTES = (
    _JL_CTES
    + f""",
pd AS (SELECT vec_id, list_transform(proj, x -> x::DOUBLE) AS pv FROM p),
q AS (SELECT vec_id AS query_id, pv AS qv FROM pd WHERE vec_id < {{nq}}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id, {cosine('qv', 'c.pv')} AS cos
  FROM pd c, q WHERE c.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         {COS_RANK}
  FROM scored)
"""
)


@query(
    "jl_projection",
    oracle=_JL_CTES
    + """
SELECT vec_id,
       md5(array_to_string(list_transform(proj, x -> x::VARCHAR), ',')) AS proj_digest
FROM p
""",
    doc="Johnson-Lindenstrauss random projection 64d -> 16d against the "
    "deterministic rp_planes matrix, components rounded once to integer "
    "micro-units — a narrow zero-shuffle map; digest = md5 of the "
    "position-ordered longs.",
)
def jl_projection(spark, sf_dir):
    from renkodf_spark.queries.pipeline import _emb
    from renkodf_spark.operators import similarity

    proj = similarity.random_project(_emb(spark, sf_dir), out_dim=_JL_OUT, dim=_JL_DIM)
    return proj.select(
        "vec_id",
        F.md5(
            F.array_join(F.transform("proj", lambda x: x.cast("string")), ",")
        ).alias("proj_digest"),
    )


@query(
    "jl_projected_topk",
    oracle=_JL_TOPK_CTES.format(nq=5)
    + """
SELECT query_id, neighbor_id, rank, ROUND(cos, 4) AS cos_sim
FROM ranked WHERE rank <= 5
""",
    doc="brute-force cosine top-5 in the 16d projected space — the "
    "reduced-dimension ANN baseline; every dot is out_dim/dim the "
    "width of the exact one.",
)
def jl_projected_topk(spark, sf_dir):
    from renkodf_spark.queries.pipeline import _emb
    from renkodf_spark.operators import similarity

    emb = _emb(spark, sf_dir)
    return similarity.projected_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), out_dim=_JL_OUT, dim=_JL_DIM
    )


_JL_RECALL_EXACT = f"""
SELECT query_id, neighbor_id FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           list_dot_product(q.v, c.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
           c.vec_id) AS rank
  FROM e c, e q WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
WHERE rank <= 5
"""


@query(
    "jl_recall_report",
    oracle=_JL_TOPK_CTES.format(nq=20)
    + f""",
jl AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
exact AS ({_JL_RECALL_EXACT})
SELECT COUNT(jl.neighbor_id)::BIGINT AS hits, COUNT(*)::BIGINT AS total,
       ROUND(COUNT(jl.neighbor_id)::DOUBLE / COUNT(*), 4) AS recall
FROM exact LEFT JOIN jl USING (query_id, neighbor_id)
""",
    doc="recall@5 of the 16d JL-projected top-k against exact 64d brute "
    "force over 20 queries — the measured distortion of the projection "
    "(the honest number behind 'recall < 1 only through distortion').",
)
def jl_recall_report(spark, sf_dir):
    from renkodf_spark.queries.pipeline import _emb
    from renkodf_spark.operators import similarity

    emb = _emb(spark, sf_dir)
    q20 = emb.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, q20, k=5).select("query_id", "neighbor_id")
    jl = similarity.projected_cosine_topk(emb, q20, k=5, out_dim=_JL_OUT, dim=_JL_DIM)
    j = exact.join(
        jl.select("query_id", "neighbor_id").withColumn("__h", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return j.agg(
        F.sum("__h").cast("long").alias("hits"),
        F.count(F.lit(1)).cast("long").alias("total"),
        F.round(F.sum("__h") / F.count(F.lit(1)), 4).alias("recall"),
    )


# ------------------------------------------- exact-k uniform sample

_USAMPLE_K = 200
_USAMPLE_SALT = "u7"


@query(
    "uniform_sample_200",
    oracle=f"""
SELECT doc_id, lang, source FROM documents
ORDER BY md5('{_USAMPLE_SALT}:' || CAST(doc_id AS VARCHAR)), doc_id
LIMIT {_USAMPLE_K}
""",
    doc="exactly-k deterministic uniform sample without replacement: "
    "rank by the salted id hash, keep the k smallest — layout-"
    "independent, engine-reproducible, compiled to TakeOrdered "
    "(per-partition heaps, no global sort).",
)
def uniform_sample_200(spark, sf_dir):
    return corpus.uniform_sample_exact(
        _docs(spark, sf_dir).select("doc_id", "lang", "source"),
        _USAMPLE_K,
        salt=_USAMPLE_SALT,
    )


# ------------------------------------------- exact-substring discovery

_SUBSTR_N = 10

_SUBSTR_ORACLE = rf"""
WITH nt AS (
  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
g AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[s+1:s+{_SUBSTR_N}], ' ')) AS gram
  FROM (SELECT doc_id, t,
               unnest(range(0, greatest(len(t) - {_SUBSTR_N - 1}, 0))) AS s
        FROM nt))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS n_shared_grams
FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


@query(
    "substring_dup_pairs",
    oracle=_SUBSTR_ORACLE,
    doc="exact-substring dedup discovery (Lee et al. 2022 at token-gram "
    "granularity): pairs sharing at least one normalized 10-token gram "
    "— the partial copies MinHash misses (long local overlap, low "
    "global Jaccard); digest self-join, text never shuffles, per-gram "
    "fan-out boundable via max_gram_docs.",
)
def substring_dup_pairs(spark, sf_dir):
    return dedup.shared_ngram_pairs(_docs(spark, sf_dir), n=_SUBSTR_N)


_SPAN_ORACLE = rf"""
WITH nt AS (
  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
g AS (
  SELECT doc_id, s, md5(array_to_string(t[s+1:s+{_SUBSTR_N}], ' ')) AS gram
  FROM (SELECT doc_id, t,
               unnest(range(0, greatest(len(t) - {_SUBSTR_N - 1}, 0))) AS s
        FROM nt)),
fo AS (SELECT gram, MIN(doc_id) AS first FROM g GROUP BY 1),
ds AS (
  SELECT DISTINCT g.doc_id, g.s + u.i AS pos
  FROM g JOIN fo USING (gram)
       CROSS JOIN (SELECT unnest(range(0, {_SUBSTR_N})) AS i) u
  WHERE g.doc_id > fo.first),
tk AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM nt))
SELECT tk.doc_id,
       COUNT(*)::BIGINT AS n_tokens,
       SUM((ds.pos IS NOT NULL)::INT)::BIGINT AS n_tokens_dropped,
       md5(coalesce(string_agg(CASE WHEN ds.pos IS NULL THEN tok END, ' '
                               ORDER BY tk.pos), '')) AS clean_digest
FROM tk LEFT JOIN ds ON ds.doc_id = tk.doc_id AND ds.pos = tk.pos
GROUP BY 1
"""


@query(
    "substring_span_removal",
    oracle=_SPAN_ORACLE,
    doc="the apply stage of exact-substring dedup (Lee et al. 2022): "
    "tokens covered by a 10-gram whose first owner is a lower-id doc "
    "are cut out — first occurrence survives, later copies lose only "
    "the duplicated span; covered-index explosion bounded by n x dup "
    "grams, reassembly sorts within each row, never across docs.",
)
def substring_span_removal(spark, sf_dir):
    return dedup.remove_duplicated_spans(_docs(spark, sf_dir), n=_SUBSTR_N)


# ------------------------------------------- end-to-end curation DAG

_E2E_QUOTA = 25
_E2E_SALT = "e2e"


def _e2e_oracle() -> str:
    """Compose the exact-dedup, Gopher-filter, and quota stages into
    one DuckDB program by reusing pipeline4's Gopher CTE text verbatim
    (rebased from `documents` onto the deduped CTE), so the composed
    oracle cannot drift from the single-stage one."""
    from renkodf_spark.queries.pipeline4 import _GOPHER_ORACLE

    head, tail = _GOPHER_ORACLE.rsplit("SELECT feat.*,", 1)
    gopher_ctes = (
        head.replace("WITH f AS", ",\nf AS", 1).replace("FROM documents)", "FROM dd)", 1)
        + ", gp AS (SELECT feat.doc_id,"
        + tail.rstrip()
        + ")"
    )
    return (
        """
WITH dd AS (
  SELECT d.* FROM documents d
  JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
    USING (doc_id))"""
        + gopher_ctes
        + f""",
fl AS (SELECT dd.* FROM dd JOIN gp ON gp.doc_id = dd.doc_id AND gp.gopher_pass = 1),
ranked AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY md5('{_E2E_SALT}:' || CAST(doc_id AS VARCHAR)), doc_id)
           AS sample_rank
  FROM fl)
SELECT doc_id, lang, n_chars, sample_rank FROM ranked
WHERE sample_rank <= {_E2E_QUOTA}
"""
    )


@query(
    "curation_end_to_end",
    oracle=_e2e_oracle(),
    doc="one declarative DAG chaining exact dedup (keep first "
    "occurrence) -> Gopher rule filter -> per-language quota sample — "
    "the operators compose without materialization barriers, so "
    "Catalyst plans the whole pipeline at once (shared scans, pushed "
    "filters); oracle is the composed replay of the three stage "
    "oracles.",
)
def curation_end_to_end(spark, sf_dir):
    from renkodf_spark.queries.pipeline4 import _G_MIN_STOP, _G_MIN_WORDS

    docs = _docs(spark, sf_dir)
    # guide §3.3: both verdict sets are narrow doc_id relations whose
    # inline derivations re-stamp the upstream text chain into every
    # consumer (the pretrain_end_to_end lineage-truncation rationale,
    # pipeline11). Lazy localCheckpoint; rows identical.
    keepers = persist_block(
        dedup.exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    )
    # keepers/passing are O(corpus)-cardinality doc_id verdict sets
    # (ADVICE r14 bound rule) — broadcast only under
    # spark.renkodf.join.broadcastVerdictSets (default true; 100 TB
    # deployments set false and AQE picks from runtime stats). See
    # plans/hints.py for the rationale and the measured trade.
    dd = docs.join(maybe_broadcast_verdict(keepers), "doc_id")
    passing = persist_block(
        text.gopher_rules(dd, min_words=_G_MIN_WORDS, min_stop_hits=_G_MIN_STOP)
        .filter(F.col("gopher_pass") == 1)
        .select("doc_id")
    )
    filtered = dd.join(maybe_broadcast_verdict(passing), "doc_id")
    sel = corpus.quota_sample(filtered, "lang", per_group=_E2E_QUOTA, salt=_E2E_SALT)
    return sel.select("doc_id", "lang", "n_chars", "sample_rank")


# ------------------------------------- window-rank distribution depth


@query(
    "order_value_distribution",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume,
       NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS second_biggest_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
    doc="rank-distribution windows: percent_rank / cume_dist over a "
    "total per-customer order, plus nth_value with an explicit "
    "unbounded frame — rounds out the declared window surface beyond "
    "row_number/ntile/lag/frames.",
)
def order_value_distribution(spark, sf_dir):
    from pyspark.sql import Window

    from renkodf_spark.queries.relational import _t

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wn = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 2).over(wn).alias("second_biggest_order"),
    )
