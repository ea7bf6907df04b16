"""Round-8 pipeline queries: distributed BPE tokenizer training.

The oracle is the renko-style fold replay taken to the tokenizer
domain: DuckDB unrolls the K merge iterations as CTE stages, electing
each merge with the same exact-integer (count DESC, left, right) order
and applying it with a ``list_reduce`` fold that is symbol-for-symbol
the Spark-side ``F.aggregate`` fold.
"""

from __future__ import annotations

from renkodf_spark.operators import text
from renkodf_spark.queries.ctes import CENTS, assign, cosine
from renkodf_spark.queries.registry import query

_BPE_K = 8

# the shared word definition (operators/corpus._norm_gram_tokens)
_WORDS_SQL = r"""
SELECT w AS word, COUNT(*)::BIGINT AS cnt
FROM (SELECT unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS w
      FROM documents)
WHERE w <> ''
GROUP BY 1
"""


def _bpe_oracle(k: int) -> str:
    """K-times-unrolled BPE training replay: w0 = per-word character
    arrays; each stage j counts adjacent pairs weighted by word count
    (exact longs), elects (pc DESC, l, r) LIMIT 1, and rebuilds every
    word with the left-to-right non-overlapping merge fold (the
    accumulator's last element is the pending symbol; elements arrive
    wrapped as single-item lists so list_reduce's accumulator and
    element types agree — the renko-oracle trick)."""
    parts = [
        f"""WITH words AS ({_WORDS_SQL}),
w0 AS (
  SELECT cnt, list_transform(range(1, len(word) + 1), i -> word[i:i]) AS syms
  FROM words)"""
    ]
    for j in range(1, k + 1):
        parts.append(f"""
p{j} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(cnt)::BIGINT AS pc
  FROM w{j - 1}, LATERAL unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2),
b{j} AS (SELECT l, r, pc FROM p{j} ORDER BY pc DESC, l, r LIMIT 1),
w{j} AS (
  SELECT w.cnt,
         list_reduce(list_transform(w.syms, s -> [s]),
                     (acc, x) -> CASE WHEN acc[-1] = b.l AND x[1] = b.r
                                 THEN list_concat(acc[1:len(acc) - 1], [b.l || b.r])
                                 ELSE list_concat(acc, x) END) AS syms
  FROM w{j - 1} w CROSS JOIN b{j} b)""")
    finals = "\nUNION ALL\n".join(
        f'SELECT {j} AS merge_rank, l AS "left", r AS "right", l || r AS merged, '
        f"pc AS pair_count FROM b{j}"
        for j in range(1, k + 1)
    )
    return ",".join(parts) + "\n" + finals


@query(
    "bpe_merges_learned",
    oracle=_bpe_oracle(_BPE_K),
    doc="distributed BPE tokenizer training (Sennrich 2016): the top-8 "
    "merge rules learned over the corpus word histogram — per "
    "iteration one map-side-combinable (pair, count) aggregation and a "
    "single elected row to the driver, merges applied in-row; the "
    "oracle unrolls the 8 iterations as CTEs and replays the merge "
    "application with the renko-style list_reduce fold.",
)
def bpe_merges_learned(spark, sf_dir):
    from renkodf_spark.queries.pipeline import _docs

    return text.bpe_merges(_docs(spark, sf_dir), k=_BPE_K)


def _bpe_encode_oracle(k: int) -> str:
    """Learn the K merges (same CTE stages as :func:`_bpe_oracle`),
    then re-encode every document: per word, the character array runs
    through the K merge folds IN RANK ORDER (nested list_reduce, one
    per rule, each referencing its elected b-CTE row via a 1-row cross
    join); per doc, subword arrays re-join in word order."""
    # keep the learning CTEs, drop the trainer's final UNION ALL block
    learn_ctes = _bpe_oracle(k).split("\nSELECT 1 AS merge_rank,", 1)[0]
    fold = "list_transform(range(1, len(w) + 1), i -> w[i:i])"
    for j in range(1, k + 1):
        fold = (
            f"list_reduce(list_transform({fold}, s -> [s]), "
            f"(acc, x) -> CASE WHEN acc[-1] = m{j}.l AND x[1] = m{j}.r "
            f"THEN list_concat(acc[1:len(acc) - 1], [m{j}.l || m{j}.r]) "
            f"ELSE list_concat(acc, x) END)"
        )
    joins = " ".join(f"CROSS JOIN b{j} AS m{j}" for j in range(1, k + 1))
    return (
        learn_ctes
        + f""",
dw AS (
  SELECT doc_id, i AS pos, ws[i] AS w
  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS ws
        FROM documents),
       LATERAL unnest(range(1, len(ws) + 1)) AS u(i)
  WHERE ws[i] <> ''),
enc AS (
  SELECT doc_id, pos, {fold} AS syms
  FROM dw {joins})
SELECT doc_id,
       COUNT(*)::BIGINT AS n_words,
       SUM(len(syms))::BIGINT AS n_subwords,
       md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)) AS subword_digest
FROM enc GROUP BY 1
"""
    )


@query(
    "bpe_encoded_docs",
    oracle=_bpe_encode_oracle(_BPE_K),
    doc="BPE application: every document re-encoded with the 8 learned "
    "merge rules (rank order, left-to-right non-overlapping fold per "
    "rule) — zero shuffle, zero joins on the Spark side (the K rules "
    "are a bounded driver constant baked into one nested column "
    "expression, a pure map stage); oracle = the learning CTEs plus "
    "8 nested list_reduce folds per word.",
)
def bpe_encoded_docs(spark, sf_dir):
    from renkodf_spark.queries.pipeline import _docs

    docs = _docs(spark, sf_dir)
    rules = text.bpe_merges(docs, k=_BPE_K)
    return text.bpe_encode(docs, rules)


# ---------------------------------------------------- hard-negative mining


def _mine_tail(cand: str) -> str:
    """The hard-negative oracles' shared tail over the scored candidate
    CTE ``cand``: each anchor's best positive, its top-5 negatives, and
    the is_hard flag."""
    return f"""pos AS (SELECT anchor_id, MAX(cos) AS pos_cos
        FROM {cand} WHERE nlabel = alabel GROUP BY 1),
negk AS (
  SELECT anchor_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY anchor_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM {cand} WHERE nlabel <> alabel)
SELECT n.anchor_id, n.neighbor_id, n.rank,
       ROUND(n.cos, 4) AS neg_sim, ROUND(p.pos_cos, 4) AS best_positive_sim,
       CASE WHEN p.pos_cos IS NULL THEN NULL
            ELSE (n.cos > p.pos_cos)::INT END AS is_hard
FROM negk n LEFT JOIN pos p USING (anchor_id) WHERE n.rank <= 5
"""


_HARDNEG_ORACLE = f"""
WITH a AS (SELECT vec_id AS anchor_id, label AS alabel, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 20 = 0),
c AS (SELECT vec_id AS neighbor_id, label AS nlabel, embedding::DOUBLE[] AS cv
      FROM embeddings),
scored AS (
  SELECT anchor_id, alabel, neighbor_id, nlabel, {cosine("qv", "cv")} AS cos
  FROM c, a WHERE neighbor_id <> anchor_id),
{_mine_tail("scored")}"""


@query(
    "hard_negative_pairs",
    oracle=_HARDNEG_ORACLE,
    doc="contrastive-training pair mining (FaceNet-style): per anchor "
    "(every 20th vector), the top-5 most-similar different-label "
    "vectors, flagged is_hard when they outscore the anchor's best "
    "same-label positive — broadcast anchors x corpus (corpus never "
    "shuffles), map-side-combinable best-positive max, one per-anchor "
    "ranking shuffle.",
)
def hard_negative_pairs(spark, sf_dir):
    from pyspark.sql import functions as F

    from renkodf_spark.operators.similarity import hard_negative_mining
    from renkodf_spark.queries.pipeline import _emb

    emb = _emb(spark, sf_dir)
    return hard_negative_mining(emb, emb.filter(F.col("vec_id") % 20 == 0), k=5)


# ------------------------------------------- ANN-backed negative mining

_HARDNEG_ANN_ORACLE = f"""
WITH pos_i AS (SELECT unnest(range(1, 65)) AS i),
m AS (
  SELECT label AS cell, i, AVG(embedding[i]::DOUBLE) AS mval
  FROM embeddings CROSS JOIN pos_i GROUP BY 1, 2),
{CENTS},
vecs AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
{assign()},
anch AS (SELECT v.vec_id AS anchor_id, v.label AS alabel, v.v AS qv, c.cell
         FROM vecs v JOIN assign c USING (vec_id)
         WHERE v.vec_id % 20 = 0 AND c.rk <= 2),
nb AS (SELECT v.vec_id AS neighbor_id, v.label AS nlabel, v.v AS cv, c.cell
       FROM vecs v JOIN assign c USING (vec_id) WHERE c.rk = 1),
cand AS (
  SELECT anchor_id, alabel, neighbor_id, nlabel, {cosine('qv', 'nb.cv')} AS cos
  FROM anch JOIN nb USING (cell) WHERE neighbor_id <> anchor_id),
{_mine_tail("cand")}"""


@query(
    "hard_negative_pairs_ann",
    oracle=_HARDNEG_ANN_ORACLE,
    doc="ANN-backed hard-negative mining (VERDICT r8 item 5, the "
    "DPR/SimCSE production shape): an IVF recall stage (corpus routed "
    "to its nearest centroid cell, anchors probing their 2 nearest) in "
    "front of the exact cosine rerank + hard flag — compute drops from "
    "|anchors| x |corpus| to the probed fraction, the corpus never "
    "shuffles (broadcast probe rows onto the stationary cell-routed "
    "scan; plan-pinned), so mining scales to unbounded anchor sets.",
)
def hard_negative_pairs_ann(spark, sf_dir):
    from pyspark.sql import functions as F

    from renkodf_spark.operators import similarity
    from renkodf_spark.operators.similarity import hard_negative_mining_ann
    from renkodf_spark.queries.pipeline import _emb

    emb = _emb(spark, sf_dir)
    cents = similarity.embedding_centroids(emb, dim=64)
    return hard_negative_mining_ann(
        emb, emb.filter(F.col("vec_id") % 20 == 0), cents, k=5, n_probe=2
    )


@query(
    "hard_negative_pairs_ann_shuffle",
    oracle=_HARDNEG_ANN_ORACLE,
    doc="the unbounded-anchor variant of hard_negative_pairs_ann "
    "(VERDICT r9 item 6 / ADVICE r9): broadcast_anchors=False plans a "
    "cell-keyed shuffle-merge join instead of broadcasting the probe "
    "rows, for anchor sets that exceed the broadcast bound — one "
    "linear exchange on cell, never |anchors| x |corpus|. Same oracle "
    "as the broadcast path: the join strategy must not change a bit "
    "of the output.",
)
def hard_negative_pairs_ann_shuffle(spark, sf_dir):
    from pyspark.sql import functions as F

    from renkodf_spark.operators import similarity
    from renkodf_spark.operators.similarity import hard_negative_mining_ann
    from renkodf_spark.queries.pipeline import _emb

    emb = _emb(spark, sf_dir)
    cents = similarity.embedding_centroids(emb, dim=64)
    return hard_negative_mining_ann(
        emb, emb.filter(F.col("vec_id") % 20 == 0), cents, k=5, n_probe=2,
        broadcast_anchors=False,
    )


# ------------------------------------------------ batched BPE election

def _bpe_batched_oracle(k: int, m: int) -> str:
    """Replay of the BATCHED election (VERDICT r8 item 6):
    ceil(k/m) unrolled rounds; each round ranks pairs (pc DESC, l, r)
    over pc >= 2, cuts the ranking at the first candidate sharing a
    left/right/merged string with ANY earlier-ranked one (MIN
    conflicted rk — identical to the builder's accept-prefix loop), and
    fills up to m slots. Slots are 1-row MAX-aggregates so an empty
    slot yields NULLs, and a NULL rule makes the merge fold an identity
    (the CASE comparison is never true), so the static unrolling
    tolerates short batches. Application nests the m slot folds in
    rank order, exactly like the encoder oracle."""
    n_rounds = -(-k // m)
    parts = [
        f"""WITH words AS ({_WORDS_SQL}),
w0 AS (
  SELECT cnt, list_transform(range(1, len(word) + 1), i -> word[i:i]) AS syms
  FROM words)"""
    ]
    slots = []  # (round, slot, cte_name)
    for t in range(1, n_rounds + 1):
        m_t = min(m, k - m * (t - 1))
        parts.append(f"""
p{t} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(cnt)::BIGINT AS pc
  FROM w{t - 1}, LATERAL unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2),
c{t} AS (
  SELECT l, r, pc, ROW_NUMBER() OVER (ORDER BY pc DESC, l, r) AS rk
  FROM p{t} WHERE pc >= 2),
x{t} AS (
  SELECT COALESCE(MIN(c1.rk), 1000000000) AS cut
  FROM c{t} c1 JOIN c{t} c2 ON c2.rk < c1.rk
   AND (c1.l IN (c2.l, c2.r, c2.l || c2.r)
     OR c1.r IN (c2.l, c2.r, c2.l || c2.r)
     OR c1.l || c1.r IN (c2.l, c2.r, c2.l || c2.r)))""")
        fold = "w.syms"
        for i in range(1, m_t + 1):
            parts.append(f"""
s{t}_{i} AS (
  SELECT MAX(l) AS l, MAX(r) AS r, MAX(pc) AS pc
  FROM c{t}, x{t} WHERE rk = {i} AND rk < cut)""")
            slots.append((t, i, f"s{t}_{i}"))
            fold = (
                f"list_reduce(list_transform({fold}, s -> [s]), "
                f"(acc, x) -> CASE WHEN acc[-1] = m{i}.l AND x[1] = m{i}.r "
                f"THEN list_concat(acc[1:len(acc) - 1], [m{i}.l || m{i}.r]) "
                f"ELSE list_concat(acc, x) END)"
            )
        joins = " ".join(
            f"CROSS JOIN s{t}_{i} AS m{i}" for i in range(1, m_t + 1)
        )
        parts.append(f"""
w{t} AS (
  SELECT w.cnt, {fold} AS syms
  FROM w{t - 1} w {joins})""")
    union = "\nUNION ALL\n".join(
        f'SELECT {t} AS rnd, {i} AS slot, l AS "left", r AS "right", pc FROM {cte}'
        for t, i, cte in slots
    )
    return (
        ",".join(parts)
        + f""",
elected AS ({union})
SELECT ROW_NUMBER() OVER (ORDER BY rnd, slot)::INT AS merge_rank,
       "left", "right", "left" || "right" AS merged, pc AS pair_count
FROM elected WHERE "left" IS NOT NULL
"""
    )


@query(
    "bpe_merges_batched",
    oracle=_bpe_batched_oracle(_BPE_K, 4),
    doc="batched BPE merge election (VERDICT r8 item 6): up to 4 "
    "pairwise symbol-disjoint merges accepted per round (longest "
    "compatible prefix of the count ranking), so k rules cost "
    "ceil(k/4) jobs instead of k — symbol-disjointness keeps every "
    "accepted count identical to what sequential election would see, "
    "and conflicts cut the batch rather than diverge (on this corpus "
    "the result is a prefix of the sequential rules, pinned in "
    "tests); oracle = 2 unrolled rounds with ranked candidates, a "
    "MIN-conflicted-rank cut, NULL-tolerant slot folds.",
)
def bpe_merges_batched(spark, sf_dir):
    from renkodf_spark.queries.pipeline import _docs

    return text.bpe_merges(_docs(spark, sf_dir), k=_BPE_K, batch_m=4)
