"""Oracle SQL fragments that several query families share.

Each rule below is written once and interpolated where the families
used to spell it out: the whitespace tokenizer, the DuckDB cosine, the
IVF routing replay (label-cell centroids, then the ``ROUND(cos, 6)``
argmax with ties to the smaller cell, as
``similarity.nearest_centroid`` routes) and the per-query cosine top-k
(``cos DESC``, ties to the smaller neighbor id, as the operators'
``top_k`` ranks). The rendered oracles are pinned by
``tests/test_oracle_pin.py``.
"""

# whitespace split of the trimmed text: the house tokenizer
WS_TOKENS = r"string_split_regex(trim(text), '\s+')"


def cosine(a: str, b: str) -> str:
    """DuckDB cosine of two ``DOUBLE[]`` expressions, in the operators'
    ``dot / (|a| * |b|)`` association."""
    return (
        f"list_dot_product({a}, {b})\n"
        f"  / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


# the routing score: cosine to a centroid, rounded so both engines'
# argmax agrees under last-ulp centroid differences
CELL_COS = f"ROUND({cosine('v', 'cv')}, 6)"

CENTS = "cents AS (SELECT cell, LIST(mval ORDER BY i) AS cv FROM m GROUP BY cell)"
VECS = "vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"


def assign(cols: str = "vec_id, cell", src: str = "vecs CROSS JOIN cents") -> str:
    """The ``assign`` CTE: every (vector, cell) pair of ``src`` ranked
    per vector by routing score, ``rk = 1`` the vector's cell."""
    return f"""assign AS (
  SELECT {cols},
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {CELL_COS} DESC,
                    cell) AS rk
  FROM {src})"""


# centroids, vectors and their routing, for oracles over `embeddings`
IVF_ROUTE = f"{CENTS},\n{VECS},\n{assign()}"

# each vector's own cell, with its vector
MEM = """mem AS (
  SELECT c.vec_id, c.cell, v.v
  FROM (SELECT vec_id, cell FROM assign WHERE rk = 1) c JOIN vecs v USING (vec_id))"""

COS_RANK = "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank"


def scored(name: str, src: str, qv: str = "qv", nv: str = "nv") -> str:
    """A CTE scoring the (query_id, neighbor_id) pairs of ``src`` by
    cosine, self-pairs dropped."""
    return f"""{name} AS (
  SELECT query_id, neighbor_id,
         {cosine(qv, nv)} AS cos
  FROM {src} WHERE neighbor_id <> query_id)"""


def top_ids(name: str, src: str) -> str:
    """A CTE keeping each query's five best-cosine neighbor ids of the
    scored CTE ``src``."""
    return f"""{name} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           {COS_RANK}
    FROM {src}) WHERE rank <= 5)"""


# connected components of the symmetric ``pairs(id_a, id_b)`` graph
# over the documents: walk(id, node) reaches every node of id's
# component (the oracle of ``dedup.cluster_labels``; needs WITH RECURSIVE)
COMPONENT_WALK = """edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.node
)"""


# the cosine top-5 export of the `scored` CTE
COS_TOP5 = f"""ranked AS (
  SELECT query_id, neighbor_id, cos,
         {COS_RANK}
  FROM scored)
SELECT query_id, neighbor_id, rank, ROUND(cos, 4) AS cos_sim FROM ranked WHERE rank <= 5"""
