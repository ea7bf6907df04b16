"""Product quantization (PQ) for embedding columns — the third declared
ANN scale path next to RP-LSH buckets and IVF cells (similarity.py).

PQ splits each ``dim``-dimensional vector into ``m`` contiguous
``dim/m``-dimensional subvectors and quantizes every subspace
independently against a small per-subspace codebook: a vector is stored
as ``m`` small integers (codes) instead of ``dim`` floats — 32x
compression at m=8/float32 — and query scoring becomes Asymmetric
Distance Computation (ADC): the query precomputes one lookup table of
``m x k`` partial inner products, and every corpus vector's score is a
sum of ``m`` table lookups — no float vector math per corpus row at
all (Jegou, Douze, Schmid: "Product Quantization for Nearest Neighbor
Search", TPAMI 2011).

Cross-engine determinism follows the house conventions: codebook
entries are rounded like centroids (similarity.round_centroids), the
encode argmin compares ROUNDED distances with ties to the smallest
code, and ADC table entries are rounded ONCE to integer micro-units so
the per-row score is an exact long sum in any association (the
unigram_logprob convention).

Scale shape: the codebook relation is ``m x k`` rows and collapses to a
single broadcast row for both encode and scoring; the corpus is never
shuffled by any stage (encode is a narrow pass; scoring is a broadcast
NLJ over the query set exactly like similarity.cosine_topk, but over
8-byte codes instead of full vectors — the bandwidth win IS the point);
only the final per-query top-k pays a rank shuffle keyed by query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renkodf_spark.operators.similarity import _dot
from renkodf_spark.operators.topk import top_k


def _dot_unrolled(a, b, n: int, a_off: int = 0, b_off: int = 0):
    """``<a[a_off:a_off+n], b[b_off:b_off+n]>`` unrolled to literal
    ``element_at`` indices.  Matches ``_dot``'s fold exactly —
    ``((0.0 + t1) + t2) + ...`` in ascending index order — so results
    are bit-identical, but the expression is plain scalar arithmetic
    instead of a per-element interpreted lambda, and no slice array is
    materialized per candidate."""
    acc = F.lit(0.0)
    for j in range(n):
        acc = acc + F.element_at(a, a_off + j + 1) * F.element_at(b, b_off + j + 1)
    return acc


def _check_geometry(dim: int, m: int) -> int:
    if m <= 0 or dim <= 0:
        raise ValueError(f"dim and m must be positive, got dim={dim}, m={m}")
    if dim % m != 0:
        raise ValueError(f"dim must be divisible by m, got dim={dim}, m={m}")
    return dim // m


def pq_codebooks(
    emb: DataFrame,
    *,
    group_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Train per-subspace codebooks from a labeled/clustered sample:
    codebook entry ``(sub, code)`` is the element-wise mean of subvector
    ``sub`` over the rows of group ``code`` — the PQ analogue of
    :func:`similarity.embedding_centroids` (which this reuses
    positionally: subspace ``sub`` covers dimensions ``sub*dsub ..
    (sub+1)*dsub - 1``). Returns ``(sub, code, subcentroid:
    array<double>, n_vectors)`` with every component rounded (and -0.0
    folded) for bit-exact cross-engine replay.

    Scale: ``m * k * dsub`` scalar avg partials shuffle — never the
    vectors; one corpus scan for all ``m`` subspaces at once.
    """
    dsub = _check_geometry(dim, m)
    v = F.col(vec_col).cast("array<double>")
    means = [F.avg(F.element_at(v, i + 1)).alias(f"__m{i}") for i in range(dim)]
    per_group = emb.groupBy(F.col(group_col).alias("code")).agg(
        *means, F.count(F.lit(1)).alias("n_vectors")
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.array(
                    *[
                        (F.round(F.col(f"__m{s * dsub + j}"), round_digits) + F.lit(0.0))
                        for j in range(dsub)
                    ]
                ).alias("subcentroid"),
            )
            for s in range(m)
        ]
    )
    return per_group.select(
        F.explode(subs).alias("__s"), "code", "n_vectors"
    ).select(
        F.col("__s.sub").alias("sub"),
        "code",
        F.col("__s.subcentroid").alias("subcentroid"),
        "n_vectors",
    )


def codebooks_from_centroids(
    centroids: DataFrame,
    *,
    dim: int = 64,
    m: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Reshape per-cell mean vectors (``similarity.embedding_centroids``
    output: ``(cell, centroid, n_vectors)`` with RAW means) into the PQ
    codebook relation — BIT-IDENTICAL to :func:`pq_codebooks` on the
    same grouped sample, without re-aggregating the corpus: subspace
    ``s`` of cell ``c`` is ``round(centroid[s*dsub .. (s+1)*dsub-1],
    round_digits) + 0.0`` — the same per-component round applied to the
    same double means, so every downstream encode distance and ADC LUT
    entry folds identically.

    r15 (optimization guide §2.4): IVF-PQ compositions train cells and
    codebooks from the SAME per-label aggregate; computing
    ``pq_codebooks`` separately re-ran the whole ``cells x dim``
    corpus aggregation (one extra full scan + exchange at 100 TB).
    Derive the books from the already-computed (and persisted)
    centroid relation instead — a narrow ``cells``-row reshape."""
    dsub = _check_geometry(dim, m)
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.transform(
                    F.slice(F.col("centroid"), s * dsub + 1, dsub),
                    lambda x: F.round(x, round_digits) + F.lit(0.0),
                ).alias("subcentroid"),
            )
            for s in range(m)
        ]
    )
    return centroids.select(
        F.explode(subs).alias("__s"), F.col("cell").alias("code"), "n_vectors"
    ).select(
        F.col("__s.sub").alias("sub"),
        "code",
        F.col("__s.subcentroid").alias("subcentroid"),
        "n_vectors",
    )


def _books_by_sub_row(codebooks: DataFrame, m: int):
    """Collapse the codebook relation to ONE broadcastable row, grouped
    by subspace: ``__books_by_sub[s]`` is the array of ``(code,
    subcentroid, cc)`` candidates for subspace ``s`` with the centroid
    self-dot ``cc = <c,c>`` precomputed ONCE here instead of per corpus
    row per candidate (the dot expression is identical, so every
    downstream rounded distance is bit-identical to computing it
    inline).  Grouping up front replaces the former per-row-per-sub
    ``filter`` scan of the flat m×k list with an O(1) ``element_at``."""
    flat = codebooks.agg(
        F.collect_list(
            F.struct(
                F.col("sub"),
                F.col("code").cast("int").alias("code"),
                F.col("subcentroid").cast("array<double>").alias("subcentroid"),
            )
        ).alias("__flat")
    )
    by_sub = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.filter(F.col("__flat"), lambda b: b["sub"] == s),
            lambda b: F.struct(
                b["code"].alias("code"),
                b["subcentroid"].alias("subcentroid"),
                _dot(b["subcentroid"], b["subcentroid"]).alias("cc"),
            ),
        ),
    )
    return flat.select(by_sub.alias("__books_by_sub"))


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    round_digits: int = 6,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector as ``m`` codebook indices: for each subspace,
    the code minimizing the ROUNDED squared L2 distance to the
    subvector (computed in dot form ``<x,x> - 2<x,c> + <c,c>`` so both
    engines fold identically), ties to the smallest code. Returns
    ``(id, *keep, codes: array<int>)`` — the 100 TB-resident
    representation (``keep`` passes extra input columns through, e.g.
    an IVF cell id).

    Scale: codebooks collapse to a single broadcast row grouped by
    subspace; encoding is a narrow per-row running-min fold over each
    subspace's ``k`` candidates — zero shuffle.  Per-row flop count is
    ``m×(1 + k)`` dsub-length dots: ``<x,x>`` is hoisted into a per-row
    projection (computed once per sub, not once per candidate) and
    ``<c,c>`` ships precomputed in the broadcast row, so only ``<x,c>``
    is evaluated inside the candidate loop — ~3× fewer multiplies and
    no per-sub filter/sort passes vs the naive formulation, measured
    ~5× end-to-end on a 200k-row encode.  Every rounded distance is
    bit-identical to the naive form (same dot expressions, same
    rounding, same (dist, code) tie order).

    Degenerate inputs (ADVICE r7): the running-min fold seeds with an
    ``(inf, NULL)`` sentinel, so a vector component that makes EVERY
    candidate distance NaN yields ``code = NULL`` (NaN never satisfies
    the ``<`` / ``==`` predicates), and a literal ``+inf`` distance
    ties the sentinel and is likewise dropped (NULL-code comparison).
    The old array_sort formulation elected an arbitrary code in those
    cases; NULL-out is the deliberate behavior here — a non-finite
    distance means the embedding is corrupt, and a NULL code surfaces
    that instead of hiding it. Finite inputs are unaffected.
    """
    dsub = _check_geometry(dim, m)
    v = F.col(vec_col).cast("array<double>")

    # running (dist, code) min with the smallest-code tiebreak — the
    # same total order array_sort(struct(dist, code)) would produce,
    # in O(k) compares without materializing/sorting the struct array
    def best_code(s):
        cands = F.element_at(F.col("__books_by_sub"), s + 1)
        xx = F.element_at(F.col("__xx"), s + 1)

        def step(acc, b):
            d = F.round(
                xx
                - F.lit(2.0)
                * _dot_unrolled(F.col("__v"), b["subcentroid"], dsub, a_off=s * dsub)
                + b["cc"],
                round_digits,
            )
            better = (d < acc["dist"]) | (
                (d == acc["dist"]) & (b["code"] < acc["code"])
            )
            return F.when(
                better, F.struct(d.alias("dist"), b["code"].alias("code"))
            ).otherwise(acc)

        init = F.struct(
            F.lit(float("inf")).alias("dist"),
            F.lit(None).cast("int").alias("code"),
        )
        return F.aggregate(cands, init, step)["code"]

    with_xx = emb.select(
        F.col(id_col).alias("id"), v.alias("__v"), *[F.col(c) for c in keep]
    ).withColumn(
        "__xx",
        F.array(
            *[
                _dot_unrolled(
                    F.col("__v"), F.col("__v"), dsub,
                    a_off=s * dsub, b_off=s * dsub,
                )
                for s in range(m)
            ]
        ),
    )
    return (
        with_xx.crossJoin(F.broadcast(_books_by_sub_row(codebooks, m)))
        .select(
            "id", *keep, F.array(*[best_code(s) for s in range(m)]).alias("codes")
        )
    )


def _lut_entries(q_col, dsub: int):
    """Per-query LUT over the broadcast ``__books_by_sub`` list: one
    ``code -> lut_micros`` map per subspace, each entry rounded ONCE to
    an integer micro-unit — the exact-long-sum convention.  Building
    maps here turns the per-(corpus row × query) score from an m×k
    filter scan into ``m`` O(1) map lookups."""
    return F.transform(
        F.col("__books_by_sub"),
        lambda cands, s: F.map_from_entries(
            F.transform(
                cands,
                lambda b: F.struct(
                    b["code"],
                    F.round(
                        _dot(F.slice(q_col, s * dsub + F.lit(1), dsub), b["subcentroid"])
                        * 1e6
                    ).cast("long"),
                ),
            )
        ),
    )


def _adc_score(codes_col, luts_col):
    """Exact long ADC score: sum of the ``m`` per-sub map lookups for
    the row's codes (a code absent from a map contributes 0, matching
    the former filter-then-sum form)."""
    return F.aggregate(
        F.zip_with(
            codes_col,
            luts_col,
            lambda c, mp: F.coalesce(F.element_at(mp, c), F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _rank_adc(pairs: DataFrame, query_id, neighbor_id, luts, k: int) -> DataFrame:
    """The ADC top-k tail of :func:`pq_adc_topk` and :func:`ivfpq_topk`:
    score each (query, corpus ``codes``) pair against the query's LUTs,
    drop self-pairs, keep the ``k`` best per query (ties to the smaller
    neighbor id) as ``(query_id, neighbor_id, rank, score_micros)``."""
    scored = pairs.select(
        query_id.alias("query_id"),
        neighbor_id.alias("neighbor_id"),
        _adc_score(F.col("codes"), luts).alias("score_micros"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return top_k(scored, k, "score_micros", "neighbor_id", by=("query_id",)).select(
        "query_id", "neighbor_id", "rank", "score_micros"
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 5,
) -> DataFrame:
    """Asymmetric Distance Computation top-k by inner product: each
    query precomputes ``LUT[sub][code] = round(<q_sub, centroid_sub> *
    1e6)`` as a long, and a corpus vector's score is the EXACT long sum
    of its ``m`` table lookups. Returns ``(query_id, neighbor_id, rank,
    score_micros)`` — rank by (score desc, neighbor id).

    Approximation contract: scores are inner products against the
    quantized reconstruction, so ranking error is bounded by the
    quantization error — the standard PQ trade: recall rises with k
    (codes per subspace) and m.

    Scale: queries x (m x k) LUT rows collapse into one broadcast row;
    corpus codes stream through a broadcast NLJ (8 small ints per row —
    this is the path that makes 100 TB of float embeddings scannable);
    the per-query top-k is the only shuffle.
    """
    dsub = _check_geometry(dim, m)
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    qv = F.col(vec_col).cast("array<double>")

    # per query: one code->lut_micros map per sub, joined to the
    # corpus as one broadcast row of (query_id, luts) structs
    luts = (
        queries.select(F.col(id_col).alias("query_id"), qv.alias("__q"))
        .crossJoin(F.broadcast(_books_by_sub_row(codebooks, m)))
        .select("query_id", _lut_entries(F.col("__q"), dsub).alias("__luts"))
    )
    qrow = luts.agg(
        F.collect_list(F.struct(F.col("query_id"), F.col("__luts"))).alias("__qs")
    )
    pairs = codes.crossJoin(F.broadcast(qrow)).select(
        F.col("id").alias("neighbor_id"), "codes", F.explode("__qs").alias("__q")
    )
    return _rank_adc(
        pairs, F.col("__q.query_id"), F.col("neighbor_id"), F.col("__q.__luts"), k
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 5,
    n_probe: int = 1,
) -> DataFrame:
    """IVF-PQ approximate top-k — the FAISS-style pairing of the two
    scale paths: IVF routing bounds WHICH corpus rows are scored (only
    the probed cells' members) and PQ bounds WHAT is read per row
    (m small codes instead of dim floats). Corpus vectors route to
    their single nearest centroid cell and are PQ-encoded in the same
    narrow pass; each query probes its ``n_probe`` nearest cells and
    precomputes one integer-micro LUT; scoring is the exact long ADC
    sum, restricted to probed-cell members by a broadcast equi-join on
    the cell key. Returns ``(query_id, neighbor_id, rank,
    score_micros)``.

    Recall contract: misses compound — a true neighbor outside the
    probed cells is never scored (IVF term), and within-cell ranking
    error is bounded by the quantization error (PQ term). Both dials
    (``n_probe``, codebook size) trade recall for cost independently.

    Scale: ONE corpus scan (routing + encoding fuse into a single
    narrow stage over two broadcast rows — centroids and codebooks);
    the cell join broadcasts |queries| x n_probe LUT rows, so the
    corpus never shuffles; the per-query top-k rank is the only
    shuffle. With a cell-partitioned persisted index (write_ivf_index)
    the scan itself prunes to the probed fraction.
    """
    from renkodf_spark.operators.similarity import _probe_cells, nearest_centroid

    dsub = _check_geometry(dim, m)
    if k <= 0 or n_probe <= 0:
        raise ValueError(f"k and n_probe must be positive, got k={k}, n_probe={n_probe}")

    routed = nearest_centroid(corpus, centroids, id_col=id_col, vec_col=vec_col)
    enc = pq_encode(
        routed, codebooks, id_col="id", vec_col="vec", dim=dim, m=m, keep=("cell",)
    )
    qluts = (
        _probe_cells(
            queries,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            n_probe=n_probe,
            round_digits=6,
        )
        .select(F.col("id").alias("query_id"), F.col("vec").alias("__q"), "cell")
        .crossJoin(F.broadcast(_books_by_sub_row(codebooks, m)))
        .select("query_id", "cell", _lut_entries(F.col("__q"), dsub).alias("__luts"))
    )
    pairs = enc.join(F.broadcast(qluts), "cell")
    return _rank_adc(pairs, F.col("query_id"), F.col("id"), F.col("__luts"), k)
