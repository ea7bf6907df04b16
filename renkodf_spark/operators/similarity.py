"""Similarity search over embedding columns (array<float>).

Two paths, per the north-star contract:
- `cosine_topk`: brute-force cosine top-k — the exact baseline. All
  arithmetic is JVM-side higher-order functions (`zip_with` +
  `aggregate` folds, which evaluate left-to-right — deterministic and
  reproducible by the DuckDB oracle). The query side is broadcast so
  the big side streams: one pass over N x Q with no shuffle of the
  corpus.
- `label_blocked_pairs` / `lsh_bucket_topk`: the scale path — restrict
  comparisons to a coarse partition (IVF-style cell or random
  hyperplane LSH bucket) so the pairwise term drops from N^2 to
  sum(cell^2). Hyperplanes are derived deterministically from md5 so
  runs (and oracles) reproduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renkodf_spark.operators.topk import top_k
from renkodf_spark.plans.persist import persist_block


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cosine_pre(a, b, na, nb):
    """``cosine(a, b)`` with the two norms supplied as pre-computed
    columns. Bit-identical to :func:`cosine` whenever ``na``/``nb``
    hold exactly ``_norm(a)``/``_norm(b)``: the same IEEE doubles feed
    the same ``dot / (na * nb)`` association — only *where* each norm
    is evaluated changes (once per row instead of once per pair). This
    is the §2/§4-of-the-optimization-guide arithmetic dial for the
    pair stages: a cell/bucket join evaluates O(sum |cell|^2) cosines,
    and two of the three folds inside each were per-row-constant."""
    return _dot(a, b) / (na * nb)


def _with_cos(pairs: DataFrame) -> DataFrame:
    """Score (query, neighbor) candidate pairs carrying ``qvec``/``cvec``
    and their norms ``__qn``/``__cn``: appends ``cos``."""
    return pairs.withColumn(
        "cos", _cosine_pre(F.col("qvec"), F.col("cvec"), F.col("__qn"), F.col("__cn"))
    )


def _rank_cos(scored: DataFrame, k: int, round_digits: int) -> DataFrame:
    """The cosine top-k tail: per query, the ``k`` best ``cos``, ties to
    the smaller neighbor id, exported as ``(query_id, neighbor_id, rank,
    cos_sim)``."""
    return top_k(scored, k, "cos", "neighbor_id", by=("query_id",)).select(
        "query_id", "neighbor_id", "rank", F.round("cos", round_digits).alias("cos_sim")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine similarity.

    Plan shape: broadcast(queries) x corpus -> per-pair cosine ->
    window top-k on (query). Corpus never shuffles for the join; the
    only shuffle is the final per-query ranking, keyed by query id
    (cardinality = |queries|)."""
    # r14 (guide §1.2): per-row norms computed once on each side of the
    # N x Q pair stage; the pair term is one fold, values bit-identical
    # (:func:`_cosine_pre`).
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("__cn", _norm(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("__qn", _norm(F.col("qvec")))
    pairs = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    return _rank_cos(_with_cos(pairs), k, round_digits)


def label_blocked_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.9,
    round_digits: int = 4,
) -> DataFrame:
    """Near-duplicate vector pairs above a cosine threshold, compared
    only within a coarse block (IVF-cell-style). Equi-join on the block
    key keeps the pairwise blow-up bounded by the largest cell."""
    e = emb.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("__n", _norm(F.col("v")))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, "block")
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn(
            "cos",
            _cosine_pre(F.col("a.v"), F.col("b.v"), F.col("a.__n"), F.col("b.__n")),
        )
        .filter(F.col("cos") > threshold)
        .select(
            F.col("block"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round("cos", round_digits).alias("cos_sim"),
        )
    )


def embedding_centroids(
    emb: DataFrame,
    *,
    group_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-group element-wise mean vector — the IVF training step
    (cell centroids from a labeled/clustered sample). Returns
    ``(cell, centroid: array<double>, n_vectors)``.

    Scale: expressed as ``dim`` scalar ``avg(element_at(v, i))``
    aggregates, so Spark computes map-side partial sums and shuffles
    only ``cells x dim`` partials — never the vectors themselves. The
    alternative (explode to (row, dim) pairs) shuffles N x dim rows;
    don't."""
    v = F.col(vec_col).cast("array<double>")
    means = [F.avg(F.element_at(v, i + 1)).alias(f"__m{i}") for i in range(dim)]
    return (
        emb.groupBy(F.col(group_col).alias("cell"))
        .agg(*means, F.count(F.lit(1)).alias("n_vectors"))
        .select(
            "cell",
            F.array(*[F.col(f"__m{i}") for i in range(dim)]).alias("centroid"),
            "n_vectors",
        )
    )


def round_centroids(centroids: DataFrame, *, round_digits: int = 6) -> DataFrame:
    """Round every centroid component (folding ``-0.0`` onto ``+0.0``).

    Used between Lloyd iterations so the inter-iteration state is
    BIT-EXACT across engines and partial-aggregation orders: distributed
    double means differ from a serial replay in the last ulp, and an
    iterated algorithm would compound that drift into genuinely
    different assignments by iteration 2. Rounding re-synchronizes the
    state each step; the routing argmax is already rounded (see
    :func:`nearest_centroid`)."""
    return centroids.withColumn(
        "centroid",
        F.transform(F.col("centroid"), lambda x: F.round(x, round_digits) + F.lit(0.0)),
    )


def train_ivf_centroids(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    iters: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """IVF training WITHOUT labels — the real-corpus shape (real
    embedding columns carry no cluster/label column to seed from).

    Seeds cells from :func:`rp_lsh_bucket` sign patterns (narrow,
    zero-shuffle, deterministic md5 hyperplanes — up to ``2^n_planes``
    seed cells), then runs ``iters`` Lloyd iterations: route every
    vector to its nearest current centroid (broadcast routing, zero
    corpus shuffle) and recompute per-cell means (``cells x dim``
    partial aggregates shuffle — never the vectors). Cells that lose
    all members simply vanish; no empty-cell re-seeding, so the whole
    procedure is a pure deterministic function of the input.

    Cross-engine determinism: centroids are rounded to ``round_digits``
    (and ``-0.0`` folded to ``+0.0``) after EVERY mean step, so a SQL
    replay carries bit-identical centroids into each iteration, and the
    routing argmax compares cosines rounded to the same digits (ties to
    the smallest cell id). Returns ``(cell, centroid, n_vectors)`` like
    :func:`embedding_centroids`.

    Scale: per iteration, one narrow pass over the corpus (broadcast
    centroid row) + one ``cells x dim`` aggregate. The corpus is
    scanned ``iters + 1`` times and never shuffled; callers should
    persist ``emb`` when the scan itself is expensive."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    seeded = rp_lsh_bucket(emb, vec_col=vec_col, n_planes=n_planes, dim=dim)
    cents = round_centroids(
        embedding_centroids(seeded, group_col="bucket", vec_col=vec_col, dim=dim),
        round_digits=round_digits,
    )
    for t in range(iters):
        # r14 (guide §3.3): each Lloyd step's centroid table embeds the
        # previous step's whole routing chain — inline, the plan (and
        # the per-iteration recompute) grows with iteration depth.
        # Lazily localCheckpoint the <= 2^n_planes-row centroid state
        # between iterations; rows identical.
        if t > 0:
            cents = persist_block(cents)
        assigned = nearest_centroid(
            emb, cents, id_col=id_col, vec_col=vec_col, round_digits=round_digits
        )
        cents = round_centroids(
            embedding_centroids(assigned, group_col="cell", vec_col="vec", dim=dim),
            round_digits=round_digits,
        )
    return cents


def _probe_cells(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_probe: int,
    round_digits: int,
    carry: tuple = (),
) -> DataFrame:
    """Route each vector to its ``n_probe`` nearest centroid cells.
    Returns ``(id, vec, cell, cell_cos, probe_rank)`` — one row per
    (vector, probed cell), probe_rank 1 = nearest.

    Scale: the centroid table collapses to a single broadcast row
    (an array of (cell, centroid) structs — cells x dim doubles);
    the vectors stream through one narrow pass where the ranking
    is a per-row ``array_sort`` of a struct transform — no groupBy,
    no window, zero shuffle. The posexplode multiplies rows by
    ``n_probe`` (1 for plain assignment).

    r14 (optimization guide §1.2 "per-task work"): each centroid's
    norm is computed once into the broadcast struct and each vector's
    norm once per row, so the per-(row, centroid) argmax term drops
    from three dim-element folds to one — values bit-identical
    (:func:`_cosine_pre`)."""
    c_arr = F.col("centroid").cast("array<double>")
    cents_row = centroids.agg(
        F.collect_list(
            F.struct(
                F.col("cell"),
                c_arr.alias("centroid"),
                _norm(c_arr).alias("cnorm"),
            )
        ).alias("__cents")
    )
    v = F.col(vec_col).cast("array<double>")
    # per-centroid (negated rounded cosine, cell); struct sort order =
    # field order, so position 0 is (highest cos, then smallest cell).
    # The 0.0 - x form (not unary minus) folds -0.0 and +0.0 to one
    # key: a cosine that rounds to zero must tie-break by cell
    # identically in Spark and in a SQL engine where -0.0 == 0.0.
    ranked = F.array_sort(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                (
                    F.lit(0.0)
                    - F.round(
                        _cosine_pre(
                            F.col("vec"), c["centroid"], F.col("__vnorm"), c["cnorm"]
                        ),
                        round_digits,
                    )
                ).alias("negcos"),
                c["cell"].alias("cell"),
            ),
        )
    )
    extra = [F.col(c) for c in carry]
    return (
        df.select(F.col(id_col).alias("id"), v.alias("vec"), *extra)
        .withColumn("__vnorm", _norm(F.col("vec")))
        .crossJoin(F.broadcast(cents_row))
        .select(
            "id", "vec", *carry,
            F.posexplode(F.slice(ranked, 1, n_probe)).alias("__p", "__probe"),
        )
        .select(
            "id",
            "vec",
            *carry,
            F.col("__probe.cell").alias("cell"),
            # 0.0 - x again, not unary minus: negating a +0.0 negcos
            # would emit -0.0 and break min/max exports cross-engine
            (F.lit(0.0) - F.col("__probe.negcos")).alias("cell_cos"),
            (F.col("__p") + 1).alias("probe_rank"),
        )
    )


def nearest_centroid(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    carry: tuple = (),
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine — the IVF
    cell-routing step. Returns ``(id, vec, cell, cell_cos)`` plus any
    ``carry`` columns passed through unchanged.

    The argmax runs on cosine ROUNDED to ``round_digits`` (ties break
    to the lexicographically smallest cell), which makes the
    assignment reproducible across engines and partial-aggregation
    orders: distributed float sums differ in the last ulp, and an
    unrounded argmax would flip on near-ties.

    Scale: see :func:`_probe_cells` — one broadcast row of centroids,
    zero shuffle of the vectors."""
    return _probe_cells(
        df, centroids, id_col=id_col, vec_col=vec_col, n_probe=1,
        round_digits=round_digits, carry=carry,
    ).drop("probe_rank")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 1,
    round_digits: int = 4,
    max_cell_size: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: route every corpus vector to its single
    nearest centroid cell, each query to its ``n_probe`` nearest cells,
    then brute-force cosine only inside the probed cells. Recall < 1 by
    construction and rises with ``n_probe`` (cost rises linearly with
    the probed corpus fraction); together with :func:`lsh_bucket_topk`
    this is the second declared ANN scale path — cell sizes are
    data-adapted (centroids learned from the corpus) where LSH buckets
    are oblivious.

    ``max_cell_size`` (r11, VERDICT r10 item 4 — the hot-cell guard):
    with badly-balanced centroids one cell can swallow the corpus,
    making the probe term |hot cell| x |queries probing it| and the
    per-query rank window as wide. The cap keeps only the
    ``max_cell_size`` members NEAREST their cell's centroid (ranked by
    the rounded routing cosine, ties to the smaller id — deterministic,
    so a SQL replay matches) and drops the rest from the candidate
    pool. This is a documented recall trade, the IVF twin of the LSH
    hot-bucket cap (`dedup._band_keys`): a true neighbor pruned from an
    over-full cell cannot be returned — opt in for adversarial
    centroid/corpus combinations after consulting cell-size stats, or
    re-train centroids (`train_ivf_centroids`) which is the real fix.
    Default None = exact cell membership.

    Scale: two narrow assignment passes + one equi-join on ``cell``
    (the corpus shuffles once, keyed by cell; the query side is
    |queries| x n_probe rows, broadcast) + a per-query top-k window
    keyed by query id. No (query, neighbor) pair can repeat: each
    corpus vector lives in exactly one cell and the probed cells are
    distinct."""
    cc = nearest_centroid(corpus, centroids, id_col=id_col, vec_col=vec_col).select(
        F.col("id").alias("neighbor_id"), F.col("vec").alias("cvec"), "cell", "cell_cos"
    )
    if max_cell_size is not None:
        if max_cell_size <= 0:
            raise ValueError(f"max_cell_size must be positive, got {max_cell_size}")
        cc = top_k(
            cc, max_cell_size, "cell_cos", "neighbor_id", by=("cell",), rank="__ck"
        ).drop("__ck")
    cc = cc.drop("cell_cos").withColumn("__cn", _norm(F.col("cvec")))
    qc = (
        _probe_cells(
            queries, centroids, id_col=id_col, vec_col=vec_col, n_probe=n_probe, round_digits=6
        )
        .select(F.col("id").alias("query_id"), F.col("vec").alias("qvec"), "cell")
        .withColumn("__qn", _norm(F.col("qvec")))
    )
    pairs = cc.join(F.broadcast(qc), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _rank_cos(_with_cos(pairs), k, round_digits)


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    carry: tuple = (),
) -> None:
    """Persist an IVF index: the corpus routed to its nearest centroid
    cell, written PARTITIONED BY cell under ``<path>/data`` (plus any
    ``carry`` columns — e.g. the label column
    :func:`hard_negative_mining_ann_indexed` reads), with the
    centroid table stored under ``<path>/centroids`` (a sibling, not a
    subdirectory of the partitioned layout — Spark's file index treats
    underscore-prefixed paths as hidden and a stray non-``cell=`` dir
    would break partition discovery).

    This is the ANN counterpart of the persisted LSH band index: the
    expensive part of IVF querying — computing every corpus vector's
    cosine against every centroid — runs ONCE per corpus snapshot, and
    :func:`ivf_topk_indexed` then touches only the probed cells'
    partitions. At 100 TB, a query's scan cost becomes proportional to
    the probed corpus fraction (n_probe/cells-ish), not corpus size.
    """
    routed = nearest_centroid(
        corpus, centroids, id_col=id_col, vec_col=vec_col, round_digits=round_digits,
        carry=carry,
    )
    routed.select("id", "vec", "cell", *carry).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path + "/data")
    centroids.write.mode("overwrite").parquet(path + "/centroids")


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 1,
    round_digits: int = 4,
) -> DataFrame:
    """IVF top-k over a :func:`write_ivf_index` index: route the
    queries with the stored centroids, then read ONLY the probed
    cells' partitions and brute-force within them. Results are
    identical to :func:`ivf_topk` with the same centroids
    (parity-pinned in tests).

    Pruning is DYNAMIC, not a driver collect: the probed-cell side is
    broadcast for the join anyway, so Catalyst's dynamic partition
    pruning reuses that broadcast as an IN-subquery partition filter
    on the ``cell``-partitioned scan — unprobed cells' files are never
    read (plan-pinned: ``dynamicpruningexpression`` in
    PartitionFilters). The plan stays fully declarative — no job runs
    before the query itself, and the probed-cell set never rides
    through the driver. The ``probe_rank <= n_probe`` filter is
    already guaranteed by :func:`_probe_cells`'s slice; it is restated
    here because DPP only fires when the broadcast side carries a
    selective predicate."""
    cents = spark.read.parquet(path + "/centroids")
    qc = (
        _probe_cells(
            queries, cents, id_col=id_col, vec_col=vec_col, n_probe=n_probe, round_digits=6
        )
        .filter(F.col("probe_rank") <= n_probe)
        .select(F.col("id").alias("query_id"), F.col("vec").alias("qvec"), "cell")
        .withColumn("__qn", _norm(F.col("qvec")))
    )
    idx = spark.read.parquet(path + "/data").select(
        F.col("id").alias("neighbor_id"), F.col("vec").alias("cvec"), "cell"
    ).withColumn("__cn", _norm(F.col("cvec")))
    pairs = idx.join(F.broadcast(qc), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _rank_cos(_with_cos(pairs), k, round_digits)


def rp_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, d) =
    md5(f"{p}:{d}") scaled to [-0.5, 0.5). Plain constants, so both the
    operator and any SQL oracle can inline the identical matrix."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) / 0xFFFFFFFF) - 0.5
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def rp_lsh_bucket(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH bucket id (sign pattern of dot products
    with `rp_planes` hyperplanes); deterministic across runs and
    engines. Appends `bucket` (long)."""
    planes = rp_planes(n_planes, dim)
    v = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in planes[p]])
        dot = _dot(v, plane)
        bucket = bucket + F.when(dot > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return emb.withColumn("bucket", bucket)


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    round_digits: int = 4,
) -> DataFrame:
    """ANN top-k: compare a query only against corpus vectors in the
    same random-hyperplane bucket. Recall < 1 by construction; this is
    the scale path (equi-join on bucket instead of full cross)."""
    cb = rp_lsh_bucket(corpus, vec_col=vec_col, n_planes=n_planes, dim=dim).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cvec"), "bucket"
    ).withColumn("__cn", _norm(F.col("cvec")))
    qb = rp_lsh_bucket(queries, vec_col=vec_col, n_planes=n_planes, dim=dim).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qvec"), "bucket"
    ).withColumn("__qn", _norm(F.col("qvec")))
    pairs = cb.join(F.broadcast(qb), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _rank_cos(_with_cos(pairs), k, round_digits)


def quantize_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 127,
) -> DataFrame:
    """Symmetric int8-style quantization: ``q = round(clamp(x, -1, 1)
    * scale)`` per component — the storage/bandwidth scale path for
    embedding columns (4x smaller than float32, 8x than float64, and
    integer-valued so every downstream dot product is EXACT in double
    arithmetic: quantized cosines are bit-identical across engines,
    partitionings, and summation orders, unlike float folds).

    Returns ``(id, qvec: array<int>)``. Narrow, zero-shuffle.
    """
    v = F.col(vec_col).cast("array<double>")
    q = F.transform(
        v,
        lambda x: F.round(F.greatest(F.least(x, F.lit(1.0)), F.lit(-1.0)) * scale).cast("int"),
    )
    return df.select(F.col(id_col).alias("id"), q.alias("qvec"))


def _cap_cells(
    routed: DataFrame, max_cell_size: int | None
) -> tuple[DataFrame, list[str]]:
    """Shared hot-cell guard (VERDICT r10 item 4): split any cell
    larger than ``max_cell_size`` into ``ceil(n / max_cell_size)``
    sub-cells by the deterministic round-robin key ``pmod(id, n_sub)``
    and return the (possibly sub-keyed) relation plus the pair-join
    keys. The (cell, size) relation is bounded by the centroid count —
    broadcast, never a shuffle of the vectors. No-op when
    ``max_cell_size`` is None."""
    if max_cell_size is None:
        return routed, ["cell"]
    if max_cell_size <= 0:
        raise ValueError(f"max_cell_size must be positive, got {max_cell_size}")
    sizes = routed.groupBy("cell").agg(F.count(F.lit(1)).alias("__n"))
    routed = (
        routed.join(F.broadcast(sizes), "cell")
        .withColumn(
            "__sub",
            F.pmod(
                F.col("id").cast("long"),
                F.ceil(F.col("__n") / F.lit(max_cell_size)).cast("long"),
            ),
        )
        .drop("__n")
    )
    return routed, ["cell", "__sub"]


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_digits: int = 6,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): route
    every embedding to its nearest centroid cell, compare pairs only
    WITHIN a cell, and drop every vector whose rounded cosine to a
    lower-id cell-mate reaches ``threshold`` — keeping exactly the
    smallest id of each near-duplicate neighborhood. Returns the kept
    rows as ``(id_col, cell)``.

    The keep policy is the deterministic variant of the paper's
    "random representative per duplicate group": greedy by id, so the
    output is a pure function of the input (no RNG, no partition-order
    dependence) and a SQL replay matches exactly. The drop predicate
    compares ``ROUND(cos, round_digits) >= threshold`` — same stability
    contract as the routing argmax (:func:`nearest_centroid`).

    Scale shape: routing is the zero-shuffle broadcast pass of
    :func:`_probe_cells`; the pairwise term is an equi-join on ``cell``
    bounded by the largest cell (sum(cell^2), never N^2 — the reason
    SemDeDup clusters first); the dropped-id relation is two narrow
    columns and drives a left-anti join that AQE broadcasts when it
    fits. One cell-keyed shuffle of the vectors, total.

    ``max_cell_size`` (r11, VERDICT r10 item 4 — the hot-cell guard
    closing the last unbounded skew term in the ANN family): a
    pathological cell of size n costs n^2/2 comparisons; with the cap,
    any cell larger than ``max_cell_size`` is SPLIT into
    ``ceil(n / max_cell_size)`` sub-cells by a deterministic secondary
    key (``pmod(id, n_sub)`` — requires a numeric id, round-robin so
    sub-cells stay balanced even for sequential ids) and pairs are
    compared only within a sub-cell. Every vector is still kept or
    dropped (nothing is silently discarded); the documented recall
    trade — same shape as the LSH hot-bucket cap at
    ``dedup._band_keys`` — is that a near-duplicate pair split across
    sub-cells is not compared, so BOTH members survive: capped output
    is always a superset of the exact output, only ever missing drops,
    and only inside cells past the cap. Cells at or under the cap are
    exact (``n_sub = 1``). Opt in for adversarial corpora; balanced
    centroids (``train_ivf_centroids``) are the real fix.
    """
    # r14 (guide §3.3, §1.2): the routed relation is referenced three
    # times (both self-join sides + the keep-side anti-join probe) —
    # lazily localCheckpoint it so routing runs once, and reuse each
    # row's precomputed norm in the pair cosine (bit-identical,
    # :func:`_cosine_pre`).
    routed = persist_block(
        nearest_centroid(
            emb, centroids, id_col=id_col, vec_col=vec_col, round_digits=round_digits
        ).select("id", "vec", "cell")
    )
    routed, pair_keys = _cap_cells(routed, max_cell_size)
    capped = routed.withColumn("__nrm", _norm(F.col("vec")))
    a, b = capped.alias("a"), capped.alias("b")
    drops = (
        a.join(b, pair_keys)
        .filter(F.col("a.id") > F.col("b.id"))
        .filter(
            F.round(
                _cosine_pre(
                    F.col("a.vec"), F.col("b.vec"), F.col("a.__nrm"), F.col("b.__nrm")
                ),
                round_digits,
            )
            >= threshold
        )
        .select(F.col("a.id").alias("id"))
        .distinct()
    )
    return routed.join(drops, "id", "left_anti").select(
        F.col("id").alias(id_col), "cell"
    )


def knn_graph(
    emb: DataFrame,
    centroids: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_cell_size: int | None = None,
) -> DataFrame:
    """Approximate kNN graph over the embedding table: route every
    vector to its nearest centroid cell (:func:`nearest_centroid`) and
    emit, for each vector, its ``k`` most-cosine-similar CELL-MATES —
    the neighbor graph that SemDeDup-style cluster dedup, dataset
    cartography, and graph-based diversity sampling build first.
    Output: ``(src, dst, cos_sim)``, ``cos_sim`` rounded to
    ``round_digits`` (the cross-engine stability contract), ranked by
    ``(cos_sim DESC, dst)`` so the graph is a pure function of the
    input. Vectors alone in their cell emit no edges.

    Scale shape: routing is the zero-shuffle broadcast pass of
    :func:`nearest_centroid`; candidate generation is the cell-keyed
    equi-join bounded by sum(cell^2) — never N^2 (the IVF contract);
    the top-k window runs over the narrow ``(src, dst, cos)`` pair
    relation only — the vector payload never enters the window
    exchange. ``max_cell_size`` applies the shared hot-cell guard
    (:func:`_cap_cells`): over-size cells split round-robin and
    neighbors are found only within a sub-cell. Unlike the dedup
    stages (where capping can only miss drops), a capped top-k can
    SUBSTITUTE: every emitted edge is still a true cell-mate pair with
    its exact cosine, but shrinking the candidate pool may promote a
    lower-similarity neighbor into the top-k — the recall trade is
    per-rank, and only inside cells past the cap; balanced centroids
    are the real fix.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    routed = nearest_centroid(
        emb, centroids, id_col=id_col, vec_col=vec_col, round_digits=round_digits
    ).select("id", "vec", "cell")
    return knn_edges_from_routed(
        routed, k=k, round_digits=round_digits, max_cell_size=max_cell_size
    )


def knn_edges_from_routed(
    routed: DataFrame,
    *,
    k: int,
    round_digits: int = 6,
    max_cell_size: int | None = None,
    keep_cell: bool = False,
) -> DataFrame:
    """The pair/rank stage of :func:`knn_graph` over an ALREADY-ROUTED
    ``(id, vec, cell)`` relation — shared with the streaming graph
    maintainer (``ann_stream.knn_graph_writer``), whose per-trigger
    recompute reads stored cells and must NOT re-route (routing is
    frozen at index-write time so batch and stream agree bit-for-bit).
    ``keep_cell=True`` carries the source's cell onto each edge (src
    and dst always share it — edges never cross cells), which the
    streaming writer uses as the partition-overwrite key.

    r14 plan shape (optimization guide §2.4, §3.3, §1.2): the routed
    relation is lazily localCheckpoint'd, so the self-join's two sides
    read one materialized (id, vec, cell) pass instead of stamping the
    whole routing pipeline (scan + broadcast-argmax) twice into the
    physical plan; each row's vector norm is computed once before the
    join and the per-pair cosine reuses it (``_cosine_pre`` —
    bit-identical values, one fold per pair instead of three); and the
    top-k window partitions by ``(cell[, __sub], src)`` — equivalent
    grouping, since a source's pairs all share its cell — which the
    join's existing hash partitioning already satisfies, removing the
    final per-src Exchange outright.

    PRECONDITION (ADVICE r14): each ``id`` must appear in exactly one
    ``(cell[, __sub])`` — i.e. ``routed`` holds one row per id. That is
    exactly the routing contract (``nearest_centroid`` emits one argmax
    row per vector) and the streaming maintainer's append-only index
    contract (routing is frozen at index-write time). If a caller ever
    feeds duplicate ids re-routed to different cells across
    generations, the ``(cell, src)`` window would emit up to ``k``
    edges per (cell, src) instead of ``k`` per src — dedupe to one row
    per id first."""
    routed = persist_block(routed)
    routed, pair_keys = _cap_cells(routed, max_cell_size)
    routed = routed.withColumn("__nrm", _norm(F.col("vec")))
    a, b = routed.alias("a"), routed.alias("b")
    # cosine is symmetric: evaluate it once per UNORDERED pair
    # (id < id — half the join output and half the arithmetic), then
    # emit both orientations for the per-source rank
    sub_keys = [c for c in pair_keys if c != "cell"]
    half = (
        a.join(b, pair_keys)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("lo"),
            F.col("b.id").alias("hi"),
            (
                F.round(
                    _cosine_pre(
                        F.col("a.vec"), F.col("b.vec"), F.col("a.__nrm"), F.col("b.__nrm")
                    ),
                    round_digits,
                )
                + F.lit(0.0)
            ).alias("cos_sim"),
            F.col("a.cell").alias("cell"),
            *[F.col(f"a.{c}") for c in sub_keys],
        )
    )
    # both orientations via explode of ONE row (a unionByName of two
    # selects would stamp the join subtree twice in the physical plan
    # and evaluate every cosine twice anyway)
    pairs = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("lo").alias("src"),
                    F.col("hi").alias("dst"),
                    F.col("cos_sim"),
                ),
                F.struct(
                    F.col("hi").alias("src"),
                    F.col("lo").alias("dst"),
                    F.col("cos_sim"),
                ),
            )
        ).alias("e"),
        "cell",
        *sub_keys,
    ).select("e.src", "e.dst", "e.cos_sim", "cell", *sub_keys)
    # per-src grouping, expressed over the join's own partitioning
    # keys: a source's pairs all live in its (cell[, __sub]) group, so
    # row_number per (pair_keys..., src) == row_number per src, and the
    # window rides the join exchange instead of adding its own.
    out = top_k(
        pairs, k, "cos_sim", "dst", by=(*pair_keys, "src"), rank="__rk"
    ).drop("__rk", *sub_keys)
    return out if keep_cell else out.drop("cell")


def write_knn_graph(
    emb: DataFrame,
    centroids: DataFrame,
    path: str,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_cell_size: int | None = None,
) -> None:
    """Persist the :func:`knn_graph` edge relation under
    ``<path>/edges`` partitioned by cell — the batch twin of the
    streaming maintainer (``ann_stream.knn_graph_writer``'s ``edges/``
    layout), so ``read_knn_graph`` / ``read_knn_graph_stream`` accept
    either producer's state. Centroids are stored under
    ``<path>/centroids`` (the ``write_ivf_index`` sibling convention).

    Why persist at all: centrality questions (PageRank / TrustRank /
    triangle counts) over the same corpus snapshot each pay the full
    graph build — routing plus the sum(|cell|^2) pair stage — if the
    graph lives only inline. At 100 TB the build dominates every
    fixpoint (measured ~2/3 of knn_pagerank's wall locally); stored
    once, every subsequent centrality query reads a narrow
    (src, dst, cos_sim) relation and the vectors never load again."""
    routed = nearest_centroid(
        emb, centroids, id_col=id_col, vec_col=vec_col, round_digits=round_digits
    ).select("id", "vec", "cell")
    edges = knn_edges_from_routed(
        routed, k=k, round_digits=round_digits, max_cell_size=max_cell_size,
        keep_cell=True,
    )
    edges.write.mode("overwrite").partitionBy("cell").parquet(path + "/edges")
    centroids.write.mode("overwrite").parquet(path + "/centroids")


def read_knn_graph(spark, path: str) -> DataFrame:
    """The stored kNN graph as ``(src, dst, cos_sim)`` — identical to
    the inline :func:`knn_graph` output (parity-pinned), so
    ``mutual_knn_edges`` / ``graph.pagerank`` / ``triangle_counts``
    compose unchanged. The scan reads three long/double columns; no
    vector column exists anywhere in the layout, so a centrality plan
    over this reader provably never touches embeddings."""
    return spark.read.parquet(path + "/edges").select("src", "dst", "cos_sim")


def mutual_knn_edges(
    graph: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Undirected mutual-kNN edges from a :func:`knn_graph` output:
    keep ``(a, b)`` only when a lists b AND b lists a — the standard
    symmetrization that prunes hub-induced false neighbors before
    clustering (a near-dup pair is mutual; a vector merely close to a
    hub is not). Output: ``(id_a, id_b, cos_sim)`` with
    ``id_a < id_b`` — the candidate-pair contract
    (``dedup.cluster_labels`` consumes it directly).

    Scale shape: one self-equi-join of the narrow edge relation on the
    reversed key pair; cosine symmetry means both directions carry the
    same rounded ``cos_sim``, so either side's value is exact.
    """
    a, b = graph.alias("a"), graph.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{src_col}") == F.col(f"b.{dst_col}"))
            & (F.col(f"a.{dst_col}") == F.col(f"b.{src_col}")),
        )
        .filter(F.col(f"a.{src_col}") < F.col(f"a.{dst_col}"))
        .select(
            F.col(f"a.{src_col}").alias("id_a"),
            F.col(f"a.{dst_col}").alias("id_b"),
            F.col("a.cos_sim").alias("cos_sim"),
        )
    )


def knn_density(
    graph: DataFrame,
    *,
    src_col: str = "src",
    sim_col: str = "cos_sim",
    round_digits: int = 6,
) -> DataFrame:
    """Per-vector neighborhood density from a :func:`knn_graph`
    output: ``(src, n_neighbors, mean_cos_micros, max_cos_micros)``
    where the cosines are scaled to exact integers (``round_digits``
    decimal places → micro-units for the default 6) so the per-source
    aggregates are order-independent long arithmetic and a SQL replay
    hash-matches. High mean density = prototypical / redundant
    neighborhoods (SemDeDup's targets); low = outliers — the
    dataset-cartography dial for diversity-aware sampling.

    Scale shape: one map-side-combinable aggregation keyed by the
    source id over the narrow edge relation; nothing else moves.

    Capped inputs (r12, VERDICT r11 item 6): when the graph comes from
    ``knn_graph(..., max_cell_size=...)``, the density aggregates
    inherit the cap's SUBSTITUTION semantics — every aggregated edge
    is still a true cell-mate pair with its exact cosine, and
    ``n_neighbors``/``max_cos_micros`` stay bounded the same way, but
    inside an over-cap cell ``mean_cos_micros`` averages over a
    sub-cell's top-k instead of the whole cell's, so tier boundaries
    can shift for those sources only (parity-pinned: identical to the
    exact tiers whenever no cell exceeds the cap).
    """
    scale = 10**round_digits
    micros = F.round(F.col(sim_col) * scale).cast("long")
    return graph.groupBy(F.col(src_col).alias("vec_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        F.round(F.sum(micros) / F.count(F.lit(1))).cast("long").alias("mean_cos_micros"),
        F.max(micros).alias("max_cos_micros"),
    )


def random_project(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce ``dim``-d
    embeddings to ``out_dim`` components against the deterministic
    :func:`rp_planes` matrix (uniform entries satisfy the JL distance
    bound like Gaussian ones, and cosine is scale-invariant, so no
    normalization constant is needed). The point at scale: downstream
    pairwise work (brute-force rerank, clustering, near-dup) touches
    ``out_dim/dim`` of the bytes.

    Each component is rounded ONCE to integer micro-units and exported
    as a long, so every downstream dot product is arithmetic over
    identical integers in any engine (the quantize_embeddings
    convention). Output: ``(id_col, proj array<long>)``.

    Scale shape: a narrow zero-shuffle projection — the plane matrix is
    ``out_dim x dim`` literals compiled into the expression.
    """
    if out_dim <= 0 or out_dim > dim:
        raise ValueError(f"out_dim must be in 1..{dim}, got {out_dim}")
    planes = rp_planes(out_dim, dim)
    v = F.col(vec_col).cast("array<double>")
    comps = [
        F.round(_dot(v, F.array(*[F.lit(x) for x in planes[j]])) * 1e6).cast("long")
        for j in range(out_dim)
    ]
    return emb.select(F.col(id_col), F.array(*comps).alias("proj"))


def projected_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    out_dim: int = 16,
    dim: int = 64,
    round_digits: int = 4,
) -> DataFrame:
    """Brute-force cosine top-k in the JL-projected space — the
    reduced-dimension ANN baseline (recall < 1 only through the
    projection's distortion; measure with the recall gate). Same
    output contract as :func:`cosine_topk`:
    ``(query_id, neighbor_id, rank, cos_sim)``.

    Scale shape: identical to cosine_topk (broadcast queries x streamed
    corpus + per-query top-k rank) but every dot is ``out_dim`` wide
    instead of ``dim`` — the pairwise term shrinks by ``out_dim/dim``.
    """
    cp = random_project(
        corpus, id_col=id_col, vec_col=vec_col, out_dim=out_dim, dim=dim
    ).select(F.col(id_col).alias("neighbor_id"), F.col("proj").cast("array<double>").alias("cv"))
    cp = cp.withColumn("__cn", _norm(F.col("cv")))
    qp = random_project(
        queries, id_col=id_col, vec_col=vec_col, out_dim=out_dim, dim=dim
    ).select(F.col(id_col).alias("query_id"), F.col("proj").cast("array<double>").alias("qv"))
    qp = qp.withColumn("__qn", _norm(F.col("qv")))
    scored = cp.crossJoin(F.broadcast(qp)).filter(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        _cosine_pre(F.col("qv"), F.col("cv"), F.col("__qn"), F.col("__cn")).alias("cos"),
    )
    return _rank_cos(scored, k, round_digits)


def binary_quantize(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Binary (sign-bit) quantization: each vector becomes ``dim`` bits
    packed into ``dim/32`` 32-bit words stored in BIGINT (the Bloom
    convention — no shift ever reaches the sign bit in any engine).
    Bit ``i`` is set iff component ``i`` is >= 0.  256× compression at
    float64, and Hamming distance on the codes approximates angular
    distance (the classic sign-random-projection estimator — here
    applied to the raw components; compose with
    :func:`random_project` for an oblivious rotation first).

    Pure integer outputs — the one quantization with ZERO cross-engine
    float caveats beyond the >= 0 sign test itself.  Zero-shuffle
    narrow map.
    """
    if dim <= 0 or dim % 32 != 0:
        raise ValueError(f"dim must be a positive multiple of 32, got {dim}")
    v = F.col(vec_col).cast("array<double>")
    words = []
    for w in range(dim // 32):
        expr = F.lit(0).cast("long")
        for j in range(32):
            expr = expr + F.when(
                F.element_at(v, w * 32 + j + 1) >= 0,
                F.lit(1 << j).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        words.append(expr)
    return emb.select(F.col(id_col), F.array(*words).alias("words"))


def hamming_topk(
    codes: DataFrame,
    query_codes: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact Hamming top-k over binary codes: score = popcount of the
    XOR, summed over words — an exact long, so ranking is bit-stable in
    any engine.  Returns ``(query_id, neighbor_id, rank, hamming)``,
    rank by (distance asc, neighbor id).

    Scale shape mirrors ``cosine_topk``: queries collapse to one
    broadcast row, the corpus streams its ~dim/32 longs per row through
    a broadcast NLJ (this is the bandwidth point — 16 bytes per vector
    instead of 512), and the per-query top-k is the only shuffle.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    qrow = query_codes.agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("query_id"), F.col("words").alias("qwords"))
        ).alias("__qs")
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("words"),
            F.col("__q.qwords"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        codes.crossJoin(F.broadcast(qrow))
        .select(
            F.col(id_col).alias("neighbor_id"),
            "words",
            F.explode("__qs").alias("__q"),
        )
        .select(
            F.col("__q.query_id").alias("query_id"),
            "neighbor_id",
            dist.alias("hamming"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return top_k(
        scored, k, "hamming", "neighbor_id", by=("query_id",), ascending=True
    ).select("query_id", "neighbor_id", "rank", "hamming")


def hard_negative_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Contrastive-training pair mining: for every anchor vector, the
    top-``k`` most cosine-similar CORPUS vectors carrying a DIFFERENT
    label (the mined negatives), each flagged ``is_hard = 1`` when it
    outscores the anchor's best same-label positive — the triplet-loss
    "hard negative" condition (Schroff et al. 2015, FaceNet); rows with
    ``is_hard = 0`` are the semi-hard/easy band. Anchors without any
    positive get ``is_hard = NULL``. NULL labels match nothing (SQL
    semantics) and so mine as neither positive nor negative.

    Output: ``(anchor_id, neighbor_id, rank, neg_sim,
    best_positive_sim, is_hard)``.

    Scale shape: the cosine_topk plan with a label split — broadcast
    (anchors) x corpus, so the corpus never shuffles for the join and
    is scanned ONCE (the best-positive is a whole-partition window MAX
    over the scored pairs, sharing the per-anchor rank window's
    exchange — see :func:`_mine_candidates` for why a groupBy +
    self-join would stamp the corpus subtree twice); the only shuffle
    is the scalar per-anchor ranking (cardinality = |anchors| x
    candidates). Hard/semi-hard flags compare the RAW cosine (both
    engines compute the identical double), rounding only the exported
    columns.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("__nlabel"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("__cn", _norm(F.col("cvec")))
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("__alabel"),
        F.col(vec_col).cast("array<double>").alias("avec"),
    ).withColumn("__an", _norm(F.col("avec")))
    # _mine_candidates re-applies the neighbor!=anchor guard; the join
    # condition here only avoids materializing the diagonal pairs
    joined = c.join(F.broadcast(a), F.col("neighbor_id") != F.col("anchor_id"))
    return _mine_candidates(joined, k, round_digits)


def hard_negative_mining_ann(
    corpus: DataFrame,
    anchors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    n_probe: int = 2,
    round_digits: int = 4,
    broadcast_anchors: bool = True,
) -> DataFrame:
    """:func:`hard_negative_mining` with an IVF recall stage in front
    of the exact cosine rerank — the DPR/SimCSE production shape
    (Karpukhin et al. 2020 mine negatives from an ANN index, not by
    brute force). The exact miner's compute is O(|anchors| x |corpus|);
    here each corpus vector is scored only against the anchors probing
    ITS cell, so compute is the probed corpus fraction. Recall < 1 by
    construction (a negative outside every probed cell is missed) and
    rises with ``n_probe`` — same dial as :func:`ivf_topk`.

    Semantics within the candidate pool are identical to the exact
    miner: per anchor the top-``k`` different-label candidates, flagged
    ``is_hard = 1`` when they outscore the anchor's best same-label
    CANDIDATE (the best-positive, like the negatives, is mined from the
    probed cells — ``is_hard`` is NULL when no positive candidate
    exists there).

    Scale shape: two narrow routing passes over broadcast centroid rows
    (zero shuffle — :func:`_probe_cells`), then the candidate join of
    the |anchors| x n_probe probe rows onto the cell-routed corpus.
    With ``broadcast_anchors=True`` (default) the probe rows broadcast
    — the corpus NEVER shuffles (plan-pinned in tests/test_plans.py)
    and the only exchanges after the scan are the per-anchor top-k
    ranking and the map-side-combinable best-positive max, both over
    candidate pairs, never vectors x vectors. This requires
    |anchors| x n_probe x dim doubles to fit in a broadcast (ADVICE
    r9): for anchor sets beyond the broadcast threshold pass
    ``broadcast_anchors=False``, which plans a cell-keyed shuffle join
    instead — both sides exchange ONCE on ``cell`` (the corpus
    vectors' single linear shuffle; never |anchors| x |corpus|), and
    downstream exchanges still carry only scalar candidate pairs. The
    shuffle path's width is bounded by the centroid count, so size the
    IVF codebook at least to cluster parallelism (the usual
    sqrt(corpus-size) guidance already clears that at any real scale).
    For repeated unbounded-anchor mining over a static corpus, route
    the corpus ONCE with :func:`write_ivf_index` and mine over the
    persisted layout so even that single corpus shuffle amortizes away.
    """
    routed = _probe_cells(
        corpus, centroids, id_col=id_col, vec_col=vec_col, n_probe=1,
        round_digits=6, carry=(label_col,),
    )
    qc = _miner_anchors(
        anchors, centroids, id_col=id_col, vec_col=vec_col, label_col=label_col,
        n_probe=n_probe,
    )
    return _mine_cells(
        _miner_corpus(routed, label_col), qc, k, round_digits, broadcast_anchors
    )


def _miner_corpus(routed: DataFrame, label_col: str) -> DataFrame:
    """The ANN miners' corpus side: cell-routed ``(id, vec, label,
    cell)`` rows as ``(neighbor_id, cvec, __nlabel, cell, __cn)``."""
    return routed.select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("cvec"),
        F.col(label_col).alias("__nlabel"),
        "cell",
    ).withColumn("__cn", _norm(F.col("cvec")))


def _miner_anchors(
    anchors, centroids, *, id_col, vec_col, label_col, n_probe, keep=()
) -> DataFrame:
    """The ANN miners' anchor side: each anchor's ``n_probe`` nearest
    cells as ``(anchor_id, avec, __alabel, cell, *keep, __an)``."""
    return _probe_cells(
        anchors, centroids, id_col=id_col, vec_col=vec_col, n_probe=n_probe,
        round_digits=6, carry=(label_col,),
    ).select(
        F.col("id").alias("anchor_id"),
        F.col("vec").alias("avec"),
        F.col(label_col).alias("__alabel"),
        "cell",
        *keep,
    ).withColumn("__an", _norm(F.col("avec")))


def _mine_cells(cc, qc, k: int, round_digits: int, broadcast_anchors: bool) -> DataFrame:
    """Join the miners' corpus and anchor sides on ``cell`` and mine.
    Each corpus vector lives in exactly one cell and an anchor's probed
    cells are distinct, so no (anchor, neighbor) pair repeats."""
    if broadcast_anchors:
        joined = cc.join(F.broadcast(qc), "cell")
    else:
        # unbounded-anchor path: a single cell-keyed shuffle-merge join
        # (hinted, so AQE can't silently flip it back to a broadcast
        # whose size bound this path exists to escape)
        joined = cc.hint("shuffle_merge").join(qc.hint("shuffle_merge"), "cell")
    return _mine_candidates(joined, k, round_digits)


def _mine_candidates(joined, k: int, round_digits: int) -> DataFrame:
    """Shared exact-rerank tail of the ANN miners: score the candidate
    pairs, mine the per-anchor best positive, rank + flag the top-k
    negatives.

    The best-positive is a whole-partition window MAX over the scored
    candidates, not a groupBy + self-join: a second consumer of the
    candidate relation would make Catalyst stamp the whole join subtree
    twice and push ``__nlabel == __alabel`` INTO the second stamping's
    join keys — re-keying it by (label, cell), which scans the corpus
    twice and, on the bucketed-index path, silently disables the
    bucket-join ("Bucketed: false (disabled by query planner)") and
    shuffles the corpus vectors. With the window form the corpus
    subtree is stamped ONCE and the only exchange below the candidate
    join is a single scalar hashpartitioning(anchor_id) shared by both
    windows — never a vector."""
    from pyspark.sql.window import Window

    # per-row norms are attached by every caller before the candidate
    # join (__an on the anchor side, __cn on the corpus side), so the
    # per-pair term is one fold — values bit-identical (_cosine_pre)
    cand = joined.filter(F.col("neighbor_id") != F.col("anchor_id")).withColumn(
        "cos",
        _cosine_pre(F.col("avec"), F.col("cvec"), F.col("__an"), F.col("__cn")),
    )
    scored = cand.withColumn(
        "__pos",
        F.max(
            F.when(F.col("__nlabel") == F.col("__alabel"), F.col("cos"))
        ).over(Window.partitionBy("anchor_id")),
    )
    negk = top_k(
        scored.filter(F.col("__nlabel") != F.col("__alabel")),
        k, "cos", "neighbor_id", by=("anchor_id",),
    )
    return negk.select(
        "anchor_id",
        "neighbor_id",
        "rank",
        F.round("cos", round_digits).alias("neg_sim"),
        F.round("__pos", round_digits).alias("best_positive_sim"),
        F.when(F.col("__pos").isNull(), F.lit(None).cast("int"))
        .otherwise((F.col("cos") > F.col("__pos")).cast("int"))
        .alias("is_hard"),
    )


def hard_negative_mining_ann_indexed(
    spark,
    path: str,
    anchors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    n_probe: int = 2,
    round_digits: int = 4,
    broadcast_anchors: bool = True,
) -> DataFrame:
    """:func:`hard_negative_mining_ann` over a persisted
    :func:`write_ivf_index` layout (or the superset layout
    ``streaming.ann_stream.ivf_index_writer`` maintains): the corpus
    routing ran once at index time, so a mining run reads ONLY the
    anchors' probed ``cell=`` partitions — with the default broadcast
    anchors, Catalyst's dynamic partition pruning reuses the probe-row
    broadcast as the partition filter, same as ``ivf_topk_indexed``.
    The index must have been written with the label column in
    ``carry``. ``broadcast_anchors=False`` falls back to the cell-keyed
    shuffle join (one linear exchange per side) when the anchor set
    exceeds the broadcast bound."""
    cents = spark.read.parquet(path + "/centroids")
    cc = _miner_corpus(spark.read.parquet(path + "/data"), label_col)
    # probe_rank restated for DPP: pruning fires only when the broadcast
    # side carries a selective predicate (the ivf_topk_indexed rule)
    qc = _miner_anchors(
        anchors, cents, id_col=id_col, vec_col=vec_col, label_col=label_col,
        n_probe=n_probe, keep=("probe_rank",),
    ).filter(F.col("probe_rank") <= n_probe).drop("probe_rank")
    return _mine_cells(cc, qc, k, round_digits, broadcast_anchors)


def write_ivf_index_bucketed(
    corpus: DataFrame,
    centroids: DataFrame,
    table: str,
    *,
    n_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple = (),
    round_digits: int = 6,
) -> None:
    """Persist an IVF index as a CELL-BUCKETED managed table (plus a
    ``<table>__centroids`` sibling). Complements :func:`write_ivf_index`
    (directory-partitioned, for broadcast-probe dynamic pruning): the
    bucketed layout carries ``HashPartitioning(cell)`` into every later
    cell-keyed JOIN, so readers that cannot broadcast their probe side
    — unbounded anchor sets — meet the corpus WITHOUT exchanging a
    single corpus vector, ever: the corpus shuffles zero times at write
    (bucketBy shuffles once into buckets — the amortized cost) and zero
    times per mining run. ``carry`` names extra columns to store
    (e.g. the label column hard-negative mining needs)."""
    routed = nearest_centroid(
        corpus, centroids, id_col=id_col, vec_col=vec_col, round_digits=round_digits,
        carry=carry,
    )
    (
        routed.select("id", "vec", "cell", *carry)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "cell")
        .sortBy("cell")
        .saveAsTable(table)
    )
    centroids.write.mode("overwrite").saveAsTable(f"{table}__centroids")


def hard_negative_mining_ann_bucketed(
    spark,
    table: str,
    anchors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    n_probe: int = 2,
    round_digits: int = 4,
) -> DataFrame:
    """:func:`hard_negative_mining_ann` over a
    :func:`write_ivf_index_bucketed` index — the repeated-mining /
    unbounded-anchor production shape. The corpus side of the candidate
    join is the bucketed table scan, whose ``HashPartitioning(cell)``
    already satisfies the join's required distribution: ONLY the
    anchors' probe rows shuffle (one linear exchange on cell), the
    corpus vectors cross ZERO exchanges (plan-pinned), and the routing
    cost (every corpus vector × every centroid) was paid once at index
    write. Results are identical to the in-line miner with the same
    centroids (parity-pinned). The mining shuffle width equals the
    bucket count — size ``n_buckets`` to cluster parallelism at write
    time."""
    cc = _miner_corpus(spark.table(table), label_col)
    qc = _miner_anchors(
        anchors, spark.table(f"{table}__centroids"), id_col=id_col, vec_col=vec_col,
        label_col=label_col, n_probe=n_probe,
    )
    return _mine_cells(cc, qc, k, round_digits, broadcast_anchors=False)
