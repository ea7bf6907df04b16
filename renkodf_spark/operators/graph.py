"""Graph centrality over narrow edge relations: integer-exact
fixed-point PageRank.

Why it's in a training-data pipeline: graph-based curation ranks
documents by centrality in a similarity graph — prototype selection
("keep the most central exemplar per region", the SemDeDup keep
election generalized), influence-weighted sampling, and spam demotion
(low-PageRank nodes in a near-dup graph are isolated one-offs; high
ones are templates). The natural input here is the kNN graph
(``similarity.knn_graph``) or a candidate-pair graph from the dedup
family.

Exactness discipline: classical PageRank iterates in floating point,
which neither replays cross-engine nor across partitionings. This
implementation is FIXED-POINT INTEGER throughout:

    pr_0(v)      = scale div N
    contrib_t(u) = pr_t(u) div outdeg(u)
    pr_{t+1}(v)  = ((d_den - d_num) * (scale div N)) div d_den
                   + (d_num * sum_{u->v} contrib_t(u)) div d_den

with d = d_num/d_den the damping factor and every division an integer
floor — deterministic, order-independent (sums of longs), and
bit-replayable by a SQL oracle. Floors leak a little probability mass
per step (standard for fixed-point PR; bounded by (outdeg-sparsity +
1)/scale per node per iteration), which is the price of exact
reproducibility — rankings at scale=1e12 are indistinguishable from
float PR. Dangling nodes (no out-edges) follow the "their mass goes to
the teleport term only" convention: simplest, exact, and shared by the
oracle.

100 TB shape: state is the narrow (id, pr) long pair; one iteration =
one equi-join onto edges plus one groupBy(dst) — both shuffles carry
only long triples, never payloads. Out-degrees are computed once.
``checkpoint_every`` truncates lineage on long runs (the
cluster_labels sizeInBytes lesson — dedup.py:254); the default covers
the few-iteration curation regime.

The reference engine (srlcarlg/renkodf) has no graph surface; this is
part of the training-data-pipeline extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renkodf_spark.operators.topk import top_k
from renkodf_spark.plans.persist import persist_block

DEFAULT_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    *,
    iterations: int = 3,
    d_num: int = 85,
    d_den: int = 100,
    scale: int = DEFAULT_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
    seeds: DataFrame | None = None,
    weight_col: str | None = None,
    checkpoint_every: int | None = None,
    teleport_n: int | None = None,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list.

    ``nodes`` (one ``id_col`` column) fixes the vertex set — isolated
    vertices keep the teleport-only rank; if omitted, vertices are the
    union of edge endpoints. Returns ``(id_col, pr)`` with ``pr`` in
    fixed-point units of 1/scale (BIGINT, hash-exact).

    ``seeds`` (one ``id_col`` column, a subset of the vertex set)
    switches to PERSONALIZED PageRank — teleport mass goes uniformly
    to the seed set instead of all vertices:

        pr_0(v)   = scale div |S|   if v in S else 0
        base(v)   = ((d_den - d_num) * (scale div |S|)) div d_den
                    if v in S else 0

    with the propagation term unchanged. Seeded on a trusted subset
    this is TrustRank (Gyongyi/Garcia-Molina/Pedersen, "Combating web
    spam with TrustRank", VLDB 2004): rank flows outward from trusted
    documents through similarity edges, and low-rank nodes are the
    quality-suspect periphery — the curation signal.

    ``weight_col`` names a POSITIVE BIGINT edge-weight column (what
    similarity graphs actually have — e.g. the rounded integer cosine);
    the contribution becomes ``pr(u) * w(u,v) div W(u)`` with
    ``W(u) = sum of u's out-weights``, still every-division-a-floor
    exact. Overflow contract: ``pr * w`` must stay under 2^63 — ranks
    are bounded by ~scale, so keep ``scale * max_weight < 9e18``
    (the default 1e12 scale allows weights up to ~9e6; the rounded-
    micro-cosine convention's 1e6 fits with headroom).

    ``teleport_n`` overrides the teleport-population count (the |S| in
    ``pr0 = scale div |S|``) instead of counting seed-flagged nodes.
    This is the per-partition recompute hook: on a graph whose edges
    never cross partition cells (the kNN graph), ranks decompose per
    cell GIVEN the global teleport population, so an incremental
    maintainer can re-run the fixpoint on one cell's subgraph while
    pinning the global |S| (see ``ann_stream.knn_centrality_writer``).
    ``teleport_n = 0`` short-circuits to all-zero ranks (the n == 0
    convention). Callers are responsible for passing the true global
    count; per-node results are then identical to the full-graph run.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if not (0 < d_num < d_den):
        raise ValueError(f"damping must satisfy 0 < d_num < d_den, got {d_num}/{d_den}")
    if scale <= 0:
        raise ValueError(f"scale must be positive, got {scale}")
    if weight_col is not None:
        e = edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
    else:
        e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias(id_col))
            .unionByName(e.select(F.col("dst").alias(id_col)))
            .distinct()
        )
    nodes = nodes.select(id_col)
    if seeds is not None:
        # flag seed membership once; |S| is the bounded scalar
        nodes = nodes.join(
            seeds.select(F.col(id_col)).distinct().withColumn("__seed", F.lit(True)),
            id_col,
            "left",
        ).select(id_col, F.coalesce("__seed", F.lit(False)).alias("__seed"))
    else:
        nodes = nodes.withColumn("__seed", F.lit(True))
    # materialize-once via LAZY localCheckpoint, NOT cache(): a plan-
    # keyed CacheManager entry outlives the call and accumulates in
    # executor storage across a long-lived driver's many pagerank calls
    # (ADVICE r12); checkpoint blocks are ContextCleaner-managed — freed
    # when the returned DataFrame is dropped. The seed count below is
    # the first action, so laziness changes nothing here — it just
    # avoids the eager-barrier cost class measured on setsim. Trade:
    # blocks are not recomputable after executor loss (rerun the call)
    # — unless the session conf routes them through the checkpoint dir.
    nodes = persist_block(nodes)
    if teleport_n is not None:
        if teleport_n < 0:
            raise ValueError(f"teleport_n must be >= 0, got {teleport_n}")
        n = teleport_n
    else:
        n = nodes.filter("__seed").count()  # one bounded scalar (the model-totals convention)
    if n == 0:
        return nodes.select(id_col).withColumn("pr", F.lit(0).cast("long"))
    pr0 = scale // n
    base = ((d_den - d_num) * pr0) // d_den
    base_col = F.when(F.col("__seed"), F.lit(base)).otherwise(F.lit(0)).cast("long")
    if weight_col is not None:
        outd = e.groupBy("src").agg(F.sum("w").alias("od"))
        contrib = F.expr("pr * w div od")
    else:
        outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
        contrib = F.expr("pr div od")
    ew = e.join(outd, "src")  # (src, dst[, w], od)
    pr = nodes.select(
        id_col,
        F.when(F.col("__seed"), F.lit(pr0)).otherwise(F.lit(0)).cast("long").alias("pr"),
    )
    for t in range(iterations):
        sums = (
            ew.join(pr.withColumnRenamed(id_col, "src"), "src")
            .select("dst", contrib.alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        pr = nodes.join(
            sums.withColumnRenamed("dst", id_col), id_col, "left"
        ).select(
            id_col,
            (
                base_col
                + F.expr(f"CAST({d_num} AS BIGINT) * coalesce(s, CAST(0 AS BIGINT)) div {d_den}")
            )
            .cast("long")
            .alias("pr"),
        )
        if checkpoint_every and (t + 1) % checkpoint_every == 0 and t + 1 < iterations:
            pr = persist_block(pr, eager=True)
    return pr


def degree_centrality(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """In/out degree per vertex over a directed edge list: one groupBy
    per direction, full-outer-joined — ``(id, out_deg, in_deg)``."""
    out_d = (
        edges.groupBy(F.col(src_col).alias("id"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
    )
    in_d = (
        edges.groupBy(F.col(dst_col).alias("id"))
        .agg(F.count(F.lit(1)).alias("in_deg"))
    )
    return (
        out_d.join(in_d, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
        )
    )


def triangle_counts(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-vertex triangle counts over the UNDIRECTED view of an edge
    list — the local-density signal (a near-dup community is triangle-
    rich; a hub spoking unrelated docs is triangle-poor, the classic
    template-vs-coincidence discriminator).

    The scalable shape (node-iterator with degree ordering, the
    standard MapReduce formulation): dedupe to undirected edges, then
    orient every edge from the (degree, id)-SMALLER endpoint to the
    larger. Each triangle has exactly ONE vertex whose two incident
    edges both point away (the smallest in the total order), so joining
    oriented wedges (a->b, a->c, b<c in the order) against oriented
    edges (b->c) counts each triangle exactly once — and the wedge
    fan-out is quadratic only in OUT-degree, which the orientation
    caps at O(sqrt(edges)) for every vertex regardless of raw skew
    (a star's hub has out-degree 0). All joins are narrow (id, id)
    equi-joins; no payload moves.

    Returns ``(id, triangles)`` for every vertex incident to at least
    one undirected edge (isolated-in-the-undirected-view vertices have
    no row; count them as 0).
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .unionByName(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): strict total order, ties impossible
    du = deg.select(F.col("id").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("d").alias("dv"))
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("e")
        )
        .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
    )
    w1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = w1.join(w2, "a").filter(F.col("x") < F.col("y"))
    tri = wedges.join(
        oriented.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
            # the closing edge may be oriented either way in (x, y) id
            # order vs the degree order — check both orientations of
            # the ORIENTED edge against the id-ordered wedge pair
            oriented.select(F.col("b").alias("x"), F.col("a").alias("y"))
        ),
        ["x", "y"],
    ).select("a", "x", "y")
    per_vertex = (
        tri.select(F.col("a").alias("id"))
        .unionByName(tri.select(F.col("x").alias("id")))
        .unionByName(tri.select(F.col("y").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(per_vertex, "id", "left").select(
        "id", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles")
    )


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    iterations: int = 3,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007) — community detection one level finer than connected
    components: CC merges everything reachable; LPA keeps densely
    interlinked neighborhoods together while letting thin bridges
    separate, which is what template-family grouping over a near-dup /
    mutual-kNN graph actually wants (two template families joined by
    one accidental near-pair stay distinct communities).

    Classical LPA is randomized (visit order + tie coin-flips) and
    never replays. This variant is exact and bit-replayable by a SQL
    oracle:

        label_0(v)   = v                      (its own BIGINT id)
        label_t+1(v) = argmax over in-neighbor labels of vote count,
                       ties -> SMALLEST label; no in-neighbors -> keep

    with a FIXED iteration count — synchronous updates can oscillate
    on bipartite structures, so the t-step output (not a fixpoint) is
    the defined result, identical on every engine and partitioning.
    Pass both orientations of an undirected graph (the
    ``mutual_knn_edges`` both-ways convention) so votes flow both ways.

    100 TB shape: iteration state is the narrow (id, label) long pair;
    one iteration = one edge equi-join + one (dst, label) count + one
    per-dst argmax window — every exchange carries long triples,
    payloads never enter the loop (the ``pagerank`` posture). On the
    kNN graph, edges never cross cells, so labels can only converge
    within a cell's subgraph — the same per-cell decomposition the
    streaming centrality maintainer exploits.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    # LAZY localCheckpoint: every iteration references the edge
    # relation, so an expensive upstream (the kNN-graph build) would be
    # stamped `iterations` times into one physical plan. Non-eager
    # checkpointing runs no job now; the first action computes the
    # edges once, persists the blocks, and the remaining references
    # read them back (ContextCleaner-managed — the setsim/pagerank
    # no-CacheManager-leak rule).
    e = edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
    if iterations > 1:
        e = persist_block(e)
    lbl = nodes.select(
        F.col(id_col), F.col(id_col).cast("long").alias("lbl")
    )
    for t in range(iterations):
        votes = (
            e.join(lbl.select(F.col(id_col).alias("__s"), "lbl"), "__s")
            .groupBy("__d", "lbl")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        winner = top_k(votes, 1, "__cnt", "lbl", by=("__d",), rank="__rk").select(
            F.col("__d").alias(id_col), F.col("lbl").alias("__new")
        )
        lbl = lbl.join(winner, id_col, "left").select(
            id_col, F.coalesce("__new", "lbl").alias("lbl")
        )
        if checkpoint_every and (t + 1) % checkpoint_every == 0 and t + 1 < iterations:
            lbl = persist_block(lbl, eager=True)
        elif t + 1 < iterations:
            # r14 (guide §3.3): each round references lbl TWICE (the
            # vote join and the carry-forward left join), so an inline
            # chain doubles the logical plan per iteration — 3 rounds
            # stamped the node relation 8x and planning dominated the
            # fixpoint. A LAZY per-round localCheckpoint keeps the plan
            # linear in rounds with no barrier job; rows identical.
            # Deliberately local, whatever the session conf (ADVICE
            # r14): routing EVERY round through the reliable store
            # would write the node relation to the checkpoint dir once
            # per iteration, making the checkpoint_every cadence
            # meaningless; reliable writes stay on the configured
            # cadence above, and a lost executor between them replays
            # at most checkpoint_every rounds of narrow (id, label) work.
            lbl = lbl.localCheckpoint(eager=False)
    return lbl.select(id_col, F.col("lbl").alias("community"))
