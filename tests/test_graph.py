"""Fixed-point PageRank (operators/graph.py): bit-exact replay vs a
pure-Python reference, conventions (dangling, isolated), shapes."""

import pytest
from pyspark.sql import functions as F

from renkodf_spark.operators import graph
from renkodf_spark.plans.persist import RELIABLE_CONF

RELIABLE = {RELIABLE_CONF: "true"}


def _py_pagerank(edges, nodes, *, iterations=3, d_num=85, d_den=100, scale=10**12):
    """Pure-Python integer replay of the documented recurrence."""
    n = len(nodes)
    pr0 = scale // n
    base = ((d_den - d_num) * pr0) // d_den
    outd = {}
    for s, _ in edges:
        outd[s] = outd.get(s, 0) + 1
    pr = {v: pr0 for v in nodes}
    for _ in range(iterations):
        sums = {}
        for s, d in edges:
            sums[d] = sums.get(d, 0) + pr[s] // outd[s]
        pr = {v: base + (d_num * sums.get(v, 0)) // d_den for v in nodes}
    return pr


EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 3), (6, 1),
    (7, 7),  # self-loop
    # 8 is dangling (out-edges none, in-edges none -> isolated)
]
NODES = [1, 2, 3, 4, 5, 6, 7, 8]


@pytest.mark.parametrize("iterations", [0, 1, 3, 7])
def test_pagerank_matches_python_reference(spark, iterations):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    n = spark.createDataFrame([(v,) for v in NODES], "id long")
    got = {
        r.id: r.pr
        for r in graph.pagerank(e, n, iterations=iterations).collect()
    }
    want = _py_pagerank(EDGES, NODES, iterations=iterations)
    assert got == want


def test_pagerank_checkpoint_parity(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    n = spark.createDataFrame([(v,) for v in NODES], "id long")
    base = {r.id: r.pr for r in graph.pagerank(e, n, iterations=5).collect()}
    ck = {
        r.id: r.pr
        for r in graph.pagerank(e, n, iterations=5, checkpoint_every=2).collect()
    }
    assert ck == base


def _checkpoint_rdds(ckpt_dir):
    """Reliable checkpoint RDDs written under ``ckpt_dir``."""
    return [d for d in ckpt_dir.glob("*/rdd-*") if d.is_dir()]


def test_reliable_checkpoint_requires_dir(spark, spark_conf):
    """spark.renkodf.persist.reliable=true without a SparkContext
    checkpoint dir must fail eagerly with instructions, before any job
    runs, not mid-job (plans/persist.py)."""
    from renkodf_spark.operators import setsim

    e = spark.createDataFrame(EDGES, "src long, dst long")
    n = spark.createDataFrame([(v,) for v in NODES], "id long")
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    sc = spark.sparkContext
    sc.setJobGroup("reliable-no-dir", "reliable conf without a checkpoint dir")
    try:
        with spark_conf(RELIABLE, checkpoint_dir=None):
            with pytest.raises(ValueError, match="setCheckpointDir"):
                graph.pagerank(e, n, iterations=2)
            with pytest.raises(ValueError, match="setCheckpointDir"):
                graph.label_propagation(e, n, iterations=2)
            with pytest.raises(ValueError, match="setCheckpointDir"):
                setsim.setsim_join(docs)
        assert sc.statusTracker().getJobIdsForGroup("reliable-no-dir") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_reliable_checkpoint_parity(spark, tmp_path, spark_conf):
    """VERDICT r13 item 4: the reliable session conf (checkpoint-dir
    blocks that survive executor loss) must produce bit-identical
    results for pagerank, label_propagation, and setsim_join, and must
    really write to the checkpoint dir."""
    from renkodf_spark.operators import setsim

    e = spark.createDataFrame(EDGES, "src long, dst long")
    n = spark.createDataFrame([(v,) for v in NODES], "id long")
    base = {r.id: r.pr for r in graph.pagerank(e, n, iterations=5).collect()}
    with spark_conf(RELIABLE, checkpoint_dir=tmp_path / "pr"):
        rel = {
            r.id: r.pr
            for r in graph.pagerank(e, n, iterations=5, checkpoint_every=2).collect()
        }
    assert rel == base
    assert _checkpoint_rdds(tmp_path / "pr")

    und = e.unionByName(e.selectExpr("dst as src", "src as dst"))
    lb = {
        r.id: r.community
        for r in graph.label_propagation(und, n, iterations=4).collect()
    }
    with spark_conf(RELIABLE, checkpoint_dir=tmp_path / "lp"):
        lr = {
            r.id: r.community
            for r in graph.label_propagation(
                und, n, iterations=4, checkpoint_every=2
            ).collect()
        }
    assert lr == lb
    # the edge relation plus the one checkpoint_every round (t=2 of 4);
    # the other per-round persists stay local whatever the conf
    assert len(_checkpoint_rdds(tmp_path / "lp")) == 2

    docs = spark.createDataFrame(
        [(i, "the quick brown fox " * 3 + ("jumps" if i % 2 else "sleeps"))
         for i in range(12)],
        "doc_id long, text string",
    )
    key = lambda df: {  # noqa: E731
        (r.id_a, r.id_b): (r.inter, r.jaccard) for r in df.collect()
    }
    with spark_conf(RELIABLE, checkpoint_dir=tmp_path / "ss"):
        rel_pairs = key(setsim.setsim_join(docs))
    assert rel_pairs == key(setsim.setsim_join(docs))
    assert _checkpoint_rdds(tmp_path / "ss")


def test_pagerank_star_hub_ranks_highest(spark):
    spokes = [(i, 0) for i in range(1, 20)]
    e = spark.createDataFrame(spokes, "src long, dst long")
    pr = {r.id: r.pr for r in graph.pagerank(e, iterations=2).collect()}
    assert pr[0] == max(pr.values())
    assert all(pr[i] == pr[1] for i in range(2, 20))


def test_pagerank_nodes_default_is_edge_endpoints(spark):
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r.id for r in graph.pagerank(e, iterations=1).collect()}
    assert got == {1, 2}


def test_pagerank_isolated_nodes_keep_teleport_rank(spark):
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    n = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    pr = {r.id: r.pr for r in graph.pagerank(e, n, iterations=3).collect()}
    ref = _py_pagerank([(1, 2)], [1, 2, 9])
    assert pr == ref
    assert pr[9] == ref[9] and pr[9] < pr[2]


def test_pagerank_validation(spark):
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations"):
        graph.pagerank(e, iterations=-1)
    with pytest.raises(ValueError, match="damping"):
        graph.pagerank(e, d_num=100, d_den=100)
    with pytest.raises(ValueError, match="scale"):
        graph.pagerank(e, scale=0)


def test_degree_centrality(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    got = {(r.id): (r.out_deg, r.in_deg) for r in graph.degree_centrality(e).collect()}
    assert got == {
        1: (2, 2), 2: (1, 1), 3: (1, 4), 4: (1, 0), 5: (1, 0), 6: (1, 0), 7: (1, 1),
    }


def test_pagerank_fixpoint_shuffles_only_long_pairs(spark, sf_dir):
    """No exchange in the PageRank fixpoint may carry embedding vectors
    or text — the iteration state is (id, pr) longs."""
    from renkodf_spark.plans import exchange_inputs
    import renkodf_spark.queries as q

    df = q.queries()["knn_pagerank"](spark, sf_dir)
    seen_embedding_exchanges = 0
    for cols in exchange_inputs(df):
        assert "text" not in set(cols)
        if "embedding" in set(cols) or "v" in set(cols):
            seen_embedding_exchanges += 1
    # vectors may cross only the kNN cell-routing exchange(s), never the
    # per-iteration joins (3 iterations x 2 shuffles would show up here)
    assert seen_embedding_exchanges <= 2, seen_embedding_exchanges


def _py_trustrank(edges, nodes, seeds, *, iterations=3, d_num=85, d_den=100, scale=10**12):
    s = set(seeds)
    pr0 = scale // len(s)
    base = ((d_den - d_num) * pr0) // d_den
    outd = {}
    for a, _ in edges:
        outd[a] = outd.get(a, 0) + 1
    pr = {v: (pr0 if v in s else 0) for v in nodes}
    for _ in range(iterations):
        sums = {}
        for a, b in edges:
            sums[b] = sums.get(b, 0) + pr[a] // outd[a]
        pr = {
            v: (base if v in s else 0) + (d_num * sums.get(v, 0)) // d_den
            for v in nodes
        }
    return pr


def test_trustrank_matches_python_reference(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    n = spark.createDataFrame([(v,) for v in NODES], "id long")
    s = spark.createDataFrame([(1,), (4,)], "id long")
    got = {
        r.id: r.pr
        for r in graph.pagerank(e, n, iterations=3, seeds=s).collect()
    }
    want = _py_trustrank(EDGES, NODES, [1, 4], iterations=3)
    assert got == want
    # unreachable-from-seeds nodes rank 0: node 8 is isolated, 7 self-loops
    assert got[8] == 0 and got[7] == 0


def test_trustrank_all_seeds_equals_pagerank(spark):
    """seeds = all nodes must reproduce plain PageRank bit-for-bit."""
    e = spark.createDataFrame(EDGES, "src long, dst long")
    n = spark.createDataFrame([(v,) for v in NODES], "id long")
    plain = {r.id: r.pr for r in graph.pagerank(e, n, iterations=4).collect()}
    seeded = {
        r.id: r.pr for r in graph.pagerank(e, n, iterations=4, seeds=n).collect()
    }
    assert seeded == plain


def _py_weighted_pagerank(wedges, nodes, *, iterations=3, d_num=85, d_den=100, scale=10**12):
    n = len(nodes)
    pr0 = scale // n
    base = ((d_den - d_num) * pr0) // d_den
    outw = {}
    for a, _, w in wedges:
        outw[a] = outw.get(a, 0) + w
    pr = {v: pr0 for v in nodes}
    for _ in range(iterations):
        sums = {}
        for a, b, w in wedges:
            sums[b] = sums.get(b, 0) + (pr[a] * w) // outw[a]
        pr = {v: base + (d_num * sums.get(v, 0)) // d_den for v in nodes}
    return pr


WEDGES = [(1, 2, 5), (1, 3, 1), (2, 3, 7), (3, 1, 2), (4, 3, 1000000), (5, 1, 3)]


def test_weighted_pagerank_matches_python_reference(spark):
    e = spark.createDataFrame(WEDGES, "src long, dst long, w long")
    n = spark.createDataFrame([(v,) for v in [1, 2, 3, 4, 5]], "id long")
    got = {
        r.id: r.pr
        for r in graph.pagerank(e, n, iterations=4, weight_col="w").collect()
    }
    want = _py_weighted_pagerank(WEDGES, [1, 2, 3, 4, 5], iterations=4)
    assert got == want


def test_weighted_uniform_weights_equal_unweighted(spark):
    """All-equal weights must reproduce unweighted PageRank bit-for-bit
    (pr * w div (deg * w) == pr div deg only when w divides evenly —
    use w=1, where it holds identically)."""
    e = spark.createDataFrame(EDGES, "src long, dst long")
    ew = e.withColumn("w", F.lit(1).cast("long"))
    n = spark.createDataFrame([(v,) for v in NODES], "id long")
    plain = {r.id: r.pr for r in graph.pagerank(e, n, iterations=3).collect()}
    weighted = {
        r.id: r.pr
        for r in graph.pagerank(ew, n, iterations=3, weight_col="w").collect()
    }
    assert weighted == plain


def _py_triangles(edges, nodes=None):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = {v: 0 for v in adj}
    for v, nb in adj.items():
        nb = sorted(nb)
        for i in range(len(nb)):
            for j in range(i + 1, len(nb)):
                if tuple(sorted((nb[i], nb[j]))) in und:
                    out[v] += 1
    return out


def test_triangles_match_python_reference(spark):
    import random

    rng = random.Random(7)
    edges = list({(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(120)})
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.triangles for r in graph.triangle_counts(e).collect()}
    assert got == _py_triangles(edges)


def test_triangles_k4_and_star(spark):
    # K4: every vertex in 3 triangles; star: zero everywhere
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    e = spark.createDataFrame(k4, "src long, dst long")
    assert {r.id: r.triangles for r in graph.triangle_counts(e).collect()} == {
        1: 3, 2: 3, 3: 3, 4: 3,
    }
    star = [(i, 0) for i in range(1, 12)]
    e2 = spark.createDataFrame(star, "src long, dst long")
    got = {r.id: r.triangles for r in graph.triangle_counts(e2).collect()}
    assert set(got.values()) == {0}


def test_triangles_direction_and_dupes_irrelevant(spark):
    # duplicated edges, both orientations, self-loops: same undirected graph
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2), (1, 2)],
        "src long, dst long",
    )
    assert {r.id: r.triangles for r in graph.triangle_counts(e).collect()} == {
        1: 1, 2: 1, 3: 1,
    }


def test_write_knn_graph_parity_with_inline(spark, sf_dir, tmp_path):
    """The persisted kNN graph (write_knn_graph -> read_knn_graph) is
    bit-identical to the inline similarity.knn_graph build — the
    contract that lets knn_pagerank_indexed share knn_pagerank's
    oracle."""
    from renkodf_spark.operators import similarity
    from renkodf_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.embedding_centroids(emb, dim=8)
    inline = {
        (r.src, r.dst, r.cos_sim)
        for r in similarity.knn_graph(emb, cents, k=5).collect()
    }
    path = str(tmp_path / "g")
    similarity.write_knn_graph(emb, cents, path, k=5)
    stored = {
        (r.src, r.dst, r.cos_sim)
        for r in similarity.read_knn_graph(spark, path).collect()
    }
    assert stored == inline and len(stored) > 0


def test_indexed_pagerank_plan_never_reads_vectors(spark, sf_dir, tmp_path):
    """The whole point of the persisted graph: a centrality fixpoint
    over read_knn_graph must not scan or shuffle any vector column —
    the stored layout has none, and the plan proves it (zero
    embedding-bearing exchanges, vs the inline query's cell exchange)."""
    from renkodf_spark.operators import graph, similarity
    from renkodf_spark.plans import exchange_inputs
    from renkodf_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.embedding_centroids(emb, dim=8)
    path = str(tmp_path / "g")
    similarity.write_knn_graph(emb, cents, path, k=5)
    edges = similarity.read_knn_graph(spark, path)
    pr = graph.pagerank(
        edges.select("src", "dst"),
        emb.select(F.col("vec_id").alias("id")),
        iterations=3,
    )
    for cols in exchange_inputs(pr):
        cs = set(cols)
        assert "embedding" not in cs and "vec" not in cs and "text" not in cs, cols
    plan = pr._jdf.queryExecution().executedPlan().toString()
    assert "embedding" not in plan


def _py_lpa(edges, nodes, iterations):
    """Pure-python replay of the deterministic synchronous LPA."""
    from collections import Counter

    lbl = {v: v for v in nodes}
    inn = {}
    for s, d in edges:
        inn.setdefault(d, []).append(s)
    for _ in range(iterations):
        nxt = {}
        for v in nodes:
            votes = Counter(lbl[u] for u in inn.get(v, []))
            if votes:
                best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
                nxt[v] = best[0]
            else:
                nxt[v] = lbl[v]
        lbl = nxt
    return lbl


@pytest.mark.parametrize("iterations", [0, 1, 3, 5])
def test_lpa_matches_python_reference(spark, iterations):
    """Two triangles joined by one bridge edge plus an isolated node:
    the bit-replayable LPA matches a pure-Python replay at every
    iteration count (including the 0-iteration identity)."""
    und = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    edges = und + [(b, a) for a, b in und]
    nodes = list(range(7))  # 6 is isolated
    e = spark.createDataFrame(edges, "src long, dst long")
    n = spark.createDataFrame([(v,) for v in nodes], "id long")
    got = {
        r.id: r.community
        for r in graph.label_propagation(e, n, iterations=iterations).collect()
    }
    assert got == _py_lpa(edges, nodes, iterations)


def test_lpa_communities_finer_than_components(spark):
    """The motivating semantics: two dense cliques joined by ONE thin
    bridge are a single connected component but distinct LPA
    communities."""
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    und = c1 + c2 + [(3, 10)]
    edges = und + [(b, a) for a, b in und]
    nodes = list(range(4)) + list(range(10, 14))
    e = spark.createDataFrame(edges, "src long, dst long")
    n = spark.createDataFrame([(v,) for v in nodes], "id long")
    got = {
        r.id: r.community
        for r in graph.label_propagation(e, n, iterations=4).collect()
    }
    # clique labels converge to each clique's min id; the bridge does
    # not merge them (1 shared vote vs 3 intra-clique votes)
    assert {got[v] for v in range(4)} == {0}
    assert {got[v] for v in range(10, 14)} == {10}


def test_lpa_tie_breaks_to_smallest_label(spark):
    """A node with equal votes from two labels adopts the SMALLER one
    (the determinism contract)."""
    edges = [(0, 2), (1, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    n = spark.createDataFrame([(v,) for v in range(3)], "id long")
    got = {r.id: r.community for r in graph.label_propagation(e, n, iterations=1).collect()}
    assert got[2] == 0


def test_lpa_validation(spark):
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    n = spark.createDataFrame([(0,), (1,)], "id long")
    with pytest.raises(ValueError):
        graph.label_propagation(e, n, iterations=-1)
