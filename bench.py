"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Also measures raw Renko kernel throughput (ticks/sec) on a synthetic
replay comparable to the reference's perf_backtest.py (~1.5 M ticks/s
on one core, BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Co-tenancy gate (VERDICT r4 item 2, extended r7 per VERDICT r6 item
# 1): BENCH_r04 was snapshotted at loadavg 13 and read as a phantom
# 1.2-1.7x regression on untouched queries; BENCH_r05/r06 then
# committed a x100 skew number ~2x its quiet-machine value because the
# gate only bracketed the HEADLINE section. The gate now runs before
# EVERY measured section (headline, scale, scale_curve) — a bounded
# wait for the box's 1-minute load to drop below the threshold — and
# each section's gate outcome lands in the methodology block. The
# first gate runs before our own Spark session spins up 32 threads;
# mid-run gates also absorb the decay of our own previous section.
# r12 (VERDICT r11 "What's wrong" #1): threshold tightened 4 -> 2 —
# the r11 artifact was committed from a run gated only down to 3.82
# and carried two phantom per-query regressions on unchanged code.
QUIET_LOAD = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "2"))
QUIET_TIMEOUT = float(os.environ.get("SPARK_GRAFT_QUIET_TIMEOUT", "300"))

QUIET_GATES: dict[str, dict] = {}


def spin_probe(window: float = 0.15) -> float:
    """Achieved single-thread Python M-iterations/sec over a short wall
    window. Loadavg cannot see co-tenant CPU *steal* mid-run (our own
    executor threads keep it high anyway); this probe measures the
    compute rate this process actually achieves — a stolen core shows
    up as a proportionally lower number regardless of what the load
    average reports (NOTES round-8 candidate #6). Absolute values are
    machine-specific; compare ratios across sections of one run and
    across rounds on the same box."""
    end = time.perf_counter() + window
    n = 0
    while time.perf_counter() < end:
        for _ in range(1000):
            pass
        n += 1000
    return round(n / window / 1e6, 2)


def bandwidth_probe(mb: int = 256, reps: int = 3) -> float:
    """Achieved memory-copy bandwidth in GB/s (best of ``reps`` copies
    of a ``mb``-MiB array, counting read+write bytes).  The spin probe
    is cache-resident pure Python and CANNOT see memory-bandwidth
    steal — which is exactly what hits the Arrow/shuffle-heavy scale
    workloads hardest (the ×100 skew number swung 70–121 s at similar
    spin readings; a same-session repeat ruled warmth out at ~8%).
    Compare this value across sections and rounds to attribute those
    swings."""
    import numpy as np

    a = np.zeros(mb * 1024 * 1024 // 8, dtype=np.float64)
    best = 0.0
    for _ in range(reps):
        t0 = time.perf_counter()
        b = a.copy()
        el = time.perf_counter() - t0
        best = max(best, (2 * a.nbytes) / el / 1e9)
        del b
    return round(best, 2)


def wait_for_quiet(section: str) -> dict:
    start = list(os.getloadavg())
    t0 = time.time()
    while os.getloadavg()[0] > QUIET_LOAD and (time.time() - t0) < QUIET_TIMEOUT:
        time.sleep(10)
    outcome = {
        "threshold": QUIET_LOAD,
        "start_loadavg": [round(x, 2) for x in start],
        "gated_loadavg": [round(x, 2) for x in os.getloadavg()],
        "waited_sec": round(time.time() - t0, 1),
        # taken at section start, while our own Spark jobs are idle —
        # dominated by co-tenant pressure, not our executors
        "spin_miters": spin_probe(),
        "bw_gbps": bandwidth_probe(),
    }
    QUIET_GATES[section] = outcome
    if outcome["waited_sec"]:
        print(f"# co-tenancy gate [{section}]: {outcome}", file=sys.stderr)
    return outcome

HEADLINE = [
    "renko_wicks",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "running_order_total",
    "user_sessions",
    "asof_purchase_before_click",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "similarity_cosine_topk",
    "similarity_lsh_ann_topk",
    "text_quality",
    "tumbling_event_windows",
    # added round 3 (new first-class operators)
    "dedup_cluster_labels",
    "multimodal_real_headers",
    # added round 4 (mergeable-sketch rollup, IVF ANN, sample packing)
    "hll_sketch_rollup",
    "similarity_ivf_topk",
    "sequence_packing",
    # added round 5 (bin assembly, unlabeled IVF training)
    "packed_bins",
    "ivf_train_unlabeled",
    # added round 7 (decontamination, unigram LM, SemDeDup, z-order,
    # temperature resampling, product quantization)
    "decontamination_report",
    "unigram_doc_quality",
    "semantic_dedup_keep",
    "zorder_events_hist",
    "lang_temperature_sample",
    "pq_adc_topk",
    # added round 7 phase 3 (Gopher rules, boilerplate removal, vocab)
    "gopher_quality_filter",
    "boilerplate_line_removal",
    "vocab_encoded_docs",
    "similarity_ivfpq_topk",
    # added round 7 phase 4 (quality-aware keep, perplexity buckets,
    # Bloom membership, DSIR, per-source stats)
    "dedup_keep_best",
    "perplexity_buckets",
    "bloom_membership",
    "dsir_weights_en",
    "source_quality_report",
    "jl_projected_topk",
    "substring_dup_pairs",
    "substring_span_removal",
    "curation_end_to_end",
    # added round 7 phase 5 (bin-bucketed range joins, funnel, cohort,
    # snapshot diff, count-min sketch)
    "range_clicks_in_purchase_windows",
    "interval_overlap_daily_spans",
    "funnel_signup_view_click_purchase",
    "cohort_retention_weekly",
    "orders_snapshot_diff",
    "countmin_user_estimates",
    "scd2_point_in_time_purchases",
    "phrase_search_table_table",
    "lang_token_budget_sample",
    "hamming_topk",
    "bm25_search_spark_vector",
    "hybrid_search_rerank",
    "purchase_window_concurrency",
    # added round 10 (r9/r10 operators: ANN-backed mining incl. the
    # shuffle-anchor plan, batched BPE). renko_subchunked_wide is NOT
    # here on purpose: its deliberately tiny thresholds exist for
    # oracle coverage of the splice path; the representative sub-chunk
    # perf lives in the scale section's head-to-head and x100 curve.
    "hard_negative_pairs_ann",
    "hard_negative_pairs_ann_shuffle",
    "bpe_merges_batched",
    # real multimodal decode (r10): the codec-bound stages at sf0.1
    "multimodal_pixel_decode",
    "multimodal_image_dhash",
    "multimodal_audio_energy",
    # added round 11: banded-Hamming near-dup pairs (the r10 perf-weak
    # stage, now an equi-join) and the composed image-curation DAG
    "multimodal_dhash_neardup_pairs",
    "multimodal_curation_end_to_end",
    # round 11 part 2: NB quality classifier, held-out bigram LM
    # (KenLM-style CCNet), kNN graph + mutual-kNN clustering (r12: the
    # cluster stage is large-star/small-star contraction — 6 rounds on
    # this graph, no stat barriers needed)
    "nb_classifier_scores",
    "bigram_lm_doc_quality",
    "knn_graph_edges",
    "mutual_knn_cluster_labels",
    # round 12: the composed video-curation DAG (rep-frame banded
    # candidates + frame-set verify), winnowing fingerprint match
    "multimodal_video_curation_end_to_end",
    "winnow_candidate_pairs",
    "multimodal_resize_thumbs",
    # round 12 wave 5: exact set-similarity join (prefix-filtered,
    # 100% recall), mergeable quantile sketch, fixed-point PageRank +
    # TrustRank over the kNN graph
    "setsim_exact_join",
    "quantile_sketch_estimates",
    "knn_pagerank",
    "knn_trustrank",
    # round 13: signed quantile sketch over negative LM scores;
    # persisted-graph PageRank (build+write+fixpoint in one query —
    # the centrality_split block decomposes it)
    "signed_lm_score_quantiles",
    "knn_pagerank_indexed",
    "knn_communities",
    # round 14: LPA communities over the stored graph (build+write+
    # symmetrize+vote in one query; centrality_split's lpa_fixpoint
    # shows the marginal cost once the graph is stored), end-to-end
    # pretraining curation DAG, signed weighted quantiles
    "knn_communities_indexed",
    "pretrain_end_to_end",
    "signed_weighted_quantiles",
    # round 14, second wave: query-likelihood ranking next to BM25,
    # Heaps-law vocabulary growth
    "ql_search_spark_vector",
    "vocab_growth_curve",
]


def kernel_throughput() -> dict:
    """Single-core kernel ticks/sec on 2M-tick synthetic replays
    (comparable to reference test/perf_backtest.py, which runs real FX
    ticks: sparse emissions — its EURGBP set emits 1 brick per ~1400
    ticks at ~1.5 M ticks/s/core). Reports both the sparse (dispatcher
    picks the vectorized skip-scan) and dense (scalar loop) regimes."""
    import numpy as np

    from renkodf_spark.kernel import new_output, new_state, scan

    rng = np.random.default_rng(42)
    n = 2_000_000
    results = {"samples": {}}
    for label, sigma, brick in [("sparse", 0.000005, 0.0003), ("dense", 0.3, 1.0)]:
        base = 0.86 if brick < 1 else 100.0
        prices = base + np.cumsum(rng.normal(0, sigma, n))
        times = np.arange(n)
        samples = []
        for _ in range(5):  # best-of-5: each rep is <=0.6s and the box
            # is co-tenant — r5->r6 drifted -19/-22% on unchanged code
            # with only 3 reps (VERDICT r6 item 2)
            state = new_state(float(prices[0]), brick)
            out = new_output()
            t0 = time.perf_counter()
            scan(times, prices, 1, brick, state, out)
            samples.append(round(n / (time.perf_counter() - t0) / 1e6, 3))
        results["samples"][label] = samples
        results[label] = max(samples) * 1e6
    return results


def materialize(df) -> int:
    """Pruning-proof full materialization (VERDICT r2 item 3): under a
    bare count() Catalyst prunes every unreferenced output column, so
    projection-only queries (text_quality etc.) were timed optimistically.
    Aggregating a full-width row hash references every output column —
    nothing can be pruned — while still returning only one row to the
    driver. Returns the row count."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash(*[F.col(c) for c in df.columns]).cast("long")).alias("h"),
    ).collect()[0]
    return row["n"]


def centrality_split(spark) -> dict:
    """Build-vs-fixpoint decomposition of the centrality headline
    entries (VERDICT r12 item 8): knn_pagerank / knn_trustrank rebuild
    the same kNN graph inside every timed window, so their headline
    numbers mostly measure the shared build (~2/3 of the wall). This
    block times the phases separately at the gate parameters: graph
    build + persist once (write_knn_graph), then each fixpoint over
    the stored narrow (src, dst) relation — the marginal cost of one
    more centrality question against a stored corpus snapshot. Two
    interleaved samples per phase, min (the scale-entry convention)."""
    from pyspark.sql import functions as F

    from renkodf_spark.operators import graph, similarity
    from renkodf_spark.queries.pipeline2 import _IVF_DIM
    from renkodf_spark.queries.pipeline8 import _KNN_K
    from renkodf_spark.queries.pipeline9 import (
        _PR_DDEN,
        _PR_DNUM,
        _PR_ITERS,
        _PR_SCALE,
        _TR_SEED_LABEL,
    )
    from renkodf_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = similarity.embedding_centroids(emb, dim=_IVF_DIM)
    # shared per-process state dir, rmtree'd at exit (ADVICE r13: a
    # fresh mkdtemp per bench run accumulated graph copies in /tmp)
    from renkodf_spark.queries.pipeline10 import _graph_state_path

    path = _graph_state_path()
    nodes = emb.select(F.col("vec_id").alias("id"))
    seeds = emb.filter(F.col("label") == _TR_SEED_LABEL).select(
        F.col("vec_id").alias("id")
    )

    def _build():
        similarity.write_knn_graph(emb, cents, path, k=_KNN_K)
        return 0

    def _edges():
        return similarity.read_knn_graph(spark, path).select("src", "dst")

    def _fix_pr():
        return materialize(
            graph.pagerank(
                _edges(), nodes, iterations=_PR_ITERS, d_num=_PR_DNUM,
                d_den=_PR_DDEN, scale=_PR_SCALE,
            )
        )

    def _fix_tr():
        return materialize(
            graph.pagerank(
                _edges(), nodes, iterations=_PR_ITERS, d_num=_PR_DNUM,
                d_den=_PR_DDEN, scale=_PR_SCALE, seeds=seeds,
            )
        )

    def _fix_lpa():
        from renkodf_spark.queries.pipeline10 import _LPA_ITERS

        pairs = similarity.mutual_knn_edges(
            similarity.read_knn_graph(spark, path)
        )
        und = pairs.selectExpr("id_a as src", "id_b as dst").unionByName(
            pairs.selectExpr("id_b as src", "id_a as dst")
        )
        return materialize(
            graph.label_propagation(und, nodes, iterations=_LPA_ITERS)
        )

    phases = [
        ("build_write", _build),
        ("pagerank_fixpoint", _fix_pr),
        ("trustrank_fixpoint", _fix_tr),
        ("lpa_fixpoint", _fix_lpa),
    ]
    samples: dict[str, list] = {n: [] for n, _ in phases}
    for _pass in range(2):
        for name, thunk in phases:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            thunk()
            samples[name].append(round(time.perf_counter() - t0, 3))
    out = {f"{n}_sec": min(samples[n]) for n, _ in phases}
    out["samples"] = samples
    out["note"] = (
        "headline knn_pagerank/knn_trustrank/knn_communities each "
        "include a fresh graph build; the *_indexed twins include "
        "build+write+fixpoint. The fixpoint_sec values here are the "
        "per-question marginal cost once the graph is stored "
        "(lpa_fixpoint = mutual symmetrize + vote rounds, r14)."
    )
    return out


def scale_block(spark, rep: int) -> dict:
    """Secondary scale demonstration (VERDICT r2 item 9): no sf1 dataset
    exists under /root/testdata, so replicate the sf0.1 inputs rep x on
    the fly — events as rep x new symbols (renko's parallelism axis),
    documents as rep x perturbed texts (keeps LSH bucket sizes realistic
    instead of exploding every bucket rep x) — and publish wall-times
    for the operator families whose scaling matters most.

    Sampling (VERDICT r7 item 3): the old best-of-2 BACK-TO-BACK pairs
    shared any co-tenant burst's window — the committed minhash entry
    read 31.1 s while a quiet standalone re-run measured 5.55 s (5.6x).
    The scale entries now run as two temporally-INTERLEAVED passes
    (like the headline), with a spin + memory-bandwidth probe recorded
    immediately before every sample so a poisoned sample is visible in
    the artifact instead of silently becoming the committed number.
    """
    import pandas as pd  # noqa: F401  (kernel path warm by now)
    from datetime import timedelta as _td

    from pyspark.sql import functions as F

    from renkodf_spark.operators.dedup import minhash_lsh_pairs, remove_duplicated_spans
    from renkodf_spark.operators.rangejoin import point_in_interval_join
    from renkodf_spark.operators.setsim import setsim_join
    from renkodf_spark.operators.graph import pagerank
    from renkodf_spark.operators import graph as graph_ops
    from renkodf_spark.operators.renko import renko_mode
    from renkodf_spark.operators.renko_chunked import renko_chunked
    from renkodf_spark.sources.tables import load_table, ticks_from_events

    wait_for_quiet("scale")
    reps = spark.range(rep).select(F.col("id").alias("rep"))
    out: dict = {"replication": rep}

    # --- inputs (built once; every sample re-executes the full plan) ---
    ticks = (
        ticks_from_events(spark, SF_DIR)
        .crossJoin(F.broadcast(reps))
        .withColumn("symbol", F.concat_ws("_", "symbol", "rep"))
        .drop("rep")
    )
    docs = (
        load_table(spark, SF_DIR, "documents")
        .crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") * rep + F.col("rep")).alias("doc_id"),
            F.concat_ws(" ", F.col("text"), F.concat(F.lit("rep"), F.col("rep"))).alias("text"),
        )
    )
    ev = (
        load_table(spark, SF_DIR, "events")
        .crossJoin(F.broadcast(reps))
        .select(
            (F.col("event_id") * rep + F.col("rep")).alias("event_id"),
            (F.col("user_id") * rep + F.col("rep")).alias("user_id"),
            "ts",
            "event_type",
        )
    )
    from renkodf_spark.operators import classifier, similarity
    from renkodf_spark.operators import corpus as corpus_ops
    from renkodf_spark.operators import text as text_ops
    from renkodf_spark.queries.pipeline3 import _EVAL_LEN, _EVAL_MOD, _EVAL_START
    from renkodf_spark.queries.pipeline11 import pretrain_dag

    # replicated corpus WITH metadata (source label) for the model
    # families: each rep keeps the base source tag, so the trusted
    # subset replicates rep-fold too — training input grows with the
    # corpus while the MODEL stays bounded by the (shared) vocabulary
    rdocs_meta = (
        load_table(spark, SF_DIR, "documents")
        .crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") * rep + F.col("rep")).alias("doc_id"),
            F.concat_ws(
                " ", F.col("text"), F.concat(F.lit("rep"), F.col("rep"))
            ).alias("text"),
            "source",
            "lang",
        )
    )

    remb = (
        load_table(spark, SF_DIR, "embeddings")
        .crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") * rep + F.col("rep")).alias("vec_id"),
            "embedding",
            "label",
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )

    # Hot-symbol skew (VERDICT r3 item 7): one symbol carries ~50% of
    # all replicated ticks — the regime where per-symbol sequential
    # operators hurt. renko_chunked is the declared answer (windowed
    # stitching bounds the per-task tick count at window x symbol).
    def skewed_ticks(n: int):
        rs = spark.range(n).select(F.col("id").alias("rep"))
        t = (
            ticks_from_events(spark, SF_DIR)
            .crossJoin(F.broadcast(rs))
            .withColumn("symbol", F.concat_ws("_", "symbol", "rep"))
            .drop("rep")
        )
        return t.withColumn(
            "symbol",
            F.when(F.pmod(F.hash("event_time"), F.lit(2)) == 0, F.lit("HOT")).otherwise(
                F.col("symbol")
            ),
        )

    skewed = skewed_ticks(rep)

    # --- entries, each measured as min over 2 interleaved samples ---
    # minhash: explicit cap = the declared adversarial-scale posture
    #   (operator default is None since ADVICE r3); r3-comparable.
    # span_removal: the replicated corpus is the adversarial case —
    #   nearly every gram is duplicated across the rep copies, so the
    #   drop-position relation hits its linear worst case (tokens x n),
    #   never a quadratic pair term (min-owner per gram, not pairs).
    # range_join: rep x the event table on BOTH sides; candidates are
    #   bounded by (user, 2h-bin) co-residency, never |L|*|R|.
    entries = [
        ("renko_wicks", lambda: materialize(renko_mode(ticks, 5.0, "wicks"))),
        (
            "dedup_minhash_lsh",
            lambda: materialize(minhash_lsh_pairs(docs, max_bucket_size=1000)),
        ),
        ("span_removal", lambda: materialize(remove_duplicated_spans(docs, n=10))),
        (
            "range_join",
            lambda: materialize(
                point_in_interval_join(
                    clicks,
                    purchases,
                    point_col="click_ts",
                    start_col="p_ts",
                    end_col="end_ts",
                    on=["user_id"],
                    bin_width=_td(hours=2),
                )
            ),
        ),
        (
            "skew_renko_chunked",
            lambda: materialize(renko_chunked(skewed, 5.0, window="1 week")),
        ),
        # r11: replicating embeddings WITH their labels grows every
        # cell rep-fold — by construction the pathological hot-cell
        # regime where the within-cell pair term (Sigma cell^2)
        # explodes (measured 321 s/sample uncapped at x10: 20k
        # vectors in 8 cells = 50 M pairs). The scale entry therefore
        # runs the DOCUMENTED mitigation, max_cell_size: sub-cells
        # bound the pair term at cap x n, the per-rank recall trade
        # is substitution within a sub-cell (knn_graph docstring,
        # pinned in tests), and balanced centroids are the real fix.
        (
            "knn_graph_capped",
            lambda: materialize(
                similarity.knn_graph(
                    remb,
                    similarity.embedding_centroids(remb, dim=64),
                    k=3,
                    max_cell_size=500,
                )
            ),
        ),
        # r13: LPA communities at rep x — same capped graph build as
        # knn_pagerank_capped, plus the mutual symmetrization and
        # `iterations` (id, label)-narrow vote rounds; the lazy edge
        # checkpoint keeps the graph build out of the per-iteration
        # plan. Delta over knn_graph_capped = symmetrize + votes.
        (
            "knn_communities_capped",
            lambda: materialize(
                (lambda g: graph_ops.label_propagation(
                    similarity.mutual_knn_edges(g)
                    .selectExpr("id_a as src", "id_b as dst")
                    .unionByName(
                        similarity.mutual_knn_edges(g)
                        .selectExpr("id_b as src", "id_a as dst")
                    ),
                    remb.select(F.col("vec_id").alias("id")),
                    iterations=4,
                ))(
                    similarity.knn_graph(
                        remb,
                        similarity.embedding_centroids(remb, dim=64),
                        k=3,
                        max_cell_size=500,
                    )
                )
            ),
        ),
        # r12 (VERDICT r11 item 5): the r11 model families at rep x —
        # their scale claim (model bounded by the trusted-subset
        # vocabulary / counting-only training; scoring = vocab-keyed
        # equi-joins, text never shuffles) measured, not just argued.
        # Each thunk re-executes the FULL train+score pipeline on the
        # replicated metadata-carrying corpus, the same DAG as the
        # headline query at 1x.
        (
            "nb_train_score",
            lambda: materialize(
                classifier.nb_score(
                    rdocs_meta,
                    classifier.nb_train(
                        rdocs_meta, positive=F.col("source") == "src0"
                    ),
                    positive=F.col("source") == "src0",
                )
            ),
        ),
        (
            "bigram_lm_score",
            lambda: materialize(
                text_ops.bigram_logprob(
                    rdocs_meta,
                    text_ops.bigram_lm_train(
                        rdocs_meta.filter(F.col("source") == "src0")
                    ),
                )
            ),
        ),
        # r12 wave 5: the exact set-similarity join at rep x. NOTE the
        # output is legitimately quadratic-in-rep on this synthetic
        # replication: the rep-suffix perturbation leaves each doc's
        # rep copies ~92% Jaccard-similar, so every doc becomes a
        # rep-clique and the TRUE answer has ~rep^2/2 per-doc pairs —
        # the measured cost is the answer's size (verified == brute
        # force by test), not a plan defect.
        (
            "setsim_join",
            lambda: materialize(setsim_join(docs, t_num=1, t_den=2)),
        ),
        # r12 wave 5: the graph-centrality fixpoint at rep x — the
        # full DAG (centroids -> capped kNN graph -> 3 integer
        # PageRank iterations over the narrow (id, pr) relation). The
        # fixpoint's own cost is the delta over knn_graph_capped.
        (
            "knn_pagerank_capped",
            lambda: materialize(
                pagerank(
                    similarity.knn_graph(
                        remb,
                        similarity.embedding_centroids(remb, dim=64),
                        k=3,
                        max_cell_size=500,
                    ).select("src", "dst"),
                    remb.select(F.col("vec_id").alias("id")),
                    iterations=3,
                )
            ),
        ),
        # r14: the flagship pretraining DAG at rep x — all seven stages
        # (exact dedup -> LSH near-dup drop -> Gopher -> decontam ->
        # temperature -> packing -> shard digests) in one plan over the
        # replicated corpus; the eval carve replays the gate rule
        # (every _EVAL_MOD-th doc) on the replicated ids. NOTE the
        # rep-suffix perturbation makes every doc's rep copies LSH
        # candidates of each other, so the near-dup stage drops ~all
        # replication — the adversarial-dedup regime, which is exactly
        # what this stage exists to bound.
        (
            "pretrain_end_to_end",
            lambda: materialize(
                pretrain_dag(
                    rdocs_meta,
                    rdocs_meta.filter(F.col("doc_id") % _EVAL_MOD == 0).select(
                        F.col("doc_id").alias("eval_id"),
                        F.array_join(
                            F.slice(
                                corpus_ops._norm_gram_tokens("text"),
                                _EVAL_START,
                                _EVAL_LEN,
                            ),
                            " ",
                        ).alias("text"),
                    ),
                )
            ),
        ),
    ]
    probes: dict[str, list] = {name: [] for name, _ in entries}
    samples: dict[str, list] = {name: [] for name, _ in entries}
    for _pass in range(2):
        for name, thunk in entries:
            spark.catalog.clearCache()
            probes[name].append(
                {"spin_miters": spin_probe(), "bw_gbps": bandwidth_probe()}
            )
            t0 = time.perf_counter()
            out[f"{name}_rows"] = thunk()
            samples[name].append(round(time.perf_counter() - t0, 3))
    for name, _ in entries:
        out[f"{name}_sec"] = min(samples[name])
        out[f"{name}_samples"] = samples[name]
        out[f"{name}_probes"] = probes[name]

    # --- streaming centrality/communities maintainers at rep x (r14,
    # VERDICT r13 item 3): the batch twins above time the FULL-graph
    # recompute; these time what a TRIGGER costs against the stored
    # rep-x state. Trigger 0 ingests the whole replicated corpus (the
    # one-time build, reported for context); the measured steady-state
    # triggers deliver ~1% new vectors, whose cost the per-cell
    # decomposition bounds by the affected cells' sum(|cell|^2) — not
    # |V|+|E|. Centrality runs SEEDED (TrustRank): the trigger batches
    # carry no seed vectors, so |S| is frozen and only routed cells
    # refixpoint (unseeded PageRank refixpoints everything on every
    # growing trigger — documented in knn_centrality_writer). LPA has
    # no global parameter, so its affected-cells recompute is always
    # exact. min over 2 steady-state triggers each (fresh ids per
    # trigger — a replayed batch_id would take the idempotent
    # short-circuit and measure nothing).
    import shutil

    from renkodf_spark.streaming.ann_stream import (
        knn_centrality_writer,
        knn_communities_writer,
    )

    emb_base = remb.select("vec_id", "embedding")
    n_base = emb_base.count()
    small_n = max(n_base // 100, 1)
    scents = similarity.embedding_centroids(remb, dim=64)
    seeds = remb.filter(F.col("label") == 0).select(F.col("vec_id").alias("id"))

    def _trigger_batch(i: int):
        # small_n fresh ids all carrying ONE base vector's embedding —
        # every trigger row routes to the SAME centroid cell, so the
        # measured trigger recomputes exactly one cell's subgraph. (A
        # first cut used small_n DISTINCT vectors: they spread across
        # every cell and the "steady-state" trigger cost equalled the
        # full ingest — affected-cells boundedness needs the affected
        # set to actually be small, which one hot cell demonstrates.)
        one = emb_base.filter(F.col("vec_id") == i).select("embedding")
        return (
            spark.range(small_n)
            .select((F.col("id") + F.lit((rep + 1 + i) * n_base)).alias("vec_id"))
            .crossJoin(F.broadcast(one))
        )

    for wname, factory in (
        (
            "knn_centrality_writer",
            lambda p: knn_centrality_writer(
                scents, p, seeds=seeds, k=3, iterations=3, max_cell_size=500
            ),
        ),
        (
            "knn_communities_writer",
            lambda p: knn_communities_writer(
                scents, p, k=3, iterations=3, max_cell_size=500
            ),
        ),
    ):
        sdir = tempfile.mkdtemp(prefix=f"bench_{wname}_")
        try:
            w = factory(sdir)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            w(emb_base, 0)
            out[f"{wname}_ingest_sec"] = round(time.perf_counter() - t0, 3)
            trig = []
            for i in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                w(_trigger_batch(i), i + 1)
                trig.append(round(time.perf_counter() - t0, 3))
            out[f"{wname}_trigger_sec"] = min(trig)
            out[f"{wname}_trigger_samples"] = trig
            out[f"{wname}_trigger_rows"] = small_n
        finally:
            shutil.rmtree(sdir, ignore_errors=True)
    out["stream_state_rows"] = n_base

    out["ticks_rows"] = ticks.count()
    out["docs_rows"] = docs.count()
    out["skew_hot_ticks"] = skewed.filter(F.col("symbol") == "HOT").count()
    out["skew_peak_window_symbol_rows"] = (
        skewed.groupBy(F.window("event_time", "1 week"), "symbol")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )

    # Scale CURVE (VERDICT r4 stretch #9): re-run the skew-critical
    # operator at x100 replication (~100 M ticks at sf0.1, half of them
    # in ONE symbol) so the committed artifact shows the x10 -> x100
    # shape. Two samples, interleaved with the quota head-to-head so
    # they never share one co-tenant burst; each sample carries its own
    # probes, a per-window phase breakdown (kernel vs Python vs
    # shuffle/Arrow/IO — NOTES r8 variance investigation), and the
    # bandwidth-normalized rate (Kbricks/s per GB/s) that is the
    # round-over-round comparable when raw bandwidth swings.
    crep = int(os.environ.get("SPARK_GRAFT_SCALE_CURVE", "100"))
    if crep > rep:
        wait_for_quiet("scale_curve")
        cskewed = skewed_ticks(crep)

        # quota_sample head-to-head at skew (VERDICT r4 item 1's perf
        # claim): 90% of crep*10-replicated docs in ONE group. The
        # full-window path shuffles the whole text payload and sorts the
        # hot group in one reducer; the pre-filter pays 3 parallel
        # pruned scans instead (crossover ~5 M docs on local[32]).
        from renkodf_spark.operators import corpus

        drep = crep * 10
        dreps = spark.range(drep).select(F.col("id").alias("rep"))
        qdocs = (
            load_table(spark, SF_DIR, "documents")
            .crossJoin(F.broadcast(dreps))
            .select(
                (F.col("doc_id") * drep + F.col("rep")).alias("doc_id"),
                F.concat_ws(" ", F.col("text"), F.concat(F.lit("rep"), F.col("rep"))).alias(
                    "text"
                ),
            )
            .withColumn(
                "grp",
                F.when(F.pmod(F.hash("doc_id"), F.lit(10)) < 9, F.lit("hot")).otherwise(
                    F.concat(F.lit("g"), F.pmod(F.hash("doc_id"), F.lit(7)))
                ),
            )
        )

        cc = out["scale_curve"] = {
            "replication": crep,
            "ticks_rows": out["ticks_rows"] * crep // rep,
            "samples": [],
        }
        q = cc["quota_skew"] = {"docs_rows": qdocs.count(), "samples": {}}
        for s in range(2):
            spark.catalog.clearCache()
            probe = {"spin_miters": spin_probe(), "bw_gbps": bandwidth_probe()}
            inst: dict = {}
            t0 = time.perf_counter()
            # subchunk_threshold wired into the x100 entry (VERDICT r9
            # item 4): at crep=100 the hot symbol carries ~1.2M ticks
            # per week window — below the 3M default, so r9's artifact
            # never showed the splice path's parallelism at the curve.
            # 400k/50k splits every hot window into ~24 spec chunks
            # (measured sweep: target 200k -> 6 chunks / max wall 43s,
            # 100k -> 12 / 18s, 50k -> 24 / 9.2s, all converged, rows
            # identical); hot_stats and the per-window achieved
            # parallelism are published per sample.
            x100_thr = int(os.environ.get("SPARK_GRAFT_X100_SUBCHUNK_THR", "400000"))
            rows = materialize(
                renko_chunked(
                    cskewed, 5.0, window="1 week", instrument=inst,
                    subchunk_threshold=x100_thr, subchunk_target=x100_thr // 8,
                )
            )
            el = time.perf_counter() - t0
            wins = inst.get("windows", [])
            cc["samples"].append(
                {
                    "sec": round(el, 3),
                    "probe": probe,
                    # bandwidth-normalized rate: stable when the wall
                    # time is bandwidth-steal-inflated
                    "kbricks_per_sec_per_gbps": round(
                        rows / el / 1e3 / probe["bw_gbps"], 2
                    ),
                    "phases": {
                        "stage_write_sec": inst.get("stage_write_sec"),
                        "discover_sec": inst.get("discover_sec"),
                        "n_windows": inst.get("n_windows"),
                        "windows_wall_sec": round(sum(w["wall_sec"] for w in wins), 3),
                        "py_sec_total": round(sum(w["py_sec"] for w in wins), 3),
                        "kernel_sec_total": round(
                            sum(w["kernel_sec"] for w in wins), 3
                        ),
                        "max_window_wall_sec": max((w["wall_sec"] for w in wins), default=0),
                        # achieved parallelism per window: worker-side
                        # Python seconds / window wall — ~1 means the
                        # window ran as one serial task; the r8 "done"
                        # bar for sub-chunking is > 20 on the hot
                        # windows at local[32]
                        "windows": [
                            {
                                "wall_sec": w["wall_sec"],
                                "achieved_parallelism": round(
                                    w["py_sec"] / max(w["wall_sec"], 1e-9), 1
                                ),
                                **({"hot": w["hot"]} if "hot" in w else {}),
                            }
                            for w in wins
                        ],
                    },
                }
            )
            cc["skew_renko_chunked_rows"] = rows
            # interleave: the quota pair separates the two x100 samples
            for label, af in (("prefilter_sec", 2), ("full_window_sec", None)):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                materialize(
                    corpus.quota_sample(qdocs, "grp", per_group=25, admit_factor=af)
                )
                q["samples"].setdefault(label, []).append(
                    round(time.perf_counter() - t0, 3)
                )
        cc["skew_renko_chunked_sec"] = min(s["sec"] for s in cc["samples"])
        for label in ("prefilter_sec", "full_window_sec"):
            q[label] = min(q["samples"][label])

        # Sub-chunking head-to-head (VERDICT r8 item 3): the x100 HOT
        # symbol above is duplicate-heavy (hash-selected events repeat
        # identically across reps) so its serial scan is cheap and the
        # default 3M-tick threshold rightly leaves it alone. The serial
        # floor the sub-chunk operator exists for is a hot symbol of
        # UNIQUE dense ticks — built here deterministically in-Spark
        # (2-decimal exponential prices via inverse-CDF of a hash
        # uniform, every tick moving multiple 5.0-bricks), one window,
        # measured serial (subchunk_threshold=None) vs speculative
        # sub-chunks, interleaved min-of-2 like every scale entry.
        wait_for_quiet("subchunk")
        n_hot = int(os.environ.get("SPARK_GRAFT_SUBCHUNK_TICKS", "1500000"))
        u = (F.pmod(F.xxhash64(F.col("id")), F.lit(1_000_000)) + 0.5) / 1_000_000.0
        hot_ticks = spark.range(n_hot).select(
            F.lit("HOT").alias("symbol"),
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("id") * 0.05)
            ).alias("event_time"),
            F.round(-50.0 * F.log(1.0 - u), 2).alias("close"),
        )
        cool_ticks = spark.range(n_hot // 10).select(
            F.concat(F.lit("S"), F.pmod(F.col("id"), F.lit(50))).alias("symbol"),
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("id") * 0.5)
            ).alias("event_time"),
            F.round(
                -50.0 * F.log(1.0 - (F.pmod(F.xxhash64(F.col("id") + 7), F.lit(1_000_000)) + 0.5) / 1_000_000.0),
                2,
            ).alias("close"),
        )
        sticks = hot_ticks.unionByName(cool_ticks)
        sb = cc["subchunk"] = {"hot_ticks": n_hot, "samples": {}}
        for _pass in range(2):
            for label, thr in (("chunked_sec", 1_000_000), ("serial_sec", None)):
                spark.catalog.clearCache()
                inst: dict = {}
                t0 = time.perf_counter()
                rows = materialize(
                    renko_chunked(
                        sticks, 5.0, window="30 days", instrument=inst,
                        subchunk_threshold=thr, subchunk_target=300_000,
                    )
                )
                sb["samples"].setdefault(label, []).append(
                    round(time.perf_counter() - t0, 3)
                )
                # per-config row counts (ADVICE r9: one shared key let a
                # row-count divergence in the bench regime go unrecorded)
                # — the head-to-head doubles as a large-scale equivalence
                # check, enforced below.
                sb.setdefault("bricks", {})[label.replace("_sec", "")] = rows
                if thr is not None and inst.get("windows"):
                    sb["hot_stats"] = inst["windows"][0].get("hot")
        assert sb["bricks"]["chunked"] == sb["bricks"]["serial"], (
            "subchunk bench: chunked/serial brick counts diverged "
            f"{sb['bricks']} — the splice is wrong at bench scale"
        )
        for label in ("chunked_sec", "serial_sec"):
            sb[label] = min(sb["samples"][label])
        sb["speedup"] = round(sb["serial_sec"] / max(sb["chunked_sec"], 1e-9), 2)

        # Batched BPE at realistic vocab scale (VERDICT r9 item 5):
        # learn k=64 merges on the sf0.1 corpus, sequential (batch_m=1,
        # one driver round per rule) vs batched fill (batch_m 8/16,
        # rounds until k rules). sec_per_merge is the headline number;
        # rounds is the claimed ceil-ish job-count win — at cluster
        # scale each round is a scheduling round-trip, so rounds/rule
        # is what survives a 100x executor-count scale-up.
        wait_for_quiet("bpe")
        from renkodf_spark.operators.text import bpe_merges
        from renkodf_spark.queries.pipeline import _docs as _bpe_docs

        kk = int(os.environ.get("SPARK_GRAFT_BPE_K", "64"))
        bdocs = _bpe_docs(spark, SF_DIR)
        bp = out["bpe_scale"] = {"k": kk, "samples": {}, "rules": {}, "rounds": {}}
        for _pass in range(2):
            for label, mm in (("sequential", 1), ("batch8_fill", 8), ("batch16_fill", 16)):
                spark.catalog.clearCache()
                binst: dict = {}
                t0 = time.perf_counter()
                rules = bpe_merges(
                    bdocs, k=kk, batch_m=mm, fill=True, instrument=binst
                ).collect()
                bp["samples"].setdefault(label, []).append(
                    round(time.perf_counter() - t0, 3)
                )
                bp["rules"][label] = len(rules)
                bp["rounds"][label] = binst["rounds"]
        for label in ("sequential", "batch8_fill", "batch16_fill"):
            sec = min(bp["samples"][label])
            bp[f"{label}_sec"] = sec
            bp[f"{label}_sec_per_merge"] = round(sec / max(bp["rules"][label], 1), 3)
        bp["speedup_batch8"] = round(
            bp["sequential_sec"] / max(bp["batch8_fill_sec"], 1e-9), 2
        )
    return out


def main():
    wait_for_quiet("headline")

    # single-core kernel throughput first, before the Spark JVM spins up
    # 32 executor threads that perturb the measurement
    tput = kernel_throughput()

    from renkodf_spark.session import build_session

    spark = build_session("renkodf-spark-bench", cores=int(CPUS), driver_memory="24g")
    spark.sparkContext.setLogLevel("ERROR")

    import renkodf_spark.queries as q

    builders = q.queries()

    # Warm-up: spin up executor threads, Python workers (Arrow path),
    # and whole-stage codegen before the timed loop — cold-start cost is
    # a property of the session, not of any operator, and at sf0.001 it
    # dominated the first timed query ~15x.
    import pandas as pd
    from pyspark.sql import functions as F

    spark.range(1_000).select(F.sum("id")).collect()
    (
        spark.range(1_000)
        .withColumn("g", F.col("id") % 8)
        .groupBy("g")
        .applyInPandas(lambda pdf: pd.DataFrame({"n": [len(pdf)]}), "n long")
        .collect()
    )

    # Two temporally-SEPARATED full passes over the headline, min per
    # query, plus a 3rd visit for sub-second queries (VERDICT r6 item
    # 2, hardened r7): back-to-back reps share a co-tenant spike's
    # window — a run this round recorded 18.3 s best-of-2 for a query
    # whose fresh-session steady state is 2.2 s, because both reps sat
    # inside the same external load burst. Interleaving the passes puts
    # minutes between a query's samples, which decorrelates the blips
    # the loadavg gate cannot see mid-run (our own 32 threads keep the
    # 1-minute loadavg high, so per-query gating would always wait).
    # Each visit still stands alone: clearCache before each, so
    # operators that cache internal subtrees (LSH signatures, shingle
    # sets) re-pay that cost and nothing carries between samples; the
    # first pass eats every plan's one-off whole-stage-codegen JIT.
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    visits: dict[str, int] = {}
    qsamples: dict[str, list] = {name: [] for name in HEADLINE}

    def visit(name: str) -> None:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = builders[name](spark, SF_DIR)
        rows[name] = materialize(df)  # pruning-proof: all columns computed
        el = time.perf_counter() - t0
        timings[name] = min(timings.get(name, el), el)
        visits[name] = visits.get(name, 0) + 1
        qsamples[name].append(el)

    for _pass in range(2):
        for name in HEADLINE:
            visit(name)
    for name in HEADLINE:  # sub-second queries: one more decorrelated sample
        if timings[name] < 1.0:
            visit(name)

    # this run's numbers only: the min over its own interleaved visits
    for name in HEADLINE:
        timings[name] = round(timings[name], 3)
        print(
            f"# {name}: {timings[name]}s ({rows[name]} rows, {visits[name]} visits)",
            file=sys.stderr,
        )

    # second kernel visit, temporally separated from the pre-Spark one
    # by the whole headline loop (VERDICT r10 item 2: two samples far
    # apart in time decorrelate a co-tenant burst the way the query
    # passes already do). Spark's executor threads idle between jobs,
    # so the single-core loop is measurable here; a busy-box sample
    # only LOWERS throughput, and we take the max.
    tput2 = kernel_throughput()
    for lbl in ("sparse", "dense"):
        tput["samples"][lbl].extend(tput2["samples"][lbl])
        tput[lbl] = max(tput[lbl], tput2[lbl])

    timings["kernel_mticks_per_sec_sparse"] = round(tput["sparse"] / 1e6, 3)
    timings["kernel_mticks_per_sec_dense"] = round(tput["dense"] / 1e6, 3)
    print(
        f"# kernel throughput: sparse {tput['sparse']/1e6:.2f} / dense {tput['dense']/1e6:.2f} M ticks/s/core",
        file=sys.stderr,
    )

    rep = int(os.environ.get("SPARK_GRAFT_SCALE_REP", "10"))
    scale = None
    if rep > 1:
        scale = scale_block(spark, rep)
        print(f"# scale x{rep}: {scale}", file=sys.stderr)

    wait_for_quiet("centrality_split")
    csplit = centrality_split(spark)
    print(f"# centrality split: {csplit}", file=sys.stderr)

    total = round(sum(v for k, v in timings.items() if not k.startswith("kernel_mticks")), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # ADVICE r3: record the measurement regime so cross-round
        # comparisons can't silently mix methodologies. v5 (r08): the
        # SCALE entries join the interleaved-sampling regime (2
        # temporally-separated samples per entry, min, per-sample
        # spin/bw probes recorded) and the x100 curve gets two
        # interleaved samples + per-window phase breakdown + a
        # bandwidth-normalized rate. v4 (r07): two separated headline
        # passes + 3rd visit for sub-second queries; per-section gates.
        # v3 (earlier r07): best-of-2 back-to-back. v2 (r03-r06):
        # best-of-2, headline-only gate. r01/r02: single rep, count()
        # materialization — not comparable.
        "methodology": {
            "version": 7,
            # v7: this run's samples only (the v6 cross-run min-merge
            # pool is gone). v6 (r12): per-query samples cross-run
            # min-merged under a package-source fingerprint, quiet-gate
            # threshold 4 -> 2
            "reps": "2 interleaved passes (3rd visit if best < 1s); scale entries 2 interleaved samples",
            "agg": "min",
            "materialize": "full_width_row_hash",
            # the gates only control WHEN each section starts (bounded
            # wait for co-tenant quiet); measurement semantics unchanged
            "quiet_gate": QUIET_GATES,
            # run-end probes: compare against the per-section values
            # to see whether co-tenant pressure changed mid-run (spin
            # = CPU steal, bw = memory-bandwidth steal — the one that
            # actually moves the Arrow/shuffle-bound scale numbers)
            "spin_miters_end": spin_probe(),
            "bw_gbps_end": bandwidth_probe(),
        },
        # co-tenancy context: this box's load swings 6x+ (NOTES.md
        # postmortem); a high load average here means absolute numbers
        # are inflated and only intra-run ratios are meaningful
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        # this run's raw samples behind the minima above
        "samples": {"queries": qsamples, "kernel": tput["samples"]},
    }
    if scale is not None:
        payload["scale"] = scale
    payload["centrality_split"] = csplit

    # Artifact layout (VERDICT r7 item 2): the full payload became one
    # giant stdout line that overflowed the driver's capture buffer —
    # BENCH_r07.json stored only its tail ("parsed": null, no headline
    # total). The FULL payload goes to stderr only (a run leaves the
    # tree clean); stdout ends with a compact always-fits summary line
    # carrying the output contract (metric/value/unit/queries/sf) plus
    # the headline numbers a round-over-round comparison needs.
    print(json.dumps(payload), file=sys.stderr)

    compact = {
        "metric": payload["metric"],
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": payload["sf"],
        "methodology_version": 7,
        "probes": {
            **{
                sect: {"spin": g["spin_miters"], "bw": g["bw_gbps"]}
                for sect, g in QUIET_GATES.items()
            },
            "end": {
                "spin": payload["methodology"]["spin_miters_end"],
                "bw": payload["methodology"]["bw_gbps_end"],
            },
        },
        "loadavg": payload["loadavg"],
        "full_payload": "stderr",
    }
    if scale is not None:
        cs = {
            k: v
            for k, v in scale.items()
            if k.endswith(("_sec", "_rows", "_samples", "_probes"))
            or k in ("replication", "skew_hot_ticks", "skew_peak_window_symbol_rows")
        }
        curve = scale.get("scale_curve")
        if curve:
            cs["scale_curve"] = {
                "replication": curve["replication"],
                "ticks_rows": curve["ticks_rows"],
                "skew_renko_chunked_rows": curve.get("skew_renko_chunked_rows"),
                "skew_renko_chunked_sec": curve.get("skew_renko_chunked_sec"),
                "samples": [
                    {
                        "sec": s["sec"],
                        "bw": s["probe"]["bw_gbps"],
                        "kbricks_per_sec_per_gbps": s["kbricks_per_sec_per_gbps"],
                    }
                    for s in curve.get("samples", [])
                ],
                "quota_skew": {
                    k: curve["quota_skew"][k]
                    for k in ("docs_rows", "prefilter_sec", "full_window_sec")
                    if k in curve.get("quota_skew", {})
                },
                "subchunk": {
                    k: curve["subchunk"][k]
                    for k in ("hot_ticks", "bricks", "serial_sec", "chunked_sec", "speedup")
                    if k in curve.get("subchunk", {})
                },
                # per-window splice proof at the x100 curve (VERDICT r9
                # item 4), from the best sample: hot chunk count, how
                # many speculative scans converged, and the repair
                # fraction actually rescanned
                "hot_windows": [
                    w
                    for w in min(
                        curve.get("samples", []), key=lambda s: s["sec"], default={}
                    ).get("phases", {}).get("windows", [])
                    if "hot" in w
                ] if curve.get("samples") else [],
            }
        if "bpe_scale" in scale:
            bp = scale["bpe_scale"]
            cs["bpe_scale"] = {
                k: bp[k]
                for k in (
                    "k", "rules", "rounds", "sequential_sec",
                    "sequential_sec_per_merge", "batch8_fill_sec",
                    "batch8_fill_sec_per_merge", "batch16_fill_sec",
                    "batch16_fill_sec_per_merge", "speedup_batch8",
                )
                if k in bp
            }
        compact["scale"] = cs
    print(json.dumps(compact))
    # VERDICT r8 item 1 / VERDICT r14 item 1: the compact line above
    # still carries the bulky methodology/scale blobs and can overflow
    # the driver's stdout capture window, truncating the LEADING keys
    # (metric/value — the headline). The driver parses the LAST
    # parseable JSON line, so end stdout with a bounded final line.
    # r14's ~150-byte micro line omitted per-query timings, which left
    # PERF_r14.json with an empty per_query/scaling comparison — the
    # driver was judging blind. The final line now carries the
    # {"queries": {name: sec}} map (~30 bytes/query, ~2.5 KB for 80
    # queries — well inside the several-KB capture window that held the
    # r14 tail), restoring the full driver contract
    # (metric/value/unit/queries/sf) in the last line while keeping the
    # methodology/scale bulk out of it.
    micro = {
        "metric": payload["metric"],
        "value": total,
        "unit": "sec",
        "queries": {
            k: round(v, 3)
            for k, v in timings.items()
            if not k.startswith("kernel_mticks")
        },
        "sf": payload["sf"],
        "n_queries": len([k for k in timings if not k.startswith("kernel_mticks")]),
        "kernel_dense_mticks": timings["kernel_mticks_per_sec_dense"],
        "kernel_sparse_mticks": timings["kernel_mticks_per_sec_sparse"],
        "full_payload": "stderr",
    }
    print(json.dumps(micro))
    spark.stop()


if __name__ == "__main__":
    main()
