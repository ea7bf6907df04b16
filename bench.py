"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and ends
stdout with ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
The full payload, with a status-store profile per timed entry, goes to
stderr; a run writes nothing in the tree.

``python bench.py NAME ...`` times the named registered queries instead
of ``HEADLINE`` and skips the scale block and the centrality split; an
unknown name exits non-zero before any Spark work.

Also measures raw Renko kernel throughput (ticks/sec) on a synthetic
replay comparable to the reference's perf_backtest.py (~1.5 M ticks/s
on one core, BASELINE.md).
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.probes import group_stages, stage_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SCALE_REP = int(os.environ.get("SPARK_GRAFT_SCALE_REP", "10"))

# x100 skew curve: replication, and the sub-chunk threshold wired into
# it (at x100 the hot symbol carries ~1.2 M ticks per week window, below
# the 3 M default; 400 k/50 k splits each hot window into ~24 chunks)
SCALE_CURVE = 100
X100_SUBCHUNK_THR = 400_000
# the sub-chunk head-to-head's hot symbol of unique dense ticks
SUBCHUNK_TICKS = 1_500_000
BPE_K = 64  # merges learned by the batched-BPE entries

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
        for _ in range(5):  # best-of-5: each rep is <= 0.6 s on a shared box
            state = new_state(float(prices[0]), brick)
            out = new_output()
            t0 = time.perf_counter()
            scan(times, prices, 1, brick, state, out)
            samples.append(round(n / (time.perf_counter() - t0) / 1e6, 3))
        results["samples"][label] = samples
        results[label] = max(samples) * 1e6
    return results


def materialize(df) -> int:
    """Pruning-proof full materialization: under a bare count() Catalyst
    prunes every unreferenced output column, so projection-only queries
    (text_quality etc.) would be timed optimistically. Aggregating a
    full-width row hash references every output column — nothing can be
    pruned — while still returning only one row to the driver. Returns
    the row count."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash(*[F.col(c) for c in df.columns]).cast("long")).alias("h"),
    ).collect()[0]
    return row["n"]


_VISITS = itertools.count()  # job groups are unique per visit in a run


def profile(spark, group: str) -> dict:
    """Status-store totals of the jobs run under ``group``: jobs, stages
    that ran, tasks, executor run and CPU seconds, shuffle read and
    write and spill (MB). Executor CPU next to wall is the co-tenancy
    signal: a stolen core stretches the wall, not the CPU."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # last task ends
    jobs, stages = group_stages(spark, group, stage_table(spark))
    prof = {"jobs": jobs, "stages": len(stages)}
    for key in ("tasks", "run_s", "jvm_cpu_s", "read_mb", "write_mb", "spill_mb"):
        prof[key] = round(sum(s[key] for s in stages), 3)
    return prof


def sample(spark, entries, passes: int = 2, out: dict | None = None) -> dict[str, dict]:
    """The one measuring loop: ``passes`` interleaved passes over the
    ``(name, thunk)`` entries, so minutes of other work separate two
    samples of one entry and a co-tenant burst rarely poisons both.
    Each visit clears the cache (operators that cache internal subtrees
    re-pay that cost), runs the thunk under its own job group, and then,
    outside the timed window (a status-store read takes ~0.7 s at 900
    retained stages), reads the visit's :func:`profile`.

    An entry ``(name, build, action)`` times ``action(build())`` as one
    visit but runs the two calls under separate job groups, so a
    builder's eager jobs are not counted as the action's: the profile
    is the action's, with the builder's own profile and seconds under
    ``builder``. Under AQE every shuffle stage is a job of its own, so
    job counts alone cannot tell the two apart.

    Per name: ``sec``, the min over the visits, and that visit's
    ``profile``; every visit in ``samples``; the thunk's last return in
    ``value``. Pass ``out`` to add visits to an earlier result."""
    out = {} if out is None else out
    sc = spark.sparkContext
    for _ in range(passes):
        for name, *steps in entries:
            rec = out.setdefault(name, {"samples": []})
            group = f"bench-{next(_VISITS)}-{name}"
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            if len(steps) == 2:
                build, action = steps
                sc.setJobGroup(f"{group}-builder", name)
                built = build()
                builder_s = round(time.perf_counter() - t0, 3)
                sc.setJobGroup(group, name)
                rec["value"] = action(built)
            else:
                sc.setJobGroup(group, name)
                rec["value"] = steps[0]()
            sec = round(time.perf_counter() - t0, 3)
            sc.setLocalProperty("spark.jobGroup.id", None)  # later jobs: no group
            prof = profile(spark, group)
            if len(steps) == 2:
                prof["builder"] = {**profile(spark, f"{group}-builder"), "sec": builder_s}
            rec["samples"].append(sec)
            if sec <= rec.get("sec", sec):
                rec["sec"], rec["profile"] = sec, prof
    return out


def publish(out: dict, res: dict[str, dict]) -> None:
    """``{name}_sec``, ``{name}_samples`` and ``{name}_profile`` of each
    sampled entry into ``out``."""
    for name, rec in res.items():
        for key in ("sec", "samples", "profile"):
            out[f"{name}_{key}"] = rec[key]


def centrality_split(spark) -> dict:
    """Build-vs-fixpoint decomposition of the centrality headline
    entries: knn_pagerank / knn_trustrank rebuild the same kNN graph
    inside every timed window, so their headline numbers mostly measure
    the shared build. This block times the phases separately at the gate
    parameters: graph build + persist once (write_knn_graph), then each
    fixpoint over the stored narrow (src, dst) relation — the marginal
    cost of one more centrality question against a stored corpus
    snapshot."""
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
    from renkodf_spark.queries.pipeline10 import _LPA_ITERS, _graph_state_path
    from renkodf_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = similarity.embedding_centroids(emb, dim=_IVF_DIM)
    path = _graph_state_path()  # shared per-process state dir, removed at exit
    nodes = emb.select(F.col("vec_id").alias("id"))
    seeds = emb.filter(F.col("label") == _TR_SEED_LABEL).select(
        F.col("vec_id").alias("id")
    )

    def _build():
        similarity.write_knn_graph(emb, cents, path, k=_KNN_K)
        return 0

    def _fixpoint(**kw):
        edges = similarity.read_knn_graph(spark, path).select("src", "dst")
        return materialize(
            graph.pagerank(
                edges, nodes, iterations=_PR_ITERS, d_num=_PR_DNUM,
                d_den=_PR_DDEN, scale=_PR_SCALE, **kw,
            )
        )

    def _fix_lpa():
        pairs = similarity.mutual_knn_edges(similarity.read_knn_graph(spark, path))
        und = pairs.selectExpr("id_a as src", "id_b as dst").unionByName(
            pairs.selectExpr("id_b as src", "id_a as dst")
        )
        return materialize(graph.label_propagation(und, nodes, iterations=_LPA_ITERS))

    res = sample(spark, [
        ("build_write", _build),
        ("pagerank_fixpoint", _fixpoint),
        ("trustrank_fixpoint", lambda: _fixpoint(seeds=seeds)),
        ("lpa_fixpoint", _fix_lpa),
    ])
    out = {f"{n}_sec": r["sec"] for n, r in res.items()}
    out.update({f"{n}_profile": r["profile"] for n, r in res.items()})
    out["samples"] = {n: r["samples"] for n, r in res.items()}
    out["note"] = (
        "headline knn_pagerank/knn_trustrank/knn_communities each "
        "include a fresh graph build; the *_indexed twins include "
        "build+write+fixpoint. The fixpoint_sec values here are the "
        "per-question marginal cost once the graph is stored "
        "(lpa_fixpoint = mutual symmetrize + vote rounds)."
    )
    return out


def replicated_ticks(spark, n: int):
    """The sf ticks as n x new symbols (renko's parallelism axis)."""
    from pyspark.sql import functions as F

    from renkodf_spark.sources.tables import ticks_from_events

    reps = spark.range(n).select(F.col("id").alias("rep"))
    return (
        ticks_from_events(spark, SF_DIR)
        .crossJoin(F.broadcast(reps))
        .withColumn("symbol", F.concat_ws("_", "symbol", "rep"))
        .drop("rep")
    )


def skewed_ticks(spark, n: int):
    """Hot-symbol skew: :func:`replicated_ticks` with ~50% of the ticks
    in ONE symbol — the regime where per-symbol sequential operators
    hurt. renko_chunked is the declared answer (windowed stitching
    bounds the per-task tick count at window x symbol)."""
    from pyspark.sql import functions as F

    hot = F.pmod(F.hash("event_time"), F.lit(2)) == 0
    return replicated_ticks(spark, n).withColumn(
        "symbol", F.when(hot, F.lit("HOT")).otherwise(F.col("symbol"))
    )


def replicated_docs(spark, n: int):
    """The sf documents as n x perturbed texts (keeps LSH bucket sizes
    realistic instead of exploding every bucket n x), with their source
    and lang: each copy keeps the base source tag, so a trusted subset
    replicates n-fold too."""
    from pyspark.sql import functions as F

    from renkodf_spark.sources.tables import load_table

    reps = spark.range(n).select(F.col("id").alias("rep"))
    return (
        load_table(spark, SF_DIR, "documents")
        .crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") * n + F.col("rep")).alias("doc_id"),
            F.concat_ws(" ", F.col("text"), F.concat(F.lit("rep"), F.col("rep"))).alias("text"),
            "source",
            "lang",
        )
    )


def scale_block(spark, rep: int) -> dict:
    """Secondary scale demonstration: there is no sf1 dataset, so
    replicate the sf0.1 inputs rep x on the fly —
    events as rep x new symbols (renko's parallelism axis), documents as
    rep x perturbed texts (keeps LSH bucket sizes realistic instead of
    exploding every bucket rep x) — and publish wall-times for the
    operator families whose scaling matters most. Every entry runs
    through :func:`sample` (two interleaved passes, min, a status-store
    profile of the min visit)."""
    from datetime import timedelta as _td

    from pyspark.sql import functions as F

    from renkodf_spark.operators import classifier, similarity
    from renkodf_spark.operators import corpus as corpus_ops
    from renkodf_spark.operators import graph as graph_ops
    from renkodf_spark.operators import text as text_ops
    from renkodf_spark.operators.dedup import minhash_lsh_pairs, remove_duplicated_spans
    from renkodf_spark.operators.rangejoin import point_in_interval_join
    from renkodf_spark.operators.renko import renko_mode
    from renkodf_spark.operators.renko_chunked import renko_chunked
    from renkodf_spark.operators.setsim import setsim_join
    from renkodf_spark.queries.pipeline import _docs as _bpe_docs
    from renkodf_spark.queries.pipeline3 import _EVAL_LEN, _EVAL_MOD, _EVAL_START
    from renkodf_spark.queries.pipeline11 import pretrain_dag
    from renkodf_spark.sources.tables import load_table
    from renkodf_spark.streaming.ann_stream import (
        knn_centrality_writer,
        knn_communities_writer,
    )

    reps = spark.range(rep).select(F.col("id").alias("rep"))
    out: dict = {"replication": rep}

    # --- inputs (built once; every sample re-executes the full plan) ---
    ticks = replicated_ticks(spark, rep)
    # the model families train on the corpus WITH metadata: training
    # input grows with the corpus while the MODEL stays bounded by the
    # (shared) vocabulary
    rdocs_meta = replicated_docs(spark, rep)
    docs = rdocs_meta.select("doc_id", "text")
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

    skewed = skewed_ticks(spark, rep)

    # The capped kNN graph of the replicated embeddings: replicating
    # them WITH their labels grows every cell rep-fold — the hot-cell
    # regime where the within-cell pair term (Sigma cell^2) explodes
    # (321 s/sample uncapped at x10: 20k vectors in 8 cells = 50 M
    # pairs). The entries therefore run the documented mitigation,
    # max_cell_size: sub-cells bound the pair term at cap x n.
    def capped_graph():
        return similarity.knn_graph(
            remb, similarity.embedding_centroids(remb, dim=64), k=3, max_cell_size=500
        )

    def communities():
        pairs = similarity.mutual_knn_edges(capped_graph())
        und = pairs.selectExpr("id_a as src", "id_b as dst").unionByName(
            pairs.selectExpr("id_b as src", "id_a as dst")
        )
        return graph_ops.label_propagation(
            und, remb.select(F.col("vec_id").alias("id")), iterations=4
        )

    src0 = F.col("source") == "src0"
    # the eval carve of the pretraining DAG replays the gate rule (every
    # _EVAL_MOD-th doc) on the replicated ids
    eval_docs = rdocs_meta.filter(F.col("doc_id") % _EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.array_join(
            F.slice(corpus_ops._norm_gram_tokens("text"), _EVAL_START, _EVAL_LEN), " "
        ).alias("text"),
    )

    # minhash: explicit cap = the declared adversarial-scale posture.
    # span_removal: nearly every gram is duplicated across the rep
    #   copies, so the drop-position relation hits its linear worst case
    #   (tokens x n), never a quadratic pair term.
    # range_join: rep x the event table on BOTH sides; candidates are
    #   bounded by (user, 2h-bin) co-residency, never |L|*|R|.
    # knn_communities_capped: delta over knn_graph_capped = mutual
    #   symmetrize + vote rounds; knn_pagerank_capped: delta = 3 integer
    #   PageRank iterations over the narrow (id, pr) relation.
    # nb_train_score / bigram_lm_score: the full train+score pipeline
    #   (model bounded by the trusted-subset vocabulary, scoring by
    #   vocab-keyed equi-joins, text never shuffles).
    # setsim_join: the rep-suffix perturbation leaves each doc's rep
    #   copies ~92% Jaccard-similar, so the TRUE answer has ~rep^2/2
    #   pairs per doc — the cost is the answer's size, not a plan defect.
    # pretrain_end_to_end: all seven stages over the replicated corpus;
    #   the copies are LSH candidates of each other, so the near-dup
    #   stage drops ~all replication (the adversarial-dedup regime).
    entries = [
        ("renko_wicks", lambda: materialize(renko_mode(ticks, 5.0, "wicks"))),
        ("dedup_minhash_lsh", lambda: materialize(minhash_lsh_pairs(docs, max_bucket_size=1000))),
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
        ("skew_renko_chunked", lambda: materialize(renko_chunked(skewed, 5.0, window="1 week"))),
        ("knn_graph_capped", lambda: materialize(capped_graph())),
        ("knn_communities_capped", lambda: materialize(communities())),
        (
            "nb_train_score",
            lambda: materialize(
                classifier.nb_score(
                    rdocs_meta, classifier.nb_train(rdocs_meta, positive=src0), positive=src0
                )
            ),
        ),
        (
            "bigram_lm_score",
            lambda: materialize(
                text_ops.bigram_logprob(
                    rdocs_meta, text_ops.bigram_lm_train(rdocs_meta.filter(src0))
                )
            ),
        ),
        ("setsim_join", lambda: materialize(setsim_join(docs, t_num=1, t_den=2))),
        (
            "knn_pagerank_capped",
            lambda: materialize(
                graph_ops.pagerank(
                    capped_graph().select("src", "dst"),
                    remb.select(F.col("vec_id").alias("id")),
                    iterations=3,
                )
            ),
        ),
        ("pretrain_end_to_end", lambda: materialize(pretrain_dag(rdocs_meta, eval_docs))),
    ]
    res = sample(spark, entries)
    publish(out, res)
    out.update({f"{name}_rows": rec["value"] for name, rec in res.items()})

    # --- streaming centrality/communities maintainers at rep x: the
    # batch twins above time the FULL-graph recompute; these time what a
    # TRIGGER costs against the stored rep-x state. Trigger 0 ingests the
    # whole replicated corpus (the one-time build, reported for context);
    # the measured steady-state triggers deliver ~1% new vectors, whose
    # cost the per-cell decomposition bounds by the affected cells'
    # sum(|cell|^2) — not |V|+|E|. Centrality runs SEEDED (TrustRank):
    # the trigger batches carry no seed vectors, so |S| is frozen and
    # only routed cells refixpoint. Every trigger gets fresh ids and the
    # next batch id: a replayed batch_id would take the idempotent
    # short-circuit and measure nothing.
    emb_base = remb.select("vec_id", "embedding")
    n_base = emb_base.count()
    small_n = max(n_base // 100, 1)
    scents = similarity.embedding_centroids(remb, dim=64)
    seeds = remb.filter(F.col("label") == 0).select(F.col("vec_id").alias("id"))

    def trigger_batch(i: int):
        # small_n fresh ids all carrying ONE base vector's embedding:
        # every row routes to the same centroid cell, so the trigger
        # recomputes exactly one cell's subgraph (distinct vectors would
        # spread across every cell and cost the full ingest)
        one = emb_base.filter(F.col("vec_id") == i).select("embedding")
        return (
            spark.range(small_n)
            .select((F.col("id") + F.lit((rep + 1 + i) * n_base)).alias("vec_id"))
            .crossJoin(F.broadcast(one))
        )

    def triggers(w):
        ids = itertools.count()

        def run():
            i = next(ids)
            w(trigger_batch(i), i + 1)

        return run

    sdirs = {w: tempfile.mkdtemp(prefix=f"bench_{w}_") for w in (
        "knn_centrality_writer", "knn_communities_writer"
    )}
    try:
        writers = {
            "knn_centrality_writer": knn_centrality_writer(
                scents, sdirs["knn_centrality_writer"], seeds=seeds, k=3,
                iterations=3, max_cell_size=500,
            ),
            "knn_communities_writer": knn_communities_writer(
                scents, sdirs["knn_communities_writer"], k=3, iterations=3,
                max_cell_size=500,
            ),
        }
        ingest = sample(spark, [
            (f"{w}_ingest", lambda w=w: writers[w](emb_base, 0)) for w in writers
        ], passes=1)
        res = sample(spark, [(f"{w}_trigger", triggers(writers[w])) for w in writers])
    finally:
        for d in sdirs.values():
            shutil.rmtree(d, ignore_errors=True)
    for name, rec in ingest.items():
        out[f"{name}_sec"], out[f"{name}_profile"] = rec["sec"], rec["profile"]
    publish(out, res)
    out.update({f"{w}_trigger_rows": small_n for w in writers})
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
    if SCALE_CURVE > rep:
        out["scale_curve"] = scale_curve(spark, rep, out["ticks_rows"])
        out["bpe_scale"] = bpe_scale(spark, _bpe_docs(spark, SF_DIR))
    return out


def scale_curve(spark, rep: int, ticks_rows: int) -> dict:
    """The skew-critical operator at x100 replication (~100 M ticks at
    sf0.1, half of them in ONE symbol), so the artifact shows the
    x10 -> x100 shape, interleaved with the quota_sample head-to-head;
    then the sub-chunk head-to-head. Each x100 sample keeps its
    per-window phase breakdown (kernel vs Python vs shuffle/Arrow/IO)."""
    from pyspark.sql import functions as F

    from renkodf_spark.operators import corpus
    from renkodf_spark.operators.renko_chunked import renko_chunked

    cskewed = skewed_ticks(spark, SCALE_CURVE)
    # quota_sample at skew: 90% of x(10 * SCALE_CURVE) docs in ONE
    # group. The full-window path shuffles the whole text payload and
    # sorts the hot group in one reducer; the pre-filter pays 3 parallel
    # pruned scans instead (crossover ~5 M docs on local[32]).
    qdocs = (
        replicated_docs(spark, SCALE_CURVE * 10)
        .select("doc_id", "text")
        .withColumn(
            "grp",
            F.when(F.pmod(F.hash("doc_id"), F.lit(10)) < 9, F.lit("hot")).otherwise(
                F.concat(F.lit("g"), F.pmod(F.hash("doc_id"), F.lit(7)))
            ),
        )
    )
    phases = []

    def x100():
        inst: dict = {}
        rows = materialize(
            renko_chunked(
                cskewed, 5.0, window="1 week", instrument=inst,
                subchunk_threshold=X100_SUBCHUNK_THR,
                subchunk_target=X100_SUBCHUNK_THR // 8,
            )
        )
        wins = inst.get("windows", [])
        phases.append({
            "stage_write_sec": inst.get("stage_write_sec"),
            "discover_sec": inst.get("discover_sec"),
            "n_windows": inst.get("n_windows"),
            "windows_wall_sec": round(sum(w["wall_sec"] for w in wins), 3),
            "py_sec_total": round(sum(w["py_sec"] for w in wins), 3),
            "kernel_sec_total": round(sum(w["kernel_sec"] for w in wins), 3),
            "max_window_wall_sec": max((w["wall_sec"] for w in wins), default=0),
            # achieved parallelism per window: worker-side Python
            # seconds / window wall; ~1 means one serial task
            "windows": [
                {
                    "wall_sec": w["wall_sec"],
                    "achieved_parallelism": round(w["py_sec"] / max(w["wall_sec"], 1e-9), 1),
                    **({"hot": w["hot"]} if "hot" in w else {}),
                }
                for w in wins
            ],
        })
        return rows

    def quota(af):
        return lambda: materialize(corpus.quota_sample(qdocs, "grp", per_group=25, admit_factor=af))

    res = sample(spark, [
        ("skew_renko_chunked", x100),
        ("prefilter", quota(2)),
        ("full_window", quota(None)),
    ])
    x = res.pop("skew_renko_chunked")
    cc = {
        "replication": SCALE_CURVE,
        "ticks_rows": ticks_rows * SCALE_CURVE // rep,
        "samples": [{"sec": s, "phases": p} for s, p in zip(x["samples"], phases)],
        "skew_renko_chunked_rows": x["value"],
        "skew_renko_chunked_sec": x["sec"],
        "skew_renko_chunked_profile": x["profile"],
        "quota_skew": {"docs_rows": qdocs.count(), "samples": {}},
    }
    q = cc["quota_skew"]
    for label, rec in res.items():
        q["samples"][f"{label}_sec"] = rec["samples"]
        q[f"{label}_sec"], q[f"{label}_profile"] = rec["sec"], rec["profile"]

    # Sub-chunking head-to-head: the x100 HOT symbol above is
    # duplicate-heavy (hash-selected events repeat identically across
    # reps), so its serial scan is cheap. The serial floor the sub-chunk
    # operator exists for is a hot symbol of UNIQUE dense ticks — built
    # here deterministically in-Spark (2-decimal exponential prices via
    # inverse-CDF of a hash uniform, every tick moving multiple
    # 5.0-bricks), one window, measured serial (subchunk_threshold=None)
    # vs speculative sub-chunks. The pair doubles as a large-scale
    # equivalence check on the brick counts.
    u = (F.pmod(F.xxhash64(F.col("id")), F.lit(1_000_000)) + 0.5) / 1_000_000.0
    hot_ticks = spark.range(SUBCHUNK_TICKS).select(
        F.lit("HOT").alias("symbol"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id") * 0.05)
        ).alias("event_time"),
        F.round(-50.0 * F.log(1.0 - u), 2).alias("close"),
    )
    cool_ticks = spark.range(SUBCHUNK_TICKS // 10).select(
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
    sb = cc["subchunk"] = {"hot_ticks": SUBCHUNK_TICKS, "samples": {}}

    def subchunked(thr):
        def run():
            inst: dict = {}
            rows = materialize(
                renko_chunked(
                    sticks, 5.0, window="30 days", instrument=inst,
                    subchunk_threshold=thr, subchunk_target=300_000,
                )
            )
            if thr is not None and inst.get("windows"):
                sb["hot_stats"] = inst["windows"][0].get("hot")
            return rows

        return run

    res = sample(spark, [("chunked", subchunked(1_000_000)), ("serial", subchunked(None))])
    sb["bricks"] = {label: rec["value"] for label, rec in res.items()}
    assert sb["bricks"]["chunked"] == sb["bricks"]["serial"], (
        "subchunk bench: chunked/serial brick counts diverged "
        f"{sb['bricks']} — the splice is wrong at bench scale"
    )
    for label, rec in res.items():
        sb["samples"][f"{label}_sec"] = rec["samples"]
        sb[f"{label}_sec"], sb[f"{label}_profile"] = rec["sec"], rec["profile"]
    sb["speedup"] = round(sb["serial_sec"] / max(sb["chunked_sec"], 1e-9), 2)
    return cc


def bpe_scale(spark, bdocs) -> dict:
    """Batched BPE at realistic vocab scale: learn BPE_K merges,
    sequential (batch_m=1, one driver round per rule) vs batched fill
    (batch_m 8/16, rounds until k rules). sec_per_merge is the headline
    number; rounds is the job-count win — at cluster scale each round is
    a scheduling round-trip, so rounds/rule is what survives a 100x
    executor-count scale-up."""
    from renkodf_spark.operators.text import bpe_merges

    def learn(mm):
        def run():
            inst: dict = {}
            rules = bpe_merges(bdocs, k=BPE_K, batch_m=mm, fill=True, instrument=inst).collect()
            return len(rules), inst["rounds"]

        return run

    res = sample(spark, [
        (label, learn(mm))
        for label, mm in (("sequential", 1), ("batch8_fill", 8), ("batch16_fill", 16))
    ])
    bp = {"k": BPE_K, "samples": {}, "rules": {}, "rounds": {}}
    for label, rec in res.items():
        bp["samples"][label] = rec["samples"]
        bp["rules"][label], bp["rounds"][label] = rec["value"]
        bp[f"{label}_sec"], bp[f"{label}_profile"] = rec["sec"], rec["profile"]
        bp[f"{label}_sec_per_merge"] = round(rec["sec"] / max(bp["rules"][label], 1), 3)
    bp["speedup_batch8"] = round(bp["sequential_sec"] / max(bp["batch8_fill_sec"], 1e-9), 2)
    return bp


def final_line(timings: dict[str, float], sf) -> dict:
    """The last stdout line, the one the driver parses. Its capture
    window holds a few KB, so the line carries only the output contract
    (metric/value/unit/queries/sf, ~30 bytes a query) and the kernel
    figures; the full payload goes to stderr. ``value`` is the sum of
    the query timings, kernel figures excluded."""
    queries = {k: v for k, v in timings.items() if not k.startswith("kernel_mticks")}
    return {
        "metric": "headline_total_runtime",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "n_queries": len(queries),
        "kernel_dense_mticks": timings["kernel_mticks_per_sec_dense"],
        "kernel_sparse_mticks": timings["kernel_mticks_per_sec_sparse"],
        "full_payload": "stderr",
    }


def main(names: list[str]) -> None:
    import renkodf_spark.queries as q

    builders = q.queries()
    unknown = [n for n in names if n not in builders]
    if unknown:
        sys.exit(f"unknown query: {', '.join(unknown)}")

    # single-core kernel throughput first, before the Spark JVM spins up
    # executor threads that perturb the measurement
    tput = kernel_throughput()

    from renkodf_spark.plans.audit import plan_summary
    from renkodf_spark.session import build_session

    # 24g on the benchmark box, a quarter of the RAM on a smaller one:
    # Arrow's direct memory may grow as large as the heap, and the
    # sub-chunk pair's serial scan (14.4 M bricks in one task) peaked at
    # 15.1 GB of process-tree RSS on a 16 GB box with a 7g heap
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    spark = build_session(
        "renkodf-spark-bench", cores=int(CPUS), driver_memory=f"{min(24, ram_gb // 4)}g"
    )
    spark.sparkContext.setLogLevel("ERROR")

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

    # Two interleaved passes over the queries, min per query, plus a 3rd
    # visit for sub-second queries; the first pass eats every plan's
    # one-off whole-stage-codegen JIT.
    built = {}

    def build(name):
        def run():
            built[name] = df = builders[name](spark, SF_DIR)
            return df

        return run

    # materialize: pruning-proof, every output column is computed
    entries = [(name, build(name), materialize) for name in names]
    res = sample(spark, entries)
    sample(spark, [e for e in entries if res[e[0]]["sec"] < 1.0], passes=1, out=res)

    timings: dict[str, float] = {}
    profiles: dict[str, dict] = {}
    for name, rec in res.items():
        timings[name] = rec["sec"]
        plan = dataclasses.asdict(plan_summary(built[name]))
        del plan["text"]
        profiles[name] = {**rec["profile"], "plan": plan}
        p, b = rec["profile"], rec["profile"]["builder"]
        print(
            f"# {name}: {rec['sec']}s ({rec['value']} rows, {len(rec['samples'])} visits; "
            f"builder {b['sec']}s, {b['jobs']} jobs, {b['stages']} stages; "
            f"action {p['jobs']} jobs, {p['stages']} stages, executor cpu {p['jvm_cpu_s']}s)",
            file=sys.stderr,
        )

    # second kernel visit, separated from the pre-Spark one by the whole
    # query loop: two samples far apart in time decorrelate a co-tenant
    # burst. Spark's executor threads idle between jobs, so the
    # single-core loop is measurable here; a busy-box sample only LOWERS
    # throughput, and we take the max.
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

    extra = {}
    if names == HEADLINE:  # named queries only: no scale block or split
        if SCALE_REP > 1:
            extra["scale"] = scale_block(spark, SCALE_REP)
        extra["centrality_split"] = centrality_split(spark)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    final = final_line(timings, float(sf) if sf.replace(".", "").isdigit() else sf)
    payload = {
        "metric": final["metric"],
        "value": final["value"],
        "unit": "sec",
        "queries": timings,
        "sf": final["sf"],
        # the measurement regime, so comparisons across runs cannot mix
        # methodologies. v9: a query's profile counts the final action's
        # jobs, with the builder's eager jobs apart under "builder".
        # v8: every timed entry (queries, scale, curve, centrality
        # split) runs through one sampler and carries a status-store
        # profile of its min visit; no co-tenancy probes. v7: this
        # run's samples only. Before v4: not comparable.
        "methodology": {
            "version": 9,
            "reps": "2 interleaved passes (3rd visit if best < 1s); scale entries 2 interleaved samples",
            "agg": "min",
            "materialize": "full_width_row_hash",
        },
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        # this run's raw samples behind the minima above
        "samples": {
            "queries": {name: rec["samples"] for name, rec in res.items()},
            "kernel": tput["samples"],
        },
        "profiles": profiles,
        **extra,
    }
    print(json.dumps(payload), file=sys.stderr)
    print(json.dumps(final))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:] or HEADLINE)
