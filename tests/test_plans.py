"""Physical-plan hygiene: these tests pin the properties that make the
engine scale — filter pushdown into parquet scans, column pruning,
broadcast joins for dimensions, map-side partial aggregation, and no
Python UDFs outside the Renko kernel boundary."""

import re

import renkodf_spark.queries as q
from renkodf_spark.sources.tables import load_table


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plan = _executed(li.filter("l_shipdate <= timestamp'1998-09-02'").select("l_quantity"))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_parquet(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plan = _executed(li.select("l_quantity", "l_discount"))
    assert "ReadSchema: struct<l_quantity:double,l_discount:double>" in plan


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _executed(q.queries()["q5_region_revenue"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region
    assert "CartesianProduct" not in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _executed(q.queries()["q1_pricing_summary"](spark, sf_dir))
    # map-side combine: HashAggregate(partial) before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_renko_mode_projection_prunes_variants(spark, sf_dir):
    from renkodf_spark.operators.renko import renko, renko_df
    from renkodf_spark.sources.tables import ticks_from_events

    bars = renko_df(renko(ticks_from_events(spark, sf_dir), 5.0), "wicks", utils_columns=False)
    opt = _optimized(bars)
    # the projection above the kernel keeps only the wicks columns
    head = opt.split("MapInArrow")[0]
    assert "fake_high" not in head and "reverse_low" not in head


def test_renko_plan_is_one_exchange_and_one_map(spark, sf_dir):
    """renko(): one hash exchange on symbol feeding one partition-level
    MapInArrow; no Sort and no grouped-map node (the host sorts)."""
    from renkodf_spark.operators.renko import renko
    from renkodf_spark.sources.tables import ticks_from_events

    plan = _executed(renko(ticks_from_events(spark, sf_dir), 5.0))
    assert plan.count("Exchange") == 1 and "Exchange hashpartitioning(symbol#" in plan
    assert plan.count("MapInArrow") == 1
    assert "Sort" not in plan and "FlatMapGroupsInArrow" not in plan


def test_subchunk_spec_pass_is_one_id_exchange_and_one_map(spark, sf_dir):
    """The sub-chunk spec pass: one exchange that places rows by their
    chunk slot (`repartitionById`) feeding one partition-level
    MapInArrow; no Sort, no grouped-map node and no carry side."""
    from pyspark.sql import functions as F

    from renkodf_spark.operators.renko import slim_ticks
    from renkodf_spark.operators.renko_chunked import _placed_chunks
    from renkodf_spark.operators.renko_subchunk import SUB_SCHEMA, make_spec_runner
    from renkodf_spark.sources.tables import ticks_from_events

    slim = slim_ticks(ticks_from_events(spark, sf_dir), 5.0, "symbol", "event_time", "close")
    syms = [r[0] for r in slim.select("symbol").distinct().orderBy("symbol").limit(2).collect()]
    plans = {s: [1_700_000_000_000_000] for s in syms}
    hot = slim.filter(F.col("symbol").isin(syms))
    plan = _executed(_placed_chunks(spark, hot, plans).mapInArrow(make_spec_runner(5.0), SUB_SCHEMA))
    assert plan.count("Exchange") == 1 and "Exchange shufflepartitionidpassthrough(" in plan
    assert plan.count("MapInArrow") == 1
    assert "Sort" not in plan and "FlatMapGroupsInArrow" not in plan
    assert "FlatMapCoGroupsInArrow" not in plan


def test_sessions_bound_arrow_batches_by_rows(spark, monkeypatch):
    """`build_session` and the test session set the same Arrow batch
    byte bound, the one value at which Spark skips its per-row size
    probe."""
    from pyspark.sql import SparkSession

    from renkodf_spark.session import ARROW_BATCH_BYTES, build_session

    key, value = ARROW_BATCH_BYTES
    assert value == "2147483647"
    # the test session's launch conf holds the fixture's own settings
    assert spark.sparkContext.getConf().get(key) == value
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    assert build_session()[key] == value


def test_renko_scan_prunes_tick_columns(spark, sf_dir):
    """Only (symbol, time, price) may reach the shuffle before the
    kernel — other event columns must be pruned at the scan."""
    from renkodf_spark.operators.renko import renko
    from renkodf_spark.sources.tables import ticks_from_events

    wide = renko(ticks_from_events(spark, sf_dir), 5.0)
    plan = _executed(wide)
    assert "props" not in plan and "user_id" not in plan


def test_no_python_udf_in_relational_queries(spark, sf_dir):
    """Part-B queries must stay JVM-side (whole-stage codegen), no
    BatchEvalPython / ArrowEvalPython nodes."""
    from renkodf_spark.plans import assert_jvm_only, plan_summary

    for name in [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "running_order_total",
        "dedup_minhash_lsh",
        "text_quality",
        "similarity_cosine_topk",
        "asof_purchase_before_click",
        "time_bars_hourly",
        # round 5 additions stay JVM-side too
        "packed_bins",
        "ivf_train_unlabeled",
        "lang_quota_sample",
        "asof_tolerance_purchase",
        # round 13: signed sketch, persisted-graph PR, LPA communities
        "signed_lm_score_quantiles",
        "knn_pagerank_indexed",
        "knn_communities",
    ]:
        assert_jvm_only(q.queries()[name](spark, sf_dir), name)
    # and the renko path has exactly one python node (the kernel)
    s = plan_summary(q.queries()["renko_wicks"](spark, sf_dir))
    assert s.python_nodes == 1 and s.exchanges == 1, str(s)


def test_asof_join_is_single_shuffle_window(spark, sf_dir):
    plan = _executed(q.queries()["asof_purchase_before_click"](spark, sf_dir))
    assert "RunningWindowFunction" in plan or "Window" in plan
    # no join node at all: the as-of is a union + window
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_dedup_input_repartition_is_conditional(spark):
    """VERDICT r3 item 1: the corpus spread-repartition in the dedup
    shingle paths must only fire for under-parallel inputs — a
    well-partitioned 100 TB scan must not pay an extra full-corpus
    shuffle, while a single-row-group local read still gets spread."""
    from pyspark.sql import functions as F

    from renkodf_spark.operators import dedup

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "), F.col("id")).alias("text"),
    )
    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    narrow = docs.coalesce(1)

    def n_exchanges(df):
        return _executed(df).count("Exchange")

    for build in (
        lambda d, **kw: dedup.minhash_signatures(d, **kw),
        lambda d, **kw: dedup.ngram_jaccard_pairs(
            d,
            d.sparkSession.createDataFrame([(0, 1)], "id_a long, id_b long"),
            **kw,
        ),
    ):
        base_wide = n_exchanges(build(wide, repartition_input=False))
        assert n_exchanges(build(wide)) == base_wide, "auto repartitioned a wide input"
        # narrow: auto must add exchange(s) — exactly as many as forcing
        # it on (the jaccard plan shows the cached shingle subtree twice,
        # so the delta is 2 there, 1 for the signature path)
        base_narrow = n_exchanges(build(narrow, repartition_input=False))
        forced_narrow = n_exchanges(build(narrow, repartition_input=True))
        assert forced_narrow > base_narrow
        assert n_exchanges(build(narrow)) == forced_narrow, "auto skipped a narrow input"


def test_corpus_narrow_ops_have_no_shuffle(spark, sf_dir):
    """Chunking, PII redaction, and hash splits are per-row transforms:
    their physical plans must contain no Exchange (zero-shuffle at any
    scale) and no Python nodes (whole-stage codegen throughout)."""
    from renkodf_spark.operators import corpus
    from renkodf_spark.plans import assert_jvm_only

    docs = load_table(spark, sf_dir, "documents")
    for df in (
        corpus.chunk_documents(docs),
        corpus.redact_pii(docs),
        corpus.hash_split(docs),
    ):
        assert "Exchange" not in _executed(df)
        assert_jvm_only(df, "corpus narrow op")


def test_quota_sample_single_shuffle_when_unfiltered(spark, sf_dir):
    """With the pre-filter disabled, quota sampling keeps its legacy
    shape: one shuffle on the group key + one rank window — no join."""
    from renkodf_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(corpus.quota_sample(docs, "lang", per_group=5, admit_factor=None))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_quota_sample_prefilter_precedes_window_exchange(spark, sf_dir):
    """VERDICT r4 item 1: by default the rank window's Exchange must be
    fed by the over-admission hash-prefix Filter (so the hottest group
    contributes ~admit_factor*quota rows to the sort, never the whole
    group), and the two per-group stat passes must be pruned to
    (group, id) — the document text reaches exactly one scan."""
    import re

    from renkodf_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(corpus.quota_sample(docs, "lang", per_group=5))
    # admission filter exists and is a descendant of the window's
    # Exchange (the root-most hashpartitioning exchange prints first;
    # children print below their parents)
    assert "__thresh" in plan
    assert plan.index("Exchange hashpartitioning") < plan.index("__thresh")
    # stat passes are column-pruned: of the three parquet scans, only
    # the final (window-input) one may read the text payload
    # (the sizes relation is referenced twice and Catalyst does not CSE
    # scans, so the narrow (group[, id]) projection is read 3x — cheap;
    # what matters is that the text payload is scanned exactly once)
    schemas = re.findall(r"ReadSchema: \S+", plan)
    assert len(schemas) == 4, plan
    assert sum("text" in s for s in schemas) == 1, schemas


def test_dedup_filter_shuffles_labels_not_documents(spark, sf_dir):
    """The corpus text may be shuffled at most once (the keeper join);
    the size aggregation must run over the narrow label relation."""
    from renkodf_spark.operators import corpus, dedup
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("id"), (F.col("doc_id") % 50).alias("cluster_id")
    )
    plan = _executed(corpus.dedup_filter(docs, labels))
    # text reaches exactly one exchange boundary; with AQE the keeper
    # side usually broadcasts, making the text-side join shuffle-free
    assert plan.count("text") <= plan.count("Exchange") + plan.count("Broadcast")


def test_bloom_probe_broadcasts_sketch(spark, sf_dir):
    """The membership probe must broadcast the tiny sketch — the probed
    corpus may not shuffle for the join (its only exchange is the
    map-side-combinable per-id min fold)."""
    plan = _executed(q.queries()["bloom_membership"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dsir_model_broadcasts_and_text_never_shuffles(spark, sf_dir):
    """DSIR scoring joins doc-gram rows against the <= n_buckets-row
    model: the model side must broadcast, and no exchange may carry the
    document text (only gram buckets, ids, and counts shuffle)."""
    plan = _executed(q.queries()["dsir_weights_en"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    for frag in plan.split("Exchange hashpartitioning")[1:]:
        keyspec = frag.split("\n", 1)[0]
        assert "text" not in keyspec
    # the per-doc sums are partial-aggregated before their exchange
    assert "partial" in plan.lower()


def test_span_removal_text_never_enters_an_exchange(spark, sf_dir):
    """The apply stage of exact-substring dedup must move only gram
    digests and integer positions: no exchange input (shuffle OR
    broadcast) may carry the token array or raw text — the clean text
    is rebuilt in-row from the broadcast drop-position sets."""
    from renkodf_spark.plans import exchange_inputs

    df = q.queries()["substring_span_removal"](spark, sf_dir)
    banned = {"__t", "tok", "text"}
    for cols in exchange_inputs(df):
        assert not banned & set(cols), f"text column enters an exchange: {cols}"


def test_boilerplate_removal_text_never_enters_an_exchange(spark, sf_dir):
    """C4-style boilerplate removal must shuffle only 32-char line
    digests and integer positions; the document text stays put and is
    rebuilt in-row from the broadcast drop-position sets."""
    from renkodf_spark.plans import exchange_inputs

    df = q.queries()["boilerplate_line_removal"](spark, sf_dir)
    banned = {"__ls", "line", "text", "clean_text"}
    for cols in exchange_inputs(df):
        assert not banned & set(cols), f"text column enters an exchange: {cols}"


def test_keep_best_election_is_aggregation_not_window(spark, sf_dir):
    """The representative election must compile to min_by aggregation
    (map-side combinable), not a per-cluster window sort."""
    from pyspark.sql import functions as F

    from renkodf_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("id"), (F.col("doc_id") % 50).alias("cluster_id")
    )
    plan = _executed(dedup.cluster_representatives(docs, labels))
    assert "min_by" in plan
    assert "Window" not in plan


def test_vocab_encode_shuffles_only_integer_triples(spark, sf_dir):
    """encode_with_vocab's reassembly exchange must carry only
    (id, pos, tid) integers — the term column is consumed by the
    broadcast vocab join inside the scan stage (the vocab's own
    BroadcastExchange is the one allowed text carrier: bounded by the
    declared vocab size, not by the corpus)."""
    from pyspark.sql import functions as F

    from renkodf_spark.operators.text import encode_with_vocab
    from renkodf_spark.plans import shuffle_inputs

    docs = load_table(spark, sf_dir, "documents")
    vocab = spark.createDataFrame([("the", 0), ("a", 1)], "term string, token_id int")
    df = encode_with_vocab(docs, vocab)
    for cols in shuffle_inputs(df):
        assert not {"term", "text"} & set(cols), f"text enters a shuffle: {cols}"


def test_hard_negative_ann_corpus_never_shuffles(spark, sf_dir):
    """ANN-backed mining (VERDICT r8 item 5): the IVF recall stage must
    keep the corpus stationary — probe rows broadcast onto the
    cell-routed scan, and no exchange input may carry a corpus vector
    (the rank shuffle holds only (anchor_id, neighbor_id, cos); the
    anchors' own vectors broadcast, which is the bounded side)."""
    from renkodf_spark.plans import exchange_inputs

    df = q.queries()["hard_negative_pairs_ann"](spark, sf_dir)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    for cols in exchange_inputs(df):
        assert "cvec" not in cols and "embedding" not in cols, cols


def test_hard_negative_ann_shuffle_path_single_linear_exchange(spark, sf_dir):
    """broadcast_anchors=False (VERDICT r9 item 6 / ADVICE r9): the
    unbounded-anchor variant must plan the candidate join as a
    cell-keyed SortMergeJoin — each side's vectors cross exactly ONE
    linear hash shuffle on cell (never |anchors| x |corpus|, never a
    cartesian), and every exchange after the join carries only scalar
    candidate pairs."""
    from renkodf_spark.plans import shuffle_inputs

    df = q.queries()["hard_negative_pairs_ann_shuffle"](spark, sf_dir)
    plan = _executed(df)
    assert "SortMergeJoin" in plan and "CartesianProduct" not in plan
    vec_shuffles = {
        tuple(cols) for cols in shuffle_inputs(df) if {"cvec", "avec"} & set(cols)
    }
    # the candidate subtree is stamped once per consumer (pos + negk),
    # but the only vector-bearing shuffle SHAPES allowed are the two
    # narrow pre-join sides keyed by cell — never a joined row (which
    # would carry both vectors) and never a post-rank row. r14: each
    # side also carries its per-row precomputed norm (__cn/__an, one
    # double — the pair-stage cosine reads it instead of re-folding
    # the vector per pair).
    assert vec_shuffles == {
        ("neighbor_id", "cvec", "__nlabel", "cell", "__cn"),
        ("anchor_id", "avec", "__alabel", "cell", "__an"),
    }, vec_shuffles


def test_hard_negative_ann_join_strategy_parity(spark, sf_dir):
    """The broadcast and shuffle candidate joins must be bit-identical
    — the strategy knob is a plan choice, not a semantics choice."""
    a = (
        q.queries()["hard_negative_pairs_ann"](spark, sf_dir)
        .orderBy("anchor_id", "rank")
        .toPandas()
    )
    b = (
        q.queries()["hard_negative_pairs_ann_shuffle"](spark, sf_dir)
        .orderBy("anchor_id", "rank")
        .toPandas()
    )
    assert len(a) == len(b) and list(a.columns) == list(b.columns)
    for col in a.columns:
        sa, sb = a[col], b[col]
        assert (sa.isna() == sb.isna()).all(), col
        assert (sa.dropna().to_numpy() == sb.dropna().to_numpy()).all(), col


def test_nb_classifier_text_never_enters_an_exchange(spark, sf_dir):
    """The NB quality filter moves only (term, count) pairs and
    integer scores: no exchange input (shuffle OR broadcast) may carry
    the document text, and the term counts are partial-aggregated
    before their exchange (map-side combine)."""
    from renkodf_spark.plans import exchange_inputs

    df = q.queries()["nb_classifier_scores"](spark, sf_dir)
    for cols in exchange_inputs(df):
        assert "text" not in set(cols), f"text enters an exchange: {cols}"
    assert "partial" in _executed(df).lower()


def test_bigram_lm_text_never_enters_an_exchange(spark, sf_dir):
    """The bigram LM moves only (w1, w2, count) pairs and integer
    scores: tokenization and bigram construction are doc-local array
    expressions, so no exchange input (shuffle OR broadcast) may carry
    the document text, and counts partial-aggregate before their
    exchange."""
    from renkodf_spark.plans import exchange_inputs

    df = q.queries()["bigram_lm_doc_quality"](spark, sf_dir)
    for cols in exchange_inputs(df):
        assert "text" not in set(cols), f"text enters an exchange: {cols}"
    assert "partial" in _executed(df).lower()


def test_knn_graph_vectors_cross_only_the_cell_exchange(spark, sf_dir):
    """The kNN graph's one vector-bearing shuffle is the cell-keyed
    pair join (the IVF contract); the per-source top-k window runs
    over the narrow (src, dst, cos) relation — the embedding payload
    must not enter the window's exchange."""
    from renkodf_spark.plans import exchange_inputs

    df = q.queries()["knn_graph_edges"](spark, sf_dir)
    vec_bearing = []
    for cols in exchange_inputs(df):
        cset = set(cols)
        if {"vec", "embedding"} & cset:
            vec_bearing.append(cols)
            assert "cell" in cset, f"vector exchange not cell-keyed: {cols}"
        if "cos_sim" in cset:  # the window's sort exchange
            assert not ({"vec", "embedding"} & cset), (
                f"vectors enter the top-k window exchange: {cols}"
            )
    assert vec_bearing, "expected the cell-keyed vector shuffle to exist"


def test_video_curation_decode_paid_once(spark, sf_dir):
    """r12 plan audit: the video-curation DAG materializes the
    per-frame hash relation ONCE (localCheckpoint) — the returned
    plan's five consumer branches must contain ZERO Python stages (the
    mapInPandas decode ran at build time, exactly once); before the
    fix the executed plan stamped the container decode 7+ times."""
    df = q.queries()["multimodal_video_curation_end_to_end"](spark, sf_dir)
    plan = _executed(df)
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_image_curation_decode_paid_once(spark, sf_dir):
    df = q.queries()["multimodal_curation_end_to_end"](spark, sf_dir)
    plan = _executed(df)
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_leakage_safe_splits_cluster_coherent(spark, sf_dir):
    """Every member of a near-dup cluster shares its split — the
    property that makes the split leakage-safe (plus: the split
    expression stays a pure column function, no Python UDF)."""
    from pyspark.sql import functions as F

    df = q.queries()["leakage_safe_splits"](spark, sf_dir)
    assert "BatchEvalPython" not in _executed(df)
    bad = (
        df.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert bad == 0


def test_winnow_text_never_enters_an_exchange(spark, sf_dir):
    """Winnowing moves only (id, i, h) long triples: k-gram hashing is
    doc-local, so no exchange input may carry the document text."""
    from renkodf_spark.plans import exchange_inputs

    for name in ("winnow_fingerprints", "winnow_candidate_pairs"):
        df = q.queries()[name](spark, sf_dir)
        for cols in exchange_inputs(df):
            assert "text" not in set(cols), f"{name}: text enters an exchange: {cols}"


def test_pretrain_end_to_end_text_never_enters_an_exchange(spark, sf_dir):
    """The r14 flagship DAG's plan pin (VERDICT r13 item 6): across the
    ENTIRE pipeline — exact dedup, LSH near-dup drop, Gopher filter,
    decontamination, temperature mixing, packing — no exchange input
    (shuffle OR broadcast) may carry the raw document text: stage
    verdicts travel as broadcast doc_id sets, features as hashes/band
    keys/gram digests/counts. The packed payload (chunk_text and its
    bin pieces) is the pipeline's OUTPUT and must cross an exchange at
    least once to be assembled into shards — but only in the terminal
    packing segment, and boundedly.

    The pin feeds an ALREADY-PARALLEL input (the production shape: a
    100 TB scan arrives split across thousands of tasks), under which
    the DAG's auto ingest spread is a no-op and ZERO exchanges may
    carry text. The gate tables are single-row-group local parquet —
    unsplittable scans — so the gate query itself is allowed exactly
    ONE text exchange: the ingest spread, and nothing downstream."""
    from renkodf_spark.plans import exchange_inputs
    from renkodf_spark.queries.pipeline import _docs
    from renkodf_spark.queries.pipeline3 import _eval_snippets
    from renkodf_spark.queries.pipeline11 import pretrain_dag

    # production shape: input at cluster parallelism, lineage truncated
    # so the test's own repartition is not in the audited plan
    par_docs = (
        _docs(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .localCheckpoint()
    )
    df = pretrain_dag(par_docs, _eval_snippets(spark, sf_dir))
    payload_crossings = 0
    for cols in exchange_inputs(df):
        s = set(cols)
        assert "text" not in s, f"document text enters an exchange: {cols}"
        if {"chunk_text", "piece", "bin_text"} & s:
            payload_crossings += 1
    # chunk payload may cross only in bin assembly: the (shard, bin_id)
    # group plus at most an AQE re-partitioning of the same segment
    assert 1 <= payload_crossings <= 3, payload_crossings

    # gate-query shape: the unsplittable local scan triggers the auto
    # ingest spread. Column pruning clones that spread per verdict
    # branch (each with its pruned projection; runtime exchange reuse
    # collapses the identical ones), so the pin is not a node count but
    # a SHAPE check: every text-carrying exchange must BE the ingest
    # spread — hash-partitioned by doc_id, never a downstream text
    # shuffle on band keys / gram digests / chunk labels.
    gate = q.queries()["pretrain_end_to_end"](spark, sf_dir)
    jvm = gate.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    lines = gate._jdf.queryExecution().explainString(mode).splitlines()
    import re

    for i, line in enumerate(lines):
        if not re.match(r"^\(\d+\) \w*Exchange", line.strip()):
            continue
        block = "\n".join(lines[i : i + 4])
        if re.search(r"Input \[\d+\]: \[[^]]*\btext#", block):
            assert "hashpartitioning(doc_id#" in block, (
                f"text crosses a non-ingest exchange:\n{block}"
            )
