"""Streaming corpus curation: ingestion-time dedup and quality
filtering over an unbounded document stream.

The batch curation operators (operators/corpus.py, operators/text.py)
assume a bounded corpus; an ingestion pipeline sees documents arrive
continuously and wants duplicates dropped and junk filtered *before*
they land in the lake. Structured Streaming expresses both directly:

- dedup: ``dropDuplicates`` on a content digest keeps per-key state;
  with a watermark on the event-time column the state is bounded —
  a duplicate arriving within the watermark horizon is dropped, one
  arriving later than the horizon may be re-admitted (that's the
  documented contract of watermarked streaming dedup, and the batch
  ``exact_dedup`` pass downstream is the backstop).
- quality gate: pure column predicates, identical to the batch
  ``quality_score`` buckets — stateless, so it adds no streaming
  state at all.

Scale: state lives in the state store keyed by digest, sized by
(arrival rate x watermark horizon), not by corpus size; the quality
filter is a narrow map. No Python in either path.

The ``foreachBatch`` writers below (quota, Bloom, HLL, count-min,
dHash, NB, bigram-LM and quantile-sketch state) keep their state in
``batch_id=N`` generation stores; the read, write, compaction and
replay protocol is described once in :mod:`renkodf_spark.streaming.
generations`.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renkodf_spark.streaming import generations as gens


def _bucketed_delta(df: DataFrame, batch_id: int, key, n_buckets: int) -> DataFrame:
    """A delta generation's rows: tagged with their ``src_batch`` and
    hash-bucketed on ``key`` into ``tb`` (one key's rows co-located)."""
    from renkodf_spark.operators.search import _term_bucket_expr

    return df.withColumn("src_batch", F.lit(batch_id).cast("long")).withColumn(
        "tb", _term_bucket_expr(key, n_buckets)
    )


def dedup_stream(
    docs: DataFrame,
    *,
    text_col: str = "text",
    time_col: str = "event_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop exact-content duplicates from a streaming document source.

    Keys state on ``md5(text)`` (16 bytes/doc, not the text itself) and
    bounds it with ``dropDuplicatesWithinWatermark``: state for a
    digest is dropped once the watermark passes its event time, so
    memory is (rate x horizon)-bounded on an unbounded stream.

    ``dropDuplicatesWithinWatermark`` — NOT plain ``dropDuplicates`` —
    is load-bearing: a ``dropDuplicates`` subset that excludes the
    event-time column never evicts its state no matter the watermark
    (the watermark is inert for it), which silently rebuilds the
    unbounded-state problem this operator exists to avoid.
    """
    keyed = docs.withColumn("content_hash", F.md5(F.col(text_col)))
    return keyed.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def rate_gate(
    docs: DataFrame,
    rates: float | dict,
    *,
    group_col: str | None = None,
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Stateless streaming down-sampling: :func:`renkodf_spark.
    operators.corpus.rate_sample` applied at ingestion. Because the
    sample is a pure function of ``(salt, id)`` — not of arrival order,
    trigger boundaries, or state — the streamed sample is EXACTLY the
    batch sample of the same rows (pinned by test), replays are
    idempotent, and there is no streaming state at all (survives any
    rate; contrast the watermark-bounded dedup above)."""
    from renkodf_spark.operators.corpus import rate_sample

    return rate_sample(
        docs, rates, group_col=group_col, default_rate=default_rate,
        id_col=id_col, salt=salt,
    )


def quota_cap_writer(
    out_path: str,
    counts_path: str,
    group_col: str,
    *,
    per_group: int = 1000,
    id_col: str = "doc_id",
    salt: str = "sample",
):
    """Cross-batch streaming quota cap for ``foreachBatch``: admit at
    most ``per_group`` documents per group over the LIFETIME of the
    stream — ingestion admission control ("cap each language at N"),
    the streaming counterpart of the batch :func:`renkodf_spark.
    operators.corpus.quota_sample`.

    Semantics: within a micro-batch, rows compete in the deterministic
    salted-hash order quota_sample uses (so a batch's admissions are
    layout-independent and replayable); across batches, admission is
    first-come (earlier triggers fill the quota first). A persisted
    per-group admitted-count table (two columns, one row per group —
    bytes) carries the state; both it and the admitted output are
    delta stores (:mod:`renkodf_spark.streaming.generations`), so a
    replayed batch reproduces its own decisions instead of
    double-admitting under foreachBatch's at-least-once contract.

    Scale: the batch ranking shuffles one micro-batch keyed by group
    (bounded by trigger size, not corpus size); the counts state is a
    broadcast-sized aggregate of the output's (batch_id, group, n)
    partitions — nothing ever re-reads admitted document text.
    """
    from pyspark.sql import Window

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # an unreadable counts store fails the trigger (the store's one
        # rule): resuming from prior=0 would admit past the lifetime quota
        counts_schema = batch.select(
            F.col(group_col).alias("__grp"), F.lit(0).cast("long").alias("admitted")
        ).schema
        prior = (
            gens.read_before(spark, counts_path, batch_id, schema=counts_schema)
            .groupBy("__grp")
            .agg(F.sum("admitted").alias("__prior"))
        )
        key = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
        w = Window.partitionBy(group_col).orderBy(key, F.col(id_col))
        ranked = batch.withColumn("__rk", F.row_number().over(w))
        admitted = (
            ranked.join(
                F.broadcast(prior), F.col(group_col).eqNullSafe(F.col("__grp")), "left"
            )
            .filter(F.col("__rk") <= per_group - F.coalesce(F.col("__prior"), F.lit(0)))
            .select(*batch.columns)
        )
        gens.write_gen(admitted, out_path, batch_id)
        counts = (
            gens.read_gen(spark, out_path, batch_id)
            .groupBy(F.col(group_col).alias("__grp"))
            .agg(F.count(F.lit(1)).alias("admitted"))
        )
        gens.write_gen(counts, counts_path, batch_id)

    return write_batch


def quota_select_writer(
    selection_path: str,
    group_col: str,
    *,
    per_group: int = 1000,
    id_col: str = "doc_id",
    salt: str = "sample",
):
    """Cross-trigger per-group quota SELECTION for ``foreachBatch``:
    after trigger N the selection equals the batch
    :func:`renkodf_spark.operators.corpus.quota_sample` run over the
    CONCATENATION of triggers 0..N — retroactive hash-rank quota,
    unlike :func:`quota_cap_writer`'s first-come admission (which can
    never evict an early admit in favor of a later, lower-hash row).

    Why this is cheap on an unbounded stream: per-group top-k under a
    fixed deterministic key is ASSOCIATIVE —
    ``quota_sample(quota_sample(A) u B) == quota_sample(A u B)`` —
    because every non-selected row's key is >= its group's k-th
    smallest, so discarding it can never change a later selection. The
    carried state is therefore the selection itself, bounded by
    ``groups x per_group`` rows regardless of corpus size, and each
    trigger ranks only ``state + batch`` rows.

    Layout & idempotence: a snapshot store (:mod:`renkodf_spark.
    streaming.generations`) holding the full selection per trigger; the
    ``dropDuplicates(id)`` makes re-unioning an already-folded batch on
    replay a no-op. Snapshots older than the one just consumed are
    pruned after each trigger, so the store holds two.

    The persisted ``sample_rank`` is the row's rank over the full
    concatenated history, not just the surviving rows: every discarded
    row's key exceeds its group's selection maximum, so ranks computed
    within ``state + batch`` coincide with global ranks.
    """
    from renkodf_spark.operators.corpus import quota_sample

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        state = gens.read_latest(spark, selection_path, before=batch_id)
        pool = batch if state is None else state.select(*batch.columns).unionByName(batch)
        sel = quota_sample(
            pool.dropDuplicates([id_col]),
            group_col,
            per_group=per_group,
            id_col=id_col,
            salt=salt,
        )
        gens.write_snapshot(sel, selection_path, batch_id)

    return write_batch


def quality_gate(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_words: int = 5,
    max_punct_ratio: float = 0.1,
) -> DataFrame:
    """Stateless streaming quality filter: the same keep/flag rules as
    the batch ``text.quality_score`` bucket, as pure predicates (no
    state, no shuffle — survives any input rate)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_words = F.size(toks)
    n_chars = F.length(F.col(text_col))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    return docs.filter(
        (n_words >= min_words) & (F.try_divide(punct, n_chars) <= max_punct_ratio)
    )


def bloom_dedup_writer(
    out_path: str,
    sketch_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 1 << 20,
    k: int = 4,
):
    """Sketch-based streaming exact-dedup for ``foreachBatch``: admit
    only documents whose content digest the cumulative Bloom sketch
    (``functions/bloom.py``) has never seen. This is the
    admission-control shape for when the exact digest table is too big
    or too hot to join per trigger: history is summarized into
    ``n_bits`` bits, and each trigger probes it with a broadcast join
    against ≤ ``n_bits/32`` rows — the history itself is never re-read.

    Error contract (one-sided): a previously-admitted document is
    ALWAYS dropped (no false negatives); a genuinely-new document is
    wrongly dropped with probability ≈ fill^k — size ``n_bits`` for the
    stream's lifetime volume, and watch :func:`renkodf_spark.functions.
    bloom.bloom_stats` on the sketch to know when to widen. The exact
    :func:`dedup_stream` is the precise (state-store) alternative when
    dropping new documents is unacceptable.

    State layout: a snapshot store (:mod:`renkodf_spark.streaming.
    generations`) holding ONE cumulative sketch per trigger, so the
    state read is O(n_bits) regardless of trigger count. Building the
    new snapshot from the ADMITTED keys only is lossless: a dropped
    row's bits are already all set in the prior sketch, so OR-ing it in
    would change nothing.

    Within a batch, the first occurrence of each digest (smallest
    ``id_col``) wins — deterministic, so replays reproduce decisions.
    """
    from pyspark.sql import Window

    from renkodf_spark.functions import bloom

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        keyed = batch.withColumn(
            "__key", F.md5(F.lower(F.trim(F.col(text_col))))
        )
        w = Window.partitionBy("__key").orderBy(F.col(id_col))
        firsts = keyed.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") == 1
        )
        prior = gens.read_latest(
            spark, sketch_path, before=batch_id, schema="word_idx long, bits long"
        ).select("word_idx", "bits")
        admitted = (
            firsts.join(
                bloom.bloom_might_contain(
                    firsts, prior, "__key", id_col=id_col, n_bits=n_bits, k=k
                ).filter(F.col("might_contain") == 0),
                id_col,
            )
            .select(*batch.columns, "__key")
        )
        gens.write_gen(admitted.select(*batch.columns), out_path, batch_id)
        new_sketch = (
            prior.union(
                bloom.bloom_build(
                    gens.read_gen(spark, out_path, batch_id)
                    .withColumn("__key", F.md5(F.lower(F.trim(F.col(text_col))))),
                    "__key",
                    n_bits=n_bits,
                    k=k,
                )
            )
            .groupBy("word_idx")
            .agg(F.bit_or("bits").alias("bits"))
        )
        gens.write_snapshot(new_sketch, sketch_path, batch_id)

    return write_batch


def sketch_rollup_writer(
    sketch_path: str,
    group_col: str,
    value_col: str,
    *,
    lg_config_k: int = 12,
):
    """Streaming distinct-count observability for ``foreachBatch``:
    maintain one mergeable HLL sketch per group over the stream's
    lifetime (``functions/sketches.py`` is the batch half — this is the
    same "the sketch is a value" story at ingestion time: per-trigger
    sketches are built from each micro-batch alone and merged into the
    persisted per-group state, so answering "how many distinct users /
    digests per group so far" never rescans or re-shuffles history).

    State layout: a snapshot store (:mod:`renkodf_spark.streaming.
    generations`), so the state read is O(groups), not O(triggers).
    Merge is ``hll_union_agg`` — commutative and
    deterministic, so the lifetime sketch equals the batch sketch over
    the concatenated stream.

    Read the current estimates with a plain
    ``spark.read.parquet(sketch_path).filter(batch_id == latest)``.
    """

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        cur = batch.groupBy(F.col(group_col).alias("__grp")).agg(
            F.hll_sketch_agg(value_col, F.lit(lg_config_k)).alias("sketch")
        )
        prior = gens.read_latest(batch.sparkSession, sketch_path, before=batch_id)
        merged = cur if prior is None else (
            prior.select("__grp", "sketch")
            .union(cur)
            .groupBy("__grp")
            .agg(F.hll_union_agg("sketch").alias("sketch"))
        )
        gens.write_snapshot(
            merged.withColumn("estimate", F.hll_sketch_estimate("sketch")),
            sketch_path,
            batch_id,
        )

    return write_batch


def cms_rollup_writer(
    sketch_path: str,
    key_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
):
    """Streaming frequency observability for ``foreachBatch``: maintain
    one lifetime count-min sketch over the stream (the third mergeable
    sketch state next to the Bloom membership writer and the HLL rollup
    writer — "have we seen it" / "how many distinct" / "how OFTEN").
    Count-min counters are linear, so per-trigger sketches built from
    each micro-batch alone SUM into the persisted state, and the
    lifetime sketch is exactly the batch sketch of the concatenated
    stream — heavy-hitter estimates over all history with an
    O(width × depth) state read at any trigger count.

    State layout: a snapshot store (:mod:`renkodf_spark.streaming.
    generations`), one cumulative sketch per trigger.

    Probe the current state with ``functions.countmin.cms_estimate``
    against ``spark.read.parquet(path).filter(batch_id == latest)``.
    """
    from renkodf_spark.functions import countmin

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        cur = countmin.cms_build(
            batch, key_col, width=width, depth=depth, weight_col=weight_col
        )
        prior = gens.read_latest(batch.sparkSession, sketch_path, before=batch_id)
        merged = (
            cur if prior is None
            else countmin.cms_merge(prior.select("row", "col", "count"), cur)
        )
        gens.write_snapshot(merged, sketch_path, batch_id)

    return write_batch


def dhash_dedup_writer(
    out_path: str,
    state_path: str,
    *,
    id_col: str = "media_id",
):
    """Streaming perceptual image dedup for ``foreachBatch`` (r11,
    VERDICT r10 item 5 — the image analog of :func:`bloom_dedup_writer`):
    decode each micro-batch of media rows, dHash them
    (``operators/multimodal.py::image_dhash``), ADMIT only media whose
    hash the lifetime state has never seen, and maintain the running
    keep election — per ``(dhash_hi, dhash_lo)`` the smallest id seen
    and the total occurrence count. The election is a groupBy with
    commutative aggregates (min / sum), so the lifetime state over N
    triggers equals the batch ``multimodal_dedup_keep`` election over
    the concatenated stream — pinned by test.

    State layout: a snapshot store (:mod:`renkodf_spark.streaming.
    generations`) under ``state_path``, ONE cumulative election per
    trigger. Undecodable payloads elect under
    their NULL hash group (status is carried in the snapshot), so no
    row is silently dropped.

    Cost honesty (the ann_stream convention): the snapshot rewrite is
    O(distinct hashes so far) per trigger — exact election needs the
    full keeper table. When the distinct-hash relation outgrows a
    per-trigger rewrite, point :func:`bloom_dedup_writer` at a
    hash-digest column instead: O(n_bits) state with the documented
    one-sided false-drop rate, no election counts.

    Admission: a batch row is written to ``out_path/batch_id=N`` iff
    its hash is absent from the PRIOR snapshot and it is the batch's
    elected keeper for that hash (smallest id) — first trigger, first
    occurrence wins, deterministic under replay.
    """
    from renkodf_spark.operators.multimodal import image_dhash

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        hash_input = batch.select(
            F.col(id_col).alias("media_id"), "media_type", "payload"
        )
        hashes = image_dhash(hash_input).select(
            F.col("media_id").alias(id_col), "dhash_hi", "dhash_lo", "status"
        )
        cur = hashes.groupBy("dhash_hi", "dhash_lo").agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dupes"),
            F.min("status").alias("status"),
        )
        prior = gens.read_latest(
            spark, state_path, before=batch_id,
            schema="dhash_hi long, dhash_lo long, keeper_id long, n_dupes long, status string",
        )
        merged = (
            prior.unionByName(cur)
            .groupBy("dhash_hi", "dhash_lo")
            .agg(
                F.min("keeper_id").alias("keeper_id"),
                F.sum("n_dupes").alias("n_dupes"),
                F.min("status").alias("status"),
            )
        )
        gens.write_snapshot(merged, state_path, batch_id)
        # admitted: the batch's elected keeper of each hash unseen by
        # the PRIOR snapshot (null-safe on the hash so undecodables
        # admit their first occurrence too)
        unseen = cur.join(
            prior.select("dhash_hi", "dhash_lo"),
            [
                cur["dhash_hi"].eqNullSafe(prior["dhash_hi"]),
                cur["dhash_lo"].eqNullSafe(prior["dhash_lo"]),
            ],
            "left_anti",
        )
        admitted = batch.join(
            unseen.select(F.col("keeper_id").alias(id_col)), id_col
        )
        gens.write_gen(admitted.select(*batch.columns), out_path, batch_id)

    return write_batch


def nb_model_writer(
    model_path: str,
    positive_col: str,
    *,
    text_col: str = "text",
    n_buckets: int | None = None,
    compact_every: int | None = None,
):
    """Streaming trainer for the Naive-Bayes quality filter
    (``operators/classifier.py``): maintain the model's sufficient
    statistics — per-term class token counts plus per-class document
    counts — over the stream's lifetime, so the filter can be
    (re)derived at any trigger without rescanning history.  All four
    statistics are ADDITIVE, so per-trigger counts built from each
    micro-batch alone SUM into the persisted state and the lifetime
    model is exactly the batch :func:`classifier.nb_train` model of the
    concatenated stream (pinned by test).

    State rows carry a ``kind`` column: ``'term'`` rows hold token
    counts, the single ``'docs'`` row holds the class document counts
    the prior derives from (kept apart from term rows so no term string
    can collide with it).

    ``positive_col`` names a boolean column on the micro-batch (the
    labeling rule is applied upstream, e.g.
    ``df.withColumn("is_target", F.col("source") == "src0")``).

    Cost honesty / the two state layouts (both are generation stores,
    :mod:`renkodf_spark.streaming.generations`):

    * default (``n_buckets=None``): a snapshot store, ONE cumulative
      snapshot per trigger REWRITTEN whole — O(vocabulary) per trigger,
      O(vocab) latest-only reads.  Natural-language vocabularies plateau
      (Heaps' law) so the snapshot stays far smaller than the corpus.
    * ``n_buckets=K``: delta stores — each trigger writes only its OWN
      counts under ``<path>/terms/batch_id=N/tb=...`` (term-hash
      sub-partitioned) + a one-row ``<path>/docs`` generation, so the
      trigger cost is O(batch vocabulary) no matter how large the
      lifetime vocabulary grows (high-cardinality term streams: URLs,
      ids).  Reads fold all generations with an exact sum;
      ``compact_every=K`` bounds the generation count via the shared
      compactor.

    Derive the scoring model with :func:`read_nb_model` — it
    auto-detects the layout and yields identical (exact) models.
    """
    if compact_every is not None and n_buckets is None:
        raise ValueError("compact_every requires the bucketed layout (n_buckets)")
    terms_path = posixpath.join(model_path, "terms")
    docs_path = posixpath.join(model_path, "docs")

    def _batch_counts(batch: DataFrame):
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        pairs = batch.select(
            F.col(positive_col).alias("__pos"), F.explode(toks).alias("term")
        )
        term_counts = pairs.groupBy("term").agg(
            F.sum(F.when(F.col("__pos"), 1).otherwise(0)).cast("long").alias("cnt_pos"),
            F.sum(F.when(F.col("__pos"), 0).otherwise(1)).cast("long").alias("cnt_neg"),
        )
        doc_counts = batch.agg(
            # coalesce: an empty micro-batch sums to NULL
            F.coalesce(F.sum(F.when(F.col(positive_col), 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias("cnt_pos"),
            F.coalesce(F.sum(F.when(F.col(positive_col), 0).otherwise(1)), F.lit(0))
            .cast("long")
            .alias("cnt_neg"),
        )
        return term_counts, doc_counts

    def write_batch_bucketed(batch: DataFrame, batch_id: int) -> None:
        if gens.compaction_due(compact_every, batch_id):
            gens.compact_index_generations(
                batch.sparkSession, terms_path, batch_id, partition_by="tb"
            )
            gens.compact_index_generations(batch.sparkSession, docs_path, batch_id)
        term_counts, doc_counts = _batch_counts(batch)
        gens.write_gen(
            _bucketed_delta(term_counts, batch_id, F.col("term"), n_buckets),
            terms_path,
            batch_id,
            partition_by="tb",
        )
        gens.write_gen(
            doc_counts.withColumn("src_batch", F.lit(batch_id).cast("long")),
            docs_path,
            batch_id,
        )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        term_counts, doc_counts = _batch_counts(batch)
        cur = term_counts.select(
            F.lit("term").alias("kind"), "term", "cnt_pos", "cnt_neg"
        ).unionByName(
            doc_counts.select(
                F.lit("docs").alias("kind"),
                F.lit(None).cast("string").alias("term"),
                "cnt_pos",
                "cnt_neg",
            )
        )
        prior = gens.read_latest(batch.sparkSession, model_path, before=batch_id)
        merged = cur if prior is None else (
            prior.unionByName(cur)
            .groupBy("kind", "term")
            .agg(
                F.sum("cnt_pos").cast("long").alias("cnt_pos"),
                F.sum("cnt_neg").cast("long").alias("cnt_neg"),
            )
        )
        gens.write_snapshot(merged, model_path, batch_id)

    return write_batch_bucketed if n_buckets is not None else write_batch


def read_nb_model(spark, model_path: str, *, alpha: int = 1):
    """Derive the scoring model from the persisted trainer state:
    returns ``(model_df, prior_micros)`` where ``model_df`` has the
    exact :func:`classifier.nb_train` shape/arithmetic
    ``(term, cnt_pos, cnt_neg, llr_micros)`` (same round-once integer
    micro-nat convention, so stream-trained == batch-trained is exact
    equality, not approximate), and ``prior_micros`` is the class prior
    ``round(ln(N_pos / N_neg) * 1e6)`` for
    ``classifier.nb_score(..., prior_micros=...)``.

    Auto-detects the layout: the bucketed delta form (a ``docs/``
    store, which holds a row per trigger) folds every generation with
    an exact sum, while the default form reads the latest cumulative
    snapshot only.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    docs = gens.read_store(spark, posixpath.join(model_path, "docs"))
    if docs is not None:
        terms = spark.read.parquet(posixpath.join(model_path, "terms"))
        counts = gens.fold(terms, ["term"], ["cnt_pos", "cnt_neg"])
        (drow,) = gens.fold(docs, [], ["cnt_pos", "cnt_neg"]).collect()
        return _derive_nb_model(spark, counts, drow, alpha)
    state = gens.read_latest(spark, model_path)
    if state is None:
        raise FileNotFoundError(f"no committed NB model under {model_path}")
    counts = state.filter(F.col("kind") == "term").select("term", "cnt_pos", "cnt_neg")
    docs = state.filter(F.col("kind") == "docs").select("cnt_pos", "cnt_neg").collect()
    (drow,) = docs  # exactly one docs row per snapshot
    return _derive_nb_model(spark, counts, drow, alpha)


def _derive_nb_model(spark, counts: DataFrame, drow, alpha: int):
    """Shared LLR + prior derivation from the summed sufficient
    statistics — the exact expressions of ``classifier.nb_train`` /
    ``nb_score``'s labeled-frame path (Spark HALF_UP rounding, not
    Python banker's), so both state layouts yield bit-equal models."""
    totals = counts.agg(
        F.sum("cnt_pos").alias("__Tp"),
        F.sum("cnt_neg").alias("__Tn"),
        F.count(F.lit(1)).alias("__V"),
    )
    llr = F.round(
        (
            F.log((F.col("cnt_pos") + alpha) / (F.col("__Tp") + alpha * F.col("__V")))
            - F.log((F.col("cnt_neg") + alpha) / (F.col("__Tn") + alpha * F.col("__V")))
        )
        * 1e6
    ).cast("long")
    model = counts.crossJoin(F.broadcast(totals)).select(
        "term", "cnt_pos", "cnt_neg", llr.alias("llr_micros")
    )
    (prow,) = (
        spark.range(1)
        .select(
            F.round(
                F.log(
                    F.lit(int(drow.cnt_pos)).cast("double")
                    / F.lit(int(drow.cnt_neg)).cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("p")
        )
        .collect()
    )
    return model, int(prow.p)


def bigram_lm_writer(
    model_path: str,
    *,
    text_col: str = "text",
    n_buckets: int = 16,
    compact_every: int | None = None,
):
    """Streaming trainer for the Stupid-Backoff bigram LM
    (``operators/text.py::bigram_lm_train``): maintain the model's
    sufficient statistics — unigram token counts and adjacent-pair
    counts — over the stream's lifetime, the "train the KenLM on the
    trusted feed as it arrives" shape of the CCNet recipe.  Both count
    tables are ADDITIVE, so the folded state equals the batch
    statistics of the concatenated stream and the derived model is
    bit-equal to batch training (pinned by test).

    State layout: the delta stores of :func:`nb_model_writer`
    ``(n_buckets=K)`` (:mod:`renkodf_spark.streaming.generations`),
    applied from the start because n-gram vocabularies are the
    high-cardinality case the snapshot layout is wrong for — each
    trigger writes ONLY its own counts, term-hash-bucketed, under
    ``<path>/uni`` (bucket on ``term``) and ``<path>/bi`` (bucket on
    ``w1``, so a context's transitions stay co-located), O(batch
    vocabulary) per trigger regardless of lifetime vocabulary size;
    ``compact_every`` bounds generations at ``compact_every + 1``.

    Derive the scoring model with :func:`read_bigram_lm`.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    def write_batch(batch: DataFrame, batch_id: int) -> None:
        from renkodf_spark.operators.text import bigram_count_tables

        if gens.compaction_due(compact_every, batch_id):
            for sub in ("uni", "bi"):
                gens.compact_index_generations(
                    batch.sparkSession,
                    posixpath.join(model_path, sub),
                    batch_id,
                    partition_by="tb",
                )
        counts, bcounts = bigram_count_tables(batch, text_col=text_col)
        for sub, df, key in (("uni", counts, "term"), ("bi", bcounts, "w1")):
            gens.write_gen(
                _bucketed_delta(df, batch_id, F.col(key), n_buckets),
                posixpath.join(model_path, sub),
                batch_id,
                partition_by="tb",
            )

    return write_batch


def read_bigram_lm(spark, model_path: str, *, alpha: int = 1):
    """Fold every :func:`bigram_lm_writer` generation into the exact
    lifetime count tables and derive the model with the SAME
    expressions as batch training (``text.derive_bigram_model``) —
    returns the ``(unigrams, bigrams, oov_micros)`` tuple
    :func:`text.bigram_logprob` consumes, bit-equal to
    ``bigram_lm_train`` over the concatenated stream."""
    from renkodf_spark.operators.text import derive_bigram_model

    uni = spark.read.parquet(posixpath.join(model_path, "uni"))
    bi = spark.read.parquet(posixpath.join(model_path, "bi"))
    return derive_bigram_model(
        gens.fold(uni, ["term"], ["cnt"]),
        gens.fold(bi, ["w1", "w2"], ["cnt2"]),
        alpha=alpha,
    )


def quantile_sketch_writer(
    sketch_path: str,
    group_cols: list[str] | str,
    value_col: str,
    *,
    k: int = 64,
    n_buckets: int = 16,
    compact_every: int | None = None,
):
    """Streaming maintainer for the log-linear quantile sketch
    (``functions/quantiles.py``): per-trigger partial bucket counts are
    ADDITIVE sufficient statistics, so the folded state equals the
    batch sketch of the concatenated stream bit-for-bit (pinned by
    test) — the same contract as :func:`nb_model_writer` /
    :func:`bigram_lm_writer`.

    State layout: a delta store (:mod:`renkodf_spark.streaming.
    generations`) — each trigger appends ONLY its own (group, e, m, cnt)
    partials, hash-bucketed on the group key so one group's buckets stay
    co-located, O(batch distinct buckets) per trigger regardless of
    stream lifetime; ``compact_every`` bounds generations via the
    shared compactor.
    """
    from renkodf_spark.functions.quantiles import _validate_k, quantile_sketch

    _validate_k(k)
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        if gens.compaction_due(compact_every, batch_id):
            gens.compact_index_generations(
                batch.sparkSession, sketch_path, batch_id, partition_by="tb"
            )
        partial = quantile_sketch(batch, gcols, value_col, k=k)
        key = F.concat_ws("\x1f", *gcols)
        gens.write_gen(
            _bucketed_delta(partial, batch_id, key, n_buckets),
            sketch_path,
            batch_id,
            partition_by="tb",
        )

    return write_batch


def read_quantile_sketch(spark, sketch_path: str, group_cols: list[str] | str) -> DataFrame:
    """Fold every :func:`quantile_sketch_writer` generation into the
    exact lifetime sketch — bit-equal to ``quantile_sketch`` over the
    concatenated stream; feed it to ``sketch_quantiles`` /
    ``merge_sketches`` unchanged."""
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    return gens.fold(spark.read.parquet(sketch_path), [*gcols, "e", "m"], ["cnt"])
