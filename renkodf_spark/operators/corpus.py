"""Corpus-curation operators: the *apply* half of a training-data
pipeline. The dedup/text modules discover structure (near-dup pairs,
cluster labels, language, quality); these operators act on it — filter
the corpus to canonical docs, chunk long documents for a context
window, scrub PII spans, carve deterministic train/validation/test
splits, and draw per-group quota samples.

Everything here is JVM-side column expressions (split / slice /
sequence / regexp / md5 / window) — no Python in the row path — and
every transform is deterministic so the DuckDB oracle can replay it
bit-for-bit.

Scale notes (100 TB posture) are per-function; the common theme is
that chunking / redaction / splitting are narrow (zero-shuffle,
embarrassingly parallel over input partitions), while dedup-filter and
quota sampling each pay exactly one keyed shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from renkodf_spark.operators.topk import top_k
from renkodf_spark.plans.persist import persist_block

# --------------------------------------------------------------- dedup apply


def dedup_filter(
    docs: DataFrame,
    labels: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one canonical document per near-dup cluster.

    ``labels`` is the output of :func:`renkodf_spark.operators.dedup.
    cluster_labels` — one ``(id, cluster_id)`` row per document, where
    ``cluster_id`` is the minimum reachable doc id. The canonical doc
    is the one whose id *is* the cluster id; everything else in the
    cluster is a near-duplicate and is dropped. The returned frame is
    the surviving corpus plus ``cluster_size`` (how many docs the
    keeper represents — useful for loss re-weighting duplicates-aware
    training).

    Scale: ``labels`` is two integer columns per doc — tiny next to
    the corpus text. The plan is one aggregation on ``cluster_id``
    (counts) plus one join on the id key; both shuffle only the narrow
    label relation, never the document payload, until the final join
    that filters the corpus (AQE picks shuffle-hash / broadcast for
    the label side when it fits).
    """
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    keepers = (
        labels.filter(F.col("id") == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select(F.col("id").alias(id_col), "cluster_size")
    )
    return docs.join(keepers, id_col)


# ----------------------------------------------------------------- chunking


def chunk_documents(
    df: DataFrame,
    *,
    chunk_size: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    standard pre-tokenization step for fixed-context training.

    Tokens are whitespace-split; chunk ``k`` covers tokens
    ``[k*stride, k*stride + chunk_size)`` and the last chunk may be
    short (it is still emitted; a doc shorter than ``chunk_size``
    yields exactly one chunk). ``stride < chunk_size`` gives
    overlapping context, ``stride == chunk_size`` a disjoint split.

    Returns ``(id, chunk_id, n_tokens, chunk_text)``.

    Scale: pure narrow ops (split → sequence → posexplode → slice →
    array_join); no shuffle, no Python. Output rows are bounded by
    ``ceil(n_tokens / stride)`` per doc, so the explosion factor is
    explicit and small; partition sizes grow by that same bounded
    factor (tune ``spark.sql.files.maxPartitionBytes`` down if chunks
    feed a wide downstream pipeline).
    """
    if chunk_size <= 0 or stride <= 0:
        raise ValueError(f"chunk_size and stride must be positive, got {chunk_size}/{stride}")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # split('') yields [''] so size >= 1 always: sequence(0, n-1, stride)
    # is well-formed and every doc emits at least one chunk
    starts = F.sequence(F.lit(0), F.size("__t") - 1, F.lit(stride))
    chunk = F.slice(F.col("__t"), F.col("__start") + 1, chunk_size)
    return (
        df.select(F.col(id_col), toks.alias("__t"))
        .select(
            id_col,
            "__t",
            F.posexplode(starts).alias("chunk_id", "__start"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size(chunk).alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


# -------------------------------------------------------------- PII redaction

# Patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB): no backreferences, no lookaround. Order matters: emails are
# redacted before phones so the digits inside a local-part can't be
# re-matched as a phone number.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b",
}


def redact_pii(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scrub email / IPv4 / phone-shaped spans, replacing each with a
    ``<KIND>`` placeholder, and count the matches per kind.

    Returns ``(id, n_email, n_ipv4, n_phone, clean_digest)`` where
    ``clean_digest`` is the md5 of the redacted text (the gate compares
    digests; a pipeline would carry the redacted text itself — pass the
    result of :func:`redacted_text` for that).

    Scale: regexp built-ins over one pass each — narrow, zero-shuffle,
    whole-stage-codegen'd. Pattern syntax is pinned to the
    Java-regex ∩ RE2 subset so the oracle replays identically.
    """
    # counts run SEQUENTIALLY on the progressively-redacted text, so
    # n_{kind} is the number of spans the redaction pass actually
    # replaced for that kind: a phone number inside an email local-part
    # is counted as email (and redacted as email), never double-counted
    # as a phone the output no longer contains
    counts = []
    cur = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        counts.append(F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, f"<{kind.upper()}>")
    return df.select(
        F.col(id_col),
        *counts,
        F.md5(cur).alias("clean_digest"),
    )


def redacted_text(text_col: str = "text"):
    """Column expression: ``text_col`` with every PII span replaced by
    its ``<KIND>`` placeholder, in the declared pattern order."""
    out = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


# ------------------------------------------------------------ split & sample


def hash_split(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    buckets: int = 100,
    cuts: dict[str, int] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/validation/test assignment by content-free
    id hash: ``bucket = md5(salt || id) mod buckets``, split = the
    first entry of ``cuts`` whose upper bound exceeds the bucket.

    Default cuts: train < 90, valid < 95, test < 100. The assignment
    is a pure function of ``(salt, id)`` — stable across runs, cluster
    sizes, and partitionings, which is the property that matters for
    reproducible holdout sets (Spark's ``randomSplit`` is
    partition-layout-dependent and resamples on lineage replay).

    Scale: narrow (one md5 + arithmetic per row), zero-shuffle.
    """
    if cuts is None:
        cuts = {"train": 90, "valid": 95, "test": 100}
    if max(cuts.values()) != buckets:
        raise ValueError(f"last cut must equal buckets={buckets}, got {cuts}")
    # first 12 hex chars = 48 bits: exact in BIGINT on both engines
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 12), 16, 10)
        .cast("long")
        % buckets
    )
    expr = None
    for name, hi in sorted(cuts.items(), key=lambda kv: kv[1]):
        cond = F.col("bucket") < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("bucket", bucket).withColumn("split", expr)


_H48_LIM = 1 << 48  # first 12 hex chars of md5: uniform in [0, 2^48)


def _sample_key(id_col: str, salt: str):
    return F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))


def quota_admitted(
    df: DataFrame,
    group_col: str,
    *,
    per_group: int = 10,
    id_col: str = "doc_id",
    salt: str = "sample",
    admit_factor: int = 2,
) -> DataFrame:
    """The over-admission pre-filter feeding :func:`quota_sample`'s rank
    window: returns the input rows whose ranked prefix is guaranteed to
    contain each group's true top ``per_group`` — in expectation
    ``admit_factor * per_group`` rows per group, never the whole group
    unless the group is that small (or the astronomically-unlikely
    under-admission fallback fires for it).

    How it stays *exact* while admitting a tiny prefix:

    1. Group sizes ``n`` come from one aggregation over just
       ``(group)`` — column pruning keeps the text out of the scan and
       only (group, partial count) rows shuffle.
    2. A row is admitted iff its 48-bit hash prefix
       ``h48 = int(md5(salt||id)[:12], 16)`` satisfies
       ``h48 <= admit_factor*per_group*2^48 DIV n`` (pure BIGINT
       arithmetic — exact, oracle-replayable). Admission is a *prefix*
       of the rank order: lexicographic order on fixed-width lowercase
       hex equals numeric order of the leading 48 bits first, so every
       non-admitted row sorts after every admitted row. Hence if a
       group admits ``m >= min(per_group, n)`` rows, the admitted set
       provably contains its true top ``min(per_group, n)`` and ranks
       within it equal full-group ranks.
    3. A second tiny aggregation counts admitted rows ``m`` per group;
       any group with ``m < min(per_group, n)`` (binomial left tail at
       mean ``admit_factor * per_group`` — P ~ e^-per_group, i.e.
       never, but "never" is not a correctness proof) is marked unsafe
       and passes through UNFILTERED, restoring plain full-group
       ranking for exactly that group.

    Cost: two pruned narrow scans + tiny per-group aggregates, then the
    one real pass whose window input is ~``admit_factor * per_group``
    rows per group. The hot-group single-reducer funnel is gone: a
    group holding 90% of a 100 TB corpus contributes ~2x quota rows to
    the sort, not half the corpus.

    The ``sizes``/``stats`` joins are NOT hinted ``F.broadcast``: one
    row per distinct group can still be millions of rows when
    ``group_col`` is high-cardinality (domain, URL prefix), and a
    forced broadcast bypasses the size threshold and OOMs the driver.
    AQE sees the true post-aggregation size at runtime and picks
    broadcast-hash when the group dimension is genuinely small, a
    shuffled join otherwise — exactly the right call at each scale.
    """
    if admit_factor < 1:
        raise ValueError(f"admit_factor must be >= 1, got {admit_factor}")
    h48 = F.conv(F.substring(_sample_key(id_col, salt), 1, 12), 16, 10).cast("long")
    # every group join below is NULL-SAFE (<=>): a NULL group is a
    # legitimate window partition (admit_factor=None ranks it), so the
    # pre-filtered path must sample it identically rather than dropping
    # it through a non-matching equi-join
    sizes = (
        df.groupBy(F.col(group_col).alias("__grp"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__thresh",
            F.expr(f"CAST({admit_factor * per_group} AS BIGINT) * CAST({_H48_LIM} AS BIGINT) DIV __n"),
        )
    )
    on_grp = F.col(group_col).eqNullSafe(F.col("__grp"))
    admitted_counts = (
        df.select(group_col, h48.alias("__h48"))
        .join(sizes, on_grp)
        .filter(F.col("__h48") <= F.col("__thresh"))
        .groupBy("__grp")
        .agg(F.count(F.lit(1)).alias("__m"))
    )
    stats = (
        sizes.join(admitted_counts, "__grp", "left")
        .withColumn("__m", F.coalesce("__m", F.lit(0)))
        .withColumn("__safe", F.col("__m") >= F.least(F.lit(per_group), F.col("__n")))
        .select("__grp", "__thresh", "__safe")
    )
    return (
        df.join(stats, on_grp)
        .filter((~F.col("__safe")) | (h48 <= F.col("__thresh")))
        .select(*df.columns)
    )


def rate_sample(
    df: DataFrame,
    rates: float | dict,
    *,
    group_col: str | None = None,
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic fixed-RATE sampling — the zero-shuffle companion
    to :func:`quota_sample` (exact quotas need a rank; a rate is just a
    hash threshold). A row is kept iff its 48-bit hash prefix falls
    below ``rate * 2^48`` (integer threshold, exact cross-engine), so
    the sample is a pure function of ``(salt, id)``: stable across
    runs, layouts, and cluster sizes, and NESTED — the 10% sample is a
    subset of the 20% sample under the same salt, which is what lets a
    pipeline grow a sample without resampling.

    ``rates`` is a single float, or a ``{group_value: rate}`` dict with
    ``group_col`` set (unlisted groups fall back to ``default_rate``) —
    the down-weight-the-hot-language shape.

    Scale: one narrow filter, no shuffle, no aggregation — constant
    work per row regardless of skew.
    """
    h48 = F.conv(F.substring(_sample_key(id_col, salt), 1, 12), 16, 10).cast("long")

    def thresh(rate: float):
        if not (0.0 <= rate <= 1.0):
            raise ValueError(f"rates must be in [0, 1], got {rate}")
        return F.lit(int(round(rate * _H48_LIM)))

    if isinstance(rates, dict):
        if group_col is None:
            raise ValueError("per-group rates require group_col")
        expr = None
        for g, r in sorted(rates.items()):
            cond = F.col(group_col).eqNullSafe(F.lit(g))
            expr = F.when(cond, thresh(r)) if expr is None else expr.when(cond, thresh(r))
        expr = expr.otherwise(thresh(default_rate))
    else:
        expr = thresh(rates)
    return df.filter(h48 < expr)


def quota_sample(
    df: DataFrame,
    group_col: str,
    *,
    per_group: int = 10,
    id_col: str = "doc_id",
    salt: str = "sample",
    admit_factor: int | None = 2,
) -> DataFrame:
    """Deterministic per-group quota sample: within each group, order
    rows by ``md5(salt || id)`` (a content-free pseudo-random but
    replayable shuffle) and keep the first ``per_group``. The standard
    balancing step for over-represented languages / domains.

    Returns the sampled rows plus ``sample_rank`` (1-based position in
    the group's hash order).

    Scale: few huge groups is the exact regime that motivates quota
    sampling, and a naive rank window puts the hottest group's every
    row through one reducer. By default the rank window therefore runs
    on :func:`quota_admitted` — an exact over-admitting hash-prefix
    pre-filter (narrow; ~``admit_factor * per_group`` rows per group
    survive to the sort) with a per-group safety check that degrades
    to full ranking only for a group the filter under-admitted
    (P ~ e^-per_group). ``admit_factor=None`` disables the pre-filter
    and ranks every row (the small-data shape). Results are identical
    either way, bit-for-bit.
    """
    src = (
        df
        if admit_factor is None
        else quota_admitted(
            df,
            group_col,
            per_group=per_group,
            id_col=id_col,
            salt=salt,
            admit_factor=admit_factor,
        )
    )
    key = _sample_key(id_col, salt)
    return top_k(
        src, per_group, key, id_col, by=(group_col,), ascending=True, rank="sample_rank"
    )


def _pack_shard(doc_col: str, salt: str, shards: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col(doc_col).cast("string"))), 1, 12),
            16,
            10,
        ).cast("long")
        % shards
    )


def pack_sequences(
    df: DataFrame,
    *,
    tokens_col: str = "n_tokens",
    doc_col: str = "doc_id",
    seq_col: str = "chunk_id",
    budget: int = 256,
    shards: int = 8,
    salt: str = "pack",
) -> DataFrame:
    """Concat-and-split sample packing: lay chunks end-to-end in a
    deterministic order and cut every ``budget`` tokens — the standard
    fixed-context batch-packing step (each bin becomes one training
    sequence). A chunk is labeled with the bin its first token lands
    in, its token offset inside that bin, and whether it spans a bin
    boundary (``spans_bins`` — the consumer decides to split or pad).

    Packing is sequential by nature, so it runs per *shard*: docs are
    routed to ``shards`` deterministic salted-hash shards (whole docs,
    so chunks stay contiguous), and the cumulative-token window runs
    per shard. That is the scalable shape — thousands of independent
    shard windows at cluster scale instead of one global
    single-partition cumsum — and the assignment is a pure function of
    (salt, doc ids, chunk order), stable across runs and layouts.

    All arithmetic is integer (SUM / DIV / %), so an external SQL
    engine replays it exactly. Returns the input columns plus
    ``(shard, bin_id, bin_offset, spans_bins)``.
    """
    if budget <= 0 or shards <= 0:
        raise ValueError(f"budget and shards must be positive, got {budget}/{shards}")
    shard = _pack_shard(doc_col, salt, shards)
    w = (
        Window.partitionBy("shard")
        .orderBy(doc_col, seq_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.col("__rend") - F.col(tokens_col)
    return (
        df.withColumn("shard", shard)
        .withColumn("__rend", F.sum(tokens_col).over(w))
        .select(
            *df.columns,
            "shard",
            start.cast("long").alias("__start"),
        )
        .select(
            *df.columns,
            "shard",
            F.expr(f"__start DIV {budget}").alias("bin_id"),
            (F.col("__start") % budget).alias("bin_offset"),
            ((F.col("__start") % budget + F.col(tokens_col)) > budget).alias("spans_bins"),
        )
    )


def assemble_bins(
    packed: DataFrame,
    *,
    budget: int = 256,
    text_col: str = "chunk_text",
    tokens_col: str = "n_tokens",
    pad_token: str | None = None,
) -> DataFrame:
    """Materialize the training sequences that :func:`pack_sequences`
    labeled: one row per ``(shard, bin_id)`` carrying the bin's actual
    packed token text. ``packed`` is pack_sequences output that still
    has the chunk text column.

    Boundary policy: a chunk that straddles a bin boundary is SPLIT at
    the boundary — its leading tokens finish the current bin and the
    remainder opens the next — so every non-terminal bin holds exactly
    ``budget`` tokens (each shard's last bin may be short; pass
    ``pad_token`` to right-pad short bins up to ``budget``).
    ``bin_tokens`` always reports the real (pre-pad) token count.

    Plan: per chunk, a tiny ``sequence(bin_id, last_bin)`` explode (1
    row for non-straddlers, 2+ only when a chunk crosses boundaries)
    slices the chunk's token array into per-bin pieces; one groupBy on
    ``(shard, bin_id)`` then sorts the pieces by their global token
    offset (``array_sort`` on ``struct(offset, piece)`` — collect_list
    order is layout-dependent, the sort key is not) and flattens. The
    shuffle is keyed by (shard, bin) whose payload is bounded by
    ``budget`` tokens per group — uniformly fine-grained by
    construction, no skew, no global ordering anywhere.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    toks = F.split(F.col(text_col), " ")
    start = (F.col("bin_id") * budget + F.col("bin_offset")).cast("long")
    end = start + F.col(tokens_col)
    rows = (
        # a zero-token chunk contributes nothing — and sitting exactly
        # on a bin boundary it would make sequence(bin_id, last_bin)
        # DESCENDING (Spark defaults to step -1), emitting phantom
        # empty bins. chunk_documents never emits one, but any
        # pack_sequences output is accepted here.
        packed.filter(F.col(tokens_col) > 0).select(
            "shard",
            toks.alias("__t"),
            start.alias("__cs"),
            end.alias("__ce"),
            F.explode(F.sequence(F.col("bin_id"), ((end - 1) / budget).cast("long"))).alias(
                "bin_id"
            ),
        )
        .select(
            "shard",
            "bin_id",
            F.greatest(F.col("__cs"), F.col("bin_id") * budget).alias("__ps"),
            F.least(F.col("__ce"), (F.col("bin_id") + 1) * budget).alias("__pe"),
            "__t",
            "__cs",
        )
        .select(
            "shard",
            "bin_id",
            "__ps",
            F.slice(F.col("__t"), F.col("__ps") - F.col("__cs") + 1, F.col("__pe") - F.col("__ps")).alias(
                "__piece"
            ),
        )
    )
    pieces = F.array_sort(F.collect_list(F.struct(F.col("__ps"), F.col("__piece"))))
    bins = (
        rows.groupBy("shard", "bin_id")
        .agg(pieces.alias("__pieces"))
        .select(
            "shard",
            "bin_id",
            F.flatten(F.transform(F.col("__pieces"), lambda p: p["__piece"])).alias("__toks"),
        )
    )
    out_toks = F.col("__toks")
    if pad_token is not None:
        out_toks = F.concat(
            out_toks,
            F.array_repeat(F.lit(pad_token), F.lit(budget) - F.size("__toks")),
        )
    return bins.select(
        "shard",
        "bin_id",
        F.size("__toks").cast("long").alias("bin_tokens"),
        F.array_join(out_toks, " ").alias("bin_text"),
    )


# -------------------------------------------------------- decontamination


def _norm_gram_tokens(text_col: str):
    """Normalized token array for n-gram matching: lowercase, replace
    punctuation with spaces, collapse whitespace. The pattern is in the
    Java-regex ∩ RE2 subset so the DuckDB oracle replays the spans."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", " "), r"\s+", " "
        )
    )
    return F.split(norm, " ")


def _gram_digests_from(toks_col, n: int):
    """Array of md5 digests of the overlapping ``n``-grams of a
    MATERIALIZED token-array column (empty for docs shorter than ``n``
    tokens). The digest keeps join keys at 32 bytes regardless of
    ``n``. Callers must project :func:`_norm_gram_tokens` into a bound
    column first: a lambda that inlines the tokenization expression
    re-evaluates the O(len) regex pipeline once per ELEMENT — measured
    10x slower on the gate corpus."""
    idx = F.when(
        F.size(toks_col) >= n, F.sequence(F.lit(0), F.size(toks_col) - F.lit(n))
    ).otherwise(F.array().cast("array<int>"))

    # closure (not a 2-arg lambda): F.transform dispatches on arity and
    # a second parameter would become the element index
    def _at(i):
        return F.md5(F.array_join(F.slice(toks_col, i + 1, n), " "))

    return F.transform(idx, _at)


def contamination(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    eval_id_col: str = "eval_id",
) -> DataFrame:
    """Benchmark-contamination report: for every training document that
    shares at least one normalized ``n``-gram with the evaluation set,
    the number of distinct overlapping n-grams and the number of
    distinct eval documents hit (the GPT-3 appendix-C / PaLM-style
    13-gram decontamination check, with ``n`` as the dial).

    Normalization (lowercase, punctuation → space, collapsed
    whitespace) applies to BOTH sides, so cosmetic edits don't hide an
    overlap. Returns ``(id_col, n_hit_grams, n_eval_docs)`` — one row
    per contaminated training doc; clean docs don't appear.

    Scale shape: eval/benchmark suites are small by nature (10^2-10^5
    docs), so their distinct ``(gram, eval_id)`` pairs are broadcast;
    the training corpus explodes to (doc, gram) digests and the
    broadcast hash join filters it WITHOUT a shuffle — only the
    surviving hit rows (tiny in a clean corpus) pay the per-doc
    aggregation shuffle. The corpus text itself is never shuffled, and
    the corpus is scanned exactly once.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    # r15 (guide §2.4): per-doc gram de-dup is DOC-LOCAL on both sides
    # — array_distinct before the explode replaces the eval side's
    # global .distinct() (equivalent: the doc id is in the key), so
    # neither gram relation pays an aggregate exchange, and the train
    # side ships each (doc, gram) into the join once instead of once
    # per occurrence (fewer rows into the per-doc hit aggregation; the
    # countDistinct outputs are unchanged by de-duplication)
    eval_grams = (
        eval_df.select(
            F.col(eval_id_col).alias("__eval_id"),
            _norm_gram_tokens(eval_text_col).alias("__t"),
        )
        .select(
            "__eval_id",
            F.explode(F.array_distinct(_gram_digests_from(F.col("__t"), n))).alias(
                "__gram"
            ),
        )
    )
    train_grams = train.select(
        F.col(id_col), _norm_gram_tokens(text_col).alias("__t")
    ).select(
        id_col,
        F.explode(F.array_distinct(_gram_digests_from(F.col("__t"), n))).alias(
            "__gram"
        ),
    )
    hits = train_grams.join(F.broadcast(eval_grams), "__gram")
    return hits.groupBy(id_col).agg(
        F.countDistinct("__gram").alias("n_hit_grams"),
        F.countDistinct("__eval_id").alias("n_eval_docs"),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    n: int = 8,
    min_hit_grams: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    eval_id_col: str = "eval_id",
    broadcast_report: bool = False,
    persist_report: bool = False,
) -> DataFrame:
    """Drop training documents contaminated by the evaluation set: any
    doc with at least ``min_hit_grams`` distinct overlapping normalized
    ``n``-grams (see :func:`contamination`) is removed; all original
    columns survive on the kept rows.

    Plan: the contamination report (narrow: id + two counts) drives a
    LEFT ANTI join against the corpus — AQE broadcasts it when small,
    so the common case adds zero shuffles beyond the report itself.
    ``broadcast_report=True`` forces the broadcast — inside a long
    composed DAG AQE has no stats to see it is small, and the flagged
    set is bounded by the eval set's gram reach, not the corpus, so
    the hint is scale-safe (keeps the text side out of any exchange).
    ``persist_report=True`` additionally truncates the flagged-id
    relation's lineage (lazy localCheckpoint — optimization guide
    §3.3): inside a long composed DAG the report's upstream (the whole
    corpus chain) would otherwise be re-stamped into every consumer of
    the decontaminated relation, inflating the plan exponentially with
    pipeline depth. Results are identical; the persisted relation is
    the narrow id set, never the text.
    """
    flagged = contamination(
        train,
        eval_df,
        n=n,
        text_col=text_col,
        id_col=id_col,
        eval_text_col=eval_text_col,
        eval_id_col=eval_id_col,
    ).filter(F.col("n_hit_grams") >= min_hit_grams)
    ids = flagged.select(id_col)
    if persist_report:
        ids = persist_block(ids)
    if broadcast_report:
        ids = F.broadcast(ids)
    return train.join(ids, id_col, "left_anti")


# ------------------------------------------------- temperature resampling


def temperature_rates(
    df: DataFrame,
    *,
    group_col: str = "lang",
    alpha: float = 0.5,
    target_total: int = 1000,
) -> DataFrame:
    """Per-group sampling rates for temperature-based rebalancing (the
    XLM-R / UniMax multilingual recipe): group ``g`` with ``n_g`` rows
    gets probability mass ``p_g ∝ n_g^alpha`` — ``alpha = 1`` keeps
    natural proportions, ``alpha → 0`` flattens toward uniform — and a
    keep-rate ``min(1, target_total * p_g / n_g)``. Returns
    ``(group_col, n_rows, rate)``.

    Cross-engine exactness: the only order-sensitive float step would
    be summing the weights, so ``n_g^alpha`` is rounded ONCE to integer
    micro-units and the normalizer is an exact long sum (micro-nat
    convention, see text.unigram_logprob); every remaining op divides /
    multiplies identical doubles. Null groups form their own group.

    Scale: one count aggregation (map-side combinable, group-key
    cardinality) + a broadcast single-row normalizer. Nothing else.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if target_total <= 0:
        raise ValueError(f"target_total must be positive, got {target_total}")
    g = F.coalesce(F.col(group_col).cast("string"), F.lit("\x00null"))
    counts = df.groupBy(g.alias("__g")).agg(F.count(F.lit(1)).alias("n_rows"))
    w = F.round(F.pow(F.col("n_rows").cast("double"), F.lit(float(alpha))) * 1e6).cast(
        "long"
    )
    weights = counts.select("__g", "n_rows", w.alias("__w"))
    # tot shares weights' lineage — alias both sides so the cross join
    # resolves unambiguously
    tot = weights.agg(F.sum("__w").alias("__W")).alias("t")
    return (
        weights.alias("w")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("w.__g").alias(group_col),
            F.col("w.n_rows").alias("n_rows"),
            F.least(
                F.lit(1.0),
                F.lit(float(target_total))
                * F.col("w.__w")
                / F.col("t.__W")
                / F.col("w.n_rows"),
            ).alias("rate"),
        )
    )


def temperature_sample(
    df: DataFrame,
    *,
    group_col: str = "lang",
    alpha: float = 0.5,
    target_total: int = 1000,
    id_col: str = "doc_id",
    salt: str = "sample",
    broadcast_rates: bool = False,
    persist_rates: bool = False,
) -> DataFrame:
    """Apply :func:`temperature_rates` with the deterministic hash
    threshold of :func:`rate_sample`: a row is kept iff its 48-bit
    hash prefix falls under ``round(rate_g * 2^48)``. Same guarantees —
    stable across runs/layouts/cluster sizes, nested in
    ``target_total`` under a fixed salt (a larger target keeps a
    superset), and the expected kept count per group is
    ``min(n_g, target_total * p_g)``.

    Scale: the rates relation is one row per group — AQE broadcasts
    the join (unhinted, per the quota_admitted precedent: a
    high-cardinality group column must be allowed to shuffle) — and
    the filter is the same narrow integer compare as rate_sample.
    ``broadcast_rates=True`` forces the broadcast for composed DAGs
    where AQE has no stats (temperature over LANGUAGE-cardinality
    groups is always broadcast-safe; leave False for group columns
    whose cardinality could rival the row count).
    """
    rates = temperature_rates(
        df, group_col=group_col, alpha=alpha, target_total=target_total
    )
    thresh = F.round(F.col("rate") * _H48_LIM).cast("long")
    g = F.coalesce(F.col(group_col).cast("string"), F.lit("\x00null"))
    h48 = F.conv(F.substring(_sample_key(id_col, salt), 1, 12), 16, 10).cast("long")
    keyed = df.withColumn("__g", g)
    rel = rates.select(F.col(group_col).alias("__g"), thresh.alias("__t"))
    if persist_rates:
        # one row per group; lineage truncation for composed DAGs
        # (guide §3.3) — the rates' upstream corpus chain is not
        # re-stamped into the probe side's plan. Identical rows.
        rel = persist_block(rel)
    if broadcast_rates:
        rel = F.broadcast(rel)
    return (
        keyed.join(rel, "__g")
        .filter(h48 < F.col("__t"))
        .select(*df.columns)
    )


def line_doc_frequencies(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus line frequencies: documents split on newlines, each
    line normalized (lowercase + trim) and keyed by its md5, counted by
    the number of DISTINCT documents containing it. Returns
    ``(line_key, n_docs)`` — the relation a C4-style boilerplate pass
    joins against.

    Scale shape: explode → per-(line_key, doc) dedup → one
    map-side-combinable count keyed by line_key. The key cardinality
    grows with the corpus's distinct-line count, never its payload; the
    full text never shuffles (only 32-char digests do).
    """
    lines = F.split(F.col(text_col), r"\n")
    # r15 (guide §2.4): the per-(doc, line) de-dup is DOC-LOCAL —
    # array_distinct over the row's own normalized line keys replaces
    # the global .distinct() (the doc id was in the distinct key), so
    # the only exchange left is the line_key count itself
    return (
        df.select(
            F.explode(
                F.array_distinct(
                    F.transform(lines, lambda l: F.md5(F.lower(F.trim(l))))
                )
            ).alias("line_key")
        )
        .groupBy("line_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def remove_boilerplate_lines(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int = 2,
    broadcast_positions: bool = True,
) -> DataFrame:
    """C4-style cross-document boilerplate removal (Raffel et al. 2020
    §2.2's "three-sentence" rule applied per line): any line whose
    normalized form appears in more than ``max_docs`` distinct
    documents is dropped from every document, and the survivors are
    reassembled in original order. Returns ``(id_col, n_lines_kept,
    n_lines_removed, clean_text)`` — a document whose every line is
    boilerplate survives with ``clean_text = ''``.

    Scale shape: ZERO text shuffle. The exploded lines project to
    32-char digests BEFORE any exchange (the line text is dropped in
    the same narrow stage that computes it), the frequency aggregation
    and the boilerplate-key filter run over digests only, and the
    per-doc DROP positions are a bounded integer relation (one row per
    document that contains at least one boilerplate line). That
    positions relation joins back to the INTACT document (broadcast by
    default, so the document text never enters an exchange) and the
    clean text is rebuilt IN-ROW: the sorted drop positions split the
    line array into kept segments (``zip_with``/``slice``/``flatten``,
    O(lines + drops) per row — no collect_list, no per-line membership
    probe). Set ``broadcast_positions=False`` when boilerplate hits
    too many documents to broadcast the positions (the join then
    shuffles both sides by id — the one case where the text moves,
    once, keyed by doc).
    """
    lines = F.split(F.col(text_col), r"\n")
    keyed = df.select(
        F.col(id_col).alias("id"), F.posexplode(lines).alias("pos", "line")
    ).select("id", "pos", F.md5(F.lower(F.trim(F.col("line")))).alias("line_key"))
    bad = (
        keyed.select("id", "line_key")
        .distinct()
        .groupBy("line_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_docs)
        .select("line_key")
    )
    drop_pos = (
        keyed.join(F.broadcast(bad), "line_key")
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("pos")).alias("__drops"))
    )
    if broadcast_positions:
        drop_pos = F.broadcast(drop_pos)
    toked = df.select(F.col(id_col).alias("id"), lines.alias("__ls"))
    drops = F.coalesce(F.col("__drops"), F.array().cast("array<int>"))
    # sorted distinct drop positions cut the line array into kept
    # segments: boundaries (-1, d0), (d0, d1), ..., (dk, len) — each
    # segment is slice(ls, a+2, b-a-1), concatenated back in order
    kept_lines = F.flatten(
        F.zip_with(
            F.concat(F.array(F.lit(-1)), drops),
            F.concat(drops, F.array(F.size("__ls"))),
            lambda a, b: F.slice(F.col("__ls"), a + F.lit(2), b - a - F.lit(1)),
        )
    )
    return toked.join(drop_pos, "id", "left").select(
        F.col("id").alias(id_col),
        (F.size("__ls") - F.size(drops)).cast("long").alias("n_lines_kept"),
        F.size(drops).cast("long").alias("n_lines_removed"),
        F.array_join(kept_lines, "\n").alias("clean_text"),
    )


# ------------------------------------------------- DSIR importance weights


def _hashed_bucket_grams(toks_col, n_buckets: int):
    """Array of hashed n-gram feature buckets (unigrams + bigrams, with
    multiplicity) over a MATERIALIZED token-array column: bucket = the
    first 8 hex chars of the gram's md5 digest mod ``n_buckets`` — a
    positive 32-bit integer in any engine.

    Takes a bound column (not the raw text) on purpose: a lambda that
    inlines the tokenization expression re-evaluates the O(len) regex
    pipeline once per ELEMENT (measured 10x on the gate corpus);
    tokenizing once per row in the projection below keeps the
    per-gram work at one md5. Bigrams index with ``element_at``
    (O(1)) instead of slice+join, and the index sequence is guarded:
    ``sequence(1, size-1)`` DESCENDS for single-token docs."""
    to_bucket = lambda d: F.pmod(  # noqa: E731
        F.conv(F.substring(d, 1, 8), 16, 10).cast("long"), F.lit(n_buckets)
    )
    uni = F.transform(toks_col, lambda x: to_bucket(F.md5(x)))
    bi = F.when(
        F.size(toks_col) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks_col) - 1),
            lambda i: to_bucket(
                F.md5(
                    F.concat_ws(
                        " ", F.element_at(toks_col, i), F.element_at(toks_col, i + 1)
                    )
                )
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return F.concat(uni, bi)


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_text_col: str = "text",
    n_buckets: int = 16384,
    alpha: int = 1,
) -> DataFrame:
    """DSIR (Xie et al. 2023) importance weights: score every raw
    document by how target-like its hashed n-gram bag is —
    ``log w(x) = Σ_g [log p_target(b(g)) - log p_raw(b(g))]`` with
    unigram+bigram features hashed into ``n_buckets`` buckets and
    add-``alpha`` smoothed bucket unigram models fit on the target and
    raw corpora. High weight = looks like the target distribution;
    selecting top-weight (or importance-resampling by weight) docs is
    the standard "make 100 TB of crawl look like Wikipedia" move.

    Cross-engine exactness: the per-BUCKET log-ratio is rounded once to
    integer micro-nats (the same integer-log convention as
    ``text.unigram_logprob``), so every per-doc sum is exact long
    arithmetic in any association. Docs with no grams get weight 0.

    Output: ``(id_col, n_grams, weight_micros, avg_weight)``.

    Scale shape: two bucket-count aggregations (one per corpus, keyed
    on ≤ ``n_buckets`` values — map-side combinable, the text payload
    never shuffles), two scalar totals broadcast as one row each, and
    the scoring join is doc-gram rows against the ≤ ``n_buckets``-row
    model — broadcastable — followed by the per-doc fold keyed on the
    id the rows already carry. The raw corpus is scanned twice (model
    fit + scoring); persist the ≤ n_buckets-row model to make re-scores
    one scan.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    doc_grams = raw.select(
        F.col(id_col).alias("id"), _norm_gram_tokens(text_col).alias("__t")
    ).select("id", F.explode(_hashed_bucket_grams(F.col("__t"), n_buckets)).alias("bucket"))
    # r14 (guide §3.3): both bucket-count relations are bounded by
    # n_buckets and each feeds two consumers (its scalar total and the
    # model join) — truncate so each corpus gram pass is planned and
    # executed once for the model fit. The documented two-scan contract
    # (model fit + scoring) is unchanged; rows identical.
    raw_counts = persist_block(
        doc_grams.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    )
    tgt_counts = persist_block(
        target.select(_norm_gram_tokens(target_text_col).alias("__t"))
        .select(F.explode(_hashed_bucket_grams(F.col("__t"), n_buckets)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    raw_tot = raw_counts.agg(F.sum("cr").alias("__Tr"))
    tgt_tot = tgt_counts.agg(F.sum("ct").alias("__Tt"))
    b = F.lit(alpha * n_buckets)
    lr_micros = F.round(
        (
            F.log((F.coalesce(F.col("ct"), F.lit(0)) + alpha) / (F.col("__Tt") + b))
            - F.log((F.col("cr") + alpha) / (F.col("__Tr") + b))
        )
        * 1e6
    ).cast("long")
    model = persist_block(
        raw_counts.join(tgt_counts, "bucket", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select("bucket", lr_micros.alias("__lr"))
    )
    scored = (
        doc_grams.join(F.broadcast(model), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("__lr").cast("long").alias("weight_micros"),
        )
    )
    return (
        raw.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("weight_micros", F.lit(0).cast("long")).alias("weight_micros"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0)
            )
            .otherwise(F.round(F.col("weight_micros") / (F.col("n_grams") * F.lit(1e6)), 6))
            .alias("avg_weight"),
        )
    )


def dsir_top_sample(
    raw: DataFrame,
    target: DataFrame,
    keep: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_text_col: str = "text",
    n_buckets: int = 16384,
    alpha: int = 1,
) -> DataFrame:
    """DSIR selection: the ``keep`` highest-importance-weight documents
    (ties toward the smallest id). ``orderBy().limit()`` compiles to
    TakeOrdered — per-partition top-``keep`` heaps merged on the
    driver, no global sort — so selection adds nothing to the
    :func:`dsir_weights` cost. Returns the weight columns so the
    selection is auditable."""
    if keep <= 0:
        raise ValueError(f"keep must be positive, got {keep}")
    w = dsir_weights(
        raw,
        target,
        text_col=text_col,
        id_col=id_col,
        target_text_col=target_text_col,
        n_buckets=n_buckets,
        alpha=alpha,
    )
    return w.orderBy(F.col("weight_micros").desc(), F.col(id_col)).limit(keep)


# ------------------------------------------------- per-source curation stats


def source_quality_report(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source (domain / crawl / feed) curation dashboard: document
    count, distinct languages, mean and exact median document length,
    and the exact-duplicate rate (fraction of the source's docs whose
    normalized text digest appears more than once ANYWHERE in the
    corpus — a source full of mirrors scores high even when the
    originals live elsewhere). This is the table a curation pipeline
    ranks to decide which domains to down-weight or drop.

    Output: ``(source, n_docs, n_langs, avg_chars, p50_chars,
    dup_frac)``.

    Scale shape: one digest-count aggregation (map-side combinable,
    32-byte keys) joined back broadcast-eligible only when the dup set
    is small — the general path is an equi-join on the digest the rows
    already carry — then one aggregation keyed on the (low-cardinality)
    source. The text payload itself never shuffles; only digests and
    lengths do. The exact median is a per-source ``percentile`` — at
    extreme per-source cardinality swap for ``approx_percentile``.
    """
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("lang"),
        F.length(F.col(text_col)).cast("long").alias("__len"),
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("__digest"),
    )
    dup_counts = keyed.groupBy("__digest").agg(F.count(F.lit(1)).alias("__n"))
    return (
        keyed.join(dup_counts, "__digest")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.round(F.avg("__len"), 4).alias("avg_chars"),
            F.round(F.percentile("__len", F.lit(0.5)), 4).alias("p50_chars"),
            F.round(F.sum((F.col("__n") > 1).cast("int")) / F.count(F.lit(1)), 6).alias(
                "dup_frac"
            ),
        )
    )


# ------------------------------------------------- exact-k uniform sample


def uniform_sample_exact(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    salt: str = "uniform",
) -> DataFrame:
    """Exactly-``k`` deterministic uniform sample without replacement:
    rank every row by the salted content-independent hash
    ``md5(salt:id)`` (ties impossible — ids are distinct — but the id
    is appended as a total tie-break anyway) and keep the ``k``
    smallest. Unlike ``df.sample(fraction)`` this returns an exact
    count, is independent of partitioning/layout, and is reproducible
    across engines and runs — change ``salt`` for a fresh draw.

    Scale shape: ``orderBy().limit()`` compiles to TakeOrdered —
    per-partition ``k``-heaps merged on the driver, no global sort —
    so cost is one scan plus O(partitions x k) merge.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    key = _sample_key(id_col, salt)
    return df.orderBy(key, F.col(id_col)).limit(k)


# ------------------------------------------------- corpus shard export


def write_corpus_shards(
    df: DataFrame,
    path: str,
    *,
    split_col: str = "split",
    group_col: str | None = "lang",
    shards_per_group: int = 4,
    id_col: str = "doc_id",
    mode: str = "overwrite",
    salt: str = "shard",
) -> None:
    """Terminal export of a curated corpus: directory-partitioned
    parquet (``split=<v>/<group>=<v>/shard=<k>/``) with exactly
    ``shards_per_group`` similarly-sized shards per leaf, assigned by
    the salted content-free id hash — shard membership is a pure
    function of ``(salt, id)``, stable across runs, cluster sizes, and
    input layouts. Data loaders stripe readers over the deterministic
    shard directories, and partition pruning serves "give me train/en"
    (or one shard of it) without touching other leaves.

    Scale shape: one shuffle keyed by (split, group, shard), so every
    shard is produced by exactly one task and lands as exactly one
    file — file count and size are deliberate instead of inheriting
    the upstream partitioning (the classic small-files failure of a
    naive partitioned write). With very hot groups raise
    ``shards_per_group`` — it is the per-leaf parallelism dial.
    """
    if shards_per_group <= 0:
        raise ValueError(f"shards_per_group must be positive, got {shards_per_group}")
    shard = F.pmod(
        F.conv(F.substring(_sample_key(id_col, salt), 1, 8), 16, 10).cast("long"),
        F.lit(shards_per_group),
    ).cast("int")
    partition_cols = [split_col] + ([group_col] if group_col else []) + ["shard"]
    (
        df.withColumn("shard", shard)
        .repartition(*[F.col(c) for c in partition_cols])
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def corpus_manifest(
    spark,
    path: str,
    *,
    split_col: str = "split",
    group_col: str | None = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Manifest over an exported corpus: one row per (split, group)
    leaf with document and whitespace-token counts — the table a
    training job reads to plan its data mixture. Pure aggregation over
    the partitioned layout; partition pruning applies to any filtered
    read."""
    cols = [split_col] + ([group_col] if group_col else [])
    return (
        spark.read.parquet(path)
        .groupBy(*cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
            .cast("long")
            .alias("n_tokens"),
        )
    )


def token_budget_admitted(
    df: DataFrame,
    group_col: str,
    *,
    budget: int,
    tokens_col: str,
    id_col: str = "doc_id",
    salt: str = "sample",
    admit_factor: int = 2,
) -> DataFrame:
    """The over-admission pre-filter feeding
    :func:`token_budget_sample`'s cumulative window — the token-weighted
    analogue of :func:`quota_admitted`: returns rows whose hash-rank
    prefix provably contains the group's true budget-filling selection,
    in expectation carrying ``admit_factor * budget`` TOKENS per group
    instead of the whole group.

    Exactness argument: admission is a PREFIX of the per-group hash
    rank order (lexicographic fixed-width hex == numeric leading-48-bit
    order), so the cumulative token sum over admitted rows equals the
    full-group cumulative sum on those rows.  The selection is "rows
    whose preceding cumulative sum is < budget"; if the admitted
    prefix's total token mass reaches ``budget`` (or the whole group
    was admitted), every selected row lies inside the prefix — any row
    beyond it has a preceding sum >= the prefix total >= budget.  A
    per-group safety aggregation checks exactly that and routes any
    under-admitted group (binomial tail; in expectation the prefix
    carries ``admit_factor``× the needed mass) through UNFILTERED.

    The threshold is ``admit_factor * budget * 2^48 DIV group_tokens``
    computed in DECIMAL(38,0) (a BIGINT product overflows for budgets
    over ~32k tokens), clamped to full admission.  Group joins are
    NULL-safe and unhinted (the quota_admitted AQE rationale).
    """
    if admit_factor < 1:
        raise ValueError(f"admit_factor must be >= 1, got {admit_factor}")
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    h48 = F.conv(F.substring(_sample_key(id_col, salt), 1, 12), 16, 10).cast("long")
    totals = (
        df.groupBy(F.col(group_col).alias("__grp"))
        .agg(
            F.sum(F.col(tokens_col)).cast("long").alias("__T"),
            F.count(F.lit(1)).alias("__n"),
        )
        .withColumn(
            "__thresh",
            F.expr(
                f"CAST(LEAST(FLOOR(CAST({admit_factor} AS DECIMAL(38,0)) * {budget} "
                f"* {_H48_LIM} / __T), CAST({_H48_LIM} AS DECIMAL(38,0))) AS BIGINT)"
            ),
        )
    )
    on_grp = F.col(group_col).eqNullSafe(F.col("__grp"))
    admitted_stats = (
        df.select(group_col, F.col(tokens_col).alias("__tok"), h48.alias("__h48"))
        .join(totals, on_grp)
        .filter(F.col("__h48") <= F.col("__thresh"))
        .groupBy("__grp")
        .agg(
            F.count(F.lit(1)).alias("__m"),
            F.sum("__tok").cast("long").alias("__s"),
        )
    )
    stats = (
        totals.join(admitted_stats, "__grp", "left")
        .withColumn("__m", F.coalesce("__m", F.lit(0)))
        .withColumn("__s", F.coalesce("__s", F.lit(0)))
        .withColumn(
            "__safe",
            (F.col("__s") >= F.lit(int(budget))) | (F.col("__m") == F.col("__n")),
        )
        .select("__grp", "__thresh", "__safe")
    )
    return (
        df.join(stats, on_grp)
        .filter((~F.col("__safe")) | (h48 <= F.col("__thresh")))
        .select(*df.columns)
    )


def token_budget_sample(
    df: DataFrame,
    group_col: str,
    *,
    budget: int,
    tokens_col: str,
    id_col: str = "doc_id",
    salt: str = "sample",
    admit_factor: int | None = 2,
) -> DataFrame:
    """Deterministic per-group TOKEN-budget sample: within each group,
    walk rows in ``md5(salt || id)`` hash order and keep rows while the
    cumulative token count BEFORE the row is still under ``budget`` —
    the mixture-planning primitive ("give me ~1B tokens of each
    language, reproducibly"), where :func:`quota_sample` counts
    documents and document lengths vary 1000×.  The first row crossing
    the budget is kept (overshoot < one document; every non-empty group
    yields at least one row).

    Returns the sampled rows plus ``sample_rank`` (position in the
    group's hash order) and ``cum_tokens`` (tokens up to and including
    the row).

    Scale: the naive per-group cumulative window funnels the hottest
    group through one reducer; by default the window input is
    :func:`token_budget_admitted` — an exact hash-prefix pre-filter
    carrying ~``admit_factor * budget`` tokens per group with a
    safety fallback — so a group holding 90% of a 100 TB corpus
    contributes ~2× budget tokens to the sort, not half the corpus.
    ``admit_factor=None`` ranks every row; results are identical
    either way, bit-for-bit.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    key = _sample_key(id_col, salt)
    w = Window.partitionBy(group_col).orderBy(key, F.col(id_col))
    src = (
        df
        if admit_factor is None
        else token_budget_admitted(
            df,
            group_col,
            budget=budget,
            tokens_col=tokens_col,
            id_col=id_col,
            salt=salt,
            admit_factor=admit_factor,
        )
    )
    cum_before = F.coalesce(
        F.sum(tokens_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    return (
        src.withColumn("__cum_before", cum_before)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("__cum_before") < F.lit(int(budget)))
        .withColumn(
            "cum_tokens",
            (F.col("__cum_before") + F.col(tokens_col)).cast("long"),
        )
        .drop("__cum_before")
    )


def weighted_sample(
    df: DataFrame,
    group_col: str | None = None,
    *,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "sample",
    round_digits: int = 6,
    admit_factor: int | None = 4,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (top-k per
    group, or global with ``group_col=None``): the Efraimidis-Spirakis
    exponential-key scheme, with the uniform draw derandomized to the
    salted 48-bit id hash — row ``i`` ranks by ``u_i^(1/w_i)``
    (equivalently ``ln(u_i)/w_i``, the form computed here) and the top
    ``k`` keys win.  Inclusion probability is proportional to weight at
    each of the k draws, the sample is a pure function of ``(salt,
    id, weight)``, and — like every sampler in this module — it is
    layout- and cluster-size-independent.

    Rows with NULL or non-positive weight are excluded (a zero-weight
    row can never win a draw).

    Cross-engine caveat (the tfidf_top_terms convention): ``ln`` is a
    libm call, so the ES key is ROUNDed to ``round_digits`` before
    ranking and ties break on the id — last-ulp differences between
    engines cannot flip the selection.

    Scale (the quota_admitted story, weight-adapted): the rank window
    runs by default on an exact over-admission pre-filter.  ES keys
    are ≤ 0 and ``P(key ≥ θ) = 1 − e^{θ·w}``, so the per-group
    threshold ``θ = −admit_factor·k / Σw`` admits ``Σ(1 − e^{θ w_i})
    ≈ admit_factor·k`` rows in expectation.  Admission compares the
    ROUNDED key against ``round(θ) − 10^{−round_digits}`` — one
    rounding-grid step of margin — so the admitted set is an upper
    level set of the exact ranking order: if a group admits
    ``m ≥ min(k, n)`` rows, its true top ``min(k, n)`` (rounded-key
    desc, id asc) provably lies inside, because every non-admitted
    row's rounded key sits at least one grid step below every admitted
    one.  A per-group safety aggregation routes any under-admitted
    group (possible under extreme weight heavy-tails, where
    ``1 − e^{θw}`` saturates) through UNFILTERED ranking — results are
    bit-identical either way.  ``admit_factor=None`` disables the
    pre-filter.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if admit_factor is not None and admit_factor < 1:
        raise ValueError(f"admit_factor must be >= 1 or None, got {admit_factor}")
    h48 = F.conv(F.substring(_sample_key(id_col, salt), 1, 12), 16, 10).cast("long")
    u = (h48 + F.lit(1)).cast("double") / F.lit(float(_H48_LIM))  # (0, 1]
    w = F.col(weight_col).cast("double")
    es_key = F.round(F.log(u) / w, round_digits)

    keyed = df.filter(w.isNotNull() & (w > 0)).withColumn("__es_key", es_key)
    part = [group_col] if group_col is not None else []

    if admit_factor is not None:
        grp = (
            F.col(group_col).alias("__grp")
            if group_col is not None
            else F.lit(0).alias("__grp")
        )
        on_grp = (
            F.col(group_col).eqNullSafe(F.col("__grp"))
            if group_col is not None
            else F.lit(True)
        )
        eps = 10.0 ** (-round_digits)
        stats = (
            keyed.groupBy(grp)
            .agg(
                F.sum(F.col(weight_col).cast("double")).alias("__W"),
                F.count(F.lit(1)).alias("__n"),
            )
            .withColumn(
                "__thresh",
                F.round(
                    F.lit(-float(admit_factor * k)) / F.col("__W"), round_digits
                )
                - F.lit(eps),
            )
        )
        admitted_counts = (
            keyed.select(*( [group_col] if group_col else [] ), "__es_key")
            .join(stats, on_grp)
            .filter(F.col("__es_key") >= F.col("__thresh"))
            .groupBy("__grp")
            .agg(F.count(F.lit(1)).alias("__m"))
        )
        checks = (
            stats.join(admitted_counts, "__grp", "left")
            .withColumn("__m", F.coalesce("__m", F.lit(0)))
            .withColumn(
                "__safe", F.col("__m") >= F.least(F.lit(k), F.col("__n"))
            )
            .select("__grp", "__thresh", "__safe")
        )
        keyed = (
            keyed.join(checks, on_grp)
            .filter((~F.col("__safe")) | (F.col("__es_key") >= F.col("__thresh")))
            .select(*df.columns, "__es_key")
        )

    return top_k(keyed, k, "__es_key", id_col, by=part, rank="sample_rank").drop(
        "__es_key"
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    *,
    id_col: str = "doc_id",
    shards: int = 64,
    salt: str = "epoch",
) -> DataFrame:
    """Deterministic per-epoch training-order assignment: every row
    gets ``(shard, position)`` under a permutation that is a pure
    function of ``(salt, epoch, id)`` — a different reproducible
    shuffle each epoch, identical across runs, layouts, and cluster
    sizes (unlike ``orderBy(rand(seed))``, whose partition-seeded
    draws move with the layout).

    The permutation key is the 48-bit prefix of ``md5(salt:epoch:id)``;
    ``shard`` is its low bits (uniform), ``position`` the rank within
    the shard.  A training job reads shards independently and streams
    each in position order — the global permutation is the shard
    interleave, and no global sort ever runs: ranking happens per
    shard (``shards`` independent windows), the same
    no-global-cumsum rule as ``pack_sequences``.
    """
    if epoch < 0:
        raise ValueError(f"epoch must be non-negative, got {epoch}")
    if shards <= 0:
        raise ValueError(f"shards must be positive, got {shards}")
    key = F.md5(
        F.concat(F.lit(f"{salt}:{int(epoch)}:"), F.col(id_col).cast("string"))
    )
    h48 = F.conv(F.substring(key, 1, 12), 16, 10).cast("long")
    out = df.withColumn("__h", h48).withColumn(
        "shard", F.pmod(F.col("__h"), F.lit(int(shards))).cast("int")
    )
    w = Window.partitionBy("shard").orderBy(F.col("__h"), F.col(id_col))
    return (
        out.withColumn("position", F.row_number().over(w).cast("long"))
        .drop("__h")
    )
