"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All column expressions are JVM built-ins (regexp / split / aggregate) —
no Python in the row path — and every heuristic is deterministic and
SQL-expressible so the DuckDB oracle can replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renkodf_spark.operators.topk import top_k
from renkodf_spark.plans.persist import persist_block

# tiny marker-word lists per language for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of", "a", "to"),
    "de": ("der", "und", "die", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "que", "y", "en"),
}


def _count_word(text_col, word: str):
    """Occurrences of a whole word (space-delimited) in the text."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.length(F.lit(needle))
    ).cast("long")


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax of marker-word counts, 'und'
    (undetermined) when every score is zero. Ties break by language
    code order."""
    scores = [
        sum([_count_word(text_col, w) for w in words]).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]
    scored = df.select(F.col(id_col), *scores)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in sorted(LANG_MARKERS):
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return scored.select(id_col, *[f"score_{lang}" for lang in LANG_MARKERS], pred.alias("pred_lang"))


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Cheap quality features: char/word counts, mean word length,
    punctuation ratio, stopword ratio, plus a keep/flag bucket."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_words = F.size(toks)
    n_chars = F.length(F.col(text_col))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    stop = sum([_count_word(text_col, w) for w in LANG_MARKERS["en"]])
    # try_divide: empty text has n_chars = 0 (n_words is >= 1 because
    # split('') yields ['']); a bare division would abort under ANSI mode
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_m"),
        n_words.alias("n_words"),
        F.round((n_chars - n_words + 1) / n_words, 4).alias("avg_word_len"),
        F.round(F.try_divide(punct, n_chars), 4).alias("punct_ratio"),
        F.round(stop / n_words, 4).alias("stopword_ratio"),
        F.when(n_words < 5, "too_short")
        .when(F.try_divide(punct, n_chars) > 0.1, "punct_heavy")
        .otherwise("keep")
        .alias("quality_bucket"),
    )


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy count
    (runs of letters, digits, or single punctuation, via regexp)."""
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1))
    return df.select(F.col(id_col), ws.alias("ws_tokens"), bpe.alias("bpe_tokens"))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Normalized content fingerprint: lowercase, strip punctuation,
    collapse whitespace, md5. Near-identical docs that differ only in
    case/punctuation/spacing collide."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))

def winnow_fingerprints(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS algorithm): hash every word ``k``-gram, slide a
    ``window``-wide window over the hash sequence, and select each
    window's minimum hash (RIGHTMOST position on ties — the robust
    variant, which keeps consecutive windows sharing their minimum from
    double-selecting). The selection guarantee: any two documents
    sharing a contiguous run of at least ``window + k - 1`` tokens
    share at least one selected fingerprint — the detection threshold
    is a tunable guarantee, unlike plain every-i-th sampling.

    Output: ``(id_col, pos, fp)`` distinct — ``pos`` the selected
    k-gram's token offset, ``fp`` its 48-bit hash (first 12 md5 hex
    chars as BIGINT, the engine-portable convention of ``hash_split``,
    so a SQL oracle reproduces every selection exactly). Docs with
    fewer than ``window + k - 1`` tokens yield no fingerprints (no
    full window exists — mirrored by the oracle's window predicate).

    Scale shape (r15, optimization guide §2.4/§8): the whole
    selection is DOC-LOCAL — k-gram hashing, the sliding window-min,
    and the per-doc de-dup all run as array higher-order expressions
    over the row's own token array, so the operator is a pure narrow
    map with ZERO exchanges (the r14 formulation exploded the grams
    and shuffled the ``(id, i, h)`` triple relation — one full
    corpus-derived exchange — just to reassemble each doc's grams for
    a window). Rightmost tie-break is encoded as
    ``array_min(struct(h, -i))`` per window — the same lexicographic
    struct ordering the old ``min(...).over(w)`` used, so selections
    are bit-identical; ``array_distinct`` replaces the global
    ``.distinct()`` (equivalent: ``id_col`` is in every output row, so
    distinct never crossed documents).
    """
    if k <= 0 or window <= 0:
        raise ValueError(f"k and window must be positive, got k={k} window={window}")
    return _winnow_selected(df, text_col, id_col, k, window).select(
        F.col(id_col), F.explode(F.array_distinct(F.col("__wins"))).alias("__s")
    ).select(
        id_col,
        (-F.col("__s.ni")).alias("pos"),
        F.col("__s.h").alias("fp"),
    )


def _winnow_selected(
    df: DataFrame, text_col: str, id_col: str, k: int, window: int
) -> DataFrame:
    """``(id_col, __wins)`` where ``__wins`` is the array of the row's
    robust-winnowing selections: one ``struct(h, ni=-pos)`` per full
    window end (duplicates included — callers de-dup to their own
    grain). Pure narrow projections; the shared core of
    :func:`winnow_fingerprints` and :func:`winnow_doc_fps`.

    Each intermediate (token array, gram-hash array) is materialized
    as its OWN projection column before the next step references it:
    expression trees are trees, not DAGs, so referencing the hash
    array directly inside the per-window lambda would inline — and
    re-evaluate — the whole md5 pass per window member (O(n²·w) per
    doc instead of O(n·w); measured as a multi-minute hang at sf0.1).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    gram_at = lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i + 1, k))  # noqa: E731
    idx = F.when(
        F.size("__t") >= k, F.sequence(F.lit(0), F.size("__t") - F.lit(k))
    ).otherwise(F.array().cast("array<int>"))
    hs = F.transform(
        idx,
        lambda i: F.conv(F.substring(F.md5(gram_at(i)), 1, 12), 16, 10).cast(
            "long"
        ),
    )
    # per full window end j (0-based gram index, j >= window-1):
    # min(struct(h, -i)) across the window's members — minimize h,
    # ties to the largest i (rightmost), exactly the robust-winnowing
    # selection the r14 windowed formulation computed
    wins = F.when(
        F.size("__h") >= window,
        F.transform(
            F.sequence(F.lit(window - 1), F.size("__h") - 1),
            lambda j: F.array_min(
                F.transform(
                    F.sequence(j - (window - 1), j),
                    lambda i: F.struct(
                        F.element_at("__h", i + 1).alias("h"), (-i).alias("ni")
                    ),
                )
            ),
        ),
    ).otherwise(F.array().cast("array<struct<h:bigint,ni:int>>"))
    return (
        df.select(F.col(id_col), toks.alias("__t"))
        .select(id_col, hs.alias("__h"))
        .select(id_col, wins.alias("__wins"))
    )


def winnow_doc_fps(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """The DISTINCT ``(id_col, fp)`` relation of
    :func:`winnow_fingerprints` — i.e. which fingerprints each document
    carries, positions dropped — computed entirely DOC-LOCALLY
    (``array_distinct`` over the selections' hashes before the explode,
    equivalent to the global distinct because ``id_col`` is in the
    key). Zero exchanges: the match stage
    (``winnow_candidate_pairs``) starts from this relation, so the
    whole MOSS pipeline's only shuffles are the hot-fp cap and the
    pair aggregation — the corpus-derived gram relation never crosses
    the network (optimization guide §2.3/§2.4)."""
    if k <= 0 or window <= 0:
        raise ValueError(f"k and window must be positive, got k={k} window={window}")
    return _winnow_selected(df, text_col, id_col, k, window).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(F.col("__wins"), lambda s: s["h"])
            )
        ).alias("fp"),
    )


# the eight Gopher rule stopwords (Rae et al. 2021, Table A1) — presence
# of at least `min_stop_hits` distinct ones is the "natural language"
# smell test
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_avg_word_len: float = 3.0,
    max_avg_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style rule-based document filter (Rae et al. 2021,
    Appendix A1): per-doc rule features plus a 0/1 ``gopher_pass``
    verdict under configurable thresholds — word-count bounds, mean
    word length bounds, symbol-to-word ratio (``#`` and ellipses),
    bullet-line and ellipsis-line fractions, alphabetic-word fraction,
    and a minimum number of distinct stopword hits.

    Every threshold comparison runs on the ROUNDed feature the row
    exports, so the verdict is exactly reproducible cross-engine (the
    tfidf/IVF round-then-compare convention).

    Scale shape: a single narrow projection — every feature is a JVM
    column expression over the row's own text (split / filter /
    aggregate / rlike); no shuffle, no UDF, no state. At 100 TB this is
    a pure map stage that pipelines with the scan.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    lines = F.split(F.col(text_col), r"\n")
    n_words = F.size(toks)
    n_lines = F.size(lines)
    word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    hashes = F.length(F.col(text_col)) - F.length(
        F.replace(F.col(text_col), F.lit("#"), F.lit(""))
    )
    # non-overlapping left-to-right '...' occurrences (Java replace and
    # DuckDB replace agree), plus single-char U+2026 ellipses
    ell3 = (
        (
            F.length(F.col(text_col))
            - F.length(F.replace(F.col(text_col), F.lit("..."), F.lit("")))
        )
        / 3
    ).cast("long")
    uell = F.length(F.col(text_col)) - F.length(
        F.replace(F.col(text_col), F.lit("…"), F.lit(""))
    )
    bullet_lines = F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]")))
    ellipsis_lines = F.size(
        F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))
    )
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    stop_hits = sum(
        F.array_contains(toks, w).cast("int") for w in GOPHER_STOPWORDS
    )

    feat = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(F.try_divide(word_chars, n_words), 6).alias("avg_word_len"),
        F.round(F.try_divide(hashes + ell3 + uell, n_words), 6).alias(
            "symbol_word_ratio"
        ),
        F.round(F.try_divide(bullet_lines, n_lines), 6).alias("bullet_line_frac"),
        F.round(F.try_divide(ellipsis_lines, n_lines), 6).alias(
            "ellipsis_line_frac"
        ),
        F.round(F.try_divide(alpha_words, n_words), 6).alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
    )
    passed = (
        F.col("n_words").between(min_words, max_words)
        & F.col("avg_word_len").between(min_avg_word_len, max_avg_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_frac)
        & (F.col("alpha_word_frac") >= min_alpha_frac)
        & (F.col("stopword_hits") >= min_stop_hits)
    )
    return feat.withColumn("gopher_pass", passed.cast("int"))


def repetition_signals(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Intra-document repetition features (the Gopher/RefinedWeb-style
    repetition filters, token-based): per doc and per n in ``ngram_ns``,
    the duplicate-n-gram fraction (1 - distinct/total occurrences) and
    the fraction of the document's characters covered by its single most
    frequent n-gram (``count * len(gram) / len(text)``; ties break to
    the lexicographically smallest gram so the argmax is deterministic
    cross-engine). Output: one row per (doc, n).

    Scale shape: overlapping (non-distinct) shingles explode to
    (doc, n, gram); the occurrence count is a map-side-combinable
    groupBy on that key, then the per-doc reduction is a second
    aggregation keyed by (doc, n). Two shuffles, both on keys whose
    cardinality grows with the corpus — no window over all docs, no
    driver state. Empty/short docs (< n tokens) yield no shingles and
    are re-attached with zero totals via a left join against the
    (narrow) id relation."""
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.col(text_col)), r"\s+")

    # closure factory, NOT `lambda i, n=n: ...`: F.transform dispatches
    # on lambda arity, and a 2-parameter lambda is an (element, index)
    # lambda — the keyword default would silently become the index
    def _gram_at(n):
        return lambda i: F.array_join(F.slice(toks, i + 1, n), " ")

    grams = []
    for n in ngram_ns:
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - F.lit(n))
        ).otherwise(F.array().cast("array<int>"))
        grams.append(F.struct(F.lit(n).alias("n"), F.transform(idx, _gram_at(n)).alias("grams")))
    exploded = (
        df.select(F.col(id_col).alias("id"), F.explode(F.array(*grams)).alias("g"))
        .select("id", F.col("g.n").alias("n"), F.explode("g.grams").alias("gram"))
    )
    counts = exploded.groupBy("id", "n", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("id", "n").orderBy(F.desc("cnt"), F.asc("gram"))
    per_doc = (
        counts.withColumn("rk", F.row_number().over(w))
        .groupBy("id", "n")
        .agg(
            F.sum("cnt").alias("total_ngrams"),
            F.count(F.lit(1)).alias("distinct_ngrams"),
            F.max(F.when(F.col("rk") == 1, F.col("gram"))).alias("top_gram"),
            F.max(F.when(F.col("rk") == 1, F.col("cnt"))).alias("top_count"),
        )
    )
    ids = df.select(
        F.col(id_col).alias("id"), F.length(F.col(text_col)).alias("__chars")
    ).crossJoin(F.broadcast(
        df.sparkSession.range(1).select(
            F.explode(F.array(*[F.lit(n) for n in ngram_ns])).alias("n")
        )
    ))
    return (
        ids.join(per_doc, ["id", "n"], "left")
        .select(
            F.col("id").alias(id_col),
            "n",
            F.coalesce("total_ngrams", F.lit(0)).alias("total_ngrams"),
            F.coalesce("distinct_ngrams", F.lit(0)).alias("distinct_ngrams"),
            F.round(
                F.lit(1.0)
                - F.try_divide(F.col("distinct_ngrams"), F.col("total_ngrams")),
                6,
            ).alias("dup_ngram_frac"),
            "top_gram",
            "top_count",
            F.round(
                F.try_divide(F.col("top_count") * F.length("top_gram"), F.col("__chars")),
                6,
            ).alias("top_gram_char_frac"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (sklearn-style smoothed IDF:
    ``ln((N + 1) / (df + 1)) + 1``). Output: one row per (doc, rank)
    with the term, its in-doc count, its document frequency, and the
    rounded score.

    Ranking runs on ``ROUND(score, 6)`` with ties to the
    lexicographically smallest term — ``ln`` can differ by an ulp
    between libm implementations, and an unrounded rank would flip on
    near-ties (same contract as the IVF routing argmax).

    Scale shape: explode → one (doc, term) count shuffle; document
    frequency is a second aggregation over the distinct pairs (a
    map-side-combinable count keyed by term — never the corpus text);
    the corpus-size scalar N joins back as a broadcast single row, and
    the final top-k is a window keyed by doc. No driver-side state.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    pairs = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
    tf = pairs.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * (F.log((F.col("__n") + 1) / (F.col("df") + 1)) + 1), 6
            ),
        )
    )
    return top_k(scored, k, "score", "term", by=("id",)).select(
        F.col("id").alias(id_col), "rank", "term", "tf", "df", "score"
    )


def build_vocab(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 1000,
    min_count: int = 1,
) -> DataFrame:
    """Frequency-based vocabulary: the ``size`` most frequent whitespace
    tokens (count descending, ties to the lexicographically smallest
    term) with dense ids ``0..size-1`` assigned in that same order —
    the word-level analogue of a tokenizer-vocab build pass. Returns
    ``(term, cnt, token_id)``.

    Scale shape: one map-side-combinable (term → count) aggregation —
    the corpus text never shuffles, only term keys do — then the top-k
    runs as a distributed TakeOrdered (``orderBy().limit()``), and only
    the already-bounded ≤``size``-row result pays a single-partition
    row_number for the dense ids. The global window never sees more
    than ``size`` rows, so it is a driver-bounded constant, not a
    corpus-scaling stage.
    """
    from pyspark.sql.window import Window

    if size <= 0:
        raise ValueError(f"size must be positive, got {size}")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    counts = (
        df.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(size)
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    return top.withColumn("token_id", F.row_number().over(w) - 1)


def encode_with_vocab(
    df: DataFrame,
    vocab: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = -1,
) -> DataFrame:
    """Tokenize documents against a built vocabulary: whitespace tokens
    map to their ``token_id``; out-of-vocabulary tokens become
    ``unk_id``. Returns ``(id_col, n_tokens, n_unk, token_ids)`` with
    ``token_ids`` in document order.

    Scale shape: posexplode → broadcast join against the vocab (bounded
    by the vocab-size parameter, so the broadcast is a declared
    constant, not data-dependent) → one per-doc aggregation that
    reassembles the id sequence by position. The corpus text never
    enters a SHUFFLE: the term column is consumed by the broadcast
    vocab join inside the scan stage, so the reassembly shuffles only
    ``(id, pos, tid)`` integer triples — O(total tokens) rows, but
    integer-width, not text-width (pinned by
    ``test_plans.test_vocab_encode_shuffles_only_integer_triples``;
    the vocab's own bounded broadcast is the one allowed text mover).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    pairs = df.select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "term")
    )
    joined = pairs.join(
        F.broadcast(vocab.select("term", "token_id")), "term", "left"
    ).select(
        "id",
        "pos",
        F.coalesce(F.col("token_id"), F.lit(unk_id)).cast("int").alias("tid"),
    )
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum((F.col("tid") == unk_id).cast("long")).alias("n_unk"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda s: s.tid,
            ).alias("token_ids"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "n_unk", "token_ids")
    )


def unigram_logprob(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: int = 1,
) -> DataFrame:
    """Per-document mean token log-probability under a unigram language
    model trained on the corpus itself — the CCNet-style statistical
    quality score (docs far below the corpus-typical log-prob are
    boilerplate/gibberish candidates; far above are repetitive). Uses
    add-``alpha`` smoothing: ``P(w) = (count(w) + alpha) / (T + alpha*V)``
    with ``T`` total tokens and ``V`` vocabulary size.

    Cross-engine exactness: the per-TERM log-prob is rounded once to
    integer micro-nats (``round(ln(p) * 1e6)`` as a long) and every
    downstream aggregate is integer arithmetic — distributed float sums
    re-associate and can never hash-match a serial replay, but long
    sums are exact in any order (same convention as the integer-cents
    window frames). The final mean divides two exact longs and rounds.

    Output: ``(id_col, n_tokens, sum_logp_micros, avg_logp)``.

    Scale shape: one (doc, term) count shuffle, one term-count
    aggregation keyed by term (map-side combinable — the corpus text
    never shuffles), the two corpus scalars (T, V) come back as one
    broadcast row, and the doc score is an equi-join of the (doc, term,
    tf) relation with the term table on the term key followed by a
    per-doc aggregation. No window over all docs, no driver state;
    every shuffle key's cardinality grows with the corpus, not its
    payload.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    pairs = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
    tf = pairs.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    counts = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("__T"), F.count(F.lit(1)).alias("__V")
    )
    logp_micros = F.round(
        F.log((F.col("cnt") + alpha) / (F.col("__T") + alpha * F.col("__V"))) * 1e6
    ).cast("long")
    term_model = counts.crossJoin(F.broadcast(totals)).select(
        "term", logp_micros.alias("__lp")
    )
    return (
        tf.join(term_model, "term")
        .groupBy("id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("__lp")).cast("long").alias("sum_logp_micros"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "sum_logp_micros",
            F.round(F.col("sum_logp_micros") / (F.col("n_tokens") * F.lit(1e6)), 6).alias(
                "avg_logp"
            ),
        )
    )


def logprob_buckets(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    n_buckets: int = 3,
    alpha: int = 1,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing: score every doc
    with :func:`unigram_logprob` and split each language into
    ``n_buckets`` equal-population tiers by mean token log-prob —
    bucket 1 ("head") is the most model-typical text, the last bucket
    ("tail") the least. CCNet (Wenzek et al. 2020) keeps head+middle
    as the clean crawl subset; the bucket column is the dial.

    Ordering is cross-engine exact: the sort key is the IEEE-double
    quotient of two exact longs (``sum_logp_micros / n_tokens`` —
    identical in any engine), descending, with ``id_col`` as the total
    tie-break, and ``ntile`` over that total order is deterministic.

    Output: ``(id_col, lang, n_tokens, avg_logp, bucket, tier)`` with
    ``tier`` one of head/middle/tail when ``n_buckets == 3``, else
    ``b<k>``.

    Scale shape: the unigram model costs what it costs (see
    :func:`unigram_logprob` — the text payload never shuffles); the
    bucketing window sees only the 4-column (id, lang, long, long)
    score relation, never the document payload. The per-language sort
    is the exact-quantile price — at extreme scale swap ``ntile`` for
    approx-percentile cutoffs per language and a narrow comparison
    (same output contract, rank precision traded for parallelism).
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    from pyspark.sql import Window

    scores = unigram_logprob(df, text_col=text_col, id_col=id_col, alpha=alpha)
    scored = scores.join(df.select(id_col, lang_col), id_col)
    order_key = F.col("sum_logp_micros") / F.col("n_tokens")
    w = Window.partitionBy(lang_col).orderBy(order_key.desc(), F.col(id_col))
    bucket = F.ntile(n_buckets).over(w)
    if n_buckets == 3:
        tier = (
            F.when(bucket == 1, F.lit("head"))
            .when(bucket == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        tier = F.concat(F.lit("b"), bucket.cast("string"))
    return scored.select(
        id_col,
        lang_col,
        "n_tokens",
        "avg_logp",
        bucket.alias("bucket"),
        tier.alias("tier"),
    )


# ------------------------------------------------------------ BPE training


def word_histogram(
    df: DataFrame,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Corpus word histogram ``(word, cnt)`` over the normalized
    tokenization (lowercase, punctuation → space — the same
    ``_norm_gram_tokens`` normalization the dedup family uses, so the
    whole text stack shares one token definition).

    Scale shape: one scan, one map-side-combinable aggregation keyed by
    the word — the shuffle is bounded by DISTINCT words per partition
    (Zipf makes the combine highly effective), never corpus size. This
    is the only pass over the raw text the BPE trainer makes.
    """
    from renkodf_spark.operators.corpus import _norm_gram_tokens

    return (
        df.select(F.explode(_norm_gram_tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _bpe_apply_merge(syms_col, a: str, b: str):
    """Left-to-right non-overlapping application of one BPE merge
    ``(a, b) -> a||b`` to a symbol array, as an in-row fold: the
    accumulator is the rebuilt array whose LAST element is the pending
    symbol; a merged symbol never re-merges within the same pass
    because ``a || b`` differs from ``a`` (``b`` is non-empty). The
    DuckDB oracle replays the identical fold with ``list_reduce``.

    ``syms_col`` is referenced exactly ONCE (empty-accumulator init,
    not an init built from slices of the input): K rules nest K folds
    in :func:`bpe_encode`, and a 3-reference formulation grows the
    expression tree 3^K-fold — the analyzer hung on it at K=8."""
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(F.size(acc) == 0, F.array(x)).otherwise(
            F.when(
                (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(F.concat(acc, F.array(x)))
        ),
    )


def bpe_merges(
    df: DataFrame,
    *,
    k: int = 8,
    text_col: str = "text",
    batch_m: int = 1,
    fill: bool = False,
    instrument: dict | None = None,
) -> DataFrame:
    """Byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016,
    "Neural Machine Translation of Rare Words with Subword Units"):
    learn the top ``k`` merge rules over the corpus — iteratively count
    adjacent symbol pairs (weighted by word frequency), merge the most
    frequent pair everywhere, repeat. Classic simplification: merging
    is WITHIN words (no end-of-word marker), words defined by the
    shared ``_norm_gram_tokens`` normalization.

    Deterministic across engines: pair election orders by
    ``(count DESC, left ASC, right ASC)`` — exact long arithmetic, no
    floats anywhere — and merge application is the left-to-right
    non-overlapping fold of :func:`_bpe_apply_merge`, replayed
    symbol-for-symbol by the DuckDB oracle's ``list_reduce``.

    Output: one row per learned rule ``(merge_rank, left, right,
    merged, pair_count)``, ``merge_rank`` starting at 1. Stops early
    (fewer than ``k`` rows) if the corpus runs out of repeated pairs.

    Scale shape: the raw text is scanned ONCE into the (word, cnt)
    histogram (:func:`word_histogram` — map-side combinable, bounded
    by distinct words); each of the ``k`` iterations shuffles only
    ``(pair, count)`` rows — bounded by the distinct adjacent-pair
    count, Zipf-small — and collects exactly ONE elected row to the
    driver; the merge applies to the histogram IN-ROW (no shuffle,
    no join). The histogram is localCheckpoint'd per iteration so plan
    depth stays O(1), exactly the ``renko_chunked`` loop discipline.
    This is the standard "distributed BPE" decomposition: driver
    carries only the K learned rules, never data.

    ``batch_m`` (VERDICT r8 item 6 — batched election): elect up to
    ``batch_m`` merges per round instead of 1, so a realistic vocab
    size needs ``ceil(k / batch_m)`` Spark jobs, not ``k``. A round
    accepts the longest PREFIX of the (count DESC, left, right) pair
    ranking whose members are pairwise symbol-disjoint — no candidate
    shares its left/right/merged string with an earlier accepted one —
    then applies them in rank order. Symbol-disjointness means applying
    an earlier batch member never changes a later member's count, so a
    compatible batch elects exactly what sequential election would
    have; divergence is possible only when a merge CREATES a pair
    frequent enough to outrank a later batch member (bounded above by
    the neighbors' existing counts — rare under Zipf, and checked
    against ``batch_m=1`` in tests). Batched mode runs a FIXED
    ``ceil(k / batch_m)`` rounds (the oracle unrolls the same number of
    stages) and may therefore return fewer than ``k`` rules when
    conflicts cut batches short; ``batch_m=1`` reproduces sequential
    election exactly, round for round.

    ``fill=True`` (VERDICT r9 item 5 — batching at realistic vocab
    scale): keep electing rounds until ``k`` rules are learned (or the
    corpus runs out of repeated pairs) instead of stopping at the fixed
    ``ceil(k / batch_m)`` round budget, so the caller gets the full
    vocabulary in ``~k / avg-accepted-per-round`` driver rounds rather
    than ``k``. Election semantics are unchanged: a fixed-round run's
    output is a PREFIX of the same-``batch_m`` fill run's output.
    Relative to sequential election the batched list can diverge, and
    ONLY via the mechanism documented above — measured at k=64 on the
    test corpus the first 14 rules match sequential exactly and the
    divergence point is a created-pair overtake (sequential's next pick
    is built from a symbol the batch had just merged); the k=64 test
    pins that shape, and the oracled ``bpe_merges_batched`` gate query
    pins batched election itself bit-for-bit. This is the production
    shape: at cluster scale each round is a fixed number of jobs whose
    latency is dominated by scheduling round-trips, so merges-per-round
    is the throughput dial; measured in ``bench.py``'s ``bpe_scale``
    section. The round count is data-dependent, so ``fill=True`` has no
    fixed-depth SQL unroll — it is test-pinned, not DuckDB-oracled.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if batch_m <= 0:
        raise ValueError(f"batch_m must be positive, got {batch_m}")
    words = word_histogram(df, text_col=text_col).select(
        "cnt",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ).alias("syms"),
    ).localCheckpoint(eager=False)

    spark = df.sparkSession
    rules = []
    n_rounds = -(-k // batch_m)
    _round = 0
    while len(rules) < k and (fill or _round < n_rounds):
        _round += 1
        m = min(batch_m, k - len(rules))
        pairs = words.select(
            "cnt",
            F.explode(
                F.transform(
                    # guarded: sequence(1, 0) DESCENDS in Spark, so a
                    # 1-symbol word must yield an empty index list
                    F.when(
                        F.size("syms") >= 2,
                        F.sequence(F.lit(1), F.size("syms") - 1),
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.struct(
                        F.element_at(F.col("syms"), i).alias("left"),
                        F.element_at(F.col("syms"), i + 1).alias("right"),
                    ),
                )
            ).alias("p"),
        )
        cand = (
            pairs.groupBy("p.left", "p.right")
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
            .filter(F.col("pair_count") >= 2)
            .orderBy(F.col("pair_count").desc(), F.col("left"), F.col("right"))
            .limit(m)
            .collect()
        )
        batch = []
        seen: set = set()
        for r in cand:
            syms = {r["left"], r["right"], r["left"] + r["right"]}
            if batch and (syms & seen):
                break  # prefix rule: first conflict ends the batch
            batch.append(r)
            seen |= syms
        if not batch:
            break
        col = F.col("syms")
        for r in batch:
            a, b = r["left"], r["right"]
            rules.append((len(rules) + 1, a, b, a + b, int(r["pair_count"])))
            col = _bpe_apply_merge(col, a, b)
        words = words.select("cnt", col.alias("syms")).localCheckpoint(eager=False)

    if instrument is not None:
        instrument["rounds"] = _round
        instrument["rules"] = len(rules)
    return spark.createDataFrame(
        rules,
        "merge_rank int, left string, right string, merged string, pair_count long",
    )


def bpe_encode(
    df: DataFrame,
    merges,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned BPE merge rules (:func:`bpe_merges` output, or a
    list of ``(left, right)`` pairs) to every document: each word's
    character sequence is rebuilt through the K merges IN RANK ORDER,
    each applied with the same left-to-right non-overlapping fold the
    trainer used. Returns ``(id_col, n_words, n_subwords,
    subword_digest)`` with ``subword_digest`` the md5 of the
    space-joined subword sequence (document order).

    Scale shape: zero shuffle and zero joins — the K rules are a
    bounded driver-side constant (K is a declared parameter, the
    ``contamination``-style "broadcast is a constant" argument) baked
    into one nested column expression, so encoding is a pure map stage
    that pipelines with the scan at any corpus size.
    """
    from renkodf_spark.operators.corpus import _norm_gram_tokens

    if isinstance(merges, DataFrame):
        rules = [
            (r["left"], r["right"])
            for r in merges.orderBy("merge_rank").collect()
        ]
    else:
        rules = list(merges)

    def encode_word(w):
        syms = F.transform(
            F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
        )
        for a, b in rules:
            syms = _bpe_apply_merge(syms, a, b)
        return syms

    words = _norm_gram_tokens(text_col)
    words = F.filter(words, lambda w: w != "")
    encoded = F.transform(words, encode_word)
    return df.select(
        F.col(id_col),
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(
            encoded, F.lit(0).cast("long"), lambda acc, s: acc + F.size(s)
        ).alias("n_subwords"),
        F.md5(
            F.array_join(F.flatten(encoded), " ")
        ).alias("subword_digest"),
    )


# ---------------------------------------------- bigram LM (Stupid Backoff)

# Brants et al. 2007 ("Large Language Models in Machine Translation")
# back off with a fixed multiplier 0.4 instead of normalized discounts
# precisely because it keeps the distributed LM counting-only — the
# property every operator here relies on for exact SQL replay.
STUPID_BACKOFF = 0.4


def _backoff_micros():
    """``round(ln(0.4) * 1e6)`` as a Spark HALF_UP expression — both
    engines round the identical double, so the constant is never
    hardcoded on one side only."""
    return F.round(F.log(F.lit(STUPID_BACKOFF)) * 1e6).cast("long")


def _doc_transitions(text_col):
    """Doc-local (w1, w2) adjacent-token pairs as an array column —
    built with slice/zip_with array built-ins so the document text
    never leaves its row (no shuffle, no UDF). Single-token docs yield
    an empty array (``sequence`` is unusable here: Spark's
    sequence(1, 0) counts DOWN instead of returning empty)."""
    t = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(t)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.lit(None).cast("array<struct<w1:string,w2:string>>"))


def bigram_lm_train(
    df: DataFrame,
    *,
    text_col: str = "text",
    alpha: int = 1,
) -> tuple[DataFrame, DataFrame, int]:
    """Train a bigram language model with Stupid Backoff scoring
    (Brants et al. 2007) on ``df`` — the KenLM-style n-gram LM of the
    CCNet recipe (Wenzek et al. 2020: train on a trusted corpus, score
    the crawl, keep the model-typical tiers), kept counting-only so a
    DuckDB oracle replays it bit-exactly.

    Returns ``(unigrams, bigrams, oov_micros)``:

    * ``unigrams`` — ``(term, cnt, lp_micros)`` with the add-``alpha``
      smoothed unigram log-prob rounded ONCE to integer micro-nats
      (the :func:`unigram_logprob` convention).
    * ``bigrams`` — ``(w1, w2, cnt2, trans_micros)`` where
      ``trans_micros = round(ln(cnt2 / cnt(w1)) * 1e6)`` is the
      maximum-likelihood transition score (unsmoothed, as in Stupid
      Backoff — unseen transitions back off instead).
    * ``oov_micros`` — the smoothed zero-count unigram mass
      ``round(ln(alpha / (T + alpha*V)) * 1e6)`` as a plain int
      (bounded scalar, same pattern as the NB class prior): the score
      of a token never seen in training.

    Scale shape: tokenization and bigram construction are doc-local
    array expressions (the text payload never enters an exchange —
    plan-pinned); the only shuffles are count aggregations keyed by
    term / (w1, w2), both map-side combinable; the (T, V) scalars come
    back as one broadcast row. Model size is bounded by the distinct
    bigram count of the TRAINING corpus (the trusted subset — small by
    construction in the CCNet shape), not the scored corpus.
    """
    counts, bcounts = bigram_count_tables(df, text_col=text_col)
    return derive_bigram_model(counts, bcounts, alpha=alpha)


def bigram_count_tables(
    df: DataFrame, *, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """The bigram LM's sufficient statistics for ``df`` alone:
    ``(counts, bcounts)`` = ``(term, cnt)`` unigram token counts and
    ``(w1, w2, cnt2)`` adjacent-pair counts. Both are ADDITIVE — the
    streaming trainer (``curation_stream.bigram_lm_writer``) sums
    per-trigger tables into the lifetime statistics and re-derives the
    exact batch model via :func:`derive_bigram_model`."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    counts = (
        df.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    bcounts = (
        df.select(F.explode(_doc_transitions(text_col)).alias("z"))
        .select("z.w1", "z.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt2"))
    )
    return counts, bcounts


def derive_bigram_model(
    counts: DataFrame,
    bcounts: DataFrame,
    *,
    alpha: int = 1,
) -> tuple[DataFrame, DataFrame, int]:
    """Shared smoothing/rounding derivation from the raw count tables
    — the single definition of the model arithmetic, so batch-trained
    (:func:`bigram_lm_train`) and stream-folded
    (``curation_stream.read_bigram_lm``) models are bit-equal."""
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    # r14 (guide §3.3): the count table feeds THREE consumers (the
    # unigram model, the (T, V) totals, and the bigram denominator
    # join) and the unigram model itself is probed twice by every
    # scorer — left inline, the whole tokenize+count training chain is
    # re-stamped into each consumer's plan (bigram_lm_doc_quality
    # carried 18 copies of the docs scan; the signed-quantile family
    # 140). Lazily localCheckpoint the two bounded model relations so
    # training is planned and executed once. Rows identical.
    counts = persist_block(counts)
    totals = counts.agg(
        F.sum("cnt").alias("__T"), F.count(F.lit(1)).alias("__V")
    )
    lp = F.round(
        F.log((F.col("cnt") + alpha) / (F.col("__T") + alpha * F.col("__V"))) * 1e6
    ).cast("long")
    unigrams = persist_block(
        counts.crossJoin(F.broadcast(totals)).select(
            "term", "cnt", lp.alias("lp_micros")
        )
    )
    bigrams = bcounts.join(
        unigrams.select(F.col("term").alias("w1"), F.col("cnt").alias("__c1")), "w1"
    ).select(
        "w1",
        "w2",
        "cnt2",
        F.round(F.log(F.col("cnt2") / F.col("__c1")) * 1e6)
        .cast("long")
        .alias("trans_micros"),
    )
    # bounded scalar: the smoothed OOV mass, rounded with the SAME
    # Spark HALF_UP expression as the model (never Python's banker's
    # rounding — the nb_model prior precedent)
    (orow,) = (
        totals.select(
            F.round(
                F.log(F.lit(float(alpha)) / (F.col("__T") + alpha * F.col("__V")))
                * 1e6
            )
            .cast("long")
            .alias("v")
        ).collect()
    )
    return unigrams, bigrams, int(orow.v)


def bigram_logprob(
    df: DataFrame,
    model: tuple[DataFrame, DataFrame, int],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document under a :func:`bigram_lm_train` model:
    position 1 scores with the smoothed unigram log-prob (OOV mass for
    unseen words); positions 2..n score with the Stupid-Backoff rule

    ``S(w2 | w1) = cnt(w1 w2) / cnt(w1)`` if the bigram was seen,
    else ``0.4 * S_unigram(w2)``

    — all in integer micro-nats, so the distributed per-doc sum is
    exact in any order and hash-matches a serial SQL replay. Unlike
    :func:`unigram_logprob` (which self-trains), the model here is an
    input: the CCNet shape trains on a trusted subset and scores the
    whole corpus, so the backoff and OOV branches genuinely fire.

    Output: ``(id_col, n_tokens, sum_logp_micros, avg_logp)`` — the
    :func:`unigram_logprob` contract, drop-in for tier bucketing.

    Scale shape: the document text never enters an exchange (bigram
    construction is doc-local; only (id, w1, w2, tf) and narrower move
    — plan-pinned); scoring is two equi-joins against the model tables
    keyed by (w1, w2) / term plus one per-doc long-sum aggregation. No
    window, no driver state beyond the two model scalars.
    """
    unigrams, bigrams, oov_micros = model
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(
        F.col(id_col).alias("id"),
        F.element_at(toks, 1).alias("term"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    first_scored = base.join(unigrams.select("term", "lp_micros"), "term", "left").select(
        "id",
        "n_tokens",
        F.coalesce("lp_micros", F.lit(oov_micros)).alias("__first"),
    )
    btf = (
        df.select(F.col(id_col).alias("id"), F.explode(_doc_transitions(text_col)).alias("z"))
        .select("id", "z.w1", "z.w2")
        .groupBy("id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("btf"))
    )
    pair_score = F.coalesce(
        F.col("trans_micros"),
        _backoff_micros() + F.coalesce(F.col("__lp2"), F.lit(oov_micros)),
    )
    tsums = (
        btf.join(bigrams.select("w1", "w2", "trans_micros"), ["w1", "w2"], "left")
        .join(
            unigrams.select(F.col("term").alias("w2"), F.col("lp_micros").alias("__lp2")),
            "w2",
            "left",
        )
        .groupBy("id")
        .agg(F.sum(F.col("btf") * pair_score).cast("long").alias("__tsum"))
    )
    total = F.col("__first") + F.coalesce(F.col("__tsum"), F.lit(0))
    return (
        first_scored.join(tsums, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            total.cast("long").alias("sum_logp_micros"),
            F.round(total / (F.col("n_tokens") * F.lit(1e6)), 6).alias("avg_logp"),
        )
    )


def vocab_growth(
    docs: DataFrame,
    *,
    n_buckets: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: split the corpus into
    ``n_buckets`` ingestion-order slices and report, per slice, how
    many NEVER-BEFORE-SEEN terms it introduces and the running
    vocabulary / token totals — the curve a mixture designer reads to
    decide whether another slice of a source still buys new coverage
    (Heaps' law: cum_vocab ~ K * cum_tokens^beta; a flattening curve
    means the source is exhausted).

    Bucket assignment is the pure projection ``(id * n_buckets) div
    (max_id + 1)`` — ingestion order by id, no global ranking, so the
    only non-narrow steps are the two aggregations the answer is made
    of: per-bucket token counts, and per-term MIN(bucket) (terms hash
    across the cluster; the term relation is narrow). The closing
    cumulative window runs over at most ``n_buckets`` rows.

    Returns ``(bucket, n_docs, bucket_tokens, cum_tokens, new_terms,
    cum_vocab)``, all exact longs. Buckets with no documents (sparse
    id ranges) do not appear — derived identically on any engine.
    """
    from pyspark.sql.window import Window

    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")

    mx = docs.groupBy().agg(F.max(F.col(id_col)).cast("long").alias("__mx"))
    bucket = F.expr(f"({id_col} * {int(n_buckets)}) div (__mx + 1)").alias("bucket")
    toks = docs.crossJoin(F.broadcast(mx)).select(
        F.col(id_col).alias("__id"),
        bucket,
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
    )
    per_bucket = toks.groupBy("bucket").agg(
        F.count_distinct("__id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("bucket_tokens"),
    )
    first_seen = toks.groupBy("term").agg(F.min("bucket").alias("bucket"))
    new_terms = first_seen.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("new_terms")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(new_terms, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            "bucket_tokens",
            F.sum("bucket_tokens").over(w).cast("long").alias("cum_tokens"),
            F.coalesce(F.col("new_terms"), F.lit(0)).cast("long").alias("new_terms"),
            F.sum(F.coalesce(F.col("new_terms"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_vocab"),
        )
    )
