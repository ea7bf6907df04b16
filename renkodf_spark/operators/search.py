"""Inverted-index build and boolean / phrase search over a document
corpus.

The index is the classic postings relation — one row per (term,
doc_id) with the term frequency and the sorted 0-based position list —
built in one explode + aggregate pass.  Persisted partitioned by term
(or bucketed on term), it answers queries by touching only the query
terms' postings: an AND query is a postings intersection (equi-joins on
doc_id), a phrase query intersects POSITION lists (the standard
positional-index adjacency walk), and neither ever rescans the corpus
text.  At 100 TB the index build is the one corpus-sized shuffle
(keyed by (term, doc)); every query after that moves only
|query terms| postings lists.

Tokenization matches the house convention (``top_words``,
``text.token_counts``): whitespace split of the trimmed text.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renkodf_spark.operators.topk import top_k


def build_inverted_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Postings: ``(term, doc_id, tf, positions)`` with ``positions``
    the sorted 0-based token offsets of the term in the document
    (sorted so the relation is deterministic regardless of partition
    layout — collect_list order is not).

    One corpus-sized shuffle keyed by (term, doc); map-side partial
    aggregation collapses repeated terms before the exchange.
    """
    tokens = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
            "pos", "term"
        ),
    )
    return tokens.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )


def term_stats(index: DataFrame) -> DataFrame:
    """Per-term document frequency and collection frequency —
    ``(term, df, cf)``; the dictionary a query planner consults to
    order postings intersections rarest-first."""
    return index.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )


def search_all_terms(index: DataFrame, terms: Sequence[str]) -> DataFrame:
    """AND query: ``(doc_id)`` for documents containing EVERY term.

    One filtered index scan (the ``term IN (...)`` predicate pushes
    into the index's term partitioning) + a per-doc distinct-term
    count — only the query terms' postings move.
    """
    terms = list(dict.fromkeys(terms))  # dedupe, keep order
    if not terms:
        raise ValueError("terms must be non-empty")
    return (
        index.filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.count_distinct("term").alias("__n"))
        .filter(F.col("__n") == len(terms))
        .select("doc_id")
    )


def phrase_search(index: DataFrame, phrase: Sequence[str]) -> DataFrame:
    """Exact-phrase query via the positional adjacency walk: returns
    ``(doc_id, n_matches, first_pos)`` for documents containing the
    consecutive token sequence, with ``first_pos`` the 0-based offset
    of its first occurrence.

    ``len(phrase) - 1`` equi-joins on doc_id, each shrinking the
    carried start-position list to starts whose (i)-th successor is the
    (i)-th phrase term; postings for repeated phrase terms are reused
    from the same filtered scan.
    """
    phrase = list(phrase)
    if not phrase:
        raise ValueError("phrase must be non-empty")
    postings = index.filter(F.col("term").isin(list(set(phrase))))

    # closure factory, NOT a default-arg lambda: a 2-parameter lambda
    # is dispatched by Spark as (element, index) (the applyInPandas
    # arity rule — see NOTES.md round-4 gotcha)
    def _adjacent(off: int):
        return lambda p: F.array_contains(F.col("__nxt"), p + off)

    cur = postings.filter(F.col("term") == phrase[0]).select(
        "doc_id", F.col("positions").alias("__starts")
    )
    for i, t in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias("__nxt")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .select(
                "doc_id",
                F.filter(F.col("__starts"), _adjacent(i)).alias("__starts"),
            )
            .filter(F.size("__starts") > 0)
        )
    return cur.select(
        "doc_id",
        F.size("__starts").cast("long").alias("n_matches"),
        F.element_at("__starts", 1).alias("first_pos"),
    )


def _term_bucket_expr(term_col, n_buckets: int):
    return (
        F.conv(F.substring(F.md5(term_col), 1, 12), 16, 10).cast("long")
        % n_buckets
    )


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of :func:`_term_bucket_expr` — md5 of the UTF-8
    term, first 12 hex chars, mod buckets.  A pure function of the
    term, so readers compute partition ids without running a job."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:12], 16) % n_buckets


def write_inverted_index(
    index: DataFrame,
    path: str,
    *,
    n_buckets: int = 64,
) -> None:
    """Persist a postings relation PARTITIONED BY term-hash bucket
    (``tb=<0..n_buckets-1>``) with an ``n_buckets`` sidecar under
    ``<path>/meta`` — the search analogue of ``write_ivf_index``: the
    corpus-sized index build runs ONCE, and every query after that
    reads only its terms' buckets.

    Hash buckets rather than raw-term partitions: term cardinality is
    corpus-sized (millions of dirs would drown the file index), while
    ``n_buckets`` directories keep listings O(1) and still prune a
    query's scan to ``len(query_terms)/n_buckets`` of the index.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    spark = index.sparkSession
    index.withColumn("tb", _term_bucket_expr(F.col("term"), n_buckets)).write.mode(
        "overwrite"
    ).partitionBy("tb").parquet(path + "/postings")
    spark.createDataFrame([(int(n_buckets),)], "n_buckets long").write.mode(
        "overwrite"
    ).parquet(path + "/meta")


def read_postings(spark, path: str, terms: Sequence[str]) -> DataFrame:
    """Scan ONLY the query terms' buckets of a persisted index.

    Bucket ids are computed driver-side (md5 is a pure function of the
    term), so the partition filter is STATIC — Catalyst prunes the
    ``tb=`` directories at planning time, no job and no dynamic
    pruning subquery needed — and the residual ``term IN`` filter
    pushes into the parquet row groups of the surviving buckets.
    """
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("terms must be non-empty")
    n_buckets = spark.read.parquet(path + "/meta").collect()[0]["n_buckets"]
    buckets = sorted({_term_bucket_py(t, n_buckets) for t in terms})
    return (
        spark.read.parquet(path + "/postings")
        .filter(F.col("tb").isin(buckets) & F.col("term").isin(terms))
        .drop("tb")
    )


def search_all_terms_indexed(spark, path: str, terms: Sequence[str]) -> DataFrame:
    """AND query over a persisted index — identical results to
    :func:`search_all_terms` on the in-memory postings (parity-pinned
    in tests), touching only the query terms' bucket partitions."""
    return search_all_terms(read_postings(spark, path, terms), terms)


def phrase_search_indexed(spark, path: str, phrase: Sequence[str]) -> DataFrame:
    """Exact-phrase query over a persisted index — identical results
    to :func:`phrase_search`, touching only the phrase terms'
    buckets."""
    return phrase_search(read_postings(spark, path, phrase), phrase)


def bm25_topk(
    index: DataFrame,
    terms: Sequence[str],
    *,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval over the postings: ``(doc_id,
    score_micros, rank)`` for the top-``k`` documents by the classic
    Robertson / Lucene formula

        score(D, Q) = Σ_t  ln(1 + (N - df_t + .5)/(df_t + .5))
                        · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))

    Determinism: each term's contribution is ROUNDed once to integer
    micro-units, so the per-doc score is an exact long sum in any
    aggregation order (the unigram_logprob convention); ``ln`` ulp
    differences across engines are absorbed by the rounding, and ties
    break on doc_id.  ``|D|/avgdl`` is computed as
    ``dl · N_docs / total_tokens`` — a single IEEE-exact expression
    from three exact longs, no pre-divided average to drift.

    Scale shape: doc lengths are one aggregate over the postings;
    corpus-wide N/total collapse to a broadcast row; only the query
    terms' postings are scored (term-partition-prunable via
    ``read_postings``); the final top-k is one rank ordering.
    """
    terms = _query_terms(terms, k)
    doclen = index.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("__dl"))
    glob = index.groupBy().agg(
        F.count_distinct("doc_id").cast("long").alias("__N"),
        F.sum("tf").cast("long").alias("__total"),
    )
    return _bm25_ranked(index.filter(F.col("term").isin(terms)), doclen, glob, k, k1, b)


def _query_terms(terms: Sequence[str], k: int) -> list[str]:
    """The ranked searches' one input guard: distinct terms in query
    order, non-empty, and a positive ``k``."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("terms must be non-empty")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    return terms


def _bm25_ranked(posts, doclen, stats, k: int, k1: float, b: float) -> DataFrame:
    """BM25 scoring shared by :func:`bm25_topk` and
    :func:`bm25_topk_indexed`: ``posts`` are the query terms' postings,
    ``doclen`` is ``(doc_id, __dl)`` and ``stats`` the one corpus row
    ``(__N, __total)``."""
    dfreq = posts.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("__df"))
    joined = (
        posts.join(F.broadcast(dfreq), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__N") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
    )
    norm_len = F.col("__dl") * F.col("__N") / F.col("__total")  # |D| / avgdl
    tf = F.col("tf").cast("double")
    contrib = F.round(
        idf * (tf * (k1 + 1.0)) / (tf + F.lit(k1) * (1.0 - b + F.lit(b) * norm_len))
        * 1e6
    ).cast("long")
    scored = joined.select("doc_id", contrib.alias("__c")).groupBy("doc_id").agg(
        F.sum("__c").alias("score_micros")
    )
    return top_k(scored, k, "score_micros", "doc_id").select("doc_id", "score_micros", "rank")


def _ql_ranked(posts, doclen, stats, n_terms: int, k: int, mu: int) -> DataFrame:
    """Dirichlet query-likelihood scoring shared by :func:`ql_topk` and
    :func:`ql_topk_indexed`: ``posts`` are the query terms' postings,
    ``doclen`` is ``(doc_id, __dl)`` and ``stats`` the one corpus row
    ``(__total)``."""
    cfreq = posts.groupBy("term").agg(F.sum("tf").cast("long").alias("__cf"))
    joined = posts.join(F.broadcast(cfreq), "term").crossJoin(F.broadcast(stats))
    tf = F.col("tf").cast("double")
    contrib = F.round(
        F.log(F.lit(1.0) + tf * F.col("__total") / (F.lit(float(mu)) * F.col("__cf")))
        * 1e6
    ).cast("long")
    scored = joined.select("doc_id", contrib.alias("__c")).groupBy("doc_id").agg(
        F.sum("__c").alias("__match")
    )
    prior = F.round(
        F.lit(float(n_terms))
        * F.log(F.lit(float(mu)) / (F.col("__dl") + F.lit(float(mu))))
        * 1e6
    ).cast("long")
    ranked = scored.join(doclen, "doc_id").select(
        "doc_id", (F.col("__match") + prior).alias("score_micros")
    )
    return top_k(ranked, k, "score_micros", "doc_id").select("doc_id", "score_micros", "rank")


def ql_topk(
    index: DataFrame,
    terms: Sequence[str],
    *,
    k: int = 20,
    mu: int = 100,
) -> DataFrame:
    """Query-likelihood ranked retrieval with Dirichlet smoothing over
    the postings: ``(doc_id, score_micros, rank)`` for the top-``k``
    documents — the language-modeling ranker that sits next to
    :func:`bm25_topk` in every IR stack (Lucene's LMDirichletSimilarity).

    Scored in the rank-equivalent decomposed form (Zhai & Lafferty,
    SIGIR'01), which touches only MATCHING postings instead of the
    full docs x terms cross product:

        score(D, Q) = Σ_{t ∈ Q∩D}  ln(1 + tf·total / (μ·cf_t))
                      + |Q| · ln(μ / (|D| + μ))

    where ``cf_t`` is the collection frequency of ``t`` and ``total``
    the corpus token count (so ``cf_t/total`` = P(t|C)).  Documents
    containing none of the query terms are not ranked (they differ
    only by the length prior — the standard top-k retrieval contract,
    and the same candidate set BM25 scores).

    Determinism: each term's contribution and the per-doc length prior
    are ROUNDed once to integer micro-units, so the score is an exact
    long sum in any aggregation order; ``ln`` ulp differences across
    engines are absorbed by the rounding, and ties break on doc_id.
    ``tf·total`` and ``μ·cf_t`` are each a single product of exact
    longs in IEEE double (exact below 2^53 — at larger corpus token
    counts the ratio loses ulps, absorbed by the same rounding).

    Scale shape mirrors :func:`bm25_topk`: doc lengths are one
    aggregate over the postings; corpus totals collapse to a broadcast
    row; only the query terms' postings are scored
    (term-partition-prunable via :func:`read_postings`); the final
    top-k is one rank ordering.
    """
    terms = _query_terms(terms, k)
    if mu <= 0:
        raise ValueError(f"mu must be positive, got {mu}")
    doclen = index.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("__dl"))
    glob = index.groupBy().agg(F.sum("tf").cast("long").alias("__total"))
    return _ql_ranked(index.filter(F.col("term").isin(terms)), doclen, glob, len(terms), k, mu)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): combine two ranked
    lists by ``score = Σ 1/(c + rank)`` — the standard hybrid-search
    fusion when the component scores are incomparable (BM25 micros vs
    cosine).  A document absent from one list simply contributes
    nothing from it.

    Determinism: each reciprocal is ROUNDed once to integer nano-units
    (c + rank ≤ ~10⁵, so 1e9 scaling keeps every distinct reciprocal
    distinct), making the fused score an exact long sum; ties break on
    the id.  Both inputs are bounded top-k relations, so the fusion is
    driver-cheap by construction.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")

    def contrib(df):
        return df.select(
            F.col(id_col),
            F.round(F.lit(1e9) / (F.lit(float(c)) + F.col(rank_col))).cast(
                "long"
            ).alias("__c"),
        )

    fused = (
        contrib(ranked_a)
        .unionByName(contrib(ranked_b))
        .groupBy(id_col)
        .agg(F.sum("__c").alias("rrf_nanos"))
    )
    return top_k(fused, k, "rrf_nanos", id_col).select(id_col, "rrf_nanos", "rank")


def write_search_index(
    index: DataFrame,
    path: str,
    *,
    n_buckets: int = 64,
) -> None:
    """Persist a FULL search index: the bucket-partitioned postings of
    :func:`write_inverted_index` PLUS the scoring statistics BM25 needs
    — per-doc lengths (``<path>/doclen``) and the corpus-wide
    (N, total-tokens) row (``<path>/stats``) — computed once at build
    time, exactly like a real engine stores document norms alongside
    its postings.  Without them an "indexed" BM25 would re-aggregate
    the whole postings relation per query, defeating the pruning.
    """
    write_inverted_index(index, path, n_buckets=n_buckets)
    index.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("dl")
    ).write.mode("overwrite").parquet(path + "/doclen")
    index.groupBy().agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.sum("tf").cast("long").alias("total_tokens"),
    ).write.mode("overwrite").parquet(path + "/stats")


def bm25_topk_indexed(
    spark,
    path: str,
    terms: Sequence[str],
    *,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 over a persisted :func:`write_search_index`: identical
    scores to :func:`bm25_topk` on the in-memory postings
    (parity-pinned in tests), but the query reads ONLY the query
    terms' bucket partitions plus the two small stats tables — scan
    cost ∝ query terms, not corpus size.
    """
    terms = _query_terms(terms, k)
    stats = spark.read.parquet(path + "/stats").select(
        F.col("n_docs").alias("__N"), F.col("total_tokens").alias("__total")
    )
    return _bm25_ranked(read_postings(spark, path, terms), _doclen(spark, path), stats, k, k1, b)


def ql_topk_indexed(
    spark,
    path: str,
    terms: Sequence[str],
    *,
    k: int = 20,
    mu: int = 100,
) -> DataFrame:
    """Query-likelihood over a persisted :func:`write_search_index`:
    identical scores to :func:`ql_topk` on the in-memory postings
    (parity-pinned in tests) at indexed-scan cost.  Everything the
    decomposed formula needs is already term-prunable: each query
    term's collection frequency is the ``SUM(tf)`` of its OWN postings
    bucket, doc lengths and the corpus token total come from the same
    two stats tables BM25 reads — so the scan stays ∝ query terms,
    not corpus size.
    """
    terms = _query_terms(terms, k)
    if mu <= 0:
        raise ValueError(f"mu must be positive, got {mu}")
    stats = spark.read.parquet(path + "/stats").select(F.col("total_tokens").alias("__total"))
    posts = read_postings(spark, path, terms)
    return _ql_ranked(posts, _doclen(spark, path), stats, len(terms), k, mu)


def _doclen(spark, path: str) -> DataFrame:
    """A :func:`write_search_index` index's ``(doc_id, __dl)`` lengths."""
    return spark.read.parquet(path + "/doclen").select("doc_id", F.col("dl").alias("__dl"))
