"""Query registry: every operator surface declared in SURVEY.md §2 is
exposed as a named (spark builder, duckdb oracle SQL) pair consumed by
``__spark_entry__.py`` and the driver's correctness gate.

Importing this package populates the registry.

The correctness gate run over ``__spark_entry__.py`` covers a bounded
prefix of the registry, so ``_PRIORITY`` moves a short list to the
front: at most 50 names, written fresh for each change, first the
queries whose builders reach the code that change touched, then the
``renko_*`` surface. Every other query keeps its module registration
order; ``scripts/sweep.sh`` proves the whole registry against its
oracles at sf0.001 and sf0.01.
"""

from renkodf_spark.queries.registry import REGISTRY, oracle_sql, queries  # noqa: F401
from renkodf_spark.queries import relational  # noqa: F401
from renkodf_spark.queries import relational2  # noqa: F401
from renkodf_spark.queries import renko_queries  # noqa: F401
from renkodf_spark.queries import pipeline  # noqa: F401
from renkodf_spark.queries import pipeline2  # noqa: F401
from renkodf_spark.queries import pipeline3  # noqa: F401
from renkodf_spark.queries import pipeline4  # noqa: F401
from renkodf_spark.queries import pipeline5  # noqa: F401
from renkodf_spark.queries import relational3  # noqa: F401
from renkodf_spark.queries import pipeline6  # noqa: F401
from renkodf_spark.queries import pipeline7  # noqa: F401
from renkodf_spark.queries import pipeline8  # noqa: F401
from renkodf_spark.queries import pipeline9  # noqa: F401
from renkodf_spark.queries import pipeline10  # noqa: F401
from renkodf_spark.queries import pipeline11  # noqa: F401

# Rotation rule: first the queries whose builders reach code the latest
# change touched, then the renko_* product surface. The latest change
# moved the operators' top-k rankings onto `operators/topk.top_k`
# (similarity, pq, search, text, graph, dedup and corpus sampling),
# shared the BM25/QL scorers, the ANN miners' sides and the ADC
# ranking, and folded repeated builder code in the recall, PageRank and
# as-of queries; those 40 builders come first (found by tracing every
# builder's calls at sf0.001), then the first ten renko_* names, the
# sub-chunk splice first, to stay within the 50-name cap.
_PRIORITY = [
    # cosine / ANN top-k
    "similarity_cosine_topk",
    "similarity_ivf_topk",
    "similarity_ivf_probe2_topk",
    "similarity_lsh_ann_topk",
    "jl_projected_topk",
    "jl_recall_report",
    "quantized_cosine_topk",
    "hamming_topk",
    "pq_adc_topk",
    "similarity_ivfpq_topk",
    "ann_recall_report",
    "ann_recall_planted",
    "ann_recall_planted_unlabeled",
    "hard_negative_pairs",
    "hard_negative_pairs_ann",
    "hard_negative_pairs_ann_shuffle",
    # kNN graph, communities and centrality
    "knn_graph_edges",
    "mutual_knn_cluster_labels",
    "knn_communities",
    "knn_communities_indexed",
    "knn_pagerank",
    "knn_pagerank_indexed",
    "knn_pagerank_weighted",
    "knn_trustrank",
    "knn_trustrank_indexed",
    # ranked text retrieval
    "bm25_search_spark_vector",
    "ql_search_spark_vector",
    "hybrid_rrf_fusion",
    "hybrid_search_rerank",
    "tfidf_top_terms",
    # dedup banding and corpus sampling
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "lang_quota_sample",
    "lang_weighted_sample",
    "curation_end_to_end",
    "pretrain_end_to_end",
    # as-of joins
    "asof_purchase_before_click",
    "asof_next_purchase_after_click",
    "asof_nearest_purchase",
    "asof_tolerance_purchase",
    # the renko_* surface
    "renko_subchunked_wide",
    "renko_chunked_wide",
    "renko_wicks",
    "renko_normal",
    "renko_nongap",
    "renko_reverse_wicks",
    "renko_reverse_nongap",
    "renko_fake_r_wicks",
    "renko_fake_r_nongap",
    "renko_wide_bricks",
]

_ordered = {n: REGISTRY[n] for n in _PRIORITY}
_ordered.update(REGISTRY)
REGISTRY.clear()
REGISTRY.update(_ordered)
