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
# placed the sub-chunk spec pass by partition id and ran every chunked
# window through one step, so the two chunked builders come first; then
# every other renko_* builder, each of which runs renko(), whose body
# now walks its partition through the walk it shares with the spec pass
# (`operators/renko.symbol_runs`). That is the whole renko_* surface.
_PRIORITY = [
    # the chunked windows and the sub-chunk splice
    "renko_subchunked_wide",
    "renko_chunked_wide",
    # renko() and its projections
    "renko_wicks",
    "renko_normal",
    "renko_nongap",
    "renko_reverse_wicks",
    "renko_reverse_nongap",
    "renko_fake_r_wicks",
    "renko_fake_r_nongap",
    "renko_wide_bricks",
    "renko_small_brick_smoke",
    "renko_wide_bricks_b25",
    "renko_wicks_projected",
    "renko_summary_stats",
    "renko_state_export",
    "renko_direction_runs",
]

_ordered = {n: REGISTRY[n] for n in _PRIORITY}
_ordered.update(REGISTRY)
REGISTRY.clear()
REGISTRY.update(_ordered)
