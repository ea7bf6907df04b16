"""The ``batch_id=N`` generation store behind the ``foreachBatch``
state writers of this package (the curation, merge, near-dup and ANN
stream modules).

Four writers also keep one store that does not write generations:
``ann_stream.knn_graph_writer`` (``edges``),
``ann_stream.knn_centrality_writer`` (``ranks``),
``ann_stream.knn_communities_writer`` (``communities``) and
``neardup_stream.cluster_labels_writer`` (``labels``) overwrite the
``cell=``/``bucket=`` partitions a trigger touches in place, with
``partitionOverwriteMode=dynamic``. Spark commits that overwrite one
partition at a time, deleting the old directory and then renaming the
new one in, so the replay rule below does not cover these stores.

Protocol:

* A store is a directory of generations. Trigger ``N`` writes its own
  generation ``<store>/batch_id=N`` with a partition overwrite
  (:func:`write_gen`) and reads only generations before ``N``.
  foreachBatch delivers a batch at least once; a replay of ``N`` sees
  the same prior state and overwrites the same directory, so every
  writer is idempotent under replay without a commit log of its own.
* A snapshot store holds the whole cumulative state in each generation:
  a trigger reads the latest committed one before its own
  (:func:`read_latest`, an O(state) read at any trigger count, which
  picks it from the listing, so an empty snapshot is the state) and
  writes the merged state.
* A delta store holds each trigger's own rows only: a trigger reads the
  generations before its own (:func:`read_before`), a reader all of
  them. Delta rows that feed a sum carry their ``src_batch``, so
  identical rows are the same delta and :func:`fold`'s ``distinct``
  stays exact.
* No rows yet: a store read gives ``None`` (or an empty frame of the
  caller's schema) for exactly two error conditions. ``PATH_NOT_FOUND``
  means no generation was written. ``UNABLE_TO_INFER_SCHEMA`` means
  every generation is an empty ``partitionBy`` write, which leaves only
  ``_SUCCESS`` (an empty unpartitioned write leaves a schema-only file
  and reads as 0 rows). Every other error, such as a corrupt footer,
  propagates: the trigger fails and Structured Streaming retries it,
  instead of resuming from empty state.
* Retention. :func:`compact_index_generations` bounds a delta store
  at ``compact_every + 1`` generations. Every snapshot store is written
  through :func:`write_snapshot`, the one retention rule for it: write,
  then keep only the new generation and the one :func:`read_latest`
  picks for a replay of it, so the store holds two. A writer compacts
  first, before it reads or writes anything (a lazy read planned
  before the fold would list files the fold deletes), so a fold that
  cannot read its sources fails the trigger with nothing landed.

Listing, rename and delete go through one Hadoop FileSystem handle
(``sources.lakehouse.hadoop_fs``); no data is read for them.
"""

from __future__ import annotations

import posixpath

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renkodf_spark.sources.lakehouse import hadoop_fs

COMPACT_FILES = 4  # files per folded unpartitioned generation


def _gen_path(path: str, batch_id: int) -> str:
    return posixpath.join(path, f"batch_id={batch_id}")


def _empty(spark, schema):
    return None if schema is None else spark.createDataFrame([], schema)


def read_store(spark, path: str, schema=None) -> DataFrame | None:
    """Every generation of the store (ids in ``batch_id``); ``None``, or
    an empty frame of ``schema``, under the no-rows-yet rule above."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
    return _empty(spark, schema)


def read_gen(spark, path: str, batch_id: int) -> DataFrame | None:
    """Generation ``batch_id`` alone (``None`` under the no-rows-yet rule)."""
    return read_store(spark, _gen_path(path, batch_id))


def read_before(spark, path: str, batch_id: int, schema=None) -> DataFrame | None:
    """Every generation before ``batch_id``, without the id column."""
    store = read_store(spark, path)
    if store is None:
        return _empty(spark, schema)
    return store.filter(F.col("batch_id") < batch_id).drop("batch_id")


def read_latest(spark, path: str, before: int | None = None, schema=None):
    """The latest committed generation of the store at ``path`` (before
    ``before`` if given) alone, chosen from the listing so that an empty
    snapshot counts; ``None``, or an empty frame of ``schema``, when
    there is no such generation or it holds no rows under the rule above.

    A generation is committed when its directory holds the committer's
    ``_SUCCESS``: :func:`write_gen` writes straight into it, so a killed
    write leaves ``_temporary`` and no marker, and is passed over."""
    g = _latest_committed(spark, path, before)
    snap = None if g is None else read_gen(spark, path, g)
    return _empty(spark, schema) if snap is None else snap


def _latest_committed(spark, path: str, before: int | None) -> int | None:
    fs, Path = hadoop_fs(spark, path)
    for g in reversed(list_gens(spark, path)):
        if (before is None or g < before) and fs.exists(
            Path(posixpath.join(_gen_path(path, g), "_SUCCESS"))
        ):
            return g
    return None


def fold(store: DataFrame, keys: list[str], sums: list[str]) -> DataFrame:
    """Exact lifetime sums of a delta store: the leading ``distinct``
    over rows that carry their ``src_batch`` absorbs a delta that a
    compaction crash left visible twice, and nothing else."""
    return (
        store.select(*keys, *sums, "src_batch")
        .distinct()
        .groupBy(*keys)
        .agg(*[F.sum(c).cast("long").alias(c) for c in sums])
    )


def drop_seen(
    batch: DataFrame, path: str, batch_id: int, id_col: str, stored_id: str = "id"
) -> DataFrame:
    """Append-only enforcement: drop the batch rows whose id a generation
    before ``batch_id`` already holds. Only the stored id column is
    scanned, and a replay of ``batch_id`` probes the same generations."""
    seen = read_before(batch.sparkSession, path, batch_id)
    if seen is None:
        return batch
    return batch.join(seen.select(F.col(stored_id).alias(id_col)).distinct(), id_col, "left_anti")


def write_gen(df: DataFrame, path: str, batch_id: int, partition_by: str | None = None) -> None:
    """Overwrite generation ``batch_id`` of the store with ``df``."""
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(_gen_path(path, batch_id))


def list_gens(spark, path: str) -> list[int]:
    """Generation ids present under ``path``, ascending (none if absent)."""
    fs, Path = hadoop_fs(spark, path)
    if not fs.exists(Path(path)):
        return []
    names = [st.getPath().getName() for st in fs.listStatus(Path(path))]
    return sorted(int(n.split("=", 1)[1]) for n in names if n.startswith("batch_id="))


def delete_gens(spark, path: str, ids) -> None:
    fs, Path = hadoop_fs(spark, path)
    for g in ids:
        fs.delete(Path(_gen_path(path, g)), True)


def compaction_due(compact_every: int | None, batch_id: int) -> bool:
    return compact_every is not None and (batch_id + 1) % compact_every == 0


def compact_index_generations(
    spark, dir_path: str, current_batch_id: int, *, partition_by: str | None = None
) -> None:
    """Fold every generation of a delta store except the current
    trigger's into one, so the store stays at <= ``compact_every + 1``
    generations instead of one directory per trigger forever.

    The folded generation's id is ``-(current + 1)``: deterministic per
    trigger (a replay recreates the same one), negative so it never
    collides with a trigger's own generation, and decreasing so
    successive folds never collide with each other.

    Crash safety (object stores have no atomic directory swap): the fold
    is written to the underscore-hidden ``_compact_tmp`` (invisible to
    partition discovery) and committed by one rename. A leftover tmp
    WITH ``_SUCCESS`` and no committed generation is the delete-then-
    crash window: it holds the whole folded history, so the rename is
    completed first. A tmp without the marker is a torn write and is
    discarded; its sources are still visible. Sources are deleted only
    after the new generation is visible; a crash mid-delete leaves
    duplicate rows that the next fold's (and :func:`fold`'s)
    ``distinct`` absorbs.

    A store with no data files (only empty ``partitionBy`` generations)
    has nothing to fold: the call is a no-op. ``partition_by`` keeps a
    sub-partitioning (the postings' term-hash buckets, the IVF cells)
    in the folded generation, one file per value, so pruned reads
    survive compaction; an unpartitioned fold writes ``COMPACT_FILES``
    files."""
    fs, Path = hadoop_fs(spark, dir_path)
    gen_id = -(current_batch_id + 1)
    gen_dir = _gen_path(dir_path, gen_id)
    tmp_dir = posixpath.join(dir_path, "_compact_tmp")
    if fs.exists(Path(tmp_dir)):
        complete = fs.exists(Path(posixpath.join(tmp_dir, "_SUCCESS")))
        if complete and not fs.exists(Path(gen_dir)):
            fs.rename(Path(tmp_dir), Path(gen_dir))
        else:
            fs.delete(Path(tmp_dir), True)

    folded = [g for g in list_gens(spark, dir_path) if g != current_batch_id]
    # read the parent once (multi-root reads of batch_id= dirs with a
    # sub-partitioning confuse partition discovery)
    store = read_store(spark, dir_path) if folded else None
    if store is None:
        return
    hist = store.filter(F.col("batch_id") != current_batch_id).drop("batch_id").distinct()
    if partition_by is not None:
        hist.repartition(F.col(partition_by)).write.mode("overwrite").partitionBy(
            partition_by
        ).parquet(tmp_dir)
    else:
        hist.coalesce(COMPACT_FILES).write.mode("overwrite").parquet(tmp_dir)
    if fs.exists(Path(gen_dir)):
        fs.delete(Path(gen_dir), True)
    fs.rename(Path(tmp_dir), Path(gen_dir))
    delete_gens(spark, dir_path, [g for g in folded if g != gen_id])


def write_snapshot(df: DataFrame, path: str, batch_id: int) -> None:
    """Write snapshot generation ``batch_id``, then delete every other
    generation but the one a replay of ``batch_id`` reads (the latest
    committed one before it). A replay of an older batch cannot happen
    once this one's commit lands."""
    write_gen(df, path, batch_id)
    spark = df.sparkSession
    keep = {batch_id, _latest_committed(spark, path, batch_id)}
    delete_gens(spark, path, [g for g in list_gens(spark, path) if g not in keep])
