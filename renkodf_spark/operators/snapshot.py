"""Snapshot differencing: classify rows across two versions of a
keyed table as added / removed / changed / unchanged.

This is the batch complement of ``sources/lakehouse.VersionedTable``:
given two materialized snapshots (yesterday's export and today's), emit
a change feed without any engine-side change tracking — the primitive
behind incremental re-ingestion ("only re-process changed documents"),
CDC backfills, and audit diffs.

Scale shape: each side reduces to ``(key..., digest)`` in a narrow
pass (the payload never shuffles — only keys and one md5 per row), then
ONE full-outer null-safe equi-join on the key columns classifies every
row.  At 100 TB that is the minimum possible: a key-partitioned
shuffle of key+digest pairs.

The digest covers ``compare_cols`` (default: all shared non-key
columns) with explicit NULL sentinels and a unit separator so column
boundaries can't alias (``("a","bc")`` vs ``("ab","c")``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SEP = "\x1f"
_NULL = "\x00null\x00"


def _digest(cols: Sequence[str]):
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols]
    return F.md5(F.concat_ws(_SEP, *parts))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Diff two snapshots of a keyed table.

    Returns ``(keys..., change_type, old_digest, new_digest)`` with
    ``change_type`` in ``added`` (key only in ``new``), ``removed``
    (key only in ``old``), ``changed`` (both, digests differ),
    ``unchanged``.  Duplicate keys within a snapshot are rejected
    nowhere — rows join positionally by key, so callers with non-unique
    keys should pre-aggregate.

    NULL key components are matched null-safely (``<=>``), so a NULL
    key is a value, not a non-match.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("keys must be non-empty")
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    compare_cols = list(compare_cols)
    if not compare_cols:
        raise ValueError("no compare columns (all shared columns are keys)")

    # rename the new side's keys so the join is unambiguous even when
    # both snapshots derive from the same source lineage (self-diff)
    o = old.select(*keys, _digest(compare_cols).alias("old_digest"))
    n = new.select(
        *[F.col(k).alias(f"__new_{k}") for k in keys],
        _digest(compare_cols).alias("new_digest"),
    )
    cond = [F.col(k).eqNullSafe(F.col(f"__new_{k}")) for k in keys]
    joined = o.join(n, cond, "full_outer")

    change = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    out_keys = [F.coalesce(F.col(k), F.col(f"__new_{k}")).alias(k) for k in keys]
    return joined.select(
        *out_keys,
        change.alias("change_type"),
        "old_digest",
        "new_digest",
    )


def merge_into(
    target: DataFrame,
    source: DataFrame,
    *,
    keys: Sequence[str],
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO semantics as a pure transformation: returns the new
    version of ``target`` after applying ``source`` —

    * key in both: the source row wins (WHEN MATCHED THEN UPDATE),
      unless its ``delete_col`` flag is true (… THEN DELETE);
    * key only in target: the target row is kept;
    * key only in source: inserted (WHEN NOT MATCHED THEN INSERT),
      unless flagged for delete (a delete of a missing key is a no-op,
      matching SQL MERGE).

    ``source`` must carry ``target``'s columns (plus the optional
    boolean ``delete_col``); NULL key components match null-safely.
    PRECONDITION: ``source`` must be unique on ``keys`` — a duplicate
    source key fans out every matched target row through the full-outer
    join (same caveat as ``snapshot_diff``, and the same rule as SQL
    MERGE, which raises on multiple matches). Its streaming twin,
    ``streaming/merge_stream.merge_writer``, applies the same rule per
    trigger after collapsing intra-batch duplicates deterministically
    (last-by-``__seq``, else by row digest); batch callers with a raw
    change log should apply the same collapse first.
    Compose with ``sources/lakehouse.VersionedTable`` to persist the
    result as a new table version, or with ``snapshot_diff`` to emit
    the change feed of the same operation.

    Scale shape: ONE full-outer null-safe equi-join on the keys — the
    same minimum as ``snapshot_diff``; all column selection is narrow.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("keys must be non-empty")
    missing = [c for c in target.columns if c not in source.columns]
    if missing:
        raise ValueError(f"source is missing target columns: {missing}")

    del_flag = (
        F.coalesce(F.col(f"__src_{delete_col}"), F.lit(False))
        if delete_col is not None
        else F.lit(False)
    )
    src_cols = list(target.columns) + ([delete_col] if delete_col else [])
    s = source.select(
        *[F.col(c).alias(f"__src_{c}") for c in src_cols]
    ).withColumn("__src_present", F.lit(True))
    cond = [F.col(k).eqNullSafe(F.col(f"__src_{k}")) for k in keys]
    joined = target.join(s, cond, "full_outer")

    src_present = F.coalesce(F.col("__src_present"), F.lit(False))
    # flagged source rows vanish whether matched (DELETE) or not (a
    # delete of a missing key is a no-op, so it simply never inserts)
    keep = ~(src_present & del_flag)
    out_cols = [
        F.when(src_present, F.col(f"__src_{c}")).otherwise(F.col(c)).alias(c)
        for c in target.columns
    ]
    return joined.filter(keep).select(*out_cols)
