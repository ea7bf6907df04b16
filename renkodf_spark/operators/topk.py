"""The one top-k ranker the retrieval operators share.

Every ranked operator (cosine, ADC, Hamming, BM25, query likelihood,
fused ranks, vote counts, sampling keys) ends the same way: a
``row_number`` window over a score, ties broken by an id ascending,
rows past ``k`` dropped. The scorer is the caller's; the ranking is
said here once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(
    df: DataFrame,
    k: int,
    score: str | Column,
    tie: str | None = None,
    *,
    by: Sequence[str] = (),
    ascending: bool = False,
    rank: str = "rank",
) -> DataFrame:
    """The ``k`` best rows of each ``by`` group (of the whole frame when
    ``by`` is empty): best by ``score`` descending (ascending with
    ``ascending=True``), ties broken by ``tie`` ascending. ``rank``
    holds each kept row's 1-based position, so the output is
    deterministic whenever (``score``, ``tie``) is unique per group."""
    s = F.col(score) if isinstance(score, str) else score
    order = [s.asc() if ascending else s.desc()]
    if tie is not None:
        order.append(F.col(tie).asc())
    w = Window.partitionBy(*by).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)
