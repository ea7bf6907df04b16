"""The operators' one top-k ranker, against a Python reference: per
group and global, descending (cosine-like) and ascending (Hamming-like)
scores, ties broken by the id ascending, rows past ``k`` dropped."""

import pytest

from renkodf_spark.operators.topk import top_k

# (group, id, score): ties on score inside a group, more rows than k
ROWS = [
    ("a", 5, 0.9), ("a", 3, 0.9), ("a", 7, 0.1), ("a", 1, 0.5), ("a", 9, 0.9),
    ("b", 2, 3.0), ("b", 8, 1.0), ("b", 4, 1.0), ("b", 6, 2.0),
    ("c", 10, 0.0),
]


def _reference(by_group: bool, ascending: bool, k: int):
    groups = {}
    for g, i, s in ROWS:
        groups.setdefault(g if by_group else None, []).append((g, i, s))
    out = []
    for rows in groups.values():
        rows.sort(key=lambda r: (r[2] if ascending else -r[2], r[1]))
        out += [(g, i, s, rank) for rank, (g, i, s) in enumerate(rows[:k], 1)]
    return sorted(out)


@pytest.mark.parametrize("by_group", [True, False], ids=["per_group", "global"])
@pytest.mark.parametrize("ascending", [False, True], ids=["cosine_desc", "hamming_asc"])
@pytest.mark.parametrize("k", [1, 2, 4])
def test_top_k_matches_reference(spark, by_group, ascending, k):
    df = spark.createDataFrame(ROWS, "g string, id long, score double")
    got = top_k(
        df, k, "score", "id", by=("g",) if by_group else (), ascending=ascending
    ).select("g", "id", "score", "rank")
    assert sorted(map(tuple, got.collect())) == _reference(by_group, ascending, k)


def test_top_k_names_its_rank_column_and_takes_a_score_expression(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(ROWS, "g string, id long, score double")
    got = top_k(df, 1, -F.col("score"), "id", by=("g",), rank="__rk")
    assert "__rk" in got.columns and "rank" not in got.columns
    # best of -score descending == lowest score, ties to the smaller id
    assert sorted((r.g, r.id) for r in got.collect()) == [("a", 7), ("b", 4), ("c", 10)]
