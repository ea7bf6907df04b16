"""Unit tests for SCD Type-2 builds / point-in-time joins and the
inverted-index search operators."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row, functions as F

from renkodf_spark.operators import search as search_ops
from renkodf_spark.operators.scd import point_in_time_join, scd2_from_changelog


def _t(m):
    return datetime(2024, 1, 1) + timedelta(minutes=m)


# ------------------------------------------------------------ SCD2

def _changelog(spark):
    rows = [
        # user 1: a a b a  -> episodes a@[0,20), b@[20,30), a@[30,)
        (1, _t(0), 1, "a"), (1, _t(10), 2, "a"),
        (1, _t(20), 3, "b"), (1, _t(30), 4, "a"),
        # user 2: NULL NULL c -> NULL-safe collapse, then c
        (2, _t(0), 5, None), (2, _t(5), 6, None), (2, _t(9), 7, "c"),
        # user 3: equal-ts tie broken by seq: seq 8 ('x') then 9 ('y')
        (3, _t(0), 8, "x"), (3, _t(0), 9, "y"),
    ]
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, seq long, status string"
    )


def test_scd2_collapses_and_closes_episodes(spark):
    out = scd2_from_changelog(
        _changelog(spark), key_cols=["user_id"], ts_col="ts",
        attr_cols=["status"], seq_col="seq",
    )
    got = {
        (r.user_id, r.status, r.effective_from, r.effective_to, r.is_current)
        for r in out.collect()
    }
    assert got == {
        (1, "a", _t(0), _t(20), 0),
        (1, "a", _t(30), None, 1),
        (1, "b", _t(20), _t(30), 0),
        (2, None, _t(0), _t(9), 0),   # NULL-safe collapse of two NULLs
        (2, "c", _t(9), None, 1),
        (3, "x", _t(0), _t(0), 0),    # tie order: seq 8 then 9
        (3, "y", _t(0), None, 1),
    }


def test_scd2_layout_independent(spark):
    log = _changelog(spark)
    a = scd2_from_changelog(log.repartition(1), key_cols=["user_id"],
                            ts_col="ts", attr_cols=["status"], seq_col="seq")
    b = scd2_from_changelog(log.repartition(7), key_cols=["user_id"],
                            ts_col="ts", attr_cols=["status"], seq_col="seq")
    assert set(map(tuple, a.collect())) == set(map(tuple, b.collect()))


def test_point_in_time_join_edges(spark):
    dim = scd2_from_changelog(
        _changelog(spark), key_cols=["user_id"], ts_col="ts",
        attr_cols=["status"], seq_col="seq",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, _t(20)),   # exactly at an episode start -> that episode
            (101, 1, _t(25)),   # inside [20, 30) -> 'b'
            (102, 1, _t(999)),  # after last -> open episode 'a'
            (103, 2, _t(0) - timedelta(minutes=5)),  # before first -> NULL
        ],
        "fact_id long, user_id long, ts timestamp",
    )
    out = point_in_time_join(
        facts, dim, on=["user_id"], fact_time="ts", attr_cols=["status"]
    )
    got = {r.fact_id: r.status_pit for r in out.collect()}
    assert got == {100: "b", 101: "b", 102: "a", 103: None}


def test_scd2_validates(spark):
    df = _changelog(spark)
    with pytest.raises(ValueError, match="non-empty"):
        scd2_from_changelog(df, key_cols=[], ts_col="ts", attr_cols=["status"])


# ------------------------------------------------------------ search

def _docs(spark):
    rows = [
        (1, "x x x y z"),        # overlapping 'x x' at 0 and 1
        (2, "a b c a b"),
        (3, "z  y   x"),         # multi-space split
        (4, "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_index_postings_and_stats(spark):
    idx = search_ops.build_inverted_index(_docs(spark))
    got = {(r.term, r.doc_id): (r.tf, r.positions) for r in idx.collect()}
    assert got[("x", 1)] == (3, [0, 1, 2])
    assert got[("b", 2)] == (2, [1, 4])
    assert got[("x", 3)] == (1, [2])
    stats = {r.term: (r.df, r.cf) for r in search_ops.term_stats(idx).collect()}
    assert stats["x"] == (2, 4)
    assert stats["b"] == (2, 3)


def test_index_layout_independent(spark):
    docs = _docs(spark)
    a = search_ops.build_inverted_index(docs.repartition(1)).collect()
    b = search_ops.build_inverted_index(docs.repartition(5)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_and_search(spark):
    idx = search_ops.build_inverted_index(_docs(spark))
    assert sorted(
        r.doc_id for r in search_ops.search_all_terms(idx, ["x", "y"]).collect()
    ) == [1, 3]
    assert search_ops.search_all_terms(idx, ["x", "nope"]).count() == 0


def test_phrase_search_overlap_and_multiterm(spark):
    idx = search_ops.build_inverted_index(_docs(spark))
    # overlapping repeated-term phrase
    got = {r.doc_id: (r.n_matches, r.first_pos)
           for r in search_ops.phrase_search(idx, ["x", "x"]).collect()}
    assert got == {1: (2, 0)}
    # 3-term phrase occurs twice in doc 2? 'a b c a b': 'a b' at 0 and 3
    got2 = {r.doc_id: (r.n_matches, r.first_pos)
            for r in search_ops.phrase_search(idx, ["a", "b"]).collect()}
    assert got2 == {2: (2, 0)}
    got3 = {r.doc_id: (r.n_matches, r.first_pos)
            for r in search_ops.phrase_search(idx, ["a", "b", "c"]).collect()}
    assert got3 == {2: (1, 0)}
    # single-term phrase degenerates to the postings
    got4 = {r.doc_id: r.n_matches
            for r in search_ops.phrase_search(idx, ["z"]).collect()}
    assert got4 == {1: 1, 3: 1}


# ------------------------------------------------------------ binary quant

from renkodf_spark.operators.similarity import (  # noqa: E402
    binary_quantize,
    hamming_topk,
)


def test_binary_quantize_known_words(spark):
    # dims 0..31 -> word 0, dims 32..63 -> word 1; set bits 0, 2 in
    # word 0 and bit 31 in word 1 (the sign-bit-safe top of the word)
    vec = [-1.0] * 64
    vec[0] = 1.0
    vec[2] = 0.0   # >= 0 counts as set
    vec[63] = 5.0
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<double>")
    out = binary_quantize(df, dim=64).collect()[0]
    assert out.words == [1 + 4, 1 << 31]


def test_binary_quantize_validates(spark):
    df = spark.createDataFrame([(1, [0.0] * 48)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="multiple of 32"):
        binary_quantize(df, dim=48)


def test_hamming_topk_matches_python(spark):
    import random

    rng = random.Random(11)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    codes = binary_quantize(df, dim=64)
    got = hamming_topk(codes, codes.filter(F.col("vec_id") < 3), k=4).collect()

    def pack(v):
        return [
            sum(1 << j for j in range(32) if v[w * 32 + j] >= 0)
            for w in range(2)
        ]

    packed = {i: pack(v) for i, v in vecs}
    import itertools

    want = []
    for qid in range(3):
        dists = sorted(
            (
                (sum(bin(a ^ b).count("1") for a, b in zip(packed[qid], packed[nid])), nid)
                for nid in packed
                if nid != qid
            ),
        )
        for rank, (d, nid) in enumerate(dists[:4], start=1):
            want.append((qid, nid, rank, d))
    assert sorted((r.query_id, r.neighbor_id, r.rank, r.hamming) for r in got) == sorted(want)


# ------------------------------------------------------------ profiling

from renkodf_spark.operators.profile import profile_table  # noqa: E402


def test_profile_table_small(spark):
    df = spark.createDataFrame(
        [
            (1, 2.5, "ab", datetime(2024, 1, 1)),
            (2, None, "c", datetime(2024, 1, 2)),
            (2, 7.5, None, None),
        ],
        "k long, v double, s string, ts timestamp",
    )
    out = {r.column: r for r in profile_table(df).collect()}
    assert set(out) == {"k", "v", "s", "ts"}
    k = out["k"]
    assert (k.n_rows, k.n_nulls, k.n_distinct) == (3, 0, 2)
    assert (k.numeric_min, k.numeric_max) == (1.0, 2.0)
    v = out["v"]
    assert (v.n_nulls, v.n_distinct, v.numeric_avg) == (1, 2, 5.0)
    s = out["s"]
    assert (s.str_min, s.str_max, s.avg_len) == ("ab", "c", 1.5)
    assert s.numeric_min is None
    ts = out["ts"]
    assert ts.ts_min_us == int(datetime(2024, 1, 1).timestamp() * 0) + 1704067200000000
    assert ts.n_nulls == 1


def test_profile_single_pass_plan(spark):
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    prof = profile_table(df)
    prof.collect()
    plan = prof._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    # one logical pass: no join nodes, no repeated scans
    assert "Join" not in plan


def test_profile_validates(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="non-empty"):
        profile_table(df, [])


# ------------------------------------------------------------ persisted index

def test_indexed_search_parity_and_pruning(spark, tmp_path):
    from renkodf_spark.operators.search import (
        build_inverted_index,
        phrase_search,
        phrase_search_indexed,
        read_postings,
        search_all_terms,
        search_all_terms_indexed,
        write_inverted_index,
    )

    docs = _docs(spark)
    idx = build_inverted_index(docs)
    path = str(tmp_path / "invidx")
    write_inverted_index(idx, path, n_buckets=16)

    # AND-query parity
    got = sorted(
        r.doc_id for r in search_all_terms_indexed(spark, path, ["x", "y"]).collect()
    )
    want = sorted(r.doc_id for r in search_all_terms(idx, ["x", "y"]).collect())
    assert got == want

    # phrase parity (repeated-term phrase included)
    gp = sorted(
        map(tuple, phrase_search_indexed(spark, path, ["x", "x"]).collect())
    )
    wp = sorted(map(tuple, phrase_search(idx, ["x", "x"]).collect()))
    assert gp == wp

    # static partition pruning: the scan's PartitionFilters carries the
    # tb IN (...) literals and no dynamic-pruning subquery is needed
    scan = read_postings(spark, path, ["x"])
    scan.collect()
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tb" in plan
    assert "dynamicpruning" not in plan

    # and the pruned scan really reads fewer partitions than exist
    from renkodf_spark.operators.search import _term_bucket_py

    import os as _os

    n_dirs = len(
        [d for d in _os.listdir(path + "/postings") if d.startswith("tb=")]
    )
    assert n_dirs > 1  # the gate below is meaningful
    rows = scan.select("term").distinct().collect()
    assert {r.term for r in rows} == {"x"}


def test_indexed_reader_honors_stored_meta(spark, tmp_path):
    from renkodf_spark.operators.search import (
        build_inverted_index,
        read_postings,
        write_inverted_index,
    )

    idx = build_inverted_index(_docs(spark))
    path = str(tmp_path / "invidx2")
    write_inverted_index(idx, path, n_buckets=3)  # non-default
    # reader derives bucket ids from the sidecar, not its own default
    got = {(r.term, r.doc_id) for r in read_postings(spark, path, ["b"]).collect()}
    assert got == {("b", 2), ("b", 4)}


# ------------------------------------------------------------ merge into

from renkodf_spark.operators.snapshot import merge_into  # noqa: E402


def test_merge_into_update_insert_delete(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (None, "n")], "k long, v string"
    )
    source = spark.createDataFrame(
        [
            (2, "B", False),     # update
            (4, "d", False),     # insert
            (3, None, True),     # delete existing
            (99, "x", True),     # delete of missing key -> no-op
            (None, "N", False),  # null-key update (null-safe match)
        ],
        "k long, v string, del boolean",
    )
    out = merge_into(target, source, keys=["k"], delete_col="del")
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "a", 2: "B", 4: "d", None: "N"}


def test_merge_into_without_delete_col(spark):
    target = spark.createDataFrame([(1, 10)], "k long, v long")
    source = spark.createDataFrame([(1, 20), (2, 30)], "k long, v long")
    out = merge_into(target, source, keys=["k"])
    assert {(r.k, r.v) for r in out.collect()} == {(1, 20), (2, 30)}


def test_merge_into_validates_schema(spark):
    target = spark.createDataFrame([(1, 10)], "k long, v long")
    source = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="missing target columns"):
        merge_into(target, source, keys=["k"])


# ------------------------------------------------------------ BM25

def test_bm25_matches_python_reference(spark):
    import math

    from renkodf_spark.operators.search import bm25_topk, build_inverted_index

    docs = _docs(spark)
    idx = build_inverted_index(docs)
    got = {r.doc_id: (r.score_micros, r.rank)
           for r in bm25_topk(idx, ["x", "b"], k=10).collect()}

    corpus = {1: "x x x y z".split(), 2: "a b c a b".split(),
              3: "z y x".split(), 4: ["b"]}
    N = len(corpus)
    total = sum(len(t) for t in corpus.values())
    want = {}
    for d, toks in corpus.items():
        score = 0
        for t in ("x", "b"):
            tf = toks.count(t)
            if not tf:
                continue
            df = sum(1 for tt in corpus.values() if t in tt)
            idf = math.log(1.0 + (N - df + 0.5) / (df + 0.5))
            denom = tf + 1.2 * (1 - 0.75 + 0.75 * len(toks) * N / total)
            # Spark ROUND is HALF_UP on positive values
            from decimal import Decimal, ROUND_HALF_UP
            score += int(Decimal(idf * tf * 2.2 / denom * 1e6)
                         .quantize(Decimal("1"), rounding=ROUND_HALF_UP))
        if score:
            want[d] = score
    ranks = {d: r for r, (d, s) in enumerate(
        sorted(want.items(), key=lambda kv: (-kv[1], kv[0])), start=1)}
    assert got == {d: (want[d], ranks[d]) for d in want}


def test_bm25_validates(spark):
    from renkodf_spark.operators.search import bm25_topk, build_inverted_index

    idx = build_inverted_index(_docs(spark))
    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(idx, [])
    with pytest.raises(ValueError, match="k must"):
        bm25_topk(idx, ["x"], k=0)


def test_bm25_indexed_parity_and_pruning(spark, tmp_path):
    from renkodf_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        build_inverted_index,
        write_search_index,
    )

    idx = build_inverted_index(_docs(spark))
    path = str(tmp_path / "searchidx")
    write_search_index(idx, path, n_buckets=16)

    got = sorted(map(tuple, bm25_topk_indexed(spark, path, ["x", "b"], k=10).collect()))
    want = sorted(map(tuple, bm25_topk(idx, ["x", "b"], k=10).collect()))
    assert got == want  # identical scores, ranks, micros

    # the postings scan is statically pruned to the query terms' buckets
    from renkodf_spark.operators.search import read_postings

    scan = read_postings(spark, path, ["x", "b"])
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dynamicpruning" not in plan


# ------------------------------------------------ query likelihood

def test_ql_matches_python_reference(spark):
    import math
    from decimal import Decimal, ROUND_HALF_UP

    from renkodf_spark.operators.search import build_inverted_index, ql_topk

    def r6(x):
        # Spark/DuckDB ROUND: half away from zero on either sign
        return int(Decimal(x).quantize(Decimal("1"), rounding=ROUND_HALF_UP))

    docs = _docs(spark)
    idx = build_inverted_index(docs)
    got = {r.doc_id: (r.score_micros, r.rank)
           for r in ql_topk(idx, ["x", "b"], k=10, mu=7).collect()}

    corpus = {1: "x x x y z".split(), 2: "a b c a b".split(),
              3: "z y x".split(), 4: ["b"]}
    total = sum(len(t) for t in corpus.values())
    cf = {t: sum(toks.count(t) for toks in corpus.values()) for t in ("x", "b")}
    want = {}
    for d, toks in corpus.items():
        match = 0
        hit = False
        for t in ("x", "b"):
            tf = toks.count(t)
            if not tf:
                continue
            hit = True
            match += r6(math.log(1.0 + tf * total / (7.0 * cf[t])) * 1e6)
        if not hit:
            continue  # docs with no query term are not ranked
        prior = r6(2.0 * math.log(7.0 / (len(toks) + 7.0)) * 1e6)
        want[d] = match + prior
    ranks = {d: r for r, (d, s) in enumerate(
        sorted(want.items(), key=lambda kv: (-kv[1], kv[0])), start=1)}
    assert got == {d: (want[d], ranks[d]) for d in want}


def test_ql_validates(spark):
    from renkodf_spark.operators.search import build_inverted_index, ql_topk

    idx = build_inverted_index(_docs(spark))
    with pytest.raises(ValueError, match="non-empty"):
        ql_topk(idx, [])
    with pytest.raises(ValueError, match="k must"):
        ql_topk(idx, ["x"], k=0)
    with pytest.raises(ValueError, match="mu must"):
        ql_topk(idx, ["x"], mu=0)


def test_ql_length_prior_prefers_shorter_doc_at_equal_tf(spark):
    """Two docs with identical query-term tf: Dirichlet's length prior
    must rank the shorter one first (less smoothing mass spent)."""
    from renkodf_spark.operators.search import build_inverted_index, ql_topk

    docs = spark.createDataFrame(
        [(1, "q filler filler filler filler"), (2, "q filler")],
        "doc_id long, text string",
    )
    idx = build_inverted_index(docs)
    out = {r.doc_id: r.rank for r in ql_topk(idx, ["q"], k=10).collect()}
    assert out[2] == 1 and out[1] == 2


def test_ql_indexed_parity(spark, tmp_path):
    """ql_topk_indexed == ql_topk exactly: the persisted stats tables
    plus per-term cf from the pruned postings reproduce every micro."""
    from renkodf_spark.operators.search import (
        build_inverted_index,
        ql_topk,
        ql_topk_indexed,
        write_search_index,
    )

    idx = build_inverted_index(_docs(spark))
    path = str(tmp_path / "qlidx")
    write_search_index(idx, path, n_buckets=16)

    got = sorted(map(tuple, ql_topk_indexed(spark, path, ["x", "b"], k=10, mu=7).collect()))
    want = sorted(map(tuple, ql_topk(idx, ["x", "b"], k=10, mu=7).collect()))
    assert got == want


@pytest.mark.parametrize("ranker", ["bm25", "ql"])
def test_ranked_search_equals_indexed_twin_through_ties(spark, tmp_path, ranker):
    """bm25_topk / ql_topk and their ``_indexed`` twins share one scorer:
    equal rows on a corpus whose top-k cut runs through a score tie,
    with a repeated and an absent query term."""
    from renkodf_spark.operators import search

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "b a"), (4, "c c c a"), (5, "d"), (6, "a b")],
        "doc_id long, text string",
    )
    idx = search.build_inverted_index(docs)
    path = str(tmp_path / "twin")
    search.write_search_index(idx, path, n_buckets=4)
    terms = ["b", "a", "b", "nosuch"]
    mem = getattr(search, f"{ranker}_topk")(idx, terms, k=3)
    disk = getattr(search, f"{ranker}_topk_indexed")(spark, path, terms, k=3)
    got, want = sorted(map(tuple, disk.collect())), sorted(map(tuple, mem.collect()))
    assert got == want
    # (doc_id, score_micros, rank) in rank order: scores fall, ties to the smaller id
    ranked = sorted(want, key=lambda r: r[2])
    assert [r[2] for r in ranked] == [1, 2, 3]
    assert ranked == sorted(ranked, key=lambda r: (-r[1], r[0]))
    # docs 2, 3 and 6 hold the same two terms at the same length: one score
    scores = {r[0]: r[1] for r in mem.unionByName(
        getattr(search, f"{ranker}_topk")(idx, terms, k=6)).collect()}
    assert scores[2] == scores[3] == scores[6]
