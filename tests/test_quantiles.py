"""Log-linear quantile sketch (functions/quantiles.py): bucket math,
rank-error guarantee, mergeability, streaming parity."""

import os

import pytest
from pyspark.sql import functions as F

from renkodf_spark.functions import quantiles as Q
from tests.conftest import write_source


def _sketch_dict(df, gcols=("g",)):
    return {
        tuple([*[r[c] for c in gcols], r.e, r.m]): r.cnt for r in df.collect()
    }


def test_bucket_lower_bound_is_tight(spark):
    """For every v in a range spanning the e < b and e >= b regimes:
    v's bucket floor <= v, and floor(v) shares v's bucket (the floor is
    IN the bucket — the estimate the sketch returns is attainable)."""
    vals = list(range(0, 600)) + [2**40 + o for o in range(-3, 4)] + [2**62 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    e, m = Q.bucket_exprs("v", 64)
    buck = df.select("v", e, m).withColumn("lo", Q.bucket_floor_expr(64))
    rows = buck.collect()
    for r in rows:
        assert r.lo <= r.v, (r.v, r.lo)
    # the floor value itself must map to the same bucket
    lo_df = spark.createDataFrame([(r.lo,) for r in rows], "v long").select("v", e, m)
    lo_bucket = {(r.v): (r.e, r.m) for r in lo_df.collect()}
    for r in rows:
        assert lo_bucket[r.lo] == (r.e, r.m), (r.v, r.lo)


def test_relative_error_bound(spark):
    """est <= v* and (v* - est) * k <= 2^e + k — the 1/k relative-error
    guarantee (+1 integer-ceil slack) on a skewed value set."""
    k = 64
    vals = [(i * i * 7919) % 1_000_003 + 1 for i in range(5000)]
    df = spark.createDataFrame([("x", v) for v in vals], "g string, v long")
    sk = Q.quantile_sketch(df, "g", "v", k=k)
    est = {r.q_permille: (r.est, r.r) for r in Q.sketch_quantiles(sk, "g", [(1, 2), (99, 100)], k=k).collect()}
    sv = sorted(vals)
    for qp, (e_, r_) in est.items():
        v_star = sv[r_ - 1]
        assert e_ <= v_star
        assert (v_star - e_) * k <= v_star + k  # relative error <= 1/k (+ceil slack)


def test_merge_equals_direct(spark):
    """Merging finer sketches == sketching directly (counts are
    additive): the mergeability contract."""
    rows = [("a", "u", i % 97 + 1) for i in range(500)] + [
        ("a", "w", (i * 13) % 1009 + 1) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, s string, v long")
    fine = Q.quantile_sketch(df, ["g", "s"], "v", k=32)
    merged = _sketch_dict(Q.merge_sketches(fine, "g"))
    direct = _sketch_dict(Q.quantile_sketch(df, "g", "v", k=32))
    assert merged == direct


def test_zero_bucket_exact(spark):
    df = spark.createDataFrame([("z", 0)] * 5 + [("z", 3)], "g string, v long")
    sk = Q.quantile_sketch(df, "g", "v", k=16)
    d = _sketch_dict(sk)
    assert d[("z", -1, 0)] == 5
    est = Q.sketch_quantiles(sk, "g", [(1, 2)], k=16).collect()[0]
    assert est.est == 0 and est.r == 3


def test_k_validation(spark):
    df = spark.createDataFrame([("a", 1)], "g string, v long")
    for bad in (0, 1, 3, 48, -8):
        with pytest.raises(ValueError, match="power of two"):
            Q.quantile_sketch(df, "g", "v", k=bad)
    with pytest.raises(ValueError, match="permille"):
        Q.sketch_quantiles(Q.quantile_sketch(df, "g", "v"), "g", [(1, 3)])


def test_quantile_sketch_stream_equals_batch(spark, tmp_path):
    """Streaming sketch maintenance: per-trigger deltas fold to the
    exact batch sketch of the concatenated stream, including after a
    compaction crash leaves a delta visible twice."""
    import shutil

    from renkodf_spark.streaming.curation_stream import (
        quantile_sketch_writer,
        read_quantile_sketch,
    )

    schema = "g string, v long"
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [("a", 5), ("a", 130), ("b", 7)],
        [("a", 130), ("b", 100000), ("b", 0)],
        [("a", 2**40), ("b", 7), ("a", 5)],
    ]

    def _w(name, rows):
        write_source(src, name, rows, ["g", "v"])

    _w("b1.parquet", batches[0])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    path = str(tmp_path / "qsk")
    q = (
        stream.writeStream.foreachBatch(
            quantile_sketch_writer(path, "g", "v", k=32, n_buckets=4, compact_every=2)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        _w("b2.parquet", batches[1])
        q.processAllAvailable()
        _w("b3.parquet", batches[2])
        q.processAllAvailable()
    finally:
        q.stop()

    all_rows = spark.createDataFrame(sum(batches, []), schema)
    batch_sk = _sketch_dict(Q.quantile_sketch(all_rows, "g", "v", k=32))
    stream_sk = _sketch_dict(read_quantile_sketch(spark, path, "g"))
    assert stream_sk == batch_sk

    # compaction bound
    gens = [d for d in os.listdir(path) if d.startswith("batch_id=")]
    assert len(gens) <= 3, gens

    # crash absorption: re-expose a compacted-away generation copy
    gens = sorted(d for d in os.listdir(path) if d.startswith("batch_id="))
    shutil.copytree(os.path.join(path, gens[0]), os.path.join(path, "batch_id=97"))
    again = _sketch_dict(read_quantile_sketch(spark, path, "g"))
    assert again == batch_sk

    with pytest.raises(ValueError, match="n_buckets"):
        quantile_sketch_writer(path, "g", "v", n_buckets=0)


def test_sketch_build_plan_shape(spark, sf_dir):
    """The sketch build is counting-only Catalyst: no Python node, one
    shuffle with map-side partial aggregation (partial_count visible
    before the exchange)."""
    from renkodf_spark.plans import plan_summary
    from renkodf_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    s = plan_summary(Q.quantile_sketch(li, "l_returnflag", "cents", k=64))
    assert s.python_nodes == 0
    assert s.exchanges == 1, s.text[:2000]
    assert "partial_count" in s.text


def test_weighted_sketch_matches_python(spark):
    """Weighted sketch: bucket cnt = weight sum; the weighted median
    answers 'half the mass is below' — checked against a pure-Python
    replay on skewed weights."""
    rows = [("g", v, v) for v in [1, 1, 1, 1, 1000]]  # one heavy doc
    df = spark.createDataFrame(rows, "g string, v long, w long")
    sk = Q.quantile_sketch(df, "g", "v", k=32, weight_col="w")
    est = Q.sketch_quantiles(sk, "g", [(1, 2)], k=32).collect()[0]
    # total mass 1004, r = 502: the heavy value's bucket
    assert est.n == 1004 and est.r == 502
    e, m = Q.bucket_exprs("v", 32)
    hv = spark.createDataFrame([(1000,)], "v long").select(e, m).collect()[0]
    lo = (
        spark.createDataFrame([(hv.e, hv.m)], "e int, m long")
        .select(Q.bucket_floor_expr(32))
        .collect()[0][0]
    )
    assert est.est == lo
    # unweighted median of the same rows is the light value
    sk2 = Q.quantile_sketch(df, "g", "v", k=32)
    est2 = Q.sketch_quantiles(sk2, "g", [(1, 2)], k=32).collect()[0]
    assert est2.est == 1


def test_rank_exact_beyond_float53(spark):
    """Weighted-sketch design point: n = total corpus mass can exceed
    2^53 (bytes at 100 TB), where float64 division rounds the rank.
    The rank must come out of pure BIGINT arithmetic — pick an n where
    the float path provably disagrees with integer ceil and pin the
    integer answer."""
    q_num, q_den = 999, 1000
    n = None
    for cand in range(2**53 + 1, 2**53 + 20_000):
        exact = (q_num * cand + q_den - 1) // q_den
        floaty = int((q_num * cand + q_den - 1) / q_den)  # float64 round-trip
        if exact != floaty:
            n = cand
            break
    assert n is not None, "no discriminating n found (unexpected)"
    exact_r = (q_num * n + q_den - 1) // q_den
    # synthetic sketch: one giant low bucket + one unit high bucket
    sk = spark.createDataFrame(
        [("g", 10, 0, n - 1), ("g", 20, 0, 1)], "g string, e int, m long, cnt long"
    )
    row = Q.sketch_quantiles(sk, "g", [(q_num, q_den)], k=64).collect()[0]
    assert row.n == n
    assert row.r == exact_r, f"rank {row.r} != exact {exact_r} (float path?)"
    # r < n-1 so the selected bucket is the giant low one
    assert (row.e, row.m) == (10, 0)


def test_rank_no_overflow_near_bigint_max(spark):
    """q_num * n overflows BIGINT for n near 2^63 under the naive
    formula; the split identity ceil(a*n/d) = a*(n div d) +
    ceil(a*(n mod d)/d) never leaves BIGINT. Pin exactness at
    n = 2^62 + 7 with q = 999/1000 (naive product ~ 4.6e21)."""
    q_num, q_den = 999, 1000
    n = 2**62 + 7
    exact_r = (q_num * n + q_den - 1) // q_den
    sk = spark.createDataFrame(
        [("g", 10, 0, n - 1), ("g", 20, 0, 1)], "g string, e int, m long, cnt long"
    )
    row = Q.sketch_quantiles(sk, "g", [(q_num, q_den)], k=64).collect()[0]
    assert row.n == n and row.r == exact_r


def test_signed_buckets_order_and_floor(spark):
    """Mirrored negative octaves (r13): across a signed value range,
    (e, m) lexicographic order == value order; every bucket floor is
    <= v and maps back into the SAME bucket; positives/zero keep their
    pre-r13 buckets (the non-negative contract is unchanged)."""
    k = 64
    vals = sorted(
        set(
            list(range(-600, 601))
            + [-(2**40) + o for o in range(-3, 4)]
            + [2**40 + o for o in range(-3, 4)]
            + [-(2**62) + 1, 2**62 - 1]
        )
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    e, m = Q.bucket_exprs("v", k)
    rows = df.select("v", e, m).withColumn("lo", Q.bucket_floor_expr(k)).collect()
    by_v = {r.v: r for r in rows}
    # bucket order is monotone in value
    prev = None
    for v in vals:
        cur = (by_v[v].e, by_v[v].m)
        if prev is not None:
            assert cur >= prev, (v, cur, prev)
        prev = cur
    # floor <= v, floor same bucket, and relative error bound
    floors = spark.createDataFrame([(r.lo,) for r in rows], "v long").select("v", e, m).collect()
    floor_bucket = {r.v: (r.e, r.m) for r in floors}
    for r in rows:
        assert r.lo <= r.v, (r.v, r.lo)
        assert floor_bucket[r.lo] == (r.e, r.m), (r.v, r.lo)
        assert (r.v - r.lo) * k <= abs(r.v) + k, (r.v, r.lo)
    # zero + positive buckets identical to the historical convention
    assert (by_v[0].e, by_v[0].m) == (-1, 0)
    assert by_v[5].e == 2 and by_v[1].e == 0


def test_signed_extreme_octave_floor(spark):
    """ADVICE r13: the naive ``1 - hi_u`` floor overflowed BIGINT on the
    extreme negative octave (e = -64, m = 0: hi_u = 2^63). The
    reassociated ``(1 - p) - tail`` chain must floor exactly over the
    whole advertised domain — down to -2^63 + 1 — with floor <= v,
    floor in the same bucket, and agreement with exact Python
    arithmetic. The DuckDB oracle mirror (_SIGNED_FLOOR_SQL) must
    produce the identical floors (it errored outright before)."""
    import duckdb

    from renkodf_spark.queries.pipeline10 import _SIGNED_FLOOR_SQL

    k, b = 64, 6

    def exact_floor(e, m):
        if e == -1:
            return 0
        if e >= 0:
            p = 1 << e
            return p + -((-m * p) // k)
        eu, mu = -e - 2, k - 1 - m
        pu = 1 << eu
        return 1 - (pu + -((-(mu + 1) * pu) // k))

    vals = [
        -(2**63) + 1,                      # most negative supported value
        -(2**62) - 63 * (2**56),           # e=-64, m=0 lower region
        -(2**62) - 63 * (2**56) + 1,
        -(2**62) - 1,                      # first value in the e=-64 octave
        -(2**62),                          # last value of e=-63
        -(2**62) + 1,
        2**62, 2**63 - 1, -1, -2, 0, 1,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    e, m = Q.bucket_exprs("v", k)
    rows = df.select("v", e, m).withColumn("lo", Q.bucket_floor_expr(k)).collect()
    floor_bucket = {
        r.v: (r.e, r.m)
        for r in spark.createDataFrame([(r.lo,) for r in rows], "v long")
        .select("v", *Q.bucket_exprs("v", k))
        .collect()
    }
    for r in rows:
        assert r.lo == exact_floor(r.e, r.m), (r.v, r.lo)
        assert r.lo <= r.v
        assert floor_bucket[r.lo] == (r.e, r.m), (r.v, r.lo)
        # DuckDB oracle floor mirrors the Spark expression bit-exactly
        got = duckdb.sql(
            f"SELECT {_SIGNED_FLOOR_SQL} AS f FROM "
            f"(SELECT CAST({r.e} AS BIGINT) AS e, CAST({r.m} AS BIGINT) AS m)"
        ).fetchone()[0]
        assert got == r.lo, (r.v, got, r.lo)


def test_signed_median_matches_python(spark):
    """Median of mixed-sign micro-nat-like scores: the selected bucket
    must contain the exact order statistic (the bucket_contains_exact
    policy) and est <= v* with |v* - est| <= |v*|/k + 1."""
    k = 64
    vals = [((i * i * 7919) % 2_000_003) - 1_000_001 for i in range(4001)]
    df = spark.createDataFrame([("x", v) for v in vals], "g string, v long")
    sk = Q.quantile_sketch(df, "g", "v", k=k)
    for qn, qd in [(1, 20), (1, 2), (19, 20)]:
        row = Q.sketch_quantiles(sk, "g", [(qn, qd)], k=k).collect()[0]
        v_star = sorted(vals)[row.r - 1]
        assert row.est <= v_star
        assert (v_star - row.est) * k <= abs(v_star) + k, (v_star, row.est)


def test_signed_merge_and_stream_layout_roundtrip(spark):
    """Negative buckets survive merge_sketches (counts additive across
    signed octaves) — merged == direct on mixed-sign data."""
    rows = [("a", "u", (i % 97) - 48) for i in range(400)] + [
        ("a", "w", ((i * 13) % 1009) - 500) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, s string, v long")
    fine = Q.quantile_sketch(df, ["g", "s"], "v", k=32)
    merged = _sketch_dict(Q.merge_sketches(fine, "g"))
    direct = _sketch_dict(Q.quantile_sketch(df, "g", "v", k=32))
    assert merged == direct


def test_signed_stream_equals_batch(spark, tmp_path):
    """The streaming sketch writer inherits the signed domain for free
    (it calls quantile_sketch) — negative micro-nat-like values fold
    across triggers to the exact batch sketch, and sketch_quantiles
    over the folded state matches the batch run."""
    from renkodf_spark.streaming.curation_stream import (
        quantile_sketch_writer,
        read_quantile_sketch,
    )

    schema = "g string, v long"
    batches = [
        [("a", -5), ("a", -130000), ("b", -7)],
        [("a", 130), ("b", -(2**40)), ("b", 0)],
        [("a", -1), ("b", -7), ("a", -999999)],
    ]
    path = str(tmp_path / "qsk_signed")
    w = quantile_sketch_writer(path, "g", "v", k=32, n_buckets=2)
    for i, rows in enumerate(batches):
        w(spark.createDataFrame(rows, schema), i)
    all_rows = spark.createDataFrame(sum(batches, []), schema)
    batch_sk = _sketch_dict(Q.quantile_sketch(all_rows, "g", "v", k=32))
    stream_sk = _sketch_dict(read_quantile_sketch(spark, path, "g"))
    assert stream_sk == batch_sk
    got = {
        (r.g, r.q_permille): (r.n, r.r, r.est)
        for r in Q.sketch_quantiles(
            read_quantile_sketch(spark, path, "g"), "g", [(1, 2)], k=32
        ).collect()
    }
    want = {
        (r.g, r.q_permille): (r.n, r.r, r.est)
        for r in Q.sketch_quantiles(
            Q.quantile_sketch(all_rows, "g", "v", k=32), "g", [(1, 2)], k=32
        ).collect()
    }
    assert got == want and len(got) == 2
