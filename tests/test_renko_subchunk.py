"""Skew-aware sub-chunking (renko_subchunk) must keep renko_chunked
bit-identical to the one-shot renko() in every regime:

- dyadic-exact FP arithmetic (the speculative splice path: bitwise
  state convergence fires and most chunk scans run in parallel),
- non-dyadic bricks (convergence can never be verified bitwise — the
  repair pass must fall back to serial rescans and stay exact),
- sparse/vectorized regimes, warm multi-window boundaries, duplicate
  timestamps at the window head, drop_first=False, and the quantile
  boundary-tie case where sub-chunk 0 is empty (cold start lands in a
  later chunk).

The reference's warm-start splice contract (test_ws_ext.py:39-58)
forgives one splice bar; these tests are stricter — full state crosses
every splice, so equality is exact on all 21 columns.
"""

import numpy as np
import pandas as pd
import pytest

from renkodf_spark.operators.renko import renko
from renkodf_spark.operators.renko_chunked import renko_chunked


def _assert_bitexact(oneshot, chunked, label=""):
    assert len(oneshot) == len(chunked), (
        f"{label}: rows {len(oneshot)} != {len(chunked)}"
    )
    for col in oneshot.columns:
        np.testing.assert_array_equal(
            oneshot[col].to_numpy(), chunked[col].to_numpy(), err_msg=f"{label}:{col}"
        )


def _dense_ticks(n_hot=12000, n_cold=1500, seed=7, decimals=2, scale=50.0):
    """Bench-like regime: jumpy 2-decimal prices (exact-integer grid
    levels at brick 5.0 -> speculative convergence fires)."""
    rng = np.random.RandomState(seed)
    t0 = pd.Timestamp("2024-01-01")
    frames = []
    for sym, k in (("HOT", n_hot), ("S1", n_cold)):
        times = t0 + pd.to_timedelta(np.sort(rng.randint(0, 900_000, size=k)), unit="s")
        prices = np.round(rng.exponential(scale, size=k), decimals)
        frames.append(
            pd.DataFrame(
                {"symbol": sym, "event_time": times.astype("datetime64[us]"), "close": prices}
            )
        )
    return pd.concat(frames, ignore_index=True)


def test_subchunk_dense_converges_bitexact(spark):
    ticks = spark.createDataFrame(_dense_ticks())
    oneshot = renko(ticks, 5.0).orderBy("symbol", "brick_seq").toPandas()
    inst: dict = {}
    chunked = (
        renko_chunked(
            ticks, 5.0, window="2 days", subchunk_threshold=2000, subchunk_target=800,
            instrument=inst,
        )
        .orderBy("symbol", "brick_seq")
        .toPandas()
    )
    _assert_bitexact(oneshot, chunked, "dense")
    hot = [w["hot"] for w in inst["windows"] if "hot" in w]
    assert hot, "low threshold must trigger the sub-chunk path"
    conv = sum(h["converged"] for h in hot)
    fb = sum(h["fallback"] for h in hot)
    # exact-arithmetic regime: the splice must fire, not the fallback
    assert conv > 0 and fb == 0, (conv, fb)
    # 100 TB posture: repairs must be prefix-sized, not chunk-sized —
    # every boundary resolved within the first block of 1024 ticks
    assert all(h["repair_ticks"] <= 1024 * (h["converged"] + h["fallback"]) for h in hot)


def test_subchunk_nondyadic_brick_bitexact(spark):
    """brick=0.7: grid levels accumulate FP error path-dependently, so
    bitwise convergence is no longer guaranteed — whichever way each
    boundary resolves (a genuine bit-coincidence splice is still exact
    by construction, otherwise the serial rescan), the result must
    match one-shot on every column."""
    ticks = spark.createDataFrame(_dense_ticks(n_hot=6000, n_cold=800, scale=3.0))
    oneshot = renko(ticks, 0.7).orderBy("symbol", "brick_seq").toPandas()
    inst: dict = {}
    chunked = (
        renko_chunked(
            ticks, 0.7, window="2 days", subchunk_threshold=500, subchunk_target=250,
            instrument=inst,
        )
        .orderBy("symbol", "brick_seq")
        .toPandas()
    )
    _assert_bitexact(oneshot, chunked, "nondyadic")
    hot = [w["hot"] for w in inst["windows"] if "hot" in w]
    assert hot and sum(h["converged"] + h["fallback"] for h in hot) > 0


def test_subchunk_quiet_chunks_force_fallback(spark):
    """A drift so slow that most speculative chunks emit nothing leaves
    the repair pass no sync horizon: it must take the serial-fallback
    branch (counted in the instrumentation) and stay bit-exact."""
    rng = np.random.RandomState(3)
    k = 4000
    t0 = pd.Timestamp("2024-01-01")
    times = t0 + pd.to_timedelta(np.arange(k) * 7, unit="s")
    prices = np.round(100.0 + np.cumsum(rng.normal(0.002, 0.01, size=k)), 4)
    pdf = pd.DataFrame(
        {"symbol": "HOT", "event_time": times.astype("datetime64[us]"), "close": prices}
    )
    ticks = spark.createDataFrame(pdf)
    oneshot = renko(ticks, 1.0).orderBy("brick_seq").toPandas()
    inst: dict = {}
    chunked = (
        renko_chunked(
            ticks, 1.0, window="12 hours", subchunk_threshold=800, subchunk_target=200,
            instrument=inst,
        )
        .orderBy("brick_seq")
        .toPandas()
    )
    _assert_bitexact(oneshot, chunked, "quiet")
    hot = [w["hot"] for w in inst["windows"] if "hot" in w]
    assert hot and sum(h["fallback"] for h in hot) > 0


def test_subchunk_sparse_random_walk(spark):
    """Low emission density (vectorized skip-scan regime) with a dyadic
    brick: convergence still verified on the exact lattice."""
    rng = np.random.RandomState(11)
    k = 20000
    t0 = pd.Timestamp("2024-01-01")
    times = t0 + pd.to_timedelta(np.arange(k), unit="s")
    # random walk with steps << brick: ~1 emission per hundreds of ticks
    prices = np.round(100.0 + np.cumsum(rng.normal(0, 0.02, size=k)), 2)
    pdf = pd.DataFrame(
        {"symbol": "HOT", "event_time": times.astype("datetime64[us]"), "close": prices}
    )
    ticks = spark.createDataFrame(pdf)
    oneshot = renko(ticks, 0.25).orderBy("brick_seq").toPandas()
    chunked = (
        renko_chunked(
            ticks, 0.25, window="2 hours", subchunk_threshold=3000, subchunk_target=1200
        )
        .orderBy("brick_seq")
        .toPandas()
    )
    _assert_bitexact(oneshot, chunked, "sparse")


def test_subchunk_sparse_repair_spans_blocks(spark):
    """Sparse hot symbol (eighth-point walk, ~1 brick per 2,000 ticks,
    rare multi-brick jumps) whose repair scans do not converge in their
    first block: later blocks append to the output buffers the previous
    block's sync read looked at, which once raised BufferError."""
    rng = np.random.default_rng(1)
    k = 40000
    steps = np.rint(rng.normal(0.0, 0.6, k))
    jumps = rng.random(k) < 2e-4
    steps[jumps] += rng.choice([-1, 1], jumps.sum()) * 128
    steps[0] = 0
    prices = (272_000 + np.cumsum(steps)) * 0.125
    times = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.arange(k), unit="s")
    pdf = pd.DataFrame(
        {"symbol": "HOT", "event_time": times.astype("datetime64[us]"), "close": prices}
    )
    ticks = spark.createDataFrame(pdf)
    oneshot = renko(ticks, 4.0).orderBy("brick_seq").toPandas()
    inst: dict = {}
    chunked = (
        renko_chunked(
            ticks, 4.0, window="1 day", subchunk_threshold=10_000, subchunk_target=5_000,
            instrument=inst,
        )
        .orderBy("brick_seq")
        .toPandas()
    )
    _assert_bitexact(oneshot, chunked, "sparse-blocks")
    (hot,) = [w["hot"] for w in inst["windows"] if "hot" in w]
    # more repair ticks than one 1,024-tick block per repaired chunk
    assert hot["repair_ticks"] > (hot["chunks"] - 1) * 1024


def test_subchunk_multi_window_warm_state(spark):
    """Hot in several consecutive windows: the repair pass's final state
    must chain across windows exactly (seq, wick, volume, tick offsets)."""
    ticks = spark.createDataFrame(_dense_ticks(n_hot=9000, n_cold=900, seed=23))
    oneshot = renko(ticks, 5.0).orderBy("symbol", "brick_seq").toPandas()
    chunked = (
        renko_chunked(
            ticks, 5.0, window="1 day", subchunk_threshold=1000, subchunk_target=500
        )
        .orderBy("symbol", "brick_seq")
        .toPandas()
    )
    _assert_bitexact(oneshot, chunked, "multiwindow")


def test_subchunk_duplicate_head_timestamps_and_drop(spark):
    """A third of all ticks share the very first timestamp (quantile
    boundaries tie at the minimum -> sub-chunk 0 can be empty and the
    cold start lands in a later chunk); the first-brick label drop run
    must still match one-shot exactly."""
    rng = np.random.RandomState(5)
    k = 6000
    t0 = pd.Timestamp("2024-01-01")
    head = np.full(k // 3, 0)
    tail = np.sort(rng.randint(1, 200_000, size=k - k // 3))
    times = t0 + pd.to_timedelta(np.concatenate([head, tail]), unit="s")
    prices = np.round(rng.exponential(40.0, size=k), 2)
    pdf = pd.DataFrame(
        {"symbol": "HOT", "event_time": times.astype("datetime64[us]"), "close": prices}
    )
    ticks = spark.createDataFrame(pdf)
    oneshot = renko(ticks, 5.0).orderBy("brick_seq").toPandas()
    chunked = (
        renko_chunked(
            ticks, 5.0, window="7 days", subchunk_threshold=1000, subchunk_target=400
        )
        .orderBy("brick_seq")
        .toPandas()
    )
    _assert_bitexact(oneshot, chunked, "dup-head")


def test_subchunk_drop_first_false(spark):
    ticks = spark.createDataFrame(_dense_ticks(n_hot=5000, n_cold=500, seed=31))
    oneshot = renko(ticks, 5.0, drop_first=False).orderBy("symbol", "brick_seq").toPandas()
    chunked = (
        renko_chunked(
            ticks, 5.0, window="2 days", drop_first=False,
            subchunk_threshold=1000, subchunk_target=500,
        )
        .orderBy("symbol", "brick_seq")
        .toPandas()
    )
    _assert_bitexact(oneshot, chunked, "nodrop")


def test_subchunk_boundary_property_fuzz(spark):
    """Seeded sweep over brick sizes (dyadic AND non-dyadic), cadences,
    gaps and window widths with sub-chunking forced on — the chunked
    result must equal one-shot on the full wide schema every time."""
    rng = np.random.RandomState(20260815)
    t0 = pd.Timestamp("2024-01-01")
    failures = []
    for case in range(14):
        brick = float(
            [0.25, 0.5, 1.0, 2.0, 0.1, 0.3, 0.7, 1.3][int(rng.randint(0, 8))]
        )
        k = int(rng.randint(1500, 3500))
        steps = rng.randint(1, 20, size=k).cumsum()
        window_s = max(int(steps[-1]) // int(rng.randint(2, 5)), 30)
        price = float(rng.uniform(50, 150))
        prices = []
        for i in range(k):
            if rng.rand() < 0.08:
                price += float(rng.uniform(-8, 8)) * brick
            else:
                price += float(rng.normal(0, 0.7)) * brick
            price = max(price, brick)
            prices.append(round(price, 6))
        pdf = pd.DataFrame(
            {
                "symbol": "HOT",
                "event_time": (t0 + pd.to_timedelta(steps, unit="s")).astype(
                    "datetime64[us]"
                ),
                "close": prices,
            }
        )
        ticks = spark.createDataFrame(pdf)
        oneshot = renko(ticks, brick).orderBy("brick_seq").toPandas()
        chunked = (
            renko_chunked(
                ticks, brick, window=f"{window_s} seconds",
                subchunk_threshold=400, subchunk_target=150,
            )
            .orderBy("brick_seq")
            .toPandas()
        )
        label = f"case {case}: brick={brick} window={window_s}s n={k}"
        if len(oneshot) != len(chunked):
            failures.append(f"{label}: rows {len(oneshot)} != {len(chunked)}")
            continue
        for col in oneshot.columns:
            if not np.array_equal(oneshot[col].to_numpy(), chunked[col].to_numpy()):
                failures.append(f"{label}: column {col} differs")
                break
    assert not failures, "\n".join(failures)


def test_subchunk_disabled_by_default_on_small_groups(spark):
    """Default thresholds must leave small groups on the single-task
    path (no spec/repair jobs for every tiny symbol)."""
    ticks = spark.createDataFrame(_dense_ticks(n_hot=3000, n_cold=300))
    inst: dict = {}
    renko_chunked(ticks, 5.0, window="2 days", instrument=inst).count()
    assert inst["hot_pairs"] == 0
    assert all("hot" not in w for w in inst["windows"])


def test_subchunk_null_symbol_beside_hot_symbol(spark):
    """A NULL symbol is one group, as in renko(). Its ticks and its carry
    must stay on the window cogroup's side in a window that has a hot
    symbol: a hot test that is NULL for it would drop it from both
    sides."""
    pdf = _dense_ticks(n_hot=6000, n_cold=1500, seed=41)
    pdf.loc[pdf["symbol"] == "S1", "symbol"] = None
    ticks = spark.createDataFrame(pdf, "symbol string, event_time timestamp, close double")
    oneshot = renko(ticks, 5.0).orderBy("symbol", "brick_seq").toPandas()
    inst: dict = {}
    chunked = (
        renko_chunked(
            ticks, 5.0, window="2 days", subchunk_threshold=1000, subchunk_target=400,
            instrument=inst,
        )
        .orderBy("symbol", "brick_seq")
        .toPandas()
    )
    assert oneshot["symbol"].isna().sum() > 0
    assert any("hot" in w for w in inst["windows"])
    _assert_bitexact(oneshot, chunked, "null-symbol")


@pytest.mark.parametrize(
    "counts",
    [
        {"HOT": 3, "S2": 4},  # 7 chunks, 8 shuffle partitions
        {"A": 5, "B": 5, "C": 6},  # 16 chunks over 8
    ],
)
def test_spec_pass_places_whole_chunks_by_slot(spark, counts):
    """The spec pass places chunk k of the i-th hot symbol (sorted) on
    partition (base_i + k) mod P, P = min(chunks, shuffle partitions):
    one (symbol, chunk) per partition while the chunks fit the shuffle
    partitions, and whole chunks spread round-robin beyond that."""
    from pyspark.sql import functions as F

    from renkodf_spark.operators.renko_chunked import _placed_chunks

    t0 = pd.Timestamp("2024-01-01", tz="UTC")
    rows, plans = [], {}
    for sym, n_sub in counts.items():
        times = [(t0 + pd.Timedelta(seconds=i)).to_pydatetime() for i in range(50 * n_sub)]
        rows += [(sym, t, 10.0, i) for i, t in enumerate(times)]
        plans[sym] = [(t0 + pd.Timedelta(seconds=50 * k)).value // 1000 for k in range(1, n_sub)]
    hot = spark.createDataFrame(rows, "symbol string, __time timestamp, __price double, __seq long")
    placed = (
        _placed_chunks(spark, hot, plans)
        .select("symbol", "__sub", F.spark_partition_id().alias("p"))
        .distinct()
        .collect()
    )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_slots = sum(counts.values())
    slots = [(s, k) for s in sorted(counts) for k in range(counts[s])]
    want = [(s, k, i % min(n_slots, n_shuffle)) for i, (s, k) in enumerate(slots)]
    # one row per (symbol, chunk): no chunk is split across partitions
    assert sorted((r["symbol"], r["__sub"], r["p"]) for r in placed) == sorted(want)
