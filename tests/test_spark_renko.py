"""Spark batch operator: distributed renko() == per-symbol pandas kernel;
mode projection; to_rws export; multi-symbol parallelism."""

import numpy as np
import pandas as pd

from renkodf_spark.operators.renko import renko, renko_df, renko_pandas, to_rws
from tests.test_vs_reference import make_ticks


def _multi_symbol_ticks():
    frames = []
    for i, sym in enumerate(["AAA", "BBB", "CCC"]):
        t = make_ticks(seed=20 + i, n=2500)
        t = t.reset_index(drop=True).rename(columns={"datetime": "event_time"})
        t["symbol"] = sym
        frames.append(t)
    return pd.concat(frames, ignore_index=True)


def test_renko_spark_matches_pandas_per_symbol(spark):
    pdf = _multi_symbol_ticks()
    ticks = spark.createDataFrame(pdf)
    wide = renko(ticks, 1.0).orderBy("symbol", "brick_seq").toPandas()
    assert wide["symbol"].nunique() == 3

    for sym in ["AAA", "BBB", "CCC"]:
        local = renko_pandas(
            pdf[pdf["symbol"] == sym].sort_values("event_time", kind="mergesort"), 1.0
        )
        got = wide[wide["symbol"] == sym].reset_index(drop=True)
        assert len(got) == len(local), sym
        assert got["brick_seq"].tolist() == list(range(len(local)))
        for col in local.columns:
            np.testing.assert_array_equal(got[col].to_numpy(), local[col].to_numpy(), err_msg=f"{sym}.{col}")


def test_mode_projection_and_to_rws(spark):
    pdf = _multi_symbol_ticks()
    wide = renko(spark.createDataFrame(pdf), 1.0)
    wicks = renko_df(wide, "wicks")
    assert wicks.columns == [
        "symbol", "brick_seq", "event_time", "open", "high", "low", "close", "volume",
        "direction", "is_reversal", "tick_index_open", "tick_index_close",
    ]
    nongap = renko_df(wide, "nongap", utils_columns=False)
    assert "direction" not in nongap.columns
    # nongap open equals the wide table's nongap_open
    joined = (
        nongap.alias("m")
        .join(wide.alias("w"), ["symbol", "brick_seq"])
        .selectExpr("m.open as got", "w.nongap_open as want")
        .toPandas()
    )
    np.testing.assert_array_equal(joined["got"], joined["want"])

    rws = to_rws(wide, 1.0, use_iloc=-5)
    out = rws.toPandas()
    assert set(["brick_size", "timestamp"]).issubset(out.columns)
    assert "tick_index_open" not in out.columns and "event_time" not in out.columns
    assert (out.groupby("symbol").size() == 5).all()


def test_plan_prunes_unused_variants(spark):
    """Mode projection must prune: the 'wicks' plan should not carry the
    other modes' columns past the kernel boundary."""
    pdf = _multi_symbol_ticks()
    wide = renko(spark.createDataFrame(pdf), 1.0)
    plan = renko_df(wide, "wicks", utils_columns=False)._jdf.queryExecution().optimizedPlan().toString()
    assert "fake_high" not in plan.split("MapInArrow")[0]


def test_renko_mode_pushdown_matches_full_projection(spark):
    from renkodf_spark.operators.renko import renko_mode

    pdf = _multi_symbol_ticks()
    ticks = spark.createDataFrame(pdf)
    full = renko_df(renko(ticks, 1.0), "fake-r-nongap").orderBy("symbol", "brick_seq").toPandas()
    pushed = renko_mode(ticks, 1.0, "fake-r-nongap").orderBy("symbol", "brick_seq").toPandas()
    assert list(full.columns) == list(pushed.columns)
    for col in full.columns:
        np.testing.assert_array_equal(full[col].to_numpy(), pushed[col].to_numpy(), err_msg=col)
    # and the pruned schema really is smaller at the kernel boundary
    slim = renko(ticks, 1.0, value_columns=("close", "volume"))
    assert set(slim.columns) == {"symbol", "brick_seq", "event_time", "close", "volume"}
