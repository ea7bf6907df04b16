"""The shared Arrow host of the batch Renko paths (operators/renko.py):
the carry <-> Arrow-row protocol and `scan_group` resumption, Spark-free;
then the input guard and persistence setting `renko_chunked` shares with
the rest of the package."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from renkodf_spark.operators.renko import (
    CARRY_COLS,
    KIND_CARRY,
    PACKED_SCHEMA,
    Carry,
    carry_table,
    read_carry,
    renko,
    scan_group,
)
from renkodf_spark.operators.renko_chunked import renko_chunked

UTC = pa.timestamp("us", tz="UTC")


def _ticks(n=6000, seed=3):
    rng = np.random.default_rng(seed)
    times = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 10**9, n)
    ).astype("timedelta64[us]")
    return times, 100.0 + np.cumsum(rng.normal(0, 0.4, n))


@pytest.mark.parametrize(
    "carry",
    [
        # cold: the first range closed no brick yet -> first_ts null
        Carry(100.0, 0, 99.6, 100.7, 5, 1, 0, 5, None),
        # warm: mid-history, tick_open global and behind the offset
        Carry(103.0, -1, 102.1, 103.0, 17, 4_000_123, 812, 4_000_130,
              np.datetime64("2024-01-01T00:00:03.250001", "us")),
    ],
)
@pytest.mark.parametrize("ts_type", [UTC, pa.timestamp("us", tz="America/New_York")])
def test_carry_row_round_trip(carry, ts_type):
    row = carry_table(carry, "SYM", ts_type)
    assert row.num_rows == 1
    assert row.schema.names == list(PACKED_SCHEMA.names)
    assert row.column("__row_kind").to_pylist() == [KIND_CARRY]
    assert row.column("symbol").to_pylist() == ["SYM"]
    assert row.column("brick_seq").null_count == 1  # brick columns null-padded
    assert row.column("__st_first_ts").type == ts_type
    # the stored tick_open is the global index, as given
    assert row.column("__st_tick_open").to_pylist() == [carry.tick_open]
    got = read_carry(row)
    assert got == carry
    assert (got.first_ts is None) == (carry.first_ts is None)
    # a bare carry table (symbol + __st_* only, the cogroup's state side)
    bare = row.select(["symbol", *CARRY_COLS])
    assert read_carry(bare) == carry


def test_carry_read_from_later_row():
    a = Carry(1.0, 1, 1.0, 1.0, 1, 0, 3, 10, None)
    b = Carry(2.0, -1, 1.5, 2.5, 4, 7, 9, 12, np.datetime64(5, "us"))
    tbl = pa.concat_tables([carry_table(a, "A", UTC), carry_table(b, "B", UTC)])
    assert read_carry(tbl, 0) == a
    assert read_carry(tbl, 1) == b


@pytest.mark.parametrize("drop_first", [True, False])
@pytest.mark.parametrize("cuts", [(1,), (2, 3), (777, 778, 4000), (5999,)])
def test_scan_group_resumes_bit_exact(drop_first, cuts):
    """Consecutive ranges chained through carries (each one round-tripped
    through its Arrow row) reproduce one scan over the whole history:
    bricks, global tick indexes, brick_seq, the label drop, the carry."""
    times, prices = _ticks()
    whole, whole_carry = scan_group(times, prices, 1.0, drop_first)
    parts, carry = [], None
    for lo, hi in zip((0, *cuts), (*cuts, len(prices))):
        bricks, carry = scan_group(times[lo:hi], prices[lo:hi], 1.0, drop_first, carry)
        parts.append(bricks)
        assert carry.tick_offset == hi
        carry = read_carry(carry_table(carry, "S", UTC))
    assert carry == whole_carry
    for name, col in whole.items():
        np.testing.assert_array_equal(np.concatenate([p[name] for p in parts]), col, err_msg=name)


def test_scan_group_idle_range_passes_carry_on():
    times, prices = _ticks(500)
    _, carry = scan_group(times, prices, 1.0, True)
    bricks, after = scan_group(times[:0], prices[:0], 1.0, True, carry)
    assert after == carry
    assert all(len(col) == 0 for col in bricks.values())


def test_scan_group_drop_is_a_prefix_slice():
    """A first tick that gaps several bricks: every brick sharing the
    first close time goes, and the survivors are views of the kernel
    output (no mask copy)."""
    times = np.datetime64("2024-01-01", "us") + np.arange(6).astype("timedelta64[s]")
    prices = np.array([10.2, 13.7, 14.2, 14.1, 15.3, 16.4])
    kept, carry = scan_group(times, prices, 1.0, True)
    full, _ = scan_group(times, prices, 1.0, False)
    cut = len(full["close"]) - len(kept["close"])
    assert cut == 3 and carry.first_ts == times[1]
    np.testing.assert_array_equal(kept["close"], full["close"][cut:])
    assert kept["close"].base is not None  # a view, not a copy
    assert kept["brick_seq"].tolist() == list(range(len(kept["close"])))


def _frames_equal(a, b):
    a = a.orderBy("symbol", "brick_seq").toPandas()
    b = b.orderBy("symbol", "brick_seq").toPandas()
    assert len(a) == len(b) > 0
    for col in a.columns:
        np.testing.assert_array_equal(a[col].to_numpy(), b[col].to_numpy(), err_msg=col)


def test_chunked_shares_renko_input_guard(spark):
    """renko_chunked validates and projects like renko(): a table with
    no symbol column is one symbol, a missing price column is the same
    eager ValueError."""
    times = pd.date_range("2024-01-01", periods=40, freq="70s").astype("datetime64[us]")
    prices = [10.0 + ((i * 7) % 11) * 0.8 for i in range(40)]
    ticks = spark.createDataFrame(pd.DataFrame({"event_time": times, "close": prices}))
    _frames_equal(renko(ticks, 1.0), renko_chunked(ticks, 1.0, window="5 minutes"))
    for op in (renko, renko_chunked):
        with pytest.raises(ValueError, match="Column 'price' doesn't exist!"):
            op(ticks, 1.0, price_col="price")


def test_chunked_reliable_session_conf(spark, tmp_path):
    """spark.renkodf.persist.reliable reaches renko_chunked's window
    checkpoints, like every other persist point: they land in the
    checkpoint dir, and the output is unchanged."""
    from tests.test_spark_renko import _multi_symbol_ticks

    ticks = spark.createDataFrame(_multi_symbol_ticks())
    base = renko_chunked(ticks, 1.0, window="2 minutes")
    ckpt = tmp_path / "reliable-ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    spark.conf.set("spark.renkodf.persist.reliable", "true")
    try:
        rel = renko_chunked(ticks, 1.0, window="2 minutes")
        written = [f for _r, _d, fs in os.walk(ckpt) for f in fs]
        assert written, "the session conf did not reach the window checkpoints"
        _frames_equal(base, rel)
    finally:
        spark.conf.unset("spark.renkodf.persist.reliable")
