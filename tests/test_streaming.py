"""Structured Streaming operator: multi-batch file-source replay must
equal the single-process RenkoLive replay (which is itself bit-equal to
the reference RenkoWS, tests/test_vs_reference.py), including the seed
row, across keys and micro-batch boundaries; warm start resumes from a
to_rws export."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from renkodf_spark.live import RenkoLive
from renkodf_spark.streaming import renko_stream
from renkodf_spark.streaming.renko_stream import _VALUE_COLUMNS
from tests.conftest import write_source
from tests.test_vs_reference import make_ticks

BRICK = 1.0


def _two_symbol_ticks(n=1200):
    frames = []
    for i, sym in enumerate(["AAA", "BBB"]):
        t = make_ticks(seed=40 + i, n=n).reset_index(drop=True)
        t = t.rename(columns={"datetime": "event_time"})
        t["event_time"] = t["event_time"].astype("datetime64[us]")  # parquet µs, not ns
        t["symbol"] = sym
        frames.append(t)
    return pd.concat(frames, ignore_index=True).sort_values("event_time", kind="mergesort")


def _us(col):
    return pd.DatetimeIndex(col).astype("datetime64[us]").asi8


def _live_replay(pdf, sym, brick=BRICK):
    sub = pdf[pdf["symbol"] == sym].sort_values("event_time", kind="mergesort")
    ts = _us(sub["event_time"])
    live = RenkoLive(int(ts[0]), float(sub["close"].iloc[0]), brick_size=brick)
    for t, p in zip(ts[1:], sub["close"].iloc[1:]):
        live.add_prices(int(t), float(p))
    return live


def _run_stream(spark, tmpdir, pdf, n_files=4, initial_state=None, brick=BRICK):
    src = os.path.join(tmpdir, "src")
    os.makedirs(src, exist_ok=True)
    # chronological file split -> deterministic multi-batch replay
    bounds = np.array_split(np.arange(len(pdf)), n_files)
    for i, idx in enumerate(bounds):
        write_source(src, f"part-{i:04d}.parquet", pdf.iloc[idx], mtime=1e9 + i)

    schema = spark.createDataFrame(pdf.head(2)).schema
    ticks = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    bricks = renko_stream(ticks, brick, initial_state=initial_state)
    q = (
        bricks.writeStream.outputMode("append")
        .format("memory")
        .queryName("renko_out")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    out = spark.sql("SELECT * FROM renko_out").toPandas()
    q.stop()
    return out.sort_values(["symbol", "brick_seq"]).reset_index(drop=True)


def test_stream_matches_live_replay(spark, tmp_path):
    pdf = _two_symbol_ticks()
    out = _run_stream(spark, str(tmp_path), pdf, n_files=4)

    assert set(out["symbol"]) == {"AAA", "BBB"}
    for sym in ["AAA", "BBB"]:
        live = _live_replay(pdf, sym)
        want = live._wide_frame().reset_index(drop=True)
        got = out[out["symbol"] == sym].reset_index(drop=True)
        assert len(got) == len(want), sym
        assert got["brick_seq"].tolist() == list(range(len(want)))
        np.testing.assert_array_equal(
            _us(got["event_time"]), want["timestamp"].to_numpy(), err_msg=f"{sym}.ts"
        )
        for col in ["open", "high", "low", "close", "volume", "direction", "is_reversal",
                    "normal_high", "nongap_open", "reverse_high", "fake_low"]:
            np.testing.assert_array_equal(got[col].to_numpy(), want[col].to_numpy(), err_msg=f"{sym}.{col}")


def test_stream_warm_start_resumes(spark, tmp_path):
    from renkodf_spark.operators.renko import renko, to_rws

    pdf = _two_symbol_ticks()
    split_t = pdf["event_time"].quantile(0.6)
    head = pdf[pdf["event_time"] <= split_t]
    tail = pdf[pdf["event_time"] > split_t]

    wide = renko(spark.createDataFrame(head), BRICK, drop_first=False)
    export = to_rws(wide, BRICK).toPandas()

    out = _run_stream(spark, str(tmp_path), tail, n_files=2, initial_state=export)

    # warm-started stream must continue exactly like a RenkoLive warm start
    for sym in ["AAA", "BBB"]:
        ext = export[export["symbol"] == sym].sort_values("brick_seq")
        live = RenkoLive(external_df=ext.drop(columns=["symbol", "brick_seq"]), ts_unit="us")
        sub = tail[tail["symbol"] == sym].sort_values("event_time", kind="mergesort")
        ts = _us(sub["event_time"])
        for t, p in zip(ts, sub["close"]):
            live.add_prices(int(t), float(p))
        want = live._wide_frame().reset_index(drop=True).iloc[len(ext):]  # new bricks only
        got = out[out["symbol"] == sym].reset_index(drop=True)
        assert len(got) == len(want), sym
        assert got["brick_seq"].iloc[0] == ext["brick_seq"].max() + 1
        for col in ["open", "high", "low", "close", "volume", "direction", "is_reversal"]:
            np.testing.assert_array_equal(got[col].to_numpy(), want[col].to_numpy(), err_msg=f"{sym}.{col}")


def test_stream_validation():
    with pytest.raises(ValueError):
        renko_stream(None, 0)


def test_stream_many_symbols(spark, tmp_path):
    """State-store scaling smoke: 40 keys in one stream, each resumes
    correctly across micro-batches."""
    import os

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(17)
    frames = []
    for i in range(40):
        n = 80
        t = pd.date_range("2024-01-01", periods=n, freq="1s").astype("datetime64[us]")
        frames.append(
            pd.DataFrame(
                {
                    "symbol": f"S{i:03d}",
                    "event_time": t,
                    "close": 100 + np.cumsum(rng.normal(0, 0.8, n)),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True).sort_values("event_time", kind="mergesort")
    out = _run_stream(spark, str(tmp_path), pdf, n_files=3)
    assert out["symbol"].nunique() == 40
    for sym in ["S000", "S017", "S039"]:
        live = _live_replay(pdf, sym)
        want = live._wide_frame().reset_index(drop=True)
        got = out[out["symbol"] == sym].reset_index(drop=True)
        assert len(got) == len(want), sym
        np.testing.assert_array_equal(got["close"].to_numpy(), want["close"].to_numpy(), err_msg=sym)


def _old_batch_frame(symbol, seq, head, out):
    """The frame-concat build the operator used before `_batch_frame`."""
    from renkodf_spark.kernel import output_arrays
    from renkodf_spark.streaming.renko_stream import _OUT_COLUMNS, _VALUE_COLUMNS

    arrs = output_arrays(out)
    n = len(out["event_time"])
    frame = {"symbol": symbol, "brick_seq": range(seq, seq + n), "event_time": out["event_time"]}
    for c in _VALUE_COLUMNS:
        frame[c] = arrs[c]
    res = pd.DataFrame(frame)
    if head is not None:
        row = {"symbol": symbol, "brick_seq": seq - 1, "event_time": head["event_time"],
               **{c: head[c] for c in _VALUE_COLUMNS}}
        res = pd.concat([pd.DataFrame([row]), res], ignore_index=True)
    return res[_OUT_COLUMNS]


def _cold_batch(prices, unit):
    """A cold-start symbol's first micro-batch: the (seed row, kernel
    output) the old build framed, and the operator's `_scan_batch`
    result."""
    from renkodf_spark.kernel import grid_anchor, new_output, scan_ticks, seed_row
    from renkodf_spark.streaming.renko_stream import _scan_batch

    times = np.datetime64("2024-01-01T00:00:00", unit) + np.arange(len(prices)) * np.timedelta64(1, "s")
    anchor = grid_anchor(prices[0], BRICK)
    out = new_output()
    scan_ticks(times, prices, 1, BRICK, [anchor, 1, anchor, anchor, 1, 0], out)
    events = pd.DataFrame({"__time": times, "__price": prices})
    return (seed_row(times[0], anchor), out), _scan_batch([events], None, BRICK)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_stream_cold_start_frame_without_bricks(unit):
    """A cold-start symbol whose first micro-batch closes no brick emits
    its seed row alone.  Building it must not warn (an empty-frame concat
    raised a pandas FutureWarning per symbol), and the seed row must keep
    the values and dtypes it has in a batch that does close bricks."""
    import warnings

    from renkodf_spark.streaming.renko_stream import _batch_frame

    (quiet_head, quiet_out), quiet_batch = _cold_batch([100.2, 100.4, 100.1, 100.3, 100.5, 100.6], unit)
    (busy_head, busy_out), busy_batch = _cold_batch([100.2, 101.4, 102.6, 100.3, 98.1, 97.6], unit)
    assert len(quiet_out["event_time"]) == 0 and len(busy_out["event_time"]) > 0
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        quiet = _batch_frame("AAA", *quiet_batch[2:4])
        busy = _batch_frame("AAA", *busy_batch[2:4])
    pd.testing.assert_frame_equal(busy, _old_batch_frame("AAA", 1, busy_head, busy_out))
    pd.testing.assert_frame_equal(quiet, busy.iloc[:1])
    assert quiet["brick_seq"].tolist() == [0] and quiet["direction"].tolist() == [1]


@pytest.mark.parametrize("operator", ["renko_stream", "renko_stream_animate"])
def test_stream_missing_column_raises(spark, operator):
    """Both stream operators share the batch input guard: a streaming
    frame without the price column fails eagerly, before any query
    starts, with the batch operators' message."""
    import renkodf_spark.streaming as streaming

    ticks = spark.readStream.format("rate").load().select(
        F.lit("A").alias("symbol"), F.col("timestamp").alias("event_time")
    )
    with pytest.raises(ValueError, match="Column 'close' doesn't exist!"):
        getattr(streaming, operator)(ticks, BRICK)


def test_stream_sparse_key_takes_the_skip_scan(spark, tmp_path):
    """A key whose micro-batches each hold >= 4096 sparse ticks resumes
    through `kernel.scan`'s skip-scan variant: its bricks, brick_seq and
    final state equal a RenkoLive replay."""
    from renkodf_spark.kernel import choose_scan

    n, brick = 20000, 0.5
    rng = np.random.default_rng(7)
    drift = np.repeat([0.0012, -0.0016, 0.0014, -0.001], n // 4)
    close = np.round(100 + np.cumsum(rng.normal(0, 0.004, n) + drift), 6)
    t = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.arange(n), unit="ms")
    pdf = pd.DataFrame({"symbol": "SPARSE", "event_time": t.astype("datetime64[us]"), "close": close})
    halves = np.array_split(close, 2)
    assert all(len(h) >= 4096 and choose_scan(h, brick) for h in halves)

    out = _run_stream(spark, str(tmp_path), pdf, n_files=2, brick=brick)
    live = _live_replay(pdf, "SPARSE", brick)
    want = live._wide_frame().reset_index(drop=True)
    assert len(out) == len(want) > 20 and want["is_reversal"].iloc[1:].sum() > 2
    assert out["brick_seq"].tolist() == list(range(len(want)))
    np.testing.assert_array_equal(_us(out["event_time"]), want["timestamp"].to_numpy())
    for col in _VALUE_COLUMNS:
        np.testing.assert_array_equal(out[col].to_numpy(), want[col].to_numpy(), err_msg=col)

    state = spark.read.format("statestore").load(os.path.join(str(tmp_path), "ckpt")).collect()
    assert len(state) == 1
    value = state[0]["value"]["groupState"]
    assert list(value)[:5] == live._state[:5]
    assert value["seq"] == len(want)
