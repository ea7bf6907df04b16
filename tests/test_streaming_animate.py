"""renko_stream_animate (update-mode forming-bar side output) must
match RenkoLive.renko_animate after every micro-batch, per mode,
including the forming-bar retrace branches and the wick quirk."""

import os

import numpy as np
import pandas as pd
import pytest

from renkodf_spark.live import RenkoLive
from renkodf_spark.streaming import renko_stream_animate
from tests.test_streaming import _two_symbol_ticks, _us

BRICK = 1.0


@pytest.mark.parametrize("mode", ["wicks", "normal", "nongap"])
def test_animate_stream_matches_live(spark, tmp_path, mode):
    pdf = _two_symbol_ticks(n=600)
    tmpdir = str(tmp_path)
    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    n_files = 3
    batches = np.array_split(np.arange(len(pdf)), n_files)
    for i, idx in enumerate(batches):
        p = os.path.join(src, f"part-{i:04d}.parquet")
        pdf.iloc[idx].to_parquet(p, index=False)
        os.utime(p, (1e9 + i, 1e9 + i))

    captured = []  # (batch_id, pandas)
    schema = spark.createDataFrame(pdf.head(2)).schema
    ticks = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    bricks = renko_stream_animate(ticks, BRICK, mode)
    q = (
        bricks.writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: captured.append((bid, df.toPandas())))
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(captured) >= n_files

    # replay the same prefix through RenkoLive after each batch
    seen = pd.DataFrame()
    for bid, out in captured:
        if out.empty:
            continue
        batch_rows = pdf.iloc[np.concatenate(batches[: bid + 1])]
        for sym in out["symbol"].unique():
            sub = batch_rows[batch_rows["symbol"] == sym].sort_values(
                "event_time", kind="mergesort"
            )
            ts = _us(sub["event_time"])
            live = RenkoLive(int(ts[0]), float(sub["close"].iloc[0]), brick_size=BRICK)
            for t, p in zip(ts[1:], sub["close"].iloc[1:]):
                live.add_prices(int(t), float(p))
            want = live.renko_animate(mode).iloc[-1]  # the forming bar

            got = out[(out["symbol"] == sym) & (out["is_forming"] == 1)]
            assert len(got) == 1, (bid, sym)
            got = got.iloc[0]
            for col in ["open", "high", "low", "close", "volume", "direction"]:
                assert got[col] == want[col], (bid, sym, col, got[col], want[col])
        seen = pd.concat([seen, out])

    # completed bricks accumulate densely across batches
    for sym in ["AAA", "BBB"]:
        done = (
            seen[(seen["symbol"] == sym) & (seen["is_forming"] == 0)]
            .sort_values("brick_seq")
            .reset_index(drop=True)
        )
        assert done["brick_seq"].tolist() == list(range(len(done)))


@pytest.mark.parametrize("mode", ["wicks", "nongap"])
def test_animate_stream_warm_start_matches_live(spark, tmp_path, mode):
    """Warm start from a to_rws() export: after every micro-batch the
    forming bar and the completed bricks equal a RenkoLive started from
    the same export (external_df) and fed the same ticks."""
    from renkodf_spark.operators.renko import renko, to_rws

    pdf = _two_symbol_ticks(n=600)
    split_t = pdf["event_time"].quantile(0.6)
    head = pdf[pdf["event_time"] <= split_t]
    tail = pdf[pdf["event_time"] > split_t]
    export = to_rws(renko(spark.createDataFrame(head), BRICK, drop_first=False), BRICK).toPandas()

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    batches = np.array_split(np.arange(len(tail)), 3)
    for i, idx in enumerate(batches):
        p = os.path.join(src, f"part-{i:04d}.parquet")
        tail.iloc[idx].to_parquet(p, index=False)
        os.utime(p, (1e9 + i, 1e9 + i))

    captured = []
    schema = spark.createDataFrame(tail.head(2)).schema
    ticks = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        renko_stream_animate(ticks, BRICK, mode, initial_state=export)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: captured.append((bid, df.toPandas())))
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(captured) >= len(batches)

    done = []
    for bid, out in captured:
        if out.empty:
            continue
        rows = tail.iloc[np.concatenate(batches[: bid + 1])]
        for sym in out["symbol"].unique():
            ext = export[export["symbol"] == sym].sort_values("brick_seq")
            live = RenkoLive(external_df=ext.drop(columns=["symbol", "brick_seq"]), ts_unit="us")
            sub = rows[rows["symbol"] == sym].sort_values("event_time", kind="mergesort")
            for t, p in zip(_us(sub["event_time"]), sub["close"]):
                live.add_prices(int(t), float(p))
            want = live.renko_animate(mode, max_len=0).iloc[-1]
            got = out[(out["symbol"] == sym) & (out["is_forming"] == 1)]
            assert len(got) == 1, (bid, sym)
            for col in ["open", "high", "low", "close", "volume", "direction"]:
                assert got.iloc[0][col] == want[col], (bid, sym, col, got.iloc[0][col], want[col])
        done.append(out[out["is_forming"] == 0])

    done = pd.concat(done)
    for sym in ["AAA", "BBB"]:
        ext = export[export["symbol"] == sym].sort_values("brick_seq")
        live = RenkoLive(external_df=ext.drop(columns=["symbol", "brick_seq"]), ts_unit="us")
        sub = tail[tail["symbol"] == sym].sort_values("event_time", kind="mergesort")
        for t, p in zip(_us(sub["event_time"]), sub["close"]):
            live.add_prices(int(t), float(p))
        want = live._wide_frame().reset_index(drop=True).iloc[len(ext):]  # new bricks only
        got = done[done["symbol"] == sym].sort_values("brick_seq").reset_index(drop=True)
        assert len(got) == len(want) > 0, sym
        first = ext["brick_seq"].max() + 1
        assert got["brick_seq"].tolist() == list(range(first, first + len(got)))
        for col in ["open", "high", "low", "close", "volume", "direction", "is_reversal", "nongap_open"]:
            np.testing.assert_array_equal(got[col].to_numpy(), want[col].to_numpy(), err_msg=f"{sym}.{col}")
