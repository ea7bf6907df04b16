"""(1) Checkpoint restart: stopping the streaming query mid-stream and
restarting from the same checkpoint must resume the kernel state from
the state store — full output equals the uninterrupted replay, no
duplicate or missing bricks.

(2) The reference's third bundled dataset (BNBUSDT aggTrades, epoch-ms
timestamps): ts_unit normalization + batch == reference."""

import os

import numpy as np
import pandas as pd
import pytest

from renkodf_spark.streaming import renko_stream
from tests.conftest import write_source
from tests.test_streaming import _live_replay, _two_symbol_ticks, _us

BRICK = 1.0


def test_stream_restart_from_checkpoint(spark, tmp_path):
    pdf = _two_symbol_ticks(n=1000)
    tmpdir = str(tmp_path)
    src = os.path.join(tmpdir, "src")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)
    batches = np.array_split(np.arange(len(pdf)), 4)

    schema = spark.createDataFrame(pdf.head(2)).schema

    sink = os.path.join(tmpdir, "sink")

    def start_query():
        ticks = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        return (
            renko_stream(ticks, BRICK)
            .writeStream.outputMode("append")
            .format("parquet")  # file sink: supports exactly-once recovery
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # phase 1: two files, then stop
    for i in (0, 1):
        write_source(src, f"part-{i:04d}.parquet", pdf.iloc[batches[i]], mtime=1e9 + i)
    q = start_query()
    q.processAllAvailable()
    q.stop()
    assert len(spark.read.parquet(sink).collect()) > 0

    # phase 2: new query object, same checkpoint, remaining files
    for i in (2, 3):
        write_source(src, f"part-{i:04d}.parquet", pdf.iloc[batches[i]], mtime=1e9 + i)
    q2 = start_query()
    q2.processAllAvailable()
    q2.stop()

    total = (
        spark.read.parquet(sink)
        .toPandas()
        .sort_values(["symbol", "brick_seq"])
        .reset_index(drop=True)
    )
    for sym in ["AAA", "BBB"]:
        want = _live_replay(pdf, sym)._wide_frame().reset_index(drop=True)
        got = total[total["symbol"] == sym].reset_index(drop=True)
        assert got["brick_seq"].tolist() == list(range(len(want))), sym  # dense, no dups/gaps
        for col in ["open", "high", "low", "close", "volume", "direction", "is_reversal"]:
            np.testing.assert_array_equal(got[col].to_numpy(), want[col].to_numpy(), err_msg=f"{sym}.{col}")


AGG = "/root/reference/examples/data/BNBUSDT-aggTrades-2023-06_9000Rows.parquet"


def test_aggtrades_epoch_ms_dataset(spark, reference_renko):
    if not os.path.exists(AGG):
        pytest.skip("aggTrades dataset not bundled")
    raw = pd.read_parquet(AGG)
    # reference demo converts epoch-ms 'timestamp' via ts_unit='ms'
    # (examples/ws_animchart_demo.py:25-28)
    ref_ticks = raw.copy()
    ref_ticks["datetime"] = pd.to_datetime(ref_ticks["timestamp"], unit="ms")
    ref_ticks = ref_ticks.set_index("datetime")
    ref = reference_renko.Renko(ref_ticks.copy(), 1.0, divide_by=1).renko_df("wicks")

    from renkodf_spark.operators.renko import renko
    from renkodf_spark.sources.ticks import normalize_ticks

    ticks = normalize_ticks(
        spark.createDataFrame(raw[["timestamp", "close"]]), time_col="timestamp", ts_unit="ms"
    )
    bars = renko(ticks, 1.0).orderBy("brick_seq").toPandas()
    assert len(bars) == len(ref)
    for ours, theirs in [("open", "open"), ("high", "high"), ("low", "low"), ("close", "close"),
                         ("volume", "volume"), ("direction", "direction")]:
        np.testing.assert_array_equal(bars[ours].to_numpy(), ref[theirs].to_numpy(), err_msg=theirs)
    np.testing.assert_array_equal(
        bars["event_time"].to_numpy().astype("datetime64[us]"),
        ref.index.to_numpy().astype("datetime64[us]"),
    )
