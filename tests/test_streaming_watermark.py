"""Late-data policy (SURVEY §7.3 #4): watermarked streaming aggregation
drops ticks arriving later than the lateness bound; the same watermark
composes upstream of renko_stream as the documented drop-late policy."""

import os

import pandas as pd
from pyspark.sql import functions as F

from tests.conftest import write_source


def test_watermark_drops_late_events(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)

    # Watermark mechanics (empirically pinned): the watermark advances at
    # batch END, eviction+emission happen lazily during the NEXT batch,
    # and a late row is dropped only once its window's state is already
    # evicted. Sequence: b0 fills the 10:00 window; b1 (20:00) advances
    # the watermark; b2 (benign 20:01) triggers eviction+emission of the
    # 10:00 window; b3's 10:01 row is then truly late and must be
    # dropped, not re-opened as a duplicate append row.
    def write(i, times, closes):
        pdf = pd.DataFrame(
            {
                "symbol": "A",
                "event_time": pd.to_datetime(times).astype("datetime64[us]"),
                "close": closes,
            }
        )
        write_source(src, f"p{i}.parquet", pdf, mtime=1e9 + i)
        return pdf

    b1 = write(0, ["2024-01-01 10:00", "2024-01-01 10:01", "2024-01-01 10:04"], [1.0, 2.0, 3.0])
    write(1, ["2024-01-01 20:00"], [4.0])
    write(2, ["2024-01-01 20:01"], [4.5])
    write(3, ["2024-01-01 10:01"], [99.0])
    write(4, ["2024-01-01 21:00"], [5.0])

    schema = spark.createDataFrame(b1).schema
    ticks = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    agg = (
        ticks.withWatermark("event_time", "10 minutes")
        .groupBy(F.window("event_time", "5 minutes").alias("w"), "symbol")
        .agg(F.sum("close").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_out")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
        .start()
    )
    q.processAllAvailable()
    out = spark.sql("SELECT w.start AS ws, s, n FROM wm_out ORDER BY ws").toPandas()
    progress = list(q.recentProgress)
    q.stop()

    # the 10:00 window must exist exactly once (no duplicate append from
    # the late row) and exclude the late 99.0
    w10 = out[out["ws"] == pd.Timestamp("2024-01-01 10:00")]
    assert len(w10) == 1
    assert w10["s"].iloc[0] == 6.0 and w10["n"].iloc[0] == 3
    # and the engine reported the drop
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p["stateOperators"]
    )
    assert dropped == 1
