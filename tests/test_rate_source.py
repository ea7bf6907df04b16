"""Rate source coverage (Part B declared streaming sources): drive the
streaming Renko operator from Spark's built-in rate source."""

import os

import pyspark.sql.functions as F

from renkodf_spark.streaming import renko_stream


def test_renko_on_rate_source(spark, tmp_path):
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
    )
    # synthesize a deterministic sawtooth price from the rate counter
    ticks = rate.select(
        F.lit("RATE").alias("symbol"),
        F.col("timestamp").alias("event_time"),
        (100.0 + (F.col("value") % 40) - 20.0).alias("close"),
    )
    q = (
        renko_stream(ticks, 5.0)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_bricks")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM rate_bricks").first()["c"]
            if n >= 5:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert n >= 5  # seed + bricks from the +-20 sawtooth over 5-brick grid

    bars = spark.sql(
        "SELECT direction, count(*) n FROM rate_bricks WHERE is_reversal = 0 GROUP BY 1"
    ).toPandas()
    assert set(bars["direction"]).issubset({1, -1})

