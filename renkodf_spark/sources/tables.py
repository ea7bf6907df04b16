"""Source loaders for the test/bench tables and generic tick inputs.

Reference counterpart: the reference's only source is
``pd.read_parquet`` (SURVEY.md §2 O-1) plus rename/injection of the
``close``/``datetime`` columns (O-2). Here the loaders are thin wrappers
over ``spark.read`` that keep scans declarative (predicate pushdown and
column pruning reach the parquet reader) and normalize one environment
quirk: ``events.parquet`` stores ``ts`` as TIMESTAMP(NANOS), which
Spark's vectorized parquet reader rejects by default — we read it as
long nanos (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to
microseconds exactly like DuckDB does when it coerces ns -> its native
us timestamps, so oracle comparisons agree.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalizes events.ts to TimestampType(us)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(path)
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Spark 4.1 reads TIMESTAMP(NANOS) parquet as TIMESTAMP_NTZ
            # (µs-truncated) instead of honoring nanosAsLong. Under the
            # UTC session timezone this cast is bit-identical to the
            # timestamp_micros(ns div 1000) conversion used on 4.0 —
            # and ONLY under UTC: the ntz->tz cast localizes in the
            # session zone at EXECUTION time, so a non-UTC session
            # would silently shift every events.ts (ADVICE r4). All
            # first-party sessions pin UTC; fail loudly for any other.
            tz = spark.conf.get("spark.sql.session.timeZone", "")
            if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
                raise ValueError(
                    "events.ts arrives as TIMESTAMP_NTZ and its cast to "
                    "timestamp is timezone-dependent at execution time: set "
                    "spark.sql.session.timeZone=UTC on this session before "
                    f"loading events (got {tz!r})"
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def ticks_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical tick stream for the Renko operator: events keyed by
    event_type as the instrument, value as the price."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("event_time"),
        F.col("value").alias("close"),
    )
