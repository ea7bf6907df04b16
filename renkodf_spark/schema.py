"""Schemas and mode-projection tables for the Renko wide brick table.

The wide table carries every mode's column variant side by side
(reference renkodf.py:60-67); selecting a "mode" is a pure projection
(reference ``renko_df``, renkodf.py:291-387). On Spark this is exactly
what Catalyst's column pruning wants: unused variants never leave the
scan/kernel boundary.
"""

from __future__ import annotations

from pyspark.sql import types as T

MODES = (
    "normal",
    "wicks",
    "nongap",
    "reverse-wicks",
    "reverse-nongap",
    "fake-r-wicks",
    "fake-r-nongap",
)

# mode -> source column for each of (open, high, low).
# Derived from the reference's drop/rename tables (renkodf.py:339-380):
#   normal        : high/low <- normal_high/normal_low
#   wicks         : identity
#   nongap        : open <- nongap_open
#   reverse-wicks : high/low <- reverse_high/reverse_low
#   reverse-nongap: high/low <- reverse_*, open <- reverse_nongap_open
#   fake-r-wicks  : high/low <- fake_high/fake_low
#   fake-r-nongap : high/low <- fake_*, open <- reverse_fake_nongap_open
MODE_SOURCES = {
    "normal": ("open", "normal_high", "normal_low"),
    "wicks": ("open", "high", "low"),
    "nongap": ("nongap_open", "high", "low"),
    "reverse-wicks": ("open", "reverse_high", "reverse_low"),
    "reverse-nongap": ("reverse_nongap_open", "reverse_high", "reverse_low"),
    "fake-r-wicks": ("open", "fake_high", "fake_low"),
    "fake-r-nongap": ("reverse_fake_nongap_open", "fake_high", "fake_low"),
}

UTILS_COLUMNS = ("direction", "is_reversal", "tick_index_open", "tick_index_close")

# Wide brick table produced by the batch operator. `symbol` is an engine
# addition (the reference is single-instrument per instance, SURVEY §1.4)
# and `brick_seq` replaces reliance on the non-unique DatetimeIndex.
WIDE_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("brick_seq", T.LongType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.LongType()),
        T.StructField("direction", T.LongType()),
        T.StructField("is_reversal", T.LongType()),
        T.StructField("tick_index_open", T.LongType()),
        T.StructField("tick_index_close", T.LongType()),
        T.StructField("normal_high", T.DoubleType()),
        T.StructField("normal_low", T.DoubleType()),
        T.StructField("nongap_open", T.DoubleType()),
        T.StructField("reverse_nongap_open", T.DoubleType()),
        T.StructField("reverse_fake_nongap_open", T.DoubleType()),
        T.StructField("reverse_high", T.DoubleType()),
        T.StructField("reverse_low", T.DoubleType()),
        T.StructField("fake_high", T.DoubleType()),
        T.StructField("fake_low", T.DoubleType()),
    ]
)

WIDE_COLUMN_NAMES = tuple(f.name for f in WIDE_SCHEMA.fields)

# Streaming output drops the tick-index columns (reference ws table has
# 17 columns, renkodf.py:489-496).
STREAM_SCHEMA = T.StructType(
    [f for f in WIDE_SCHEMA.fields if not f.name.startswith("tick_index_")]
)
