"""The round-12 builder-green/driver-red class: DuckDB HUGEINT output.

DuckDB's SUM(BIGINT) returns HUGEINT, which lands in pandas as float64
— equal VALUES to Spark's int64 but a different REPRESENTATION, so the
driver's value-hash red-flags it even though a value comparison passes.
These tests pin that scripts/check_entry.py now rejects the class on
both sides: the oracle type lint (HUGEINT never reaches execution) and
the dtype-kind comparison (an int/float divergence that sneaks through
anyway is a reported problem, not a silent pass).
"""

import duckdb
import pandas as pd
import pytest

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "check_entry",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "check_entry.py"),
)
check_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_spec and check_entry)


def test_lint_flags_uncast_sum():
    con = duckdb.connect()
    rel = con.sql("SELECT SUM(x) AS n FROM (VALUES (1::BIGINT), (2::BIGINT)) t(x)")
    bad = check_entry.lint_oracle_types(rel)
    assert bad and "HUGEINT" in bad[0] and "'n'" in bad[0]


def test_lint_passes_cast_sum():
    con = duckdb.connect()
    rel = con.sql("SELECT CAST(SUM(x) AS BIGINT) AS n FROM (VALUES (1::BIGINT), (2::BIGINT)) t(x)")
    assert check_entry.lint_oracle_types(rel) == []


def test_lint_flags_window_sum():
    # the exact round-12 shape: SUM(cnt) OVER (...) in the final projection
    con = duckdb.connect()
    rel = con.sql(
        "SELECT g, SUM(cnt) OVER (PARTITION BY g) AS n "
        "FROM (VALUES ('a', 3::BIGINT), ('a', 4::BIGINT)) t(g, cnt)"
    )
    bad = check_entry.lint_oracle_types(rel)
    assert bad and "HUGEINT" in bad[0]


def test_dtype_kind_catches_int_vs_float():
    spark_pdf = pd.DataFrame({"g": ["a"], "n": pd.array([240144], dtype="int64")})
    duck_pdf = pd.DataFrame({"g": ["a"], "n": pd.array([240144.0], dtype="float64")})
    problems = check_entry.compare("scratch", spark_pdf, duck_pdf)
    assert problems and "dtype kind" in problems[0] and "'n'" in problems[0]


def test_dtype_kind_tolerates_width_difference():
    # int32 vs int64 is the same representation class — not a failure
    spark_pdf = pd.DataFrame({"n": pd.array([5], dtype="int32")})
    duck_pdf = pd.DataFrame({"n": pd.array([5], dtype="int64")})
    assert check_entry.compare("scratch", spark_pdf, duck_pdf) == []


def test_dtype_kind_tolerates_all_nan_object_artifact():
    # an empty/all-NaN column materialises as object on the Spark side —
    # a pandas artifact, not a divergence the driver's hash would see
    spark_pdf = pd.DataFrame({"n": pd.array([None, None], dtype="object")})
    duck_pdf = pd.DataFrame({"n": pd.array([float("nan"), float("nan")], dtype="float64")})
    assert check_entry.compare("scratch", spark_pdf, duck_pdf) == []


def test_dtype_kind_tolerates_all_null_duckdb_side():
    # ADVICE r13: the mirror case — DuckDB renders an all-NULL column as
    # object while Spark yields float64 NaN; the exemption must look at
    # BOTH sides, not just the Spark frame
    spark_pdf = pd.DataFrame({"n": pd.array([float("nan"), float("nan")], dtype="float64")})
    duck_pdf = pd.DataFrame({"n": pd.array([None, None], dtype="object")})
    assert check_entry.compare("scratch", spark_pdf, duck_pdf) == []


def test_values_still_compared_after_kinds_match():
    spark_pdf = pd.DataFrame({"n": pd.array([1, 2], dtype="int64")})
    duck_pdf = pd.DataFrame({"n": pd.array([1, 3], dtype="int64")})
    problems = check_entry.compare("scratch", spark_pdf, duck_pdf)
    assert problems and "differs" in problems[0]


def test_timing_keeps_spark_apart_from_oracle():
    t = check_entry.timing(0.54, 12.91)
    assert t == {"spark_sec": 0.54, "oracle_sec": 12.91, "sec": 13.4}
