"""Mini-driver: replays the correctness gate locally.

Runs every __spark_entry__.queries() entry and compares it against its
oracle_sql() twin through DuckDB: row count, column-name set, and an
order-insensitive value comparison (columns sorted by name, rows sorted
by all columns). Exact equality for ints/strings/timestamps; floats are
expected to already be ROUNDed inside the queries and compare exactly.

Two representation checks close the builder-green/driver-red gap found
in round 12 (the driver's value-hash is representation-sensitive, so
DuckDB HUGEINT -> pandas float64 hash-differs from Spark int64 even at
equal values):
  * oracle type lint — every oracle's duckdb result types are scanned
    for HUGEINT/UHUGEINT before execution; any hit is a FAIL telling
    the author to CAST(... AS BIGINT) in the final projection.
  * dtype-kind comparison — the Spark and DuckDB pandas frames must
    agree per column on dtype KIND (int vs float vs bool vs datetime
    vs object) BEFORE canonicalisation coerces them.

Usage: [SF=sf0.001] [SWEEP_JSON=out.json] python scripts/check_entry.py [query ...]

SWEEP_JSON writes the per-query verdicts as a JSON object — the
committed SWEEP_r{N}.json artifact that proves every registered query
(not just the driver's bounded gate window) green in the same round.

Each query's time is split in two: ``spark_sec`` (the builder plus
``toPandas``) and ``oracle_sec`` (the DuckDB oracle plus the compare);
``sec`` is their sum.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SF", "sf0.001")
SF_DIR = f"/root/testdata/{SF}"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def dtype_kind(dtype) -> str:
    """Collapse a pandas dtype to the representation class the driver's
    value-hash distinguishes: int-family vs float vs bool vs datetime vs
    object/str. int32 vs int64 is NOT a mismatch; int64 vs float64 is."""
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    return "object"


def lint_oracle_types(rel) -> list[str]:
    """Reject DuckDB output types that round-trip to a different pandas
    representation than their Spark twin ever could — HUGEINT (from an
    un-cast SUM(BIGINT)) lands as float64/object and hash-mismatches the
    driver even when every value is equal."""
    bad = []
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        if "HUGEINT" in t:
            bad.append(f"oracle col '{col}' is {t} — CAST(... AS BIGINT) in the final projection")
    return bad


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} vs {len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"schema {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}")
        return problems
    if problems:
        return problems
    for c in sorted(spark_pdf.columns):
        ks, kd = dtype_kind(spark_pdf[c].dtype), dtype_kind(duck_pdf[c].dtype)
        # an all-NaN/empty object column on EITHER side is a pandas
        # artifact (DuckDB renders all-NULL as object, Spark as float64
        # NaN), not a representation divergence the driver's hash would
        # see (ADVICE r13: the one-sided check false-positived there)
        if ks != kd and not (
            len(spark_pdf) == 0
            or spark_pdf[c].isna().all()
            or duck_pdf[c].isna().all()
        ):
            problems.append(
                f"dtype kind col '{c}': spark {spark_pdf[c].dtype} ({ks}) vs duckdb {duck_pdf[c].dtype} ({kd})"
            )
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        # all-NaN float64 vs all-None object (either orientation) is the
        # same exempted pandas artifact as above — np.array_equal cannot
        # mix the two representations, so settle it here
        if a[c].isna().all() or b[c].isna().all():
            if not (a[c].isna().all() and b[c].isna().all()):
                problems.append(f"col '{c}': one side all-NULL, the other not")
            continue
        if pd.api.types.is_float_dtype(a[c]):
            ok = np.array_equal(av, bv, equal_nan=True)
        else:
            ok = (pd.isna(av) == pd.isna(bv)).all() and (
                (pd.isna(av)) | (av == bv)
            ).all()
        if not ok:
            idx = next(
                i
                for i in range(len(av))
                if not (
                    (pd.isna(av[i]) and pd.isna(bv[i]))
                    or (not pd.isna(av[i]) and not pd.isna(bv[i]) and av[i] == bv[i])
                )
            )
            problems.append(f"col '{c}' differs at sorted row {idx}: {av[idx]!r} vs {bv[idx]!r}")
    return problems


def timing(spark_sec: float, oracle_sec: float) -> dict:
    """A query's seconds: the Spark side apart from the oracle side,
    and their sum as ``sec``."""
    return {
        "spark_sec": round(spark_sec, 2),
        "oracle_sec": round(oracle_sec, 2),
        "sec": round(spark_sec + oracle_sec, 1),
    }


def main():
    only = set(sys.argv[1:])
    from renkodf_spark.session import build_session

    spark = build_session("check-entry", cores=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    import __spark_entry__ as entrymod

    e = entrymod.entry(spark)
    n = e.count()
    print(f"entry(): {n} rows, schema ok")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passed, rows_only = [], 0, 0
    report: dict[str, dict] = {}
    for name, builder in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = builder(spark, SF_DIR).toPandas()
            spark_sec = time.time() - t0
        except Exception as ex:
            failures.append(name)
            report[name] = {"status": "fail", "detail": f"spark {type(ex).__name__}"}
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {str(ex)[:200]}")
            continue
        if name not in oracles:
            rows_only += 1
            report[name] = {"status": "rows_only", "rows": len(sdf), **timing(spark_sec, 0.0)}
            print(f"rows  {name}: {len(sdf)} rows (spark {spark_sec:.1f}s) [no oracle]")
            continue
        t1 = time.time()
        try:
            rel = con.sql(oracles[name])
            lint = lint_oracle_types(rel)
            if lint:
                failures.append(name)
                report[name] = {"status": "fail", "detail": "type lint: " + "; ".join(lint)[:180]}
                print(f"FAIL  {name}: type lint: {'; '.join(lint)}")
                continue
            ddf = rel.df()
        except Exception as ex:
            failures.append(name)
            report[name] = {"status": "fail", "detail": f"duckdb {str(ex)[:120]}"}
            print(f"FAIL  {name}: duckdb error {str(ex)[:200]}")
            continue
        problems = compare(name, sdf, ddf)
        oracle_sec = time.time() - t1
        if problems:
            failures.append(name)
            report[name] = {"status": "fail", "detail": "; ".join(problems)[:200]}
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            passed += 1
            report[name] = {"status": "ok", "rows": len(sdf), **timing(spark_sec, oracle_sec)}
            print(
                f"ok    {name}: {len(sdf)} rows "
                f"(spark {spark_sec:.1f}s, oracle {oracle_sec:.1f}s)"
            )

    print(f"\n{passed} oracle-matched, {rows_only} rows-only, {len(failures)} failed")
    out_path = os.environ.get("SWEEP_JSON")
    if out_path:
        payload = {
            "sf": SF,
            "entry_rows": n,
            # a name-filtered run is NOT a full-registry sweep; record
            # the filter so a partial artifact can't pass as exhaustive
            "filter": sorted(only) if only else None,
            "lint": "hugeint+dtype-kind v1",
            "registry_size": len(qs),
            "summary": {"ok": passed, "rows_only": rows_only, "failed": len(failures)},
            "queries": report,
        }
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {out_path}")
    if failures:
        print("failed:", ", ".join(failures))
        sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
