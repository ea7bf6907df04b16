"""The driver bench's contract and its one measuring loop, with no sf
data: the headline list, the final stdout line, and the sampler's
status-store profile."""

import os
import subprocess
import sys

import bench
import renkodf_spark.queries as q

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_headline_is_79_unique_registered_queries():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) == 79
    assert set(bench.HEADLINE) <= set(q.REGISTRY)


def test_final_line_carries_the_contract_and_sums_the_queries():
    timings = {
        "q1_pricing_summary": 0.25,
        "renko_wicks": 1.125,
        "kernel_mticks_per_sec_sparse": 90.0,
        "kernel_mticks_per_sec_dense": 5.0,
    }
    line = bench.final_line(timings, 0.1)
    assert {"metric", "value", "unit", "queries", "sf"} <= set(line)
    assert line["queries"] == {"q1_pricing_summary": 0.25, "renko_wicks": 1.125}
    assert line["value"] == 1.375 and line["sf"] == 0.1 and line["n_queries"] == 2
    assert line["kernel_dense_mticks"] == 5.0


def test_unknown_query_name_exits_nonzero():
    run = subprocess.run(
        [sys.executable, "bench.py", "no_such_query"], cwd=ROOT, capture_output=True, text=True
    )
    assert run.returncode != 0 and "no_such_query" in run.stderr


def test_sampler_profiles_each_visit_from_the_status_store(spark):
    tiny = spark.range(100_000).repartition(3)
    res = bench.sample(spark, [("tiny", lambda: bench.materialize(tiny))])
    rec = res["tiny"]
    assert rec["value"] == 100_000
    assert len(rec["samples"]) == 2 and rec["sec"] == min(rec["samples"])
    prof = rec["profile"]
    assert prof["jobs"] >= 1 and prof["stages"] >= 1 and prof["tasks"] >= 1
    assert prof["jvm_cpu_s"] >= 0 and prof["write_mb"] > 0 and prof["read_mb"] > 0


def test_builder_jobs_are_profiled_apart_from_the_action(spark):
    """A headline visit runs ``action(build())``: a builder's eager jobs
    land in the ``builder`` profile, never in the action's."""
    def eager():
        df = spark.range(50_000).repartition(2)
        df.count()  # an eager sub-job, as a builder that persists fires
        return df

    def lazy():
        return spark.range(50_000).repartition(2)

    res = bench.sample(
        spark, [("eager", eager, bench.materialize), ("lazy", lazy, bench.materialize)], passes=1
    )
    for name in ("eager", "lazy"):
        rec = res[name]
        assert rec["value"] == 50_000 and rec["sec"] >= rec["profile"]["builder"]["sec"] >= 0
    eager_p, lazy_p = res["eager"]["profile"], res["lazy"]["profile"]
    assert eager_p["builder"]["jobs"] >= 1 and eager_p["builder"]["stages"] >= 1
    assert lazy_p["builder"]["jobs"] == 0 and lazy_p["builder"]["stages"] == 0
    # the action's own jobs are the same whether or not the builder ran any
    assert eager_p["jobs"] == lazy_p["jobs"] >= 1
    assert eager_p["stages"] == lazy_p["stages"] >= 1
