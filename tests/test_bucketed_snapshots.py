"""Bucket-partitioned streaming snapshots (VERDICT r7 item 5): parity
with the legacy full-snapshot layout across multi-trigger sequences,
O(affected-buckets) trigger writes, replay idempotency, and the
dual-layout reader."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import write_source

SCHEMA = "k long, v string, seq long, del boolean"
MERGE_COLUMNS = ["k", "v", "seq", "del"]


def _run_stream(spark, tmp_path, writer, batches, schema=SCHEMA, rename_seq=True):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    write_source(src, "b0.parquet", batches[0], MERGE_COLUMNS)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    s = stream.withColumnRenamed("seq", "__seq") if rename_seq else stream
    q = (
        s.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            write_source(src, f"b{i}.parquet", rows, MERGE_COLUMNS)
            q.processAllAvailable()
    finally:
        q.stop()


BATCHES = [
    # trigger 0: inserts incl. intra-batch dup (seq wins)
    [(1, "a0", 1, False), (1, "a1", 2, False), (2, "b", 3, False), (3, "c", 4, False)],
    # trigger 1: update k=1, delete k=2, insert k=4, orphan delete k=9
    [(1, "a2", 5, False), (2, None, 6, True), (4, "d", 7, False), (9, None, 8, True)],
    # trigger 2: delete k=3, update k=4
    [(3, None, 9, True), (4, "d2", 10, False)],
]


def test_bucketed_merge_writer_matches_legacy(spark, tmp_path):
    from renkodf_spark.streaming.merge_stream import merge_writer, read_current_state

    legacy = str(tmp_path / "legacy")
    bucketed = str(tmp_path / "bucketed")
    _run_stream(
        spark, tmp_path / "r1", merge_writer(legacy, keys=["k"], delete_col="del"),
        BATCHES,
    )
    _run_stream(
        spark,
        tmp_path / "r2",
        merge_writer(bucketed, keys=["k"], delete_col="del", n_key_buckets=4),
        BATCHES,
    )
    want = {
        tuple(r) for r in read_current_state(spark, legacy).select("k", "v").collect()
    }
    got = {
        tuple(r) for r in read_current_state(spark, bucketed).select("k", "v").collect()
    }
    assert got == want == {(1, "a2"), (4, "d2")}


def test_bucketed_trigger_rewrites_only_affected_buckets(spark, tmp_path):
    """The scale pin: a 1-key micro-batch must rewrite 1 bucket
    directory, not the full snapshot."""
    from renkodf_spark.streaming.merge_stream import merge_writer

    state = str(tmp_path / "state")
    writer = merge_writer(state, keys=["k"], delete_col="del", n_key_buckets=8)
    spread = [(k, f"v{k}", k, False) for k in range(1, 17)]  # many buckets
    _run_stream(spark, tmp_path / "r", writer, [spread, [(1, "v1b", 100, False)]])

    gen1 = [d for d in os.listdir(os.path.join(state, "batch_id=1")) if d.startswith("kb=")]
    gen0 = [d for d in os.listdir(os.path.join(state, "batch_id=0")) if d.startswith("kb=")]
    assert len(gen1) == 1  # exactly the one touched bucket
    assert len(gen0) > 1


def test_bucketed_replay_is_idempotent(spark, tmp_path):
    """An at-least-once replay of batch N (same data, same id) must
    leave the same current state — the manifest and gen dir for N are
    recomputed against generations < N only."""
    from renkodf_spark.streaming.merge_stream import merge_writer, read_current_state

    state = str(tmp_path / "state")
    writer = merge_writer(state, keys=["k"], delete_col="del", n_key_buckets=4)

    def df(rows):
        return spark.createDataFrame(
            [(k, v, d) for k, v, s, d in rows], "k long, v string, del boolean"
        )

    writer(df(BATCHES[0]), 0)
    writer(df(BATCHES[1]), 1)
    before = {
        tuple(r) for r in read_current_state(spark, state).select("k", "v").collect()
    }
    writer(df(BATCHES[1]), 1)  # replay
    after = {
        tuple(r) for r in read_current_state(spark, state).select("k", "v").collect()
    }
    assert before == after == {(1, "a2"), (3, "c"), (4, "d")}


def test_bucketed_emptied_bucket_reads_empty(spark, tmp_path):
    """A bucket whose every key is deleted maps to a generation with no
    files — the manifest makes 'emptied' distinguishable from
    'unchanged' (no stale fallback to the old generation)."""
    from renkodf_spark.streaming.merge_stream import merge_writer, read_current_state

    state = str(tmp_path / "state")
    writer = merge_writer(state, keys=["k"], delete_col="del", n_key_buckets=1)

    def df(rows):
        return spark.createDataFrame(rows, "k long, v string, del boolean")

    writer(df([(1, "a", False), (2, "b", False)]), 0)
    writer(df([(1, None, True), (2, None, True)]), 1)
    assert read_current_state(spark, state).count() == 0


def test_bucketed_scd2_matches_legacy(spark, tmp_path):
    from renkodf_spark.streaming.merge_stream import read_current_state, scd2_writer

    schema = "k long, ts timestamp, attr string"
    batches = [
        [(1, "2024-01-01", "x"), (2, "2024-01-01", "p")],
        [(1, "2024-02-01", "y")],
        [(1, "2024-01-15", "mid"), (3, "2024-03-01", "z")],  # late row for k=1
    ]

    def run(path, **kw):
        w = scd2_writer(path, key_cols=["k"], ts_col="ts", attr_cols=["attr"], **kw)
        for i, rows in enumerate(batches):
            b = spark.createDataFrame(
                [(k, pd.Timestamp(t).to_pydatetime(), a) for k, t, a in rows], schema
            )
            w(b, i)

    legacy, bucketed = str(tmp_path / "l"), str(tmp_path / "b")
    run(legacy)
    run(bucketed, n_key_buckets=4)
    cols = ["k", "attr", "effective_from", "effective_to", "is_current"]
    want = {tuple(r) for r in read_current_state(spark, legacy + "/dim").select(*cols).collect()}
    got = {tuple(r) for r in read_current_state(spark, bucketed + "/dim").select(*cols).collect()}
    assert got == want and len(want) == 5  # 3 episodes k=1, one each k=2,3


def test_bucketed_funnel_matches_legacy(spark, tmp_path):
    from renkodf_spark.streaming.merge_stream import funnel_writer, read_current_state

    schema = "u long, ts timestamp, et string"
    batches = [
        [(1, "2024-01-01 10:00", "signup"), (2, "2024-01-01 10:00", "signup")],
        [(1, "2024-01-01 11:00", "view"), (1, "2024-01-01 12:00", "click")],
        [(2, "2024-01-01 09:00", "view")],  # out of order: before signup
    ]

    def run(path, **kw):
        w = funnel_writer(
            path, user_col="u", ts_col="ts", type_col="et",
            steps=["signup", "view", "click"], **kw,
        )
        for i, rows in enumerate(batches):
            b = spark.createDataFrame(
                [(u, pd.Timestamp(t).to_pydatetime(), e) for u, t, e in rows], schema
            )
            w(b, i)

    legacy, bucketed = str(tmp_path / "l"), str(tmp_path / "b")
    run(legacy)
    run(bucketed, n_key_buckets=4)
    want = sorted(
        map(tuple, read_current_state(spark, legacy + "/state").collect())
    )
    got = sorted(
        map(tuple, read_current_state(spark, bucketed + "/state").collect())
    )
    assert got == want and len(want) == 2


def test_vacuum_bounds_generations_on_hot_bucket(spark, tmp_path):
    """VERDICT r8 item 4: N triggers on one hot bucket must leave
    O(keep_last) generation directories, not O(N) — while a bucket
    whose current generation is ancient (cold since trigger 0) keeps
    its directory because the latest manifest still references it."""
    from renkodf_spark.streaming.merge_stream import merge_writer, read_current_state

    state = str(tmp_path / "state")
    writer = merge_writer(state, keys=["k"], delete_col="del", n_key_buckets=2)

    def df(rows):
        return spark.createDataFrame(rows, "k long, v string, del boolean")

    # pick two keys in different buckets so the cold bucket exists
    from renkodf_spark.streaming.merge_stream import _bucket_expr

    probe = spark.createDataFrame([(k,) for k in range(1, 20)], "k long").withColumn(
        "kb", _bucket_expr(["k"], 2)
    )
    by_kb = {r["kb"]: r["k"] for r in probe.collect()}
    hot_k, cold_k = by_kb[0], by_kb[1]

    writer(df([(hot_k, "h0", False), (cold_k, "c0", False)]), 0)
    for i in range(1, 8):
        writer(df([(hot_k, f"h{i}", False)]), i)

    gens = sorted(
        int(d.split("=")[1]) for d in os.listdir(state) if d.startswith("batch_id=")
    )
    # referenced: cold bucket -> gen 0, hot bucket -> gens {5,6,7} via
    # the last keep_last=3 manifests; gens 1-4 are superseded and gone
    assert gens == [0, 5, 6, 7], gens
    mans = sorted(
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(state, "_manifest"))
        if d.startswith("batch_id=")
    )
    assert mans == [5, 6, 7], mans
    cur = {
        tuple(r)
        for r in read_current_state(spark, state).select("k", "v").collect()
    }
    assert cur == {(hot_k, "h7"), (cold_k, "c0")}

    # replay of the LAST batch after vacuum (at-least-once): reads
    # manifest 6 + its referenced generations, all retained
    writer(df([(hot_k, "h7", False)]), 7)
    cur2 = {
        tuple(r)
        for r in read_current_state(spark, state).select("k", "v").collect()
    }
    assert cur2 == cur


def test_vacuum_disabled_keeps_all_generations(spark, tmp_path):
    from renkodf_spark.streaming.merge_stream import merge_writer

    state = str(tmp_path / "state")
    writer = merge_writer(
        state, keys=["k"], delete_col="del", n_key_buckets=1, vacuum_keep=None
    )

    def df(rows):
        return spark.createDataFrame(rows, "k long, v string, del boolean")

    for i in range(6):
        writer(df([(1, f"v{i}", False)]), i)
    gens = [d for d in os.listdir(state) if d.startswith("batch_id=")]
    assert len(gens) == 6


def test_bucketed_merge_killed_before_manifest_replays_identically(
    spark, tmp_path, monkeypatch
):
    """A trigger killed between its ``batch_id=N`` data write and its
    ``_manifest`` publish: the replay of N gives the state of an
    uninterrupted run, and every generation the replay reads survived
    the kill (vacuum runs only after a publish)."""
    from renkodf_spark.streaming import generations
    from renkodf_spark.streaming.merge_stream import merge_writer, read_current_state

    def df(rows):
        return spark.createDataFrame(
            [(k, v, d) for k, v, s, d in rows], "k long, v string, del boolean"
        )

    def writer(path):
        return merge_writer(path, keys=["k"], delete_col="del", n_key_buckets=2, vacuum_keep=1)

    def state_of(path):  # a list, so a replay that duplicates rows shows
        return sorted(map(tuple, read_current_state(spark, path).select("k", "v").collect()))

    def gen_dirs(path):
        return sorted(d for d in os.listdir(path) if d.startswith("batch_id="))

    clean, killed = str(tmp_path / "clean"), str(tmp_path / "killed")
    for path in (clean, killed):
        w = writer(path)
        w(df(BATCHES[0]), 0)
        w(df(BATCHES[1]), 1)
    writer(clean)(df(BATCHES[2]), 2)

    write_gen, kills = generations.write_gen, []

    def killed_once(frame, path, batch_id, partition_by=None):
        if path.endswith("_manifest") and not kills:
            kills.append(batch_id)
            raise RuntimeError("killed before the manifest publish")
        write_gen(frame, path, batch_id, partition_by)

    monkeypatch.setattr(generations, "write_gen", killed_once)
    w = writer(killed)
    with pytest.raises(RuntimeError, match="killed"):
        w(df(BATCHES[2]), 2)
    assert kills == [2]
    assert "batch_id=2" in gen_dirs(killed)  # the data write landed
    assert not os.path.exists(os.path.join(killed, "_manifest", "batch_id=2"))
    # what the replay reads: manifest 1 and every generation it names
    man1 = spark.read.parquet(os.path.join(killed, "_manifest", "batch_id=1")).collect()
    assert man1 and all(f"batch_id={r['gen']}" in gen_dirs(killed) for r in man1)

    w(df(BATCHES[2]), 2)  # the replay
    assert state_of(killed) == state_of(clean) == [(1, "a2"), (4, "d2")]
    assert gen_dirs(killed) == gen_dirs(clean)
