"""Streaming MERGE writer: keyed current-state maintenance across
triggers, intra-batch duplicate resolution, delete semantics."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import write_source

SCHEMA = "k long, v string, seq long, del boolean"
MERGE_COLUMNS = ["k", "v", "seq", "del"]


def test_merge_stream_state_across_triggers(spark, tmp_path):
    from renkodf_spark.streaming.merge_stream import merge_writer

    src = str(tmp_path / "src")
    os.makedirs(src)
    # trigger 1: inserts, incl. an intra-batch duplicate key (seq wins)
    write_source(src, "b1.parquet", [
        (1, "a0", 1, False),
        (1, "a1", 2, False),   # same key, higher seq -> wins
        (2, "b", 3, False),
        (3, "c", 4, False),
    ], MERGE_COLUMNS)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    state = str(tmp_path / "state")
    writer = merge_writer(
        state, keys=["k"], delete_col="del"
    )
    q = (
        stream.withColumnRenamed("seq", "__seq")
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # trigger 2: update k=1, delete k=2, insert k=4, orphan delete k=9
        write_source(src, "b2.parquet", [
            (1, "a2", 5, False),
            (2, None, 6, True),
            (4, "d", 7, False),
            (9, None, 8, True),
        ], MERGE_COLUMNS)
        q.processAllAvailable()
    finally:
        q.stop()

    snaps = spark.read.parquet(state)
    latest = snaps.agg(F.max("batch_id")).collect()[0][0]
    cur = {r.k: r.v for r in snaps.filter(F.col("batch_id") == latest).collect()}
    assert cur == {1: "a2", 3: "c", 4: "d"}
    # trigger-1 snapshot immutable and correct
    first = {r.k: r.v for r in snaps.filter(F.col("batch_id") == 0).collect()}
    assert first == {1: "a1", 2: "b", 3: "c"}
    assert sorted(
        r.batch_id for r in snaps.select("batch_id").distinct().collect()
    ) == [0, 1]


def _merge_trigger(spark, state):
    """Run one ``merge_writer`` trigger on ``(k, v, del)`` rows and
    return the current state as sorted ``(k, v)`` tuples."""
    from renkodf_spark.streaming.merge_stream import merge_writer, read_current_state

    writer = merge_writer(state, keys=["k"], delete_col="del")

    def trigger(batch_id, rows):
        writer(spark.createDataFrame(rows, "k long, v string, del boolean"), batch_id)
        return sorted(map(tuple, read_current_state(spark, state).select("k", "v").collect()))

    return trigger


def test_merge_emptied_snapshot_does_not_resurrect(spark, tmp_path):
    """Deleting every key leaves an empty (schema-only) snapshot; it is
    the state, for the reader and for the next trigger's prior."""
    trigger = _merge_trigger(spark, str(tmp_path / "state"))
    assert trigger(0, [(1, "a", False)]) == [(1, "a")]
    assert trigger(1, [(1, None, True)]) == []
    assert trigger(2, [(2, "b", False)]) == [(2, "b")]


def test_merge_uncommitted_generation_is_ignored(spark, tmp_path):
    """A write killed before its commit leaves ``batch_id=N`` with data
    files and ``_temporary`` but no ``_SUCCESS``: readers and the replay
    of N resume from the last committed generation."""
    state = str(tmp_path / "state")
    trigger = _merge_trigger(spark, state)
    assert trigger(0, [(1, "a", False)]) == [(1, "a")]

    torn = os.path.join(state, "batch_id=1")
    spark.createDataFrame([(9, "zombie", None)], "k long, v string, del boolean").select(
        "k", "v"
    ).write.parquet(torn)
    os.remove(os.path.join(torn, "_SUCCESS"))
    os.makedirs(os.path.join(torn, "_temporary", "0"))
    from renkodf_spark.streaming.merge_stream import read_current_state

    current = read_current_state(spark, state).select("k", "v").collect()
    assert sorted(map(tuple, current)) == [(1, "a")]
    assert trigger(1, [(2, "b", False)]) == [(1, "a"), (2, "b")]


@pytest.mark.parametrize("kind", ["merge", "scd2", "funnel"])
def test_null_key_stream_equals_batch(spark, tmp_path, kind):
    """A NULL key is one key, as in ``merge_into``: two triggers that
    both carry it leave the state of the batch twin over the
    concatenated input, and a replay of trigger 1 leaves it unchanged."""
    from renkodf_spark.operators.funnel import funnel_steps
    from renkodf_spark.operators.scd import scd2_from_changelog
    from renkodf_spark.streaming import merge_stream as ms

    path = str(tmp_path / "state")
    schema = "k long, ts long, v string"
    if kind == "merge":
        schema = "k long, v string, del boolean"
        triggers = [[(None, "a", False), (1, "x", False)], [(None, "b", False)]]
        writer = ms.merge_writer(path, keys=["k"], delete_col="del")
        state_dir = path

        def twin(_):
            return spark.createDataFrame([(1, "x"), (None, "b")], "k long, v string")
    elif kind == "scd2":
        triggers = [[(None, 1, "a"), (1, 1, "x")], [(None, 2, "b")]]
        writer = ms.scd2_writer(path, key_cols=["k"], ts_col="ts", attr_cols=["v"])
        state_dir = path + "/dim"

        def twin(log):
            return scd2_from_changelog(log, key_cols=["k"], ts_col="ts", attr_cols=["v"])
    else:
        triggers = [[(None, 1, "a"), (1, 1, "a")], [(None, 2, "b")]]
        funnel = dict(user_col="k", ts_col="ts", type_col="v", steps=["a", "b"])
        writer = ms.funnel_writer(path, **funnel)
        state_dir = path + "/state"

        def twin(log):
            return funnel_steps(log, **funnel)

    frames = [spark.createDataFrame(rows, schema) for rows in triggers]
    for batch_id, frame in enumerate(frames):
        writer(frame, batch_id)
    twin_df = twin(frames[0].unionByName(frames[1]))
    want = sorted(map(tuple, twin_df.collect()), key=repr)

    def state():
        got = ms.read_current_state(spark, state_dir).select(*twin_df.columns)
        return sorted(map(tuple, got.collect()), key=repr)

    assert state() == want
    writer(frames[1], 1)  # at-least-once: trigger 1 delivered again
    assert state() == want


def test_scd2_stream_matches_batch_incl_late_rows(spark, tmp_path):
    """Streaming SCD2 maintenance: after N triggers (including a LATE
    changelog row that rewrites a key's history), the latest dim
    snapshot equals the batch scd2_from_changelog over the whole log."""
    from renkodf_spark.operators.scd import scd2_from_changelog
    from renkodf_spark.streaming.merge_stream import scd2_writer

    schema = "k long, v string, seq long, del boolean"  # reuse writer helper
    src = str(tmp_path / "src")
    os.makedirs(src)
    # (k, status=v, ts encoded in seq for simplicity)
    write_source(src, "b1.parquet", [
        (1, "a", 10, False), (1, "b", 20, False),
        (2, "x", 10, False),
    ], MERGE_COLUMNS)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    state = str(tmp_path / "scd")
    writer = scd2_writer(state, key_cols=["k"], ts_col="seq", attr_cols=["v"])
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # trigger 2: key 1 gets a LATE row at ts 15 (between a@10 and
        # b@20) and key 3 appears; key 2 untouched
        write_source(src, "b2.parquet", [
            (1, "z", 15, False),
            (3, "m", 5, False),
        ], MERGE_COLUMNS)
        q.processAllAvailable()
    finally:
        q.stop()

    dim = spark.read.parquet(state + "/dim")
    latest = dim.agg(F.max("batch_id")).collect()[0][0]
    got = sorted(
        (r.k, r.v, r.seq if False else r.effective_from, r.effective_to, r.is_current)
        for r in dim.filter(F.col("batch_id") == latest)
        .select("k", "v", "effective_from", "effective_to", "is_current")
        .collect()
    )
    all_log = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "x", 10), (1, "z", 15), (3, "m", 5)],
        "k long, v string, seq long",
    )
    want = sorted(
        (r.k, r.v, r.effective_from, r.effective_to, r.is_current)
        for r in scd2_from_changelog(
            all_log, key_cols=["k"], ts_col="seq", attr_cols=["v"]
        ).collect()
    )
    assert got == want
    # the late row really split key 1's history: a@[10,15) z@[15,20) b@[20,)
    k1 = [(v, f, t) for (k, v, f, t, _c) in got if k == 1]
    assert sorted(k1) == [("a", 10, 15), ("b", 20, None), ("z", 15, 20)]


def test_funnel_stream_matches_batch_incl_late_step(spark, tmp_path):
    """Streaming funnel maintenance: after triggers including a LATE
    step-1 event that unlocks later steps retroactively, the latest
    snapshot equals batch funnel_steps over all events."""
    from renkodf_spark.operators.funnel import funnel_steps
    from renkodf_spark.streaming.merge_stream import funnel_writer

    schema = "k long, v string, seq long, del boolean"
    src = str(tmp_path / "src")
    os.makedirs(src)
    # (user=k, event_type=v, ts=seq): user 1 does b@20 only (no chain),
    # user 2 completes a@5 b@9
    write_source(src, "b1.parquet", [
        (1, "b", 20, False),
        (2, "a", 5, False), (2, "b", 9, False),
    ], MERGE_COLUMNS)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    state = str(tmp_path / "funnel")
    writer = funnel_writer(state, user_col="k", ts_col="seq",
                           type_col="v", steps=["a", "b"])
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # late a@10 for user 1 retroactively completes their chain
        # (a@10 -> b@20); user 3 starts a chain
        write_source(src, "b2.parquet", [(1, "a", 10, False), (3, "a", 1, False)], MERGE_COLUMNS)
        q.processAllAvailable()
    finally:
        q.stop()

    snaps = spark.read.parquet(state + "/state")
    latest = snaps.agg(F.max("batch_id")).collect()[0][0]
    got = sorted(
        map(tuple, snaps.filter(F.col("batch_id") == latest)
            .select("k", "step1_ts", "step2_ts", "steps_completed").collect())
    )
    all_ev = spark.createDataFrame(
        [(1, "b", 20), (2, "a", 5), (2, "b", 9), (1, "a", 10), (3, "a", 1)],
        "k long, v string, seq long",
    )
    want = sorted(
        map(tuple, funnel_steps(all_ev, user_col="k", ts_col="seq",
                                type_col="v", steps=["a", "b"])
            .select("k", "step1_ts", "step2_ts", "steps_completed").collect())
    )
    assert got == want
    by_user = {t[0]: t[1:] for t in got}
    assert by_user[1] == (10, 20, 2)  # the late step-1 unlocked step 2


def test_search_index_stream_matches_batch(spark, tmp_path):
    """Streaming inverted index: after N triggers the generation-
    partitioned postings equal the one-shot batch index over all docs,
    reads are bucket-pruned, and BM25 over the streamed index matches
    BM25 over the batch index."""
    from renkodf_spark.operators.search import (
        bm25_topk,
        build_inverted_index,
    )
    from renkodf_spark.streaming.merge_stream import (
        read_postings_stream,
        search_index_writer,
    )

    schema = "k long, v string, seq long, del boolean"  # v = text
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_source(src, "b1.parquet", [
        (1, "x x y", 0, False), (2, "a b a", 0, False),
    ], MERGE_COLUMNS)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    state = str(tmp_path / "sidx")
    writer = search_index_writer(state, id_col="k", text_col="v", n_buckets=8)
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_source(src, "b2.parquet", [(3, "y x", 0, False), (4, "b", 0, False)], MERGE_COLUMNS)
        q.processAllAvailable()
    finally:
        q.stop()

    all_docs = spark.createDataFrame(
        [(1, "x x y"), (2, "a b a"), (3, "y x"), (4, "b")],
        "k long, v string",
    )
    batch_idx = build_inverted_index(all_docs, id_col="k", text_col="v")

    # postings parity for a query-term subset (bucket-pruned read)
    got = sorted(
        map(tuple, read_postings_stream(spark, state, ["x", "b"]).collect())
    )
    want = sorted(
        map(tuple, batch_idx.filter(F.col("term").isin(["x", "b"])).collect())
    )
    assert got == want

    # BM25 parity: stream-index postings + latest cumulative stats
    # reproduce the batch scores exactly (stats are additive)
    stats = spark.read.parquet(state + "/stats")
    latest = stats.agg(F.max("batch_id")).collect()[0][0]
    n_docs, total = (
        stats.filter(F.col("batch_id") == latest)
        .select("n_docs", "total_tokens")
        .collect()[0]
    )
    gb = batch_idx.groupBy().agg(
        F.count_distinct("doc_id").alias("n"), F.sum("tf").alias("t")
    ).collect()[0]
    assert (n_docs, total) == (gb.n, gb.t)
    full_stream_idx = spark.read.parquet(state + "/postings").drop("tb", "batch_id")
    got_bm = sorted(map(tuple, bm25_topk(full_stream_idx, ["x", "b"], k=5).collect()))
    want_bm = sorted(map(tuple, bm25_topk(batch_idx, ["x", "b"], k=5).collect()))
    assert got_bm == want_bm
    # the query-likelihood ranker scores the folded stream index too —
    # same postings relation, so exact score parity with batch
    from renkodf_spark.operators.search import ql_topk

    got_ql = sorted(map(tuple, ql_topk(full_stream_idx, ["x", "b"], k=5, mu=7).collect()))
    want_ql = sorted(map(tuple, ql_topk(batch_idx, ["x", "b"], k=5, mu=7).collect()))
    assert got_ql == want_ql


def test_search_index_resent_doc_id_is_ignored(spark, tmp_path):
    """ADVICE r7: the append-only contract is enforced — a doc_id
    reappearing in a later trigger (and an intra-batch duplicate id)
    must not double-count BM25 stats or duplicate (term, doc) postings
    across generations; the index equals the batch index over the
    FIRST occurrence of each id."""
    from renkodf_spark.operators.search import build_inverted_index
    from renkodf_spark.streaming.merge_stream import (
        read_postings_stream,
        search_index_writer,
    )

    schema = "k long, v string, seq long, del boolean"
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_source(src, "b1.parquet", [(1, "x x y", 0, False), (2, "a b", 0, False)], MERGE_COLUMNS)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    state = str(tmp_path / "sidx")
    writer = search_index_writer(state, id_col="k", text_col="v", n_buckets=8)
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # trigger 2: id 1 re-sent with NEW text (must be dropped), id 3
        # fresh but duplicated within the batch (one copy indexed)
        write_source(src, "b2.parquet", [
            (1, "z z z z", 0, False),
            (3, "y", 0, False),
            (3, "y", 0, False),
        ], MERGE_COLUMNS)
        q.processAllAvailable()
    finally:
        q.stop()

    first_occurrence = spark.createDataFrame(
        [(1, "x x y"), (2, "a b"), (3, "y")], "k long, v string"
    )
    batch_idx = build_inverted_index(first_occurrence, id_col="k", text_col="v")

    got = sorted(map(tuple, read_postings_stream(spark, state, ["x", "y", "z"]).collect()))
    want = sorted(
        map(tuple, batch_idx.filter(F.col("term").isin(["x", "y", "z"])).collect())
    )
    assert got == want  # no z postings, no duplicate (y, 3) rows

    stats = spark.read.parquet(state + "/stats")
    latest = stats.agg(F.max("batch_id")).collect()[0][0]
    n_docs, total = (
        stats.filter(F.col("batch_id") == latest)
        .select("n_docs", "total_tokens")
        .collect()[0]
    )
    gb = batch_idx.groupBy().agg(
        F.count_distinct("doc_id").alias("n"), F.sum("tf").alias("t")
    ).collect()[0]
    assert (n_docs, total) == (gb.n, gb.t)


def test_search_index_compaction_bounds_generations_with_parity(spark, tmp_path):
    """VERDICT r7 item 6: with compact_every=2 over 4 triggers the
    postings and doclen directories end at <=2 visible generations
    (compacted + current) while postings, BM25 stats, and bucket-pruned
    reads are unchanged vs the uncompacted run."""
    from renkodf_spark.streaming.merge_stream import (
        read_postings_stream,
        search_index_writer,
    )

    schema = "k long, v string, seq long, del boolean"
    batches = [
        [(1, "x x y", 0, False)],
        [(2, "a b a", 0, False)],
        [(3, "y x", 0, False)],
        [(4, "b z", 0, False)],
    ]

    def run(tag, compact_every):
        src = str(tmp_path / f"src_{tag}")
        os.makedirs(src)
        state = str(tmp_path / f"sidx_{tag}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        writer = search_index_writer(
            state, id_col="k", text_col="v", n_buckets=8,
            compact_every=compact_every,
        )
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .start()
        )
        try:
            for i, rows in enumerate(batches):
                write_source(src, f"b{i}.parquet", rows, MERGE_COLUMNS)
                q.processAllAvailable()
        finally:
            q.stop()
        postings = sorted(
            map(tuple, read_postings_stream(spark, state, ["x", "y", "b", "z"]).collect())
        )
        gens = {
            r.batch_id
            for r in spark.read.parquet(state + "/postings")
            .select("batch_id").distinct().collect()
        }
        dl_gens = {
            r.batch_id
            for r in spark.read.parquet(state + "/doclen")
            .select("batch_id").distinct().collect()
        }
        stats = spark.read.parquet(state + "/stats")
        latest = stats.agg(F.max("batch_id")).collect()[0][0]
        st = stats.filter(F.col("batch_id") == latest).collect()[0]
        return postings, gens, dl_gens, (st.n_docs, st.total_tokens)

    p_c, gens_c, dl_c, st_c = run("compact", 2)
    p_u, gens_u, dl_u, st_u = run("plain", None)
    assert p_c == p_u and len(p_u) > 0
    assert st_c == st_u
    assert gens_u == {0, 1, 2, 3} and dl_u == {0, 1, 2, 3}
    # trigger 3 folded {0,1,2,-2} into gen -4; current trigger stays
    assert gens_c == {-4, 3} and dl_c == {-4, 3}


def test_search_index_compaction_keeps_enforcement(spark, tmp_path):
    """The seen-id set survives compaction: a doc_id re-sent AFTER its
    generation was folded must still be dropped."""
    from renkodf_spark.streaming.merge_stream import (
        read_postings_stream,
        search_index_writer,
    )

    state = str(tmp_path / "sidx")
    writer = search_index_writer(
        state, id_col="k", text_col="v", n_buckets=8, compact_every=2,
    )

    def df(rows):
        return spark.createDataFrame(rows, "k long, v string")

    writer(df([(1, "x x")]), 0)
    writer(df([(2, "y")]), 1)   # compaction fires here, folds gen 0
    writer(df([(1, "z z z")]), 2)  # re-send id 1 after its gen was folded
    got = sorted(
        map(
            tuple,
            read_postings_stream(spark, state, ["x", "z"])
            .select("term", "doc_id", "tf")
            .collect(),
        )
    )
    assert got == [("x", 1, 2)]  # no z postings, original x intact


@pytest.mark.parametrize(
    "schema, a, b, c",
    [
        ("doc_id long, dl long", [(1, 10)], [(2, 20)], [(3, 30)]),
        # the LSH band-index layout of neardup_stream
        ("id long, band int, key string", [(1, 0, "ka")], [(2, 0, "kb")], [(3, 0, "kc")]),
    ],
    ids=["doclen", "bands"],
)
def test_generic_compaction_crash_recovery(spark, tmp_path, schema, a, b, c):
    """compact_index_generations commit protocol: a leftover tmp WITH
    _SUCCESS and no committed generation is promoted (its content may
    exist nowhere else — the delete-then-crash window); a tmp WITHOUT
    the marker is a torn write whose sources are still visible, and is
    discarded."""
    from renkodf_spark.streaming.generations import compact_index_generations

    cols = [f.split()[0] for f in schema.split(", ")]

    def write_gen(path, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)

    def rows_of(path):
        return set(map(tuple, spark.read.parquet(path).select(*cols).collect()))

    idx = str(tmp_path / "recover")
    write_gen(os.path.join(idx, "batch_id=1"), a)
    write_gen(os.path.join(idx, "batch_id=2"), c)
    write_gen(os.path.join(idx, "_compact_tmp"), b)  # complete: has _SUCCESS
    compact_index_generations(spark, idx, 2)
    gens = {r.batch_id for r in spark.read.parquet(idx).select("batch_id").distinct().collect()}
    assert gens == {-3, 2}
    assert rows_of(idx) == set(a) | set(b) | set(c)

    idx2 = str(tmp_path / "torn")
    write_gen(os.path.join(idx2, "batch_id=1"), a)
    write_gen(os.path.join(idx2, "batch_id=2"), c)
    write_gen(os.path.join(idx2, "_compact_tmp"), b)
    os.remove(os.path.join(idx2, "_compact_tmp", "_SUCCESS"))  # torn write
    compact_index_generations(spark, idx2, 2)
    gens2 = {r.batch_id for r in spark.read.parquet(idx2).select("batch_id").distinct().collect()}
    assert gens2 == {-3, 2}
    assert rows_of(idx2) == set(a) | set(c)  # b discarded, sources intact


# ------------------------------------------------ streaming IVF index


VEC_COLUMNS = ["vec_id", "embedding", "label"]


def test_ivf_index_stream_parity_and_append_only(spark, tmp_path):
    """Streaming IVF maintenance (r10): after N triggers the
    generation-partitioned vector index answers ivf_topk_indexed
    IDENTICALLY to the batch write_ivf_index over the union of all
    triggers' vectors; mining over it matches the in-line ANN miner; a
    re-sent vec_id and an intra-batch duplicate are dropped (append-only
    enforced); each trigger routes only its own vectors."""
    from renkodf_spark.operators import similarity
    from renkodf_spark.streaming.ann_stream import (
        ivf_index_writer,
        read_ivf_index_stream,
    )

    vecs = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(4)], "ab"[i % 2])
        for i in range(18)
    ]
    all_df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>, label string")
    cents = similarity.embedding_centroids(all_df, dim=4)

    src = str(tmp_path / "src")
    os.makedirs(src)
    write_source(src, "b1.parquet", vecs[:8] + [vecs[3]], VEC_COLUMNS)  # intra-batch dup id 3
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>, label string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "ivf_stream")
    writer = ivf_index_writer(cents, state, carry=("label",), compact_every=2)
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # trigger 2: rest of the corpus + a RE-SENT id 5 with a mutated
        # vector — append-only must keep the first-generation row
        mutated = (5, [99.0, 99.0, 99.0, 99.0], "zz")
        write_source(src, "b2.parquet", vecs[8:] + [mutated], VEC_COLUMNS)
        q.processAllAvailable()
    finally:
        q.stop()

    # the streamed layout is directly queryable by the batch readers
    batch_path = str(tmp_path / "ivf_batch")
    similarity.write_ivf_index(all_df, cents, batch_path)
    queries = all_df.limit(4)
    got = sorted(
        map(tuple, similarity.ivf_topk_indexed(spark, state, queries, k=3, n_probe=2).collect())
    )
    want = sorted(
        map(tuple, similarity.ivf_topk_indexed(spark, batch_path, queries, k=3, n_probe=2).collect())
    )
    assert got and got == want

    # append-only: id 5 kept its original vector and label; no dup rows
    idx = read_ivf_index_stream(spark, state)
    assert idx.count() == 18
    r5 = idx.filter(F.col("id") == 5).collect()
    assert len(r5) == 1 and r5[0]["label"] == "b" and r5[0]["vec"][0] != 99.0

    # compaction (compact_every=2 fired at batch_id=1): older
    # generations folded into the negative generation, pruning intact
    gens = {
        int(p.split("=", 1)[1])
        for p in os.listdir(os.path.join(state, "data"))
        if p.startswith("batch_id=")
    }
    assert any(g < 0 for g in gens), gens

    # mining over the streamed index == the in-line ANN miner, through
    # the public indexed miner (DPP-pruned read, same as ivf_topk_indexed)
    anchors = all_df.filter(F.col("vec_id") % 3 == 0)
    mined = similarity.hard_negative_mining_ann_indexed(
        spark, state, anchors, k=3, n_probe=2
    )
    direct = similarity.hard_negative_mining_ann(all_df, anchors, cents, k=3, n_probe=2)
    assert {tuple(r) for r in mined.collect()} == {tuple(r) for r in direct.collect()}


def test_ivf_centroid_write_repairs_partial(spark, tmp_path):
    """ADVICE r10: the frozen-centroid skip is gated on a COMPLETED
    write (_SUCCESS), not bare directory existence — a centroids dir
    left by a mid-write crash (no _SUCCESS) is repaired by the
    foreachBatch replay, and a completed dir is never rewritten."""
    from renkodf_spark.operators import similarity
    from renkodf_spark.streaming.ann_stream import ivf_index_writer

    vecs = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(4)], "ab"[i % 2])
        for i in range(12)
    ]
    all_df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label string"
    )
    cents = similarity.embedding_centroids(all_df, dim=4)

    state = str(tmp_path / "ivf_crash")
    cent_dir = os.path.join(state, "centroids")
    # simulate the crashed first trigger: a partial centroid table —
    # wrong content, committer marker missing
    spark.createDataFrame(
        [(99, [0.0, 0.0, 0.0, 0.0])], "cell int, centroid array<double>"
    ).write.parquet(cent_dir)
    os.remove(os.path.join(cent_dir, "_SUCCESS"))

    writer = ivf_index_writer(cents, state)
    writer(all_df, 0)  # replayed trigger must repair the partial dir

    assert os.path.exists(os.path.join(cent_dir, "_SUCCESS"))
    got = {
        (r["cell"], tuple(r["centroid"]))
        for r in spark.read.parquet(cent_dir).collect()
    }
    want = {
        (r["cell"], tuple(r["centroid"]))
        for r in cents.select("cell", "centroid").collect()
    }
    assert got == want

    # completed dir: the next trigger leaves it untouched
    mtime = os.path.getmtime(os.path.join(cent_dir, "_SUCCESS"))
    writer(all_df.limit(0), 1)
    assert os.path.getmtime(os.path.join(cent_dir, "_SUCCESS")) == mtime


# ------------------------------------------------ streaming kNN graph


def test_knn_graph_stream_matches_batch(spark, tmp_path):
    """Streaming kNN-graph maintenance (r12, VERDICT r11 item 4):
    after N triggers the cell-partitioned edge store equals the batch
    similarity.knn_graph over the union of all triggers' vectors,
    bit-for-bit; a trigger recomputes ONLY the cells it routed vectors
    into (untouched cells' edge files are not rewritten); replaying a
    trigger is idempotent; the derived mutual-kNN / density / cluster
    readers compose on the stream reader unchanged."""
    from renkodf_spark.operators import dedup, similarity
    from renkodf_spark.streaming.ann_stream import (
        knn_graph_writer,
        read_knn_graph_stream,
    )

    vecs = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(4)], "abc"[i % 3])
        for i in range(24)
    ]
    labeled = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label string"
    )
    all_df = labeled.drop("label")
    cents = similarity.embedding_centroids(labeled, dim=4)

    state = str(tmp_path / "knn_stream")
    writer = knn_graph_writer(cents, state, k=3)

    def rows(df):
        return {tuple(r) for r in df.collect()}

    b1 = spark.createDataFrame(vecs[:10], "vec_id long, embedding array<double>, label string").drop("label")
    b2 = spark.createDataFrame(vecs[10:], "vec_id long, embedding array<double>, label string").drop("label")
    writer(b1, 0)
    mid = rows(read_knn_graph_stream(spark, state))
    want_mid = rows(similarity.knn_graph(b1, cents, k=3))
    assert mid == want_mid

    # which cells does trigger 2 touch? untouched cells' edge
    # partitions must keep their exact files (mtimes unchanged)
    edges_dir = os.path.join(state, "edges")
    before = {
        d: sorted(os.listdir(os.path.join(edges_dir, d)))
        for d in os.listdir(edges_dir)
        if d.startswith("cell=")
    }
    from renkodf_spark.operators.similarity import nearest_centroid

    touched = {
        f"cell={r['cell']}"
        for r in nearest_centroid(b2, cents).select("cell").distinct().collect()
    }

    writer(b2, 1)
    after_full = rows(read_knn_graph_stream(spark, state))
    want_full = rows(similarity.knn_graph(all_df, cents, k=3))
    assert after_full == want_full

    for d, files in before.items():
        if d not in touched:
            assert (
                sorted(os.listdir(os.path.join(edges_dir, d))) == files
            ), f"untouched cell partition {d} was rewritten"

    # replay of trigger 1 (at-least-once delivery): same state after
    writer(b2, 1)
    assert rows(read_knn_graph_stream(spark, state)) == want_full

    # derived graph views compose on the stream reader unchanged
    graph = read_knn_graph_stream(spark, state)
    got_mutual = rows(similarity.mutual_knn_edges(graph))
    want_mutual = rows(similarity.mutual_knn_edges(similarity.knn_graph(all_df, cents, k=3)))
    assert got_mutual == want_mutual
    labels = dedup.cluster_labels(
        all_df.select("vec_id"),
        similarity.mutual_knn_edges(graph),
        id_col="vec_id",
        on_nonconverge="raise",
    )
    assert labels.count() == 24

    # an empty trigger is a no-op (no edge rewrite, no error)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    writer(empty, 2)
    assert rows(read_knn_graph_stream(spark, state)) == want_full


def test_knn_graph_stream_compaction_parity(spark, tmp_path):
    """knn_graph_writer passes compact_every through to the composed
    IVF store: generations fold while the edge store stays bit-equal
    to batch (the edge recompute reads the whole data dir, so the
    generation layout is invisible to it)."""
    from renkodf_spark.operators import similarity
    from renkodf_spark.streaming.ann_stream import (
        knn_graph_writer,
        read_knn_graph_stream,
    )

    vecs = [
        (i, [float((i * 5 + j * 11) % 13) for j in range(4)], "ab"[i % 2])
        for i in range(20)
    ]
    labeled = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label string"
    )
    all_df = labeled.drop("label")
    cents = similarity.embedding_centroids(labeled, dim=4)
    state = str(tmp_path / "knn_compact")
    writer = knn_graph_writer(cents, state, k=3, compact_every=2)
    for bid, (lo, hi) in enumerate([(0, 7), (7, 14), (14, 20)]):
        writer(all_df.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), bid)
    gens = {
        int(p.split("=", 1)[1])
        for p in os.listdir(os.path.join(state, "data"))
        if p.startswith("batch_id=")
    }
    assert any(g < 0 for g in gens), gens  # compaction folded generations
    got = {tuple(r) for r in read_knn_graph_stream(spark, state).collect()}
    want = {tuple(r) for r in similarity.knn_graph(all_df, cents, k=3).collect()}
    assert got == want


def test_knn_graph_stream_cap_passthrough(spark, tmp_path):
    """max_cell_size passes through the stream writer to the shared
    pair/rank stage: at a loose cap the streamed graph still equals the
    exact batch graph (cap is a no-op), and at a tight cap every edge
    is a true cell-mate pair with per-source degree <= k — the batch
    operator's documented substitution semantics, unchanged by the
    affected-cells recompute."""
    from renkodf_spark.operators import similarity
    from renkodf_spark.streaming.ann_stream import (
        knn_graph_writer,
        read_knn_graph_stream,
    )

    vecs = [
        (i, [float((i * 3 + j * 7) % 11) for j in range(4)], "ab"[i % 2])
        for i in range(18)
    ]
    labeled = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label string"
    )
    all_df = labeled.drop("label")
    cents = similarity.embedding_centroids(labeled, dim=4)

    loose = str(tmp_path / "loose")
    writer = knn_graph_writer(cents, loose, k=3, max_cell_size=1000)
    writer(all_df.filter(F.col("vec_id") < 9), 0)
    writer(all_df.filter(F.col("vec_id") >= 9), 1)
    got = {tuple(r) for r in read_knn_graph_stream(spark, loose).collect()}
    want = {tuple(r) for r in similarity.knn_graph(all_df, cents, k=3).collect()}
    assert got == want

    tight = str(tmp_path / "tight")
    writer_t = knn_graph_writer(cents, tight, k=3, max_cell_size=4)
    writer_t(all_df.filter(F.col("vec_id") < 9), 0)
    writer_t(all_df.filter(F.col("vec_id") >= 9), 1)
    capped = read_knn_graph_stream(spark, tight).collect()
    assert capped
    all_pairs = {
        (r.src, r.dst): r.cos_sim
        for r in similarity.knn_graph(all_df, cents, k=10**6).collect()
    }
    deg = {}
    for r in capped:
        assert (r.src, r.dst) in all_pairs  # true cell-mate, exact cosine
        assert r.cos_sim == all_pairs[(r.src, r.dst)]
        deg[r.src] = deg.get(r.src, 0) + 1
    assert max(deg.values()) <= 3


# ------------------------------------------- streaming centrality


def test_knn_centrality_stream_matches_batch(spark, tmp_path):
    """Streaming TrustRank/PageRank maintenance (r13, VERDICT r12 item
    6): after each trigger the maintained ranks equal the batch
    graph.pagerank over similarity.knn_graph of the concatenated
    stream, bit-for-bit. Steady-state triggers (no new seed vectors)
    recompute ONLY affected cells — untouched cells' rank files are
    not rewritten; a trigger that changes |S| refixpoints everything
    (pr0 shifts globally); replays are idempotent."""
    from renkodf_spark.operators import graph, similarity
    from renkodf_spark.streaming.ann_stream import (
        knn_centrality_writer,
        read_knn_centrality,
    )

    lvecs = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(4)], "abc"[i % 3])
        for i in range(30)
    ]
    schema = "vec_id long, embedding array<double>"
    labeled = spark.createDataFrame(
        lvecs, "vec_id long, embedding array<double>, label string"
    )
    vecs = [(i, v) for i, v, _ in lvecs]
    all_df = spark.createDataFrame(vecs, schema)
    cents = similarity.embedding_centroids(labeled, dim=4)
    # trusted set: ids 0..4 (all inside trigger 1, so triggers 2 and 3
    # leave |S| unchanged -> affected-cells-only recompute)
    seeds = spark.createDataFrame([(i,) for i in range(5)], "id long")

    def batch_ranks(df):
        edges = similarity.knn_graph(df, cents, k=3).select("src", "dst")
        nodes = df.selectExpr("vec_id as id")
        pr = graph.pagerank(edges, nodes, iterations=3, seeds=seeds)
        return {tuple(r) for r in pr.collect()}

    state = str(tmp_path / "cent_stream")
    writer = knn_centrality_writer(cents, state, seeds=seeds, k=3, iterations=3)

    b1 = spark.createDataFrame(vecs[:12], schema)
    b2 = spark.createDataFrame(vecs[12:22], schema)
    b3 = spark.createDataFrame(vecs[22:], schema)

    writer(b1, 0)
    got = {tuple(r) for r in read_knn_centrality(spark, state).collect()}
    assert got == batch_ranks(b1)

    # trigger 2 adds NO seed vectors: |S| unchanged -> only its routed
    # cells' rank partitions may be rewritten
    ranks_dir = os.path.join(state, "ranks")
    before = {
        d: sorted(os.listdir(os.path.join(ranks_dir, d)))
        for d in os.listdir(ranks_dir)
        if d.startswith("cell=")
    }
    from renkodf_spark.operators.similarity import nearest_centroid

    touched = {
        f"cell={r['cell']}"
        for r in nearest_centroid(b2, cents).select("cell").distinct().collect()
    }
    writer(b2, 1)
    got = {tuple(r) for r in read_knn_centrality(spark, state).collect()}
    assert got == batch_ranks(spark.createDataFrame(vecs[:22], schema))
    for d, files in before.items():
        if d not in touched:
            assert (
                sorted(os.listdir(os.path.join(ranks_dir, d))) == files
            ), f"untouched cell rank partition {d} was rewritten"

    # trigger 3 + replay
    writer(b3, 2)
    want = batch_ranks(all_df)
    assert {tuple(r) for r in read_knn_centrality(spark, state).collect()} == want
    writer(b3, 2)
    assert {tuple(r) for r in read_knn_centrality(spark, state).collect()} == want

    # empty trigger: no-op
    writer(spark.createDataFrame([], schema), 3)
    assert {tuple(r) for r in read_knn_centrality(spark, state).collect()} == want


def test_knn_centrality_unseeded_full_refixpoint(spark, tmp_path):
    """seeds=None is plain PageRank: |S| = |V| grows every trigger, so
    each trigger is a full refixpoint (documented O(V+E)) and parity
    with the batch run still holds exactly."""
    from renkodf_spark.operators import graph, similarity
    from renkodf_spark.streaming.ann_stream import (
        knn_centrality_writer,
        read_knn_centrality,
    )

    lvecs = [
        (i, [float((i * 5 + j) % 7) for j in range(4)], "ab"[i % 2])
        for i in range(16)
    ]
    schema = "vec_id long, embedding array<double>"
    labeled = spark.createDataFrame(
        lvecs, "vec_id long, embedding array<double>, label string"
    )
    vecs = [(i, v) for i, v, _ in lvecs]
    all_df = spark.createDataFrame(vecs, schema)
    cents = similarity.embedding_centroids(labeled, dim=4)
    state = str(tmp_path / "pr_stream")
    writer = knn_centrality_writer(cents, state, k=3, iterations=3)
    writer(spark.createDataFrame(vecs[:9], schema), 0)
    writer(spark.createDataFrame(vecs[9:], schema), 1)
    edges = similarity.knn_graph(all_df, cents, k=3).select("src", "dst")
    want = {
        tuple(r)
        for r in graph.pagerank(
            edges, all_df.selectExpr("vec_id as id"), iterations=3
        ).collect()
    }
    got = {tuple(r) for r in read_knn_centrality(spark, state).collect()}
    assert got == want


def test_knn_communities_stream_matches_batch(spark, tmp_path):
    """Streaming LPA community maintenance (r13): labels are a pure
    function of each cell's subgraph (no global parameter), so every
    trigger recomputes exactly the affected cells — stream == batch
    label_propagation over mutual_knn_edges(knn_graph(concat)),
    bit-for-bit; untouched cells' community files are never rewritten;
    replays idempotent."""
    from renkodf_spark.operators import graph, similarity
    from renkodf_spark.streaming.ann_stream import (
        knn_communities_writer,
        read_knn_communities,
    )

    lvecs = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(4)], "abc"[i % 3])
        for i in range(27)
    ]
    schema = "vec_id long, embedding array<double>"
    labeled = spark.createDataFrame(
        lvecs, "vec_id long, embedding array<double>, label string"
    )
    vecs = [(i, v) for i, v, _ in lvecs]
    all_df = spark.createDataFrame(vecs, schema)
    cents = similarity.embedding_centroids(labeled, dim=4)

    def batch_communities(df):
        g = similarity.knn_graph(df, cents, k=3)
        pairs = similarity.mutual_knn_edges(g)
        und = pairs.selectExpr("id_a as src", "id_b as dst").unionByName(
            pairs.selectExpr("id_b as src", "id_a as dst")
        )
        out = graph.label_propagation(
            und, df.selectExpr("vec_id as id"), iterations=3
        )
        return {tuple(r) for r in out.collect()}

    state = str(tmp_path / "lpa_stream")
    writer = knn_communities_writer(cents, state, k=3, iterations=3)

    b1 = spark.createDataFrame(vecs[:11], schema)
    b2 = spark.createDataFrame(vecs[11:20], schema)
    b3 = spark.createDataFrame(vecs[20:], schema)

    writer(b1, 0)
    got = {tuple(r) for r in read_knn_communities(spark, state).collect()}
    assert got == batch_communities(b1)

    comm_dir = os.path.join(state, "communities")
    before = {
        d: sorted(os.listdir(os.path.join(comm_dir, d)))
        for d in os.listdir(comm_dir)
        if d.startswith("cell=")
    }
    from renkodf_spark.operators.similarity import nearest_centroid

    touched = {
        f"cell={r['cell']}"
        for r in nearest_centroid(b2, cents).select("cell").distinct().collect()
    }
    writer(b2, 1)
    got = {tuple(r) for r in read_knn_communities(spark, state).collect()}
    assert got == batch_communities(spark.createDataFrame(vecs[:20], schema))
    for d, files in before.items():
        if d not in touched:
            assert (
                sorted(os.listdir(os.path.join(comm_dir, d))) == files
            ), f"untouched cell community partition {d} was rewritten"

    writer(b3, 2)
    want = batch_communities(all_df)
    assert {tuple(r) for r in read_knn_communities(spark, state).collect()} == want
    writer(b3, 2)  # replay
    assert {tuple(r) for r in read_knn_communities(spark, state).collect()} == want
    writer(spark.createDataFrame([], schema), 3)  # empty trigger
    assert {tuple(r) for r in read_knn_communities(spark, state).collect()} == want


@pytest.mark.parametrize("name", ["centrality", "communities"])
def test_knn_writers_string_cells_before_any_edge(spark, tmp_path, name):
    """Centroids labelled by strings give string cells. A first trigger
    that leaves one vector in each cell writes no edge, and the next
    trigger must read that empty edge store with the vector store's
    string ``cell``, not fail casting a label to a number; the state
    then equals the batch operator on both triggers' vectors."""
    from renkodf_spark.operators import graph, similarity
    from renkodf_spark.streaming import ann_stream

    lvecs = [(i, [float((i * 7 + j * 3) % 11) for j in range(4)], "ab"[i % 2]) for i in range(8)]
    schema = "vec_id long, embedding array<double>"
    cents = similarity.embedding_centroids(
        spark.createDataFrame(lvecs, schema + ", label string"), dim=4
    )
    vecs = [(i, v) for i, v, _ in lvecs]
    state = str(tmp_path / name)
    if name == "centrality":
        writer = ann_stream.knn_centrality_writer(cents, state, k=2, iterations=1)
        read = ann_stream.read_knn_centrality
    else:
        writer = ann_stream.knn_communities_writer(cents, state, k=2, iterations=1)
        read = ann_stream.read_knn_communities
    writer(spark.createDataFrame(vecs[:2], schema), 0)
    edges = os.path.join(state, "edges")  # one vector in each cell: no edge yet
    assert not os.path.isdir(edges) or not [d for d in os.listdir(edges) if d.startswith("cell=")]
    writer(spark.createDataFrame(vecs[2:], schema), 1)

    all_df = spark.createDataFrame(vecs, schema)
    g = similarity.knn_graph(all_df, cents, k=2)
    nodes = all_df.selectExpr("vec_id as id")
    if name == "centrality":
        want = graph.pagerank(g.select("src", "dst"), nodes, iterations=1)
    else:
        pairs = similarity.mutual_knn_edges(g)
        und = pairs.selectExpr("id_a as src", "id_b as dst").unionByName(
            pairs.selectExpr("id_b as src", "id_a as dst")
        )
        want = graph.label_propagation(und, nodes, iterations=1)
    assert {tuple(r) for r in read(spark, state).collect()} == {tuple(r) for r in want.collect()}
