"""Streaming corpus curation: exact-dedup with bounded state and the
stateless quality gate, driven from a file source in micro-batches
(duplicates split ACROSS batches, so the dedup state must persist
between triggers — the property a per-batch distinct would miss).
"""

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from renkodf_spark.streaming.curation_stream import dedup_stream, quality_gate
from tests.conftest import write_source

SCHEMA = "doc_id long, event_time timestamp, text string"


def _docs(rows: list[tuple]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=["doc_id", "event_time", "text"])
    pdf["event_time"] = pd.to_datetime(pdf["event_time"]).astype("datetime64[us]")
    return pdf


def _drain(spark, q, table: str, expect: int, deadline_s: int = 40) -> int:
    deadline = time.time() + deadline_s
    n = 0
    while time.time() < deadline:
        n = spark.sql(f"SELECT count(*) c FROM {table}").first()["c"]
        if n >= expect and not q.status["isDataAvailable"]:
            break
        time.sleep(0.5)
    return n


def test_dedup_stream_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_source(
        src,
        "b1.parquet",
        _docs([
            (1, "2024-01-01 00:00:00", "alpha beta gamma"),
            (2, "2024-01-01 00:00:01", "delta epsilon zeta"),
            (3, "2024-01-01 00:00:02", "alpha beta gamma"),  # in-batch dup of 1
        ]),
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        dedup_stream(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_docs")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        assert _drain(spark, q, "dedup_docs", 2) == 2
        # second file, later trigger: one cross-batch dup + one new doc
        write_source(
            src,
            "b2.parquet",
            _docs([
                (4, "2024-01-01 00:10:00", "alpha beta gamma"),  # dup of 1
                (5, "2024-01-01 00:10:01", "eta theta iota"),
            ]),
        )
        assert _drain(spark, q, "dedup_docs", 3) == 3
    finally:
        q.stop()
    kept = {
        r["content_hash"]: r["doc_id"]
        for r in spark.sql("SELECT content_hash, doc_id FROM dedup_docs").collect()
    }
    assert len(kept) == 3  # three distinct texts survived, each exactly once
    assert 4 not in kept.values()  # the cross-batch duplicate was dropped


def test_quality_gate_stateless(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_source(
        src,
        "b1.parquet",
        _docs([
            (1, "2024-01-01 00:00:00", "one two three four five six"),
            (2, "2024-01-01 00:00:01", "too short"),
            (3, "2024-01-01 00:00:02", "w. x, y; z: a! b? c. d, e; f: g!"),
        ]),
    )
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        quality_gate(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("quality_docs")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        n = _drain(spark, q, "quality_docs", 1)
    finally:
        q.stop()
    ids = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM quality_docs").collect()}
    assert n == 1 and ids == {1}  # 2: < 5 words; 3: punct-heavy


def test_neardup_stream_matches_batch_incremental_lsh(spark, tmp_path):
    """VERDICT r4 item 6: two triggers through the foreachBatch near-dup
    job must produce exactly the candidate pairs of the uncapped batch
    minhash_lsh_pairs over the same corpus — cross-batch candidates come
    from the persisted band index, not from re-shingling history."""
    from renkodf_spark.operators.dedup import minhash_lsh_pairs
    from renkodf_spark.streaming.neardup_stream import start_neardup_stream

    b1 = [
        (1, "2024-01-01 00:00:00", "the quick brown fox jumps over the lazy dog"),
        (2, "2024-01-01 00:00:01", "completely different content words appear here entirely"),
        (3, "2024-01-01 00:00:02", "the quick brown fox jumps over the lazy cat"),
    ]
    b2 = [
        (4, "2024-01-01 00:10:00", "the quick brown fox jumps over the lazy dog"),
        (5, "2024-01-01 00:10:01", "unrelated sentence with its own vocabulary set"),
        (6, "2024-01-01 00:10:02", "completely different content words appear here today"),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_source(src, "b1.parquet", _docs(b1))
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    index_path = str(tmp_path / "band_index")
    pairs_path = str(tmp_path / "pairs")
    q = start_neardup_stream(
        stream,
        index_path=index_path,
        pairs_path=pairs_path,
        checkpoint=str(tmp_path / "ck"),
    )
    try:
        q.processAllAvailable()
        write_source(src, "b2.parquet", _docs(b2))
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(pairs_path).select("id_a", "id_b").collect()
    }
    docs = spark.createDataFrame(
        pd.DataFrame(b1 + b2, columns=["doc_id", "event_time", "text"])
    )
    want = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, max_bucket_size=None).collect()
    }
    assert got == want and len(want) > 0
    # cross-batch candidate really present: doc 4 duplicates doc 1
    assert (1, 4) in got
    # the index holds exactly one band partition per trigger
    idx = spark.read.parquet(index_path)
    assert {r.batch_id for r in idx.select("batch_id").distinct().collect()} == {0, 1}


def test_neardup_index_compaction_bounds_partitions_with_parity(spark, tmp_path):
    """VERDICT r5 item 3: with compact_every=3 over 6 triggers, the band
    index must end at <=2 visible partitions (compacted generation +
    current trigger) while producing EXACTLY the candidate pairs of the
    uncompacted run — compaction is a layout change, not a semantic
    one."""
    from renkodf_spark.streaming.neardup_stream import start_neardup_stream

    def doc(i, text):
        return (i, "2024-01-01 00:%02d:00" % i, text)

    batches = [
        [doc(1, "the quick brown fox jumps over the lazy dog")],
        [doc(2, "completely different content words appear here entirely")],
        [doc(3, "the quick brown fox jumps over the lazy cat")],
        [doc(4, "the quick brown fox jumps over the lazy dog")],
        [doc(5, "unrelated sentence with its own vocabulary set")],
        [doc(6, "completely different content words appear here today")],
    ]

    def run(tag, compact_every):
        src = str(tmp_path / f"src_{tag}")
        os.makedirs(src)
        index_path = str(tmp_path / f"index_{tag}")
        pairs_path = str(tmp_path / f"pairs_{tag}")
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = start_neardup_stream(
            stream,
            index_path=index_path,
            pairs_path=pairs_path,
            checkpoint=str(tmp_path / f"ck_{tag}"),
            compact_every=compact_every,
        )
        try:
            for i, rows in enumerate(batches):
                write_source(src, f"b{i}.parquet", _docs(rows))
                q.processAllAvailable()
        finally:
            q.stop()
        pairs = {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(pairs_path).select("id_a", "id_b").collect()
        }
        parts = {
            r.batch_id
            for r in spark.read.parquet(index_path).select("batch_id").distinct().collect()
        }
        bands = {
            (r.id, r.band, r.key)
            for r in spark.read.parquet(index_path)
            .select("id", "band", "key")
            .distinct()
            .collect()
        }
        return pairs, parts, bands

    pairs_c, parts_c, bands_c = run("compact", compact_every=3)
    pairs_u, parts_u, bands_u = run("plain", compact_every=None)

    assert pairs_c == pairs_u and len(pairs_u) > 0
    assert (1, 4) in pairs_c  # cross-batch candidate survives compaction
    # uncompacted: one partition per trigger; compacted: gen + last trigger
    assert parts_u == {0, 1, 2, 3, 4, 5}
    assert parts_c == {-6, 5}
    # the fold is content-preserving on the band set itself
    assert bands_c == bands_u


def test_rate_gate_stream_equals_batch_sample(spark, tmp_path):
    """The streamed rate sample must be EXACTLY the batch rate_sample of
    the same rows — no trigger-boundary or state dependence."""
    from renkodf_spark.operators.corpus import rate_sample
    from renkodf_spark.streaming.curation_stream import rate_gate

    rows = [
        (i, "2024-01-01 00:00:%02d" % (i % 60), f"doc number {i} body text")
        for i in range(200)
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_source(src, "b1.parquet", _docs(rows[:120]))
    write_source(src, "b2.parquet", _docs(rows[120:]))
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        rate_gate(stream, 0.3)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_gated")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.doc_id for r in spark.sql("SELECT doc_id FROM rate_gated").collect()}
    batch = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "event_time", "text"])
    )
    want = {r.doc_id for r in rate_sample(batch, 0.3).collect()}
    assert got == want and 0 < len(want) < 200


def test_quota_cap_stream_fills_across_triggers(spark, tmp_path):
    """Cross-batch quota cap: quota 5 per language; trigger 1 admits its
    in-batch top ranks, trigger 2 only fills the remainder — and the
    total per group never exceeds the quota."""
    from renkodf_spark.streaming.curation_stream import quota_cap_writer

    def rows(lo, hi):
        return [
            (i, "2024-01-01 00:00:%02d" % (i % 60), f"lang {'en' if i % 2 == 0 else 'de'} doc {i}")
            for i in range(lo, hi)
        ]

    src = str(tmp_path / "src")
    os.makedirs(src)
    write_source(src, "b1.parquet", _docs(rows(0, 8)))  # 4 en, 4 de
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out_path = str(tmp_path / "admitted")
    counts_path = str(tmp_path / "counts")
    writer = quota_cap_writer(
        out_path, counts_path, "lang", per_group=5, id_col="doc_id"
    )
    lang = F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    q = (
        stream.withColumn("lang", lang)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = (
            spark.read.parquet(out_path).groupBy("lang").count().collect()
        )
        assert {r["lang"]: r["count"] for r in first} == {"en": 4, "de": 4}
        write_source(src, "b2.parquet", _docs(rows(8, 20)))  # 6 more of each
        q.processAllAvailable()
    finally:
        q.stop()
    final = {
        r["lang"]: r["count"]
        for r in spark.read.parquet(out_path).groupBy("lang").count().collect()
    }
    assert final == {"en": 5, "de": 5}  # each filled exactly to quota
    per_batch = {
        (r["batch_id"], r["lang"]): r["count"]
        for r in spark.read.parquet(out_path).groupBy("batch_id", "lang").count().collect()
    }
    # trigger 2 admitted exactly the remainder
    assert per_batch[(1, "en")] == 1 and per_batch[(1, "de")] == 1


def test_quota_select_stream_equals_batch_quota_sample(spark, tmp_path):
    """VERDICT r5 item 5: the cross-trigger quota SELECTION after N
    triggers must equal batch quota_sample over the concatenation of
    all triggers — including ranks — not just a first-come admission.
    The low-hash doc arriving in a LATER trigger must evict an earlier
    admit."""
    from renkodf_spark.operators.corpus import quota_sample
    from renkodf_spark.streaming.curation_stream import quota_select_writer

    def rows(lo, hi):
        return [
            (i, "2024-01-01 00:00:%02d" % (i % 60), f"doc {i}")
            for i in range(lo, hi)
        ]

    src = str(tmp_path / "src")
    os.makedirs(src)
    write_source(src, "b1.parquet", _docs(rows(0, 30)))
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    sel_path = str(tmp_path / "selection")
    lang = F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    writer = quota_select_writer(sel_path, "lang", per_group=5, id_col="doc_id")
    q = (
        stream.withColumn("lang", lang)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        after1 = {
            (r.doc_id, r.sample_rank)
            for r in spark.read.parquet(sel_path).select("doc_id", "sample_rank").collect()
        }
        write_source(src, "b2.parquet", _docs(rows(30, 90)))
        q.processAllAvailable()
        write_source(src, "b3.parquet", _docs(rows(90, 120)))
        q.processAllAvailable()
    finally:
        q.stop()

    snaps = spark.read.parquet(sel_path)
    last = snaps.agg(F.max("batch_id").alias("m")).first()["m"]
    got = {
        (r.doc_id, r.sample_rank)
        for r in snaps.filter(F.col("batch_id") == last)
        .select("doc_id", "sample_rank")
        .collect()
    }
    all_docs = spark.createDataFrame(
        pd.DataFrame(rows(0, 120), columns=["doc_id", "event_time", "text"])
    ).withColumn("lang", lang)
    want = {
        (r.doc_id, r.sample_rank)
        for r in quota_sample(all_docs, "lang", per_group=5, id_col="doc_id")
        .select("doc_id", "sample_rank")
        .collect()
    }
    assert got == want and len(want) == 10
    # retroactivity: later triggers actually displaced earlier admits
    assert {d for d, _ in after1} != {d for d, _ in got}
    # state stays bounded: at most the consumed + current snapshots
    kept = {r.batch_id for r in snaps.select("batch_id").distinct().collect()}
    assert len(kept) <= 2

    # replay idempotence: re-running the last micro-batch changes nothing
    writer(
        all_docs.filter((F.col("doc_id") >= 90) & (F.col("doc_id") < 120)), int(last)
    )
    again = {
        (r.doc_id, r.sample_rank)
        for r in spark.read.parquet(sel_path)
        .filter(F.col("batch_id") == last)
        .select("doc_id", "sample_rank")
        .collect()
    }
    assert again == want


def _corrupt_parquet(gen_dir: str) -> None:
    """Garbage bytes where every parquet footer of a generation should be."""
    for root, _, files in os.walk(gen_dir):
        for name in files:
            if name.endswith(".parquet"):
                with open(os.path.join(root, name), "wb") as fh:
                    fh.write(b"this is not a parquet file")


def _corrupt_case(name, tmp_path):
    """``(writer, generation dir to corrupt, dirs that must not gain
    trigger 1's generation)`` for one prior-state read shape."""
    from renkodf_spark.streaming.curation_stream import (
        cms_rollup_writer,
        quantile_sketch_writer,
        quota_cap_writer,
    )
    from renkodf_spark.streaming.merge_stream import merge_writer

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    if name == "quota_cap":  # all prior generations
        w = quota_cap_writer(a, b, "lang", per_group=5, id_col="doc_id")
        return w, os.path.join(b, "batch_id=0"), [a, b]
    if name == "cms_rollup":  # latest snapshot
        return cms_rollup_writer(a, "lang"), os.path.join(a, "batch_id=0"), [a]
    if name == "merge_manifest":  # latest manifest
        w = merge_writer(a, keys=["doc_id"], n_key_buckets=2)
        return w, os.path.join(a, "_manifest", "batch_id=0"), [a, os.path.join(a, "_manifest")]
    # compaction fold: trigger 1 is the compaction trigger
    w = quantile_sketch_writer(a, "lang", "doc_id", k=32, n_buckets=4, compact_every=2)
    return w, os.path.join(a, "batch_id=0"), [a]


@pytest.mark.parametrize(
    "case", ["quota_cap", "cms_rollup", "merge_manifest", "quantile_compaction"]
)
def test_corrupt_generation_fails_trigger(spark, tmp_path, case):
    """A generation that exists but cannot be read must FAIL the trigger
    (so foreachBatch retries it) — not read as 'no rows yet', which
    would restart from empty state (for the quota cap: admit past the
    lifetime quota). Only a missing or data-less store may be swallowed.
    One writer per read shape; nothing from the failed trigger lands."""
    writer, corrupt, stores = _corrupt_case(case, tmp_path)
    batch = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de", f"doc {i}") for i in range(8)],
        "doc_id long, lang string, text string",
    )
    writer(batch, 0)  # missing store -> first batch, writes normally
    _corrupt_parquet(corrupt)
    with pytest.raises(Exception) as excinfo:
        writer(batch, 1)
    assert "Path does not exist" not in str(excinfo.value)
    # neither trigger 1's generation nor a folded one (-2) landed
    for store in stores:
        assert not {"batch_id=1", "gen=1", "batch_id=-2"} & set(os.listdir(store))


def _empty_store_case(name, spark, path):
    """``(writer, one data batch, reader)`` for a writer with
    compact_every=2 whose store can hold only empty ``partitionBy``
    generations."""
    from renkodf_spark.operators import similarity
    from renkodf_spark.streaming import ann_stream, curation_stream as cs
    from renkodf_spark.streaming import merge_stream

    def rows(df):
        return sorted(map(str, df.collect()))

    if name == "quantile_sketch":
        data = spark.createDataFrame([("a", 1.0), ("a", 2.5), ("b", 10.0)], "g string, v double")
        w = cs.quantile_sketch_writer(path, "g", "v", k=32, n_buckets=4, compact_every=2)
        return w, data, lambda: rows(cs.read_quantile_sketch(spark, path, "g"))
    if name == "nb_model":
        data = spark.createDataFrame(
            [("good doc here", True), ("bad doc", False)], "text string, pos boolean"
        )
        w = cs.nb_model_writer(path, "pos", n_buckets=4, compact_every=2)

        def read():
            model, prior = cs.read_nb_model(spark, path)
            return rows(model), prior

        return w, data, read
    if name == "bigram_lm":
        data = spark.createDataFrame([("the cat sat",), ("the dog sat",)], "text string")
        w = cs.bigram_lm_writer(path, n_buckets=4, compact_every=2)

        def read():
            uni, bi, oov = cs.read_bigram_lm(spark, path)
            return rows(uni), rows(bi), oov

        return w, data, read
    if name == "search_index":
        data = spark.createDataFrame([(1, "x y"), (2, "y z")], "k long, v string")
        w = merge_stream.search_index_writer(
            path, id_col="k", text_col="v", n_buckets=4, compact_every=2
        )
        return w, data, lambda: rows(merge_stream.read_postings_stream(spark, path, ["x", "y", "z"]))
    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) for j in range(4)], "ab"[i % 2]) for i in range(6)],
        "vec_id long, embedding array<double>, label string",
    )
    w = ann_stream.ivf_index_writer(
        similarity.embedding_centroids(vecs, dim=4), path, compact_every=2
    )
    return w, vecs, lambda: rows(ann_stream.read_ivf_index_stream(spark, path))


@pytest.mark.parametrize(
    "case", ["quantile_sketch", "nb_model", "bigram_lm", "search_index", "ivf_index"]
)
def test_empty_partitioned_store_does_not_wedge_compaction(spark, tmp_path, case):
    """Two empty micro-batches leave a store of empty ``partitionBy``
    generations (only ``_SUCCESS``, which fails schema inference). The
    compaction trigger must treat it as 'no rows yet' — not fail on
    every replay — and the store must read exactly like one fed the
    data batch alone."""
    path = str(tmp_path / "state")
    writer, data, read = _empty_store_case(case, spark, path)
    empty = spark.createDataFrame([], data.schema)
    for batch_id, batch in enumerate([empty, empty, data]):
        writer(batch, batch_id)
    got = read()

    path = str(tmp_path / "ref")
    writer, data, read = _empty_store_case(case, spark, path)
    writer(data, 0)
    assert got == read()


def test_bloom_dedup_stream_across_triggers(spark, tmp_path):
    """Sketch-based streaming dedup: cross-trigger duplicates are
    dropped via the cumulative Bloom snapshot (never re-reading
    history), the latest snapshot equals a batch-built sketch over all
    admitted keys, and exactly one snapshot partition is read per
    trigger regardless of trigger count."""
    from renkodf_spark.functions import bloom
    from renkodf_spark.streaming.curation_stream import bloom_dedup_writer

    src = str(tmp_path / "src")
    os.makedirs(src)
    write_source(
        src,
        "b1.parquet",
        _docs([
            (1, "2024-01-01 00:00:00", "alpha beta gamma"),
            (2, "2024-01-01 00:00:01", "delta epsilon zeta"),
            (3, "2024-01-01 00:00:02", "alpha beta gamma"),  # in-batch dup of 1
        ]),
    )
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out_path = str(tmp_path / "admitted")
    sketch_path = str(tmp_path / "sketch")
    n_bits, k = 4096, 4  # large enough that FPs are ~impossible here
    writer = bloom_dedup_writer(out_path, sketch_path, n_bits=n_bits, k=k)
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = sorted(r["doc_id"] for r in spark.read.parquet(out_path).collect())
        assert got1 == [1, 2]  # in-batch dup dropped, first id wins
        write_source(
            src,
            "b2.parquet",
            _docs([
                (4, "2024-01-01 00:01:00", "ALPHA BETA GAMMA  "),  # norm dup of 1
                (5, "2024-01-01 00:01:01", "eta theta iota"),
            ]),
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r["doc_id"] for r in spark.read.parquet(out_path).collect())
    assert got == [1, 2, 5]  # cross-trigger normalized dup dropped

    # the latest snapshot == a batch-built sketch over all admitted keys
    snaps = spark.read.parquet(sketch_path)
    latest = snaps.agg(F.max("batch_id")).collect()[0][0]
    latest_rows = sorted(
        (r["word_idx"], r["bits"])
        for r in snaps.filter(F.col("batch_id") == latest).collect()
    )
    all_admitted = spark.read.parquet(out_path).withColumn(
        "__key", F.md5(F.lower(F.trim(F.col("text"))))
    )
    batch_rows = sorted(
        map(tuple, bloom.bloom_build(all_admitted, "__key", n_bits=n_bits, k=k).collect())
    )
    assert latest_rows == batch_rows
    # one snapshot partition per trigger, each a full cumulative sketch
    assert sorted(r["batch_id"] for r in snaps.select("batch_id").distinct().collect()) == [0, 1]


def test_bloom_dedup_one_sided_under_tiny_sketch(spark, tmp_path):
    """With a deliberately saturated sketch, previously-seen docs are
    STILL always dropped (no false negatives) and the only error mode
    is dropping some genuinely-new docs."""
    from renkodf_spark.streaming.curation_stream import bloom_dedup_writer

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows1 = [(i, "2024-01-01 00:00:%02d" % (i % 60), f"first wave doc {i}") for i in range(30)]
    write_source(src, "b1.parquet", _docs(rows1))
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out_path = str(tmp_path / "admitted")
    writer = bloom_dedup_writer(out_path, str(tmp_path / "sketch"), n_bits=64, k=2)
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        admitted1 = {r["doc_id"] for r in spark.read.parquet(out_path).collect()}
        # replays of wave-1 texts + genuinely new texts
        rows2 = [(100 + i, "2024-01-01 00:01:%02d" % (i % 60), f"first wave doc {i}") for i in range(30)]
        rows2 += [(200 + i, "2024-01-01 00:02:%02d" % (i % 60), f"second wave doc {i}") for i in range(30)]
        write_source(src, "b2.parquet", _docs(rows2))
        q.processAllAvailable()
    finally:
        q.stop()
    admitted = {r["doc_id"] for r in spark.read.parquet(out_path).collect()}
    # no false negatives: every wave-1 replay (ids 100-129) was dropped
    assert not any(100 <= d < 130 for d in admitted)
    # the saturated 64-bit sketch wrongly dropped MOST new docs — but
    # whatever it admitted is a subset of the genuinely-new set
    assert admitted - admitted1 <= {200 + i for i in range(30)}


def test_sketch_rollup_stream_equals_batch(spark, tmp_path):
    """Lifetime per-group HLL state across triggers: after N triggers
    the latest snapshot's estimates equal the batch sketch over the
    concatenation of all triggers (hll merge is commutative and
    deterministic), and only one snapshot partition is read per
    trigger."""
    from renkodf_spark.streaming.curation_stream import sketch_rollup_writer

    src = str(tmp_path / "src")
    os.makedirs(src)

    def rows(lo, hi):
        return [
            (i, "2024-01-01 00:00:%02d" % (i % 60), f"user{i % 7}")
            for i in range(lo, hi)
        ]

    write_source(src, "b1.parquet", _docs(rows(0, 40)))
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    sketch_path = str(tmp_path / "sketches")
    lang = F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    writer = sketch_rollup_writer(sketch_path, "lang", "text")
    q = (
        stream.withColumn("lang", lang)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_source(src, "b2.parquet", _docs(rows(20, 80)))  # overlaps trigger 1
        q.processAllAvailable()
    finally:
        q.stop()
    snaps = spark.read.parquet(sketch_path)
    latest = snaps.agg(F.max("batch_id")).collect()[0][0]
    got = {
        r["__grp"]: r["estimate"]
        for r in snaps.filter(F.col("batch_id") == latest).collect()
    }
    all_rows = spark.createDataFrame(
        [(i, f"user{i % 7}", "en" if i % 2 == 0 else "de") for i in range(80)],
        "doc_id long, text string, lang string",
    )
    exp = {
        r["lang"]: r["estimate"]
        for r in all_rows.groupBy("lang")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("text", F.lit(12))).alias("estimate"))
        .collect()
    }
    assert got == exp  # merge-of-trigger-sketches == one-shot sketch
    assert sorted(
        r["batch_id"] for r in snaps.select("batch_id").distinct().collect()
    ) == [0, 1]


def test_cms_rollup_stream_equals_batch(spark, tmp_path):
    """Lifetime count-min state across triggers: counters are linear,
    so after N triggers the latest snapshot equals the batch sketch of
    the concatenated stream row-for-row, and estimates overestimate
    one-sidedly."""
    from renkodf_spark.functions import countmin
    from renkodf_spark.streaming.curation_stream import cms_rollup_writer

    src = str(tmp_path / "src")
    os.makedirs(src)

    def rows(lo, hi):
        return [
            (i, "2024-01-01 00:00:%02d" % (i % 60), f"user{i % 9}")
            for i in range(lo, hi)
        ]

    write_source(src, "b1.parquet", _docs(rows(0, 30)))
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    path = str(tmp_path / "cms")
    writer = cms_rollup_writer(path, "text", width=64, depth=4)
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_source(src, "b2.parquet", _docs(rows(30, 100)))
        q.processAllAvailable()
    finally:
        q.stop()

    snaps = spark.read.parquet(path)
    latest = snaps.agg(F.max("batch_id")).collect()[0][0]
    got = sorted(
        (r["row"], r["col"], r["count"])
        for r in snaps.filter(F.col("batch_id") == latest).collect()
    )
    all_rows = spark.createDataFrame(
        [(f"user{i % 9}",) for i in range(100)], "text string"
    )
    want = sorted(
        map(tuple, countmin.cms_build(all_rows, "text", width=64, depth=4).collect())
    )
    assert got == want  # lifetime state == one-shot sketch, bit-for-bit

    # estimates probe: one-sided over the true counts
    state = snaps.filter(F.col("batch_id") == latest).select("row", "col", "count")
    est = {
        r.text: r.est_count
        for r in countmin.cms_estimate(
            all_rows, state, "text", width=64, depth=4
        ).collect()
    }
    exact = {
        r.text: r.c
        for r in all_rows.groupBy("text").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert all(est[k] >= exact[k] for k in exact)
    assert sorted(
        r["batch_id"] for r in snaps.select("batch_id").distinct().collect()
    ) == [0, 1]


def test_dhash_dedup_stream_matches_batch_election(spark, tmp_path):
    """r11 (VERDICT r10 item 5): the streaming perceptual-dedup writer.
    After N triggers the lifetime election snapshot equals the batch
    multimodal_dedup_keep election over the concatenated triggers
    (min keeper / summed counts — commutative, so stream == batch);
    admission writes exactly one row per distinct hash, from the
    trigger that saw it first."""
    from renkodf_spark.operators import multimodal
    from renkodf_spark.streaming.curation_stream import dhash_dedup_writer

    def media_for(lo, hi):
        ids = spark.range(lo, hi).withColumnRenamed("id", "doc_id")
        return multimodal.synth_decodable_media(ids)

    def write_media(src, name, df):
        pdf = df.toPandas()
        pdf["payload"] = pdf["payload"].apply(bytes)
        write_source(src, name, pdf)

    src = str(tmp_path / "msrc")
    os.makedirs(src)
    # trigger 2 re-sends ids 40..59 (same payloads, same ids) plus new
    # ids — cross-trigger duplicate hashes both ways
    m1, m2 = media_for(0, 60), media_for(40, 110)
    write_media(src, "b1.parquet", m1)
    stream = (
        spark.readStream.schema("media_id long, media_type string, payload binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_path = str(tmp_path / "madmitted")
    state_path = str(tmp_path / "melection")
    q = (
        stream.writeStream.foreachBatch(dhash_dedup_writer(out_path, state_path))
        .option("checkpointLocation", str(tmp_path / "mck"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_media(src, "b2.parquet", m2)
        q.processAllAvailable()
    finally:
        q.stop()

    snaps = spark.read.parquet(state_path)
    latest = snaps.agg(F.max("batch_id")).collect()[0][0]
    got = {
        (r["dhash_hi"], r["dhash_lo"]): (r["keeper_id"], r["n_dupes"])
        for r in snaps.filter(F.col("batch_id") == latest).collect()
    }
    want = {
        (r["dhash_hi"], r["dhash_lo"]): (r["keeper_id"], r["n_dupes"])
        for r in multimodal.image_dhash(m1.unionByName(m2))
        .groupBy("dhash_hi", "dhash_lo")
        .agg(F.min("media_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_dupes"))
        .collect()
    }
    assert got == want  # stream election == batch election, exactly

    # admission: one row per distinct hash, from its first trigger
    admitted = spark.read.parquet(out_path)
    assert admitted.count() == len(want)
    adm_hashes = {
        (r["dhash_hi"], r["dhash_lo"])
        for r in multimodal.image_dhash(admitted.drop("batch_id")).collect()
    }
    assert adm_hashes == set(want)
    # a hash first seen in trigger 1 admits its trigger-1 keeper even
    # if trigger 2 later brings a smaller id for the same hash
    t1_keepers = {
        (r["dhash_hi"], r["dhash_lo"]): r["keeper_id"]
        for r in multimodal.image_dhash(m1)
        .groupBy("dhash_hi", "dhash_lo")
        .agg(F.min("media_id").alias("keeper_id"))
        .collect()
    }
    adm_by_hash = {
        (r["dhash_hi"], r["dhash_lo"]): r["media_id"]
        for r in multimodal.image_dhash(admitted.drop("batch_id")).collect()
    }
    for h, kid in t1_keepers.items():
        assert adm_by_hash[h] == kid


def test_nb_model_stream_equals_batch_train(spark, tmp_path):
    """Streaming NB trainer: the lifetime model derived from the latest
    snapshot is EXACTLY (integer-for-integer, including the round-once
    micro-nat LLRs and the prior) the batch nb_train/nb_score model of
    the concatenated stream, with one cumulative snapshot per trigger
    and exactly one 'docs' row per snapshot."""
    from renkodf_spark.operators import classifier
    from renkodf_spark.streaming.curation_stream import nb_model_writer, read_nb_model

    schema = "doc_id long, text string, is_target boolean"
    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = [(0, "good clean prose here", True), (1, "spam spam junk", False)]
    b2 = [(2, "good good prose", True), (3, "junk here junk", False),
          (4, "fresh words appear", True)]

    def _w(name, rows):
        write_source(src, name, rows, ["doc_id", "text", "is_target"])

    _w("b1.parquet", b1)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    model_path = str(tmp_path / "nbmodel")
    q = (
        stream.writeStream.foreachBatch(nb_model_writer(model_path, "is_target"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        _w("b2.parquet", b2)
        q.processAllAvailable()
    finally:
        q.stop()

    model, prior = read_nb_model(spark, model_path)
    all_docs = spark.createDataFrame(b1 + b2, schema)
    batch_model = classifier.nb_train(all_docs, positive=F.col("is_target"))
    got = sorted(map(tuple, model.collect()))
    want = sorted(map(tuple, batch_model.collect()))
    assert got == want and len(want) > 0

    # prior matches the labeled-frame path used by nb_score, and
    # scoring under (stream model, explicit prior) == batch scoring
    stream_scores = sorted(
        map(tuple, classifier.nb_score(all_docs, model, prior_micros=prior).collect())
    )
    batch_scores = sorted(
        map(
            tuple,
            classifier.nb_score(
                all_docs, batch_model, positive=F.col("is_target")
            ).collect(),
        )
    )
    assert stream_scores == batch_scores

    # snapshot hygiene: one cumulative snapshot per trigger, exactly
    # one docs row each, counts monotone across snapshots
    snaps = spark.read.parquet(model_path)
    per_batch = {
        r["batch_id"]: r["n"]
        for r in snaps.filter(F.col("kind") == "docs")
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per_batch.values()) == {1} and len(per_batch) >= 2


def test_nb_model_bucketed_deltas_equal_batch_train(spark, tmp_path):
    """Bucketed delta layout: per-trigger generations carry ONLY that
    batch's vocabulary (O(batch) writes), compaction bounds the
    generation count, the folded model equals batch nb_train exactly,
    and the reader's distinct absorbs a compaction crash that leaves a
    delta visible twice."""
    import shutil

    from renkodf_spark.operators import classifier
    from renkodf_spark.streaming.curation_stream import nb_model_writer, read_nb_model

    schema = "doc_id long, text string, is_target boolean"
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [(0, "alpha beta alpha", True), (1, "junk spam", False)],
        [(2, "gamma beta", True), (3, "spam spam junk", False)],
        [(4, "delta epsilon alpha", True), (5, "noise junk", False)],
    ]

    def _w(name, rows):
        write_source(src, name, rows, ["doc_id", "text", "is_target"])

    _w("b1.parquet", batches[0])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    model_path = str(tmp_path / "nbmodel")
    writer = nb_model_writer(model_path, "is_target", n_buckets=8, compact_every=2)
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        _w("b2.parquet", batches[1])
        q.processAllAvailable()
        _w("b3.parquet", batches[2])
        q.processAllAvailable()
    finally:
        q.stop()

    # delta-ness: a generation holds only its own batch's vocabulary
    gens = sorted(
        d for d in os.listdir(os.path.join(model_path, "terms"))
        if d.startswith("batch_id=")
    )
    last_gen = os.path.join(model_path, "terms", f"batch_id={len(batches) - 1}")
    if os.path.exists(last_gen):
        got_terms = {
            r.term for r in spark.read.parquet(last_gen).select("term").collect()
        }
        want_terms = set()
        for _, text, _ in batches[2]:
            want_terms |= set(text.split())
        assert got_terms == want_terms
    # compaction ran (compact_every=2) at batch 1: the sources older
    # than that trigger were folded into the negative generation and
    # deleted.  Steady-state bound is compact_every + 1 generations
    # (the compacted gen + up to compact_every fresh deltas) because
    # the shared compactor never folds the current trigger's own
    # generation (it must stay visible for overwrite-on-replay).
    assert len(gens) <= 3, gens
    assert "batch_id=-2" in gens, gens  # the folded generation
    assert "batch_id=0" not in gens, gens  # its source was deleted

    all_docs = spark.createDataFrame(sum(batches, []), schema)
    batch_model = classifier.nb_train(all_docs, positive=F.col("is_target"))
    model, prior = read_nb_model(spark, model_path)
    assert sorted(map(tuple, model.collect())) == sorted(
        map(tuple, batch_model.collect())
    )
    batch_scores = sorted(
        map(
            tuple,
            classifier.nb_score(
                all_docs, batch_model, positive=F.col("is_target")
            ).collect(),
        )
    )
    stream_scores = sorted(
        map(tuple, classifier.nb_score(all_docs, model, prior_micros=prior).collect())
    )
    assert stream_scores == batch_scores

    # crash absorption: duplicate a visible generation under another id
    # (a compaction that died mid-delete) — the reader must be unchanged
    dup_src = os.path.join(model_path, "terms", gens[0])
    shutil.copytree(dup_src, os.path.join(model_path, "terms", "batch_id=97"))
    model2, prior2 = read_nb_model(spark, model_path)
    assert sorted(map(tuple, model2.collect())) == sorted(
        map(tuple, batch_model.collect())
    )
    assert prior2 == prior

    # contract: compact_every without the bucketed layout is an error
    with pytest.raises(ValueError, match="n_buckets"):
        nb_model_writer(str(tmp_path / "x"), "is_target", compact_every=2)


def test_bigram_lm_stream_equals_batch_train(spark, tmp_path):
    """Streaming bigram-LM trainer: delta generations hold only their
    batch's counts, compaction bounds generations, and the folded model
    (tables + OOV scalar + downstream doc scores) is bit-equal to batch
    bigram_lm_train over the concatenated stream — including after a
    compaction crash leaves a delta visible twice."""
    import shutil

    from renkodf_spark.operators import text as text_ops
    from renkodf_spark.streaming.curation_stream import (
        bigram_lm_writer,
        read_bigram_lm,
    )

    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [(0, "a b a c"), (1, "b c")],
        [(2, "c a b"), (3, "d d e")],
        [(4, "a b x"), (5, "e d")],
    ]

    def _w(name, rows):
        write_source(src, name, rows, ["doc_id", "text"])

    _w("b1.parquet", batches[0])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    model_path = str(tmp_path / "bglm")
    q = (
        stream.writeStream.foreachBatch(
            bigram_lm_writer(model_path, n_buckets=4, compact_every=2)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        _w("b2.parquet", batches[1])
        q.processAllAvailable()
        _w("b3.parquet", batches[2])
        q.processAllAvailable()
    finally:
        q.stop()

    # delta-ness: the last bigram generation holds only batch 3's pairs
    last_bi = os.path.join(model_path, "bi", "batch_id=2")
    if os.path.exists(last_bi):
        got = {
            (r.w1, r.w2) for r in spark.read.parquet(last_bi).collect()
        }
        assert got == {("a", "b"), ("b", "x"), ("e", "d")}
    # compaction bound: <= compact_every + 1 generations per table
    for sub in ("uni", "bi"):
        gens = [
            d
            for d in os.listdir(os.path.join(model_path, sub))
            if d.startswith("batch_id=")
        ]
        assert len(gens) <= 3, (sub, gens)

    all_docs = spark.createDataFrame(sum(batches, []), schema)
    b_uni, b_bi, b_oov = text_ops.bigram_lm_train(all_docs)
    s_uni, s_bi, s_oov = read_bigram_lm(spark, model_path)
    assert s_oov == b_oov
    assert sorted(map(tuple, s_uni.collect())) == sorted(map(tuple, b_uni.collect()))
    assert sorted(map(tuple, s_bi.collect())) == sorted(map(tuple, b_bi.collect()))
    score = spark.createDataFrame([(9, "a b q c d")], schema)
    batch_scores = text_ops.bigram_logprob(score, (b_uni, b_bi, b_oov)).collect()
    stream_scores = text_ops.bigram_logprob(score, (s_uni, s_bi, s_oov)).collect()
    assert sorted(map(tuple, stream_scores)) == sorted(map(tuple, batch_scores))

    # crash absorption: duplicate a visible uni generation under a new id
    gens = sorted(
        d
        for d in os.listdir(os.path.join(model_path, "uni"))
        if d.startswith("batch_id=")
    )
    shutil.copytree(
        os.path.join(model_path, "uni", gens[0]),
        os.path.join(model_path, "uni", "batch_id=97"),
    )
    s_uni2, _, s_oov2 = read_bigram_lm(spark, model_path)
    assert s_oov2 == b_oov
    assert sorted(map(tuple, s_uni2.collect())) == sorted(map(tuple, b_uni.collect()))

    # contract: bad bucket count
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        bigram_lm_writer(model_path, n_buckets=0)


def test_cluster_labels_stream_matches_batch(spark, tmp_path):
    """Streaming cluster-label maintenance (r12): after N pair
    triggers the bucketed label snapshot (plus singleton fill) equals
    batch cluster_labels over the union of all triggers' pairs —
    including CROSS-TRIGGER merges of previously separate clusters;
    buckets untouched by a trigger keep their exact files; replays are
    idempotent; an empty trigger is a no-op."""
    import os

    from renkodf_spark.operators import dedup
    from renkodf_spark.streaming.neardup_stream import (
        cluster_labels_writer,
        read_cluster_labels,
    )

    state = str(tmp_path / "cc_stream")
    writer = cluster_labels_writer(state, n_buckets=8)

    def pairs_df(pairs):
        return (
            spark.createDataFrame(pairs, "id_a long, id_b long")
            if pairs
            else spark.createDataFrame([], "id_a long, id_b long")
        )

    n = 40
    docs = spark.range(n).select(F.col("id").alias("doc_id"))

    def batch_labels(all_pairs):
        got = dedup.cluster_labels(docs, pairs_df(all_pairs), on_nonconverge="raise")
        return {(r.id, r.cluster_id) for r in got.collect()}

    def stream_labels():
        lab = read_cluster_labels(spark, state)
        full = docs.join(
            lab.withColumnRenamed("id", "doc_id"), "doc_id", "left"
        ).select(
            F.col("doc_id").alias("id"),
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        return {(r.id, r.cluster_id) for r in full.collect()}

    # trigger 0: two separate clusters + a chain
    t0 = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)]
    writer(pairs_df(t0), 0)
    assert stream_labels() == batch_labels(t0)

    labels_dir = os.path.join(state, "labels")
    before = {
        d: sorted(os.listdir(os.path.join(labels_dir, d)))
        for d in os.listdir(labels_dir)
        if d.startswith("bucket=")
    }

    # trigger 1: MERGE clusters {1,2,3} and {10,11} via (3,10); start
    # a fresh cluster (30,31); extend the 20-chain
    t1 = [(3, 10), (30, 31), (22, 23)]
    writer(pairs_df(t1), 1)
    assert stream_labels() == batch_labels(t0 + t1)

    # untouched buckets keep their exact files
    import pyspark.sql.functions as SF

    touched_nodes = {1, 2, 3, 10, 11, 30, 31, 20, 21, 22, 23}
    touched_buckets = {
        f"bucket={r['b']}"
        for r in spark.createDataFrame(
            [(i,) for i in touched_nodes], "id long"
        )
        .select(SF.pmod(SF.xxhash64("id"), SF.lit(8)).alias("b"))
        .distinct()
        .collect()
    }
    for d, files in before.items():
        if d not in touched_buckets:
            assert (
                sorted(os.listdir(os.path.join(labels_dir, d))) == files
            ), f"untouched bucket {d} was rewritten"

    # replay of trigger 1: identical state
    writer(pairs_df(t1), 1)
    assert stream_labels() == batch_labels(t0 + t1)

    # empty trigger: no-op
    writer(pairs_df([]), 2)
    assert stream_labels() == batch_labels(t0 + t1)

    # trigger 3: merge the merged mega-cluster with the 20-chain
    t3 = [(11, 23)]
    writer(pairs_df(t3), 3)
    assert stream_labels() == batch_labels(t0 + t1 + t3)


def test_streaming_dedup_end_to_end_bands_pairs_labels(spark, tmp_path):
    """The full streaming dedup story composed (r12): documents stream
    through the band-index/pairs writer, each trigger's pairs feed the
    label writer — after all triggers the labels equal batch
    minhash_lsh_pairs -> cluster_labels over the whole corpus."""
    from renkodf_spark.operators import dedup
    from renkodf_spark.streaming.neardup_stream import (
        cluster_labels_writer,
        neardup_batch_writer,
        read_cluster_labels,
    )

    rows = [
        (i, f"alpha beta gamma delta epsilon zeta token{i % 4} end") for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    index_path = str(tmp_path / "bands")
    pairs_path = str(tmp_path / "pairs")
    state = str(tmp_path / "cc")
    pair_writer = neardup_batch_writer(index_path, pairs_path)
    label_writer = cluster_labels_writer(state, n_buckets=4)

    for bid, lo in enumerate([0, 4, 8]):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 4))
        pair_writer(batch, bid)
        trig_pairs = spark.read.parquet(
            os.path.join(pairs_path, f"batch_id={bid}")
        ).select("id_a", "id_b")
        label_writer(trig_pairs, bid)

    batch_pairs = dedup.minhash_lsh_pairs(docs)
    want = {
        (r.id, r.cluster_id)
        for r in dedup.cluster_labels(docs, batch_pairs, on_nonconverge="raise").collect()
    }
    lab = read_cluster_labels(spark, state)
    got = {
        (r.id, r.cluster_id)
        for r in docs.join(lab.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            F.col("doc_id").alias("id"),
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .collect()
    }
    assert got == want


def test_winnow_stream_matches_batch(spark, tmp_path):
    """Streaming winnowing (r12): after N triggers the folded pair
    deltas equal the batch fp-join + >=2 floor over the whole corpus;
    a pair whose two docs arrive in different triggers is counted once
    with its full shared count; a re-sent doc id is dropped
    (append-only); replays are idempotent."""
    from renkodf_spark.operators import text as text_ops
    from renkodf_spark.streaming.neardup_stream import (
        read_winnow_pairs,
        winnow_index_writer,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base + " one two three"),
        (2, base + " four five six"),          # shares the long base run with 1
        (3, "unrelated words entirely here now always"),
        (4, base + " seven eight nine"),       # arrives in trigger 2
        (5, "alpha beta gamma nope"),          # too short a shared run
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "widx")
    prs = str(tmp_path / "wprs")
    writer = winnow_index_writer(idx, prs)

    writer(docs.filter(F.col("doc_id") <= 3), 0)
    mutated = spark.createDataFrame(
        [(1, "totally different resent payload text")], "doc_id long, text string"
    )
    writer(docs.filter(F.col("doc_id") > 3).unionByName(mutated), 1)
    writer(docs.filter(F.col("doc_id") > 3).unionByName(mutated), 1)  # replay

    got = {
        (r.id_a, r.id_b, r.n_shared)
        for r in read_winnow_pairs(spark, prs, min_shared=2).collect()
    }

    # batch twin: fp-join + floor over the ORIGINAL corpus (the resent
    # mutated doc 1 must have been dropped by append-only enforcement)
    fps = (
        text_ops.winnow_fingerprints(docs, k=3, window=4)
        .select("doc_id", "fp")
        .distinct()
    )
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    want = {
        (r.id_a, r.id_b, r.n_shared)
        for r in a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fp").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
        .collect()
    }
    assert got == want
    # the cross-trigger pair (1, 4) must be present with its full count
    assert any(p[:2] == (1, 4) for p in got)
