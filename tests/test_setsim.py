"""Exact set-similarity join (operators/setsim.py): exact-recall
guarantee vs brute force, filter pruning effectiveness, plan shape.

Reference discipline modeled on test/test_ws.py:45-48 (strict
equality against an independent replay)."""

import pytest
from pyspark.sql import functions as F

from renkodf_spark.operators import setsim


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _brute_force(spark, e, t_num, t_den):
    """The naive threshold join over the same distinct (id, h)
    element relation — the ground truth the filters must not lose."""
    a = e.select(F.col("id").alias("id_a"), "h")
    b = e.select(F.col("id").alias("id_b"), "h")
    sz = e.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    ov = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        ov.join(sz.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sz.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .filter(
            F.col("inter") * F.lit(t_den)
            >= F.lit(t_num) * (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .select("id_a", "id_b", "inter", "sz_a", "sz_b")
    )


@pytest.mark.parametrize("t_num,t_den", [(1, 2), (2, 3), (9, 10)])
def test_exact_recall_vs_brute_force(spark, sf_dir, t_num, t_den):
    docs = _docs(spark, sf_dir)
    got = {
        (r.id_a, r.id_b, r.inter, r.sz_a, r.sz_b)
        for r in setsim.setsim_join(docs, t_num=t_num, t_den=t_den).collect()
    }
    e = setsim.element_table(docs)
    want = {
        (r.id_a, r.id_b, r.inter, r.sz_a, r.sz_b)
        for r in _brute_force(spark, e, t_num, t_den).collect()
    }
    assert got == want
    assert want, "gate data should contain planted near-dups"


def test_filters_actually_prune(spark, sf_dir):
    """The candidate set (prefix join + length + positional filters)
    must be strictly smaller than the all-overlapping-pairs set —
    otherwise the prefix machinery is dead weight."""
    docs = _docs(spark, sf_dir)
    e = setsim.element_table(docs).cache()
    pref = setsim.prefix_index(e, t_num=1, t_den=2)
    a = pref.select("h", F.col("id").alias("id_a"))
    b = pref.select("h", F.col("id").alias("id_b"))
    n_prefix_pairs = (
        a.join(b, "h").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct().count()
    )
    ea = e.select(F.col("id").alias("id_a"), "h")
    eb = e.select(F.col("id").alias("id_b"), "h")
    n_all_pairs = (
        ea.join(eb, "h").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct().count()
    )
    assert n_prefix_pairs < n_all_pairs
    # and the result is far smaller than the candidates — verification matters
    n_result = setsim.setsim_join(docs, t_num=1, t_den=2).count()
    assert n_result <= n_prefix_pairs


def test_prefix_index_bound(spark, sf_dir):
    """Every doc keeps at least one prefix element and never more than
    sz - ceil(t*sz) + 1; positions are dense from 1."""
    e = setsim.element_table(_docs(spark, sf_dir))
    pref = setsim.prefix_index(e, t_num=1, t_den=2)
    bad = pref.filter(
        (F.col("pos") < 1)
        | (F.col("pos") > F.col("sz") - F.ceil(F.col("sz") / 2) + 1)
    ).count()
    assert bad == 0
    n_docs_with_elements = e.select("id").distinct().count()
    assert pref.select("id").distinct().count() == n_docs_with_elements


def test_identical_docs_found_at_any_threshold(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "totally different words here entirely now"),
        (4, "al be"),  # fewer than shingle_n tokens: no elements
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = setsim.setsim_join(df, t_num=99, t_den=100).collect()
    assert [(r.id_a, r.id_b, float(r.jaccard)) for r in out] == [(1, 2, 1.0)]


def test_short_docs_yield_no_elements(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    assert setsim.element_table(df, shingle_n=3).count() == 0


def test_threshold_validation(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError):
        setsim.setsim_join(df, t_num=0, t_den=2)
    with pytest.raises(ValueError):
        setsim.setsim_join(df, t_num=3, t_den=2)
    with pytest.raises(ValueError):
        setsim.prefix_index(setsim.element_table(df), t_num=1, t_den=0)
    with pytest.raises(ValueError):
        setsim.element_table(df, shingle_n=0)


def test_setsim_text_never_enters_an_exchange(spark, sf_dir):
    """The join moves only (id, h, sz, pos) longs: shingle hashing is
    doc-local, so no exchange input may carry the document text —
    except the one OPT-IN input-spread repartition (the
    dedup._maybe_repartition contract for under-parallel scans), which
    is the only text-carrying exchange allowed. With the spread forced
    off, zero exchanges may carry text."""
    from renkodf_spark.plans import exchange_inputs

    docs = _docs(spark, sf_dir)
    df = setsim.setsim_join(docs)
    text_exchanges = sum(
        1 for cols in exchange_inputs(df) if "text" in set(cols)
    )
    # the cached element relation's lineage (scan + spread) is printed
    # under each consumer branch of the plan but EXECUTES once (the
    # cache); 2 = the one physical spread shown under prefix+sets
    assert text_exchanges <= 2, f"text in {text_exchanges} exchanges"

    e = setsim.element_table(docs, repartition_input=False)
    pref = setsim.prefix_index(e)
    for frame in (e, pref):
        for cols in exchange_inputs(frame):
            assert "text" not in set(cols), f"text enters an exchange: {cols}"


def test_incremental_equals_full_join_touching_new(spark, sf_dir):
    """incremental_setsim_pairs == setsim_join over the union corpus
    restricted to pairs with at least one new member — at two split
    points (including one where the increment skews frequencies)."""
    docs = _docs(spark, sf_dir)
    full = setsim.setsim_join(docs, t_num=1, t_den=2)
    for split in (250, 400):
        base = docs.filter(F.col("doc_id") < split)
        inc = docs.filter(F.col("doc_id") >= split)
        freq, pref, sets = setsim.setsim_index(base, t_num=1, t_den=2)
        got = {
            tuple(r)
            for r in setsim.incremental_setsim_pairs(
                inc, freq, pref, sets, t_num=1, t_den=2
            ).collect()
        }
        want = {
            tuple(r) for r in full.filter(F.col("id_b") >= split).collect()
        }
        assert got == want, f"split {split}"


def test_incremental_exact_under_frozen_stale_order(spark):
    """The increment introduces elements UNSEEN at index time and flips
    which elements are rare — recall must stay exact (the prefix filter
    is sound under any shared total order)."""
    base_rows = [
        (1, "red green blue cyan magenta yellow"),
        (2, "red green blue cyan magenta black"),
        (3, "one two three four five six seven"),
    ]
    # new docs: near-dup of doc 1 plus brand-new vocabulary; 'red' goes
    # from rare-ish to ubiquitous in the true union frequencies
    inc_rows = [
        (10, "red green blue cyan magenta yellow extra"),
        (11, "red nova pulsar quasar comet meteor"),
        (12, "red nova pulsar quasar comet asteroid"),
    ]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    inc = spark.createDataFrame(inc_rows, "doc_id long, text string")
    n, tn, td = 2, 1, 3  # 2-gram shingles, threshold 1/3
    freq, pref, sets = setsim.setsim_index(base, shingle_n=n, t_num=tn, t_den=td)
    got = {
        (r.id_a, r.id_b)
        for r in setsim.incremental_setsim_pairs(
            inc, freq, pref, sets, shingle_n=n, t_num=tn, t_den=td
        ).collect()
    }
    union = base.unionByName(inc)
    e = setsim.element_table(union, shingle_n=n)
    want = {
        (r.id_a, r.id_b)
        for r in _brute_force(spark, e, tn, td).collect()
        if r.id_b >= 10
    }
    assert got == want
    assert (1, 10) in got and (11, 12) in got  # cross + within-new both present


def test_incremental_without_within_new(spark):
    base = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    inc = spark.createDataFrame(
        [(10, "a b c d e f"), (11, "a b c d e f")], "doc_id long, text string"
    )
    freq, pref, sets = setsim.setsim_index(base)
    got = {
        (r.id_a, r.id_b)
        for r in setsim.incremental_setsim_pairs(
            inc, freq, pref, sets, include_within_new=False
        ).collect()
    }
    assert got == {(1, 10), (1, 11)}


def test_setsim_stream_equals_batch(spark, tmp_path):
    """Streaming setsim index: the union of per-trigger pair deltas ==
    batch setsim_join over the concatenated stream (every qualifying
    pair emitted exactly once, in its later member's trigger), with a
    cross-trigger pair, a re-sent id dropped, and replay idempotency."""
    import os

    from renkodf_spark.streaming.neardup_stream import (
        read_setsim_pairs,
        setsim_index_writer,
    )
    from tests.conftest import write_source

    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8"), (2, "a b c d e f g h")],
        [(3, "w1 w2 w3 w4 w5 w6 w7 zz"),  # cross-trigger near-dup of 1
         (4, "p q r s t u v w")],
        [(5, "p q r s t u v xx"),          # cross-trigger near-dup of 4
         (1, "OVERWRITTEN must be dropped"),  # re-sent id
         (6, "w1 w2 w3 w4 w5 w6 w7 w8")],  # exact dup of 1
    ]

    def _w(name, rows):
        write_source(src, name, rows, ["doc_id", "text"])

    _w("b1.parquet", batches[0])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    state = str(tmp_path / "ssidx")
    writer = setsim_index_writer(state, shingle_n=2, t_num=1, t_den=2)
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

    got = {tuple(r) for r in read_setsim_pairs(spark, state).collect()}
    # batch ground truth: first-writer-wins corpus (re-sent id dropped)
    corpus = spark.createDataFrame(
        batches[0] + batches[1] + [batches[2][0], batches[2][2]], schema
    )
    want = {
        tuple(r)
        for r in setsim.setsim_join(corpus, shingle_n=2, t_num=1, t_den=2).collect()
    }
    assert got == want
    pairs_only = {(a, b) for a, b, *_ in got}
    assert (1, 3) in pairs_only and (4, 5) in pairs_only  # cross-trigger
    assert (1, 6) in pairs_only  # exact dup found, re-sent text ignored

    # replay idempotency: re-run the last trigger's write_batch
    last = spark.createDataFrame(batches[2], schema)
    writer(last, 2)
    again = {tuple(r) for r in read_setsim_pairs(spark, state).collect()}
    assert again == want


def test_containment_finds_embedded_short_doc(spark):
    """A short doc quoted inside a long one: high containment a->b,
    low resemblance — the case setsim_join (Jaccard) must miss and
    containment_join must find."""
    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"filler{i}" for i in range(200))
    rows = [(1, quote), (2, filler + " " + quote + " " + filler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = setsim.containment_join(df, t_num=9, t_den=10).collect()
    assert [(r.id_a, r.id_b, float(r.containment)) for r in cont] == [(1, 2, 1.0)]
    assert setsim.setsim_join(df, t_num=1, t_den=2).count() == 0


def test_containment_matches_brute_force(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    got = {
        (r.id_a, r.id_b, r.inter)
        for r in setsim.containment_join(docs, t_num=4, t_den=5).collect()
    }
    e = setsim.element_table(docs)
    a = e.select(F.col("id").alias("id_a"), "h")
    b = e.select(F.col("id").alias("id_b"), "h")
    sz = e.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    ov = (
        a.join(b, "h")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    want = {
        (r.id_a, r.id_b, r.inter)
        for r in ov.join(
            sz.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a"
        )
        .filter(F.col("inter") * 5 >= 4 * F.col("sz_a"))
        .collect()
    }
    assert got == want and want


def test_containment_both_orientations_for_twins(spark):
    rows = [(1, "a b c d e f g h"), (2, "a b c d e f g h")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b) for r in setsim.containment_join(df).collect()}
    assert got == {(1, 2), (2, 1)}


def test_ceil_div_exact_beyond_float53(spark):
    """_ceil_div must be integer-exact past 2^53: a large threshold
    rational times a large set size would silently round under float
    division (recall-losing prefix length). Pin against Python //."""
    from renkodf_spark.operators.setsim import _ceil_div

    cases = []
    for num in [2**53 + 1, 2**53 + 111, 2**60 + 12345, 999_999 * (2**34 + 17)]:
        for den in [7, 1000, 999_983]:
            cases.append((num, den))
    df = spark.createDataFrame([(n, d) for n, d in cases], "num long, den long")
    # den is a Python int in the API; evaluate per-case
    for num, den in cases:
        got = (
            spark.range(1)
            .select(_ceil_div(F.lit(num).cast("long"), den).alias("c"))
            .collect()[0][0]
        )
        assert got == -(-num // den), (num, den, got)
