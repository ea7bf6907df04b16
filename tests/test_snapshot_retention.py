"""Every snapshot store keeps two generations: the latest and the one a
replay of it reads (``generations.write_snapshot``). Pruning changes no
state: after four triggers each writer's latest snapshot equals the one
the same writer leaves when its snapshots are written unpruned."""

import os

import pytest

STORES = [
    "merge", "scd2", "funnel", "bloom", "hll", "cms", "dhash", "nb_model",
    "knn_centrality", "quota_select", "search_stats",
]


def _case(name, spark, path):
    """``(writer, four trigger batches, snapshot store dir, columns to
    compare)`` for the writer owning snapshot store ``name``."""
    from renkodf_spark.operators import multimodal, similarity
    from renkodf_spark.streaming import ann_stream, curation_stream as cs
    from renkodf_spark.streaming import merge_stream as ms

    def docs(lo, hi):
        return spark.createDataFrame(
            [(i, "ab"[i % 2], f"w{i % 3} doc", i % 2 == 0) for i in range(lo, hi)],
            "doc_id long, g string, text string, pos boolean",
        )

    spans = [(0, 6), (6, 10), (10, 14), (14, 18)]
    batches = [docs(lo, hi) for lo, hi in spans]
    if name == "merge":
        return ms.merge_writer(path, keys=["g"]), batches, path, None
    if name == "scd2":
        w = ms.scd2_writer(path, key_cols=["g"], ts_col="doc_id", attr_cols=["text"])
        return w, batches, path + "/dim", None
    if name == "funnel":
        w = ms.funnel_writer(
            path, user_col="g", ts_col="doc_id", type_col="text", steps=["w0 doc", "w1 doc"]
        )
        return w, batches, path + "/state", None
    if name == "bloom":
        w = cs.bloom_dedup_writer(path + "/out", path + "/sketch", n_bits=256)
        return w, batches, path + "/sketch", None
    if name == "hll":
        # the estimate, not the sketch bytes, is the state's meaning
        return cs.sketch_rollup_writer(path, "g", "text"), batches, path, ["__grp", "estimate"]
    if name == "cms":
        return cs.cms_rollup_writer(path, "text", width=64, depth=2), batches, path, None
    if name == "nb_model":
        return cs.nb_model_writer(path, "pos"), batches, path, None
    if name == "quota_select":
        return cs.quota_select_writer(path, "g", per_group=2), batches, path, None
    if name == "search_stats":
        w = ms.search_index_writer(path, id_col="doc_id", text_col="text", n_buckets=4)
        return w, batches, path + "/stats", None
    if name == "dhash":
        media = [
            multimodal.synth_decodable_media(
                spark.range(lo, hi).withColumnRenamed("id", "doc_id")
            )
            for lo, hi in [(0, 4), (2, 6), (6, 8), (8, 10)]
        ]
        return cs.dhash_dedup_writer(path + "/out", path + "/state"), media, path + "/state", None
    vecs = [(i, [float((i * 7 + j * 3) % 11) for j in range(4)]) for i in range(16)]
    labeled = spark.createDataFrame(
        [(i, v, "ab"[i % 2]) for i, v in vecs],
        "vec_id long, embedding array<double>, label string",
    )
    seeds = spark.createDataFrame([(i,) for i in range(3)], "id long")
    w = ann_stream.knn_centrality_writer(
        similarity.embedding_centroids(labeled, dim=4), path, seeds=seeds, k=3, iterations=1
    )
    slices = [
        spark.createDataFrame(vecs[lo:hi], "vec_id long, embedding array<double>")
        for lo, hi in [(0, 4), (4, 8), (8, 12), (12, 16)]
    ]
    return w, slices, path + "/ranks_meta", None


def _run(spark, path, name):
    """Drive the writer through four triggers; return its store's
    generation ids and latest snapshot rows."""
    from renkodf_spark.streaming import generations as gens

    writer, batches, store, cols = _case(name, spark, path)
    for batch_id, batch in enumerate(batches):
        writer(batch, batch_id)
    latest = gens.read_latest(spark, store)
    if cols is not None:
        latest = latest.select(*cols)
    ids = sorted(int(d.split("=")[1]) for d in os.listdir(store) if d.startswith("batch_id="))
    return ids, sorted(map(str, latest.collect()))


@pytest.mark.parametrize("name", STORES)
def test_snapshot_store_keeps_two_generations(spark, tmp_path, monkeypatch, name):
    pruned_ids, pruned = _run(spark, str(tmp_path / "pruned"), name)

    from renkodf_spark.streaming import generations

    monkeypatch.setattr(
        generations,
        "write_snapshot",
        lambda df, path, batch_id: generations.write_gen(df, path, batch_id),
    )
    all_ids, unpruned = _run(spark, str(tmp_path / "unpruned"), name)
    assert all_ids == [0, 1, 2, 3]
    assert pruned_ids == [2, 3]
    assert pruned == unpruned and pruned
