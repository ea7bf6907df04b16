"""Round-14 flagship: the end-to-end pretraining-data DAG.

``pretrain_end_to_end`` chains the full public curation pipeline —
exact dedup -> MinHash-LSH near-dup drop -> Gopher quality filter ->
benchmark decontamination -> temperature mixing -> sequence packing ->
shard content export — as ONE declarative DataFrame DAG (VERDICT r13
item 6). No stage materializes; Catalyst plans the whole pipeline at
once, so the document text column flows scan -> per-row feature
projections -> pack without ever entering an exchange (pinned in
tests/test_plans.py on an already-parallel input — the production
shape; under-parallel LOCAL scans get one auto ingest spread, see
``pretrain_dag``): every shuffle in the plan carries narrow keys
(content hashes, band keys, gram digests, doc ids, chunk labels).

Oracle strategy (the ``curation_end_to_end`` composition device, at
full length): the DuckDB program is ASSEMBLED from the single-stage
oracle texts — ``_PAIRS_CTES`` (dedup_minhash_lsh), ``_GOPHER_ORACLE``
(gopher_quality_filter), ``_DECON_CTES`` (decontaminated_corpus),
``_TEMP_ORACLE`` (lang_temperature_sample), ``_BINS_ORACLE``
(packed_bins) — each rebased from ``documents`` onto the previous
stage's output CTE by string surgery. The composed oracle therefore
cannot drift from the stage oracles the gate already pins one by one;
stage thresholds are inherited verbatim for the same reason.

The C4-style cross-document boilerplate stage
(``boilerplate_line_removal`` / corpus.remove_boilerplate_lines)
composes the same way on multi-line corpora; the gate corpus is
single-line (its own gate query synthesizes the multi-line structure),
so chaining it here would be a no-op by construction and it is left to
its dedicated gate query.

Why this is the 100 TB flagship: a real pretraining run executes
exactly this chain over the full corpus. Every stage here keeps the
payload column out of the exchanges — dedup shuffles 32-char hashes,
LSH shuffles (band, key) pairs, Gopher is a pure projection,
decontamination broadcasts the eval gram set, temperature mixing
broadcasts one rate row per language, and packing shuffles chunk
LABELS before the single payload-bearing bin assembly — so the data
volume that crosses the network is a small multiple of the doc COUNT,
not the corpus SIZE.

Final output: (shard, bin_id, bin_tokens, bin_digest) — the content
fingerprint of every training sequence a shard writer would emit, so
the oracle hash pins the ENTIRE pipeline end to end: any divergence in
any stage changes some bin digest.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from renkodf_spark.operators import corpus, dedup, text
from renkodf_spark.plans.hints import maybe_broadcast_verdict
from renkodf_spark.plans.persist import persist_block
from renkodf_spark.queries.pipeline import (
    BAND_SIZE,
    MAX_BUCKET,
    NUM_HASHES,
    SHINGLE_N,
    _PAIRS_CTES,
    _docs,
)
from renkodf_spark.queries.pipeline2 import (
    _CHUNK_SIZE,
    _CHUNK_STRIDE,
    _PACK_BUDGET,
    _PACK_SHARDS,
    _BINS_ORACLE,
)
from renkodf_spark.queries.pipeline3 import (
    _DECON_CTES,
    _DECON_N,
    _TEMP_ALPHA,
    _TEMP_ORACLE,
    _TEMP_TARGET,
    _eval_snippets,
)
from renkodf_spark.queries.pipeline4 import (
    _G_MIN_STOP,
    _G_MIN_WORDS,
    _GOPHER_ORACLE,
)
from renkodf_spark.queries.ctes import WS_TOKENS
from renkodf_spark.queries.registry import query


def _pretrain_oracle() -> str:
    """Assemble the end-to-end DuckDB program from the five stage
    oracles (module docstring). Each block is rebased onto the previous
    stage's output CTE; the rebasing substring is asserted present so a
    stage-oracle edit that breaks the surgery fails loudly at import."""
    # stage 1: exact dedup (the curation_end_to_end head, verbatim)
    sql = """
WITH dd AS (
  SELECT d.* FROM documents d
  JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
    USING (doc_id))"""

    # stage 2: MinHash-LSH candidates on the deduped corpus, greedy
    # lower-id drop (keep docs with no lower-id candidate partner)
    assert "WITH toks AS" in _PAIRS_CTES and "FROM documents" in _PAIRS_CTES
    sql += _PAIRS_CTES.replace("WITH toks AS", ",\ntoks AS", 1).replace(
        "FROM documents", "FROM dd", 1
    )
    sql += """,
nd AS (
  SELECT dd.* FROM dd
  LEFT JOIN (SELECT DISTINCT id_b FROM pairs) dr ON dd.doc_id = dr.id_b
  WHERE dr.id_b IS NULL)"""

    # stage 3: Gopher rule filter (the curation_end_to_end rsplit
    # device, rebased onto nd)
    head, tail = _GOPHER_ORACLE.rsplit("SELECT feat.*,", 1)
    assert "WITH f AS" in head and "FROM documents)" in head
    sql += (
        head.replace("WITH f AS", ",\nf AS", 1).replace("FROM documents)", "FROM nd)", 1)
        + ", gp AS (SELECT feat.doc_id,"
        + tail.rstrip()
        + """),
gq AS (SELECT nd.* FROM nd JOIN gp ON gp.doc_id = nd.doc_id AND gp.gopher_pass = 1)"""
    )

    # stage 4: decontamination. _DECON_CTES stays verbatim on the FULL
    # corpus — the eval carve is an external benchmark, and the `rep`
    # flag relation is a superset whose intersection with gq is exactly
    # the rebased computation (left-anti below applies it to gq only).
    assert "WITH nt AS" in _DECON_CTES
    sql += _DECON_CTES.replace("WITH nt AS", ",\nnt AS", 1)
    sql += """,
dc AS (
  SELECT gq.* FROM gq LEFT JOIN rep USING (doc_id)
  WHERE rep.doc_id IS NULL)"""

    # stage 5: temperature mixing — rates from dc's language counts,
    # threshold applied to dc (both `documents` references rebased)
    thead, ttail = _TEMP_ORACLE.rsplit("SELECT d.doc_id, d.lang", 1)
    assert "WITH c AS" in thead and "FROM documents GROUP BY 1" in thead
    assert "FROM documents d" in ttail
    sql += (
        thead.replace("WITH c AS", ",\nc AS", 1).replace(
            "FROM documents GROUP BY 1", "FROM dc GROUP BY 1", 1
        )
        + ",\ntm AS (SELECT d.*"
        + ttail.replace("FROM documents d", "FROM dc d", 1).rstrip()
        + ")"
    )

    # stage 6+7: packing + bin assembly (the packed_bins oracle over
    # tm; its `toks` CTE renamed — the LSH block owns that name here)
    assert "WITH toks AS" in _BINS_ORACLE and "FROM documents)" in _BINS_ORACLE
    sql += (
        _BINS_ORACLE.replace("toks", "ptoks")
        .replace("WITH ptoks AS", ",\nptoks AS", 1)
        .replace("FROM documents)", "FROM tm)", 1)
    )
    return sql


@query(
    "pretrain_end_to_end",
    oracle=_pretrain_oracle(),
    doc="the COMPLETE pretraining-data pipeline as one declarative DAG "
    "(r14 flagship): exact dedup (keep min-id per content hash) -> "
    f"MinHash-LSH near-dup drop ({NUM_HASHES} hashes x {BAND_SIZE}-row "
    "bands, greedy lower-id keep) -> Gopher rule filter -> benchmark "
    f"decontamination (normalized {_DECON_N}-gram overlap with the "
    "deterministic eval carve) -> temperature mixing (n^0.5 rates, "
    "48-bit hash threshold) -> concat-and-split sequence packing -> "
    "per-shard bin digests, i.e. the exact content a shard writer "
    "emits. Oracle is ASSEMBLED from the five stage oracles by CTE "
    "rebasing, so it cannot drift from the individually-pinned "
    "stages; the bin digests hash-pin every upstream stage at once. "
    "Plan shape: document text crosses no exchange until the single "
    "payload-bearing bin-assembly shuffle (pinned in test_plans.py); "
    "everything else moves hashes, band keys, gram digests, and "
    "chunk labels.",
)
def pretrain_end_to_end(spark, sf_dir):
    return pretrain_dag(_docs(spark, sf_dir), _eval_snippets(spark, sf_dir))


def pretrain_dag(docs, eval_snippets):
    """The DAG body on explicit inputs — the gate query binds the sf_dir
    tables; bench.py's x10 scale entry binds the replicated corpus."""
    # Join discipline: every stage's keep/drop set is a doc_id-only
    # relation, explicitly broadcast, so the text-bearing probe side
    # never enters an exchange (the plan pin). At 100 TB, where a
    # billion-row id set outgrows a broadcast, the same DAG swaps these
    # for bucketed co-located joins (sources/bucketed) — the stage
    # semantics and the oracle are join-strategy-independent.
    # 0: ingest spread — the ONE place the DAG may repartition text.
    # "auto" is a no-op whenever the input is already at least as
    # parallel as the cluster (every production scan; the plan pin
    # feeds such an input and asserts ZERO text exchanges end to end).
    # It triggers only on under-parallel local inputs — the gate
    # tables are single-row-group parquet files whose scan cannot
    # split, and without the spread every downstream text projection
    # (minhash signatures, Gopher tokenization, decontamination gram
    # explosion, chunking) inherits the one-partition layout and runs
    # on a single core.
    docs = dedup._maybe_repartition(docs, "doc_id", "auto")
    # r14 (optimization guide §3.3): every stage's keep/drop verdict is
    # a NARROW doc_id relation whose derivation re-reads the upstream
    # text chain. Left inline, each stage's verdict re-stamps the whole
    # upstream into its consumers' logical plan — depth-5 composition
    # blew up to 78 copies of the docs scan and 216 Exchanges, and the
    # wall-clock was dominated by Catalyst planning plus re-executed
    # verdict branches (cloned pruned projections defeat runtime
    # exchange reuse). Lazily localCheckpoint-ing each verdict set
    # (ids/rates only — the text NEVER materializes, the one-pass
    # payload contract is untouched) makes the plan linear in stages:
    # the text lineage is a single scan chain of broadcast semi-joins,
    # and each verdict computes once over a single-copy chain.
    # 1: exact dedup — keep the minimum id of every content group
    keepers = persist_block(
        dedup.exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    )
    # The corpus-sized verdict sets (keepers / near-dup drops / gopher
    # passing) are broadcast only under the session conf
    # spark.renkodf.join.broadcastVerdictSets (default true — correct
    # at every bounded/bench scale; 100 TB deployments set false and
    # let AQE pick from runtime stats): the ADVICE r14 bound rule,
    # enforced at one conf point instead of unconditional hints. The
    # bounded hints below (decontaminate's eval-gram-reach report,
    # temperature's per-language rates) keep their explicit
    # broadcasts. See plans/hints.py for the measured trade.
    dd = docs.join(maybe_broadcast_verdict(keepers), "doc_id")
    # 2: near-dup drop — LSH candidates on the deduped corpus; a doc
    # with any lower-id candidate partner is dropped (deterministic
    # greedy keep, the multimodal_curation_end_to_end policy)
    # repartition_input=False: the ingest spread above already settled
    # parallelism; a second auto-spread here would be a redundant text
    # exchange
    pairs = dedup.minhash_lsh_pairs(
        dd,
        num_hashes=NUM_HASHES,
        band_size=BAND_SIZE,
        shingle_n=SHINGLE_N,
        max_bucket_size=MAX_BUCKET,
        repartition_input=False,
    )
    nd = dd.join(
        maybe_broadcast_verdict(
            persist_block(pairs.select(F.col("id_b").alias("doc_id")).distinct())
        ),
        "doc_id",
        "left_anti",
    )
    # 3: Gopher rule filter
    passing = persist_block(
        text.gopher_rules(nd, min_words=_G_MIN_WORDS, min_stop_hits=_G_MIN_STOP)
        .filter(F.col("gopher_pass") == 1)
        .select("doc_id")
    )
    gq = nd.join(maybe_broadcast_verdict(passing), "doc_id")
    # 4: decontamination against the eval carve of the FULL corpus
    # (broadcast_report: the flag set is bounded by the eval set's
    # gram reach, and AQE cannot see that inside this DAG;
    # persist_report: the §3.3 lineage truncation above)
    dc = corpus.decontaminate(
        gq, eval_snippets, n=_DECON_N, broadcast_report=True, persist_report=True
    )
    # 5: temperature mixing over the surviving language distribution
    # (broadcast_rates: one row per language)
    tm = corpus.temperature_sample(
        dc, alpha=_TEMP_ALPHA, target_total=_TEMP_TARGET, broadcast_rates=True,
        persist_rates=True,
    )
    # 6+7: chunk -> pack -> assemble bins; export the shard content
    chunks = corpus.chunk_documents(
        tm, chunk_size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )
    packed = corpus.pack_sequences(chunks, budget=_PACK_BUDGET, shards=_PACK_SHARDS)
    bins = corpus.assemble_bins(packed, budget=_PACK_BUDGET)
    return bins.select(
        "shard", "bin_id", "bin_tokens", F.md5("bin_text").alias("bin_digest")
    )


# ------------------------------------------------ round-14 additions

from renkodf_spark.operators import search as search_ops  # noqa: E402
from renkodf_spark.operators import text as text_ops  # noqa: E402
from renkodf_spark.queries.relational3 import _TOKS_CTE, _TOP20  # noqa: E402


@query(
    "ql_search_spark_vector",
    oracle=_TOKS_CTE
    + """,
    postings AS (
      SELECT term, doc_id, COUNT(*)::BIGINT AS tf
      FROM toks GROUP BY term, doc_id),
    doclen AS (SELECT doc_id, SUM(tf)::BIGINT AS dl FROM postings GROUP BY 1),
    gstats AS (SELECT SUM(tf)::BIGINT AS total FROM postings),
    cfreq AS (SELECT term, SUM(tf)::BIGINT AS cf FROM postings
              WHERE term IN ('spark', 'vector') GROUP BY 1),
    contrib AS (
      SELECT p.doc_id,
             ROUND(ln(1.0 + p.tf * g.total / (100.0 * c.cf)) * 1e6)::BIGINT AS c
      FROM postings p
      JOIN cfreq c ON c.term = p.term
      CROSS JOIN gstats g
      WHERE p.term IN ('spark', 'vector')),
    matched AS (SELECT doc_id, SUM(c)::BIGINT AS m FROM contrib GROUP BY 1),
    scored AS (
      SELECT m.doc_id,
             (m.m + ROUND(2.0 * ln(100.0 / (d.dl + 100.0)) * 1e6)::BIGINT)::BIGINT
               AS score_micros
      FROM matched m JOIN doclen d USING (doc_id))"""
    + _TOP20,
    doc="query-likelihood ranked retrieval ('spark vector', top-20, "
    "Dirichlet mu=100): the language-modeling ranker next to BM25 "
    "(Lucene's LMDirichletSimilarity), scored in the Zhai-Lafferty "
    "decomposed form that touches only matching postings — per-term "
    "ln(1 + tf*total/(mu*cf)) contributions and the per-doc length "
    "prior |Q|*ln(mu/(dl+mu)), each ROUNDed once to integer "
    "micro-units so scores are exact long sums; ties on doc_id. Same "
    "scale shape as BM25: broadcast corpus stats, term-prunable "
    "postings scan, one top-k ordering.",
)
def ql_search_spark_vector(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    idx = search_ops.build_inverted_index(docs)
    return search_ops.ql_topk(idx, ["spark", "vector"], k=20, mu=100)


_VG_BUCKETS = 10


@query(
    "vocab_growth_curve",
    oracle=rf"""
    WITH mx AS (SELECT MAX(doc_id)::BIGINT AS mx FROM documents),
    tok AS (
      SELECT d.doc_id, (d.doc_id * {_VG_BUCKETS}) // (mx.mx + 1) AS bucket,
             unnest({WS_TOKENS}) AS term
      FROM documents d CROSS JOIN mx),
    per_bucket AS (
      SELECT bucket, COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
             COUNT(*)::BIGINT AS bucket_tokens
      FROM tok GROUP BY 1),
    firstb AS (SELECT term, MIN(bucket) AS bucket FROM tok GROUP BY 1),
    newt AS (SELECT bucket, COUNT(*)::BIGINT AS new_terms FROM firstb GROUP BY 1)
    SELECT b.bucket::BIGINT AS bucket, n_docs, bucket_tokens,
           (SUM(bucket_tokens) OVER (ORDER BY b.bucket))::BIGINT AS cum_tokens,
           COALESCE(new_terms, 0)::BIGINT AS new_terms,
           (SUM(COALESCE(new_terms, 0)) OVER (ORDER BY b.bucket))::BIGINT AS cum_vocab
    FROM per_bucket b LEFT JOIN newt USING (bucket)
    """,
    doc=f"vocabulary-growth (Heaps-law) curve over {_VG_BUCKETS} "
    "ingestion-order corpus slices: per slice, the never-before-seen "
    "terms it introduces plus running vocabulary/token totals — the "
    "curve a mixture designer reads to decide whether another slice "
    "of a source still buys new coverage. Bucketing is the pure "
    "projection (id*B) div (max_id+1) — no global ranking; the only "
    "shuffles are the per-bucket token counts and per-term "
    "MIN(bucket), and the closing cumulative window runs over at "
    "most B rows.",
)
def vocab_growth_curve(spark, sf_dir):
    return text_ops.vocab_growth(_docs(spark, sf_dir), n_buckets=_VG_BUCKETS)
