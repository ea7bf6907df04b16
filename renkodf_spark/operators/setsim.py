"""Exact set-similarity join: prefix-filtered Jaccard threshold join.

The missing complement to the probabilistic near-dup family in
``operators/dedup.py``: MinHash-LSH trades recall for speed; the
prefix-filter join (Chaudhuri/Ganti/Kaushik SSJoin ICDE 2006, Xiao et
al. PPJoin WWW 2008, distributed form Vernica/Carey/Li SIGMOD 2010)
returns EXACTLY the pairs with Jaccard >= t — candidate filters are
sound pruning, never recall trades.

Filter soundness (all three are classical):
- prefix filter: order every doc's elements by ascending global
  document frequency (rarest first, ties by element hash). If
  J(a, b) >= t, then |a ∩ b| >= ceil(t/(1+t) * (|a|+|b|)) and the two
  prefixes of length |x| - ceil(t*|x|) + 1 must share an element —
  so the (element-keyed) self-join of prefixes alone generates every
  qualifying pair.
- length filter: J <= min(|a|,|b|) / max(|a|,|b|), so a qualifying
  pair satisfies t * max <= min.
- positional filter (PPJoin, batch form): elements are sorted by the
  SAME global order in every record, so the c shared prefix elements
  of a pair occupy consistent increasing positions in both records;
  with the LAST witness at positions (max_pa, max_pb), every other
  shared element either precedes it in both records (then it lies in
  both prefixes and is one of the c witnesses) or follows it in both
  (at most min(|a| - max_pa, |b| - max_pb) such). Hence
  overlap <= c + min(|a| - max_pa, |b| - max_pb); prune when that
  bound is below alpha = ceil(t/(1+t) * (|a|+|b|)).

All arithmetic is integer-exact: the threshold is a rational
``(t_num, t_den)`` and every comparison is cross-multiplied
(``inter * t_den >= t_num * union``), so Spark and the DuckDB oracle
agree bit-for-bit with no float-boundary risk.

Set elements are word ``shingle_n``-gram shingles hashed to 48 bits
(first 12 md5 hex chars as BIGINT — the engine-portable ``hash_split``
convention, replayed exactly by the SQL oracle). Element identity is
therefore the 48-bit digest; a collision would merge two shingles on
BOTH engines identically (probability ~ |set|^2 / 2^49 per doc).

100 TB shape: the text column is consumed by the first doc-local map
stage and never enters an exchange — every shuffle moves (id, h, ...)
long triples. Global element frequencies are one narrow groupBy; the
candidate join fans out only on PREFIX elements, which the
frequency-ascending order makes the rarest in the corpus (the whole
point of the ordering), and the verify stage touches only surviving
candidates. No driver-side collect anywhere.

Reference parity note: the reference engine (srlcarlg/renkodf,
src/renkodf/renkodf.py) has no dedup surface; this module is part of
the training-data-pipeline extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from renkodf_spark.plans.persist import persist_block


def _validate_threshold(t_num: int, t_den: int) -> None:
    if not (isinstance(t_num, int) and isinstance(t_den, int)):
        raise ValueError(f"threshold must be an integer rational, got {t_num}/{t_den}")
    if not (0 < t_num <= t_den):
        raise ValueError(f"threshold must satisfy 0 < t_num <= t_den, got {t_num}/{t_den}")


def element_table(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    repartition_input: bool | str = "auto",
) -> DataFrame:
    """The distinct ``(id, h)`` element relation: h = 48-bit md5-prefix
    hash of each word ``shingle_n``-gram. Docs with fewer than
    ``shingle_n`` tokens yield no rows (guarded sequence — the same
    empty-safe contract as ``dedup._shingles``).

    ``repartition_input`` is the ``dedup._maybe_repartition`` dial: an
    under-parallel scan (one small parquet row group) would hash every
    shingle on one core; "auto" spreads it only when the input has
    fewer partitions than the cluster's parallelism (measured 7.5 s ->
    1.5 s for the element stage at sf0.1 on local[32])."""
    if shingle_n <= 0:
        raise ValueError(f"shingle_n must be positive, got {shingle_n}")
    from renkodf_spark.operators.dedup import _maybe_repartition

    df = _maybe_repartition(df, id_col, repartition_input)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    idx = F.when(
        F.size(toks) >= shingle_n, F.sequence(F.lit(0), F.size(toks) - F.lit(shingle_n))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, shingle_n)))
    return (
        df.select(F.col(id_col).alias("id"), F.explode(grams).alias("g"))
        .select(
            "id",
            F.conv(F.substring(F.md5(F.col("g")), 1, 12), 16, 10).cast("long").alias("h"),
        )
        .distinct()
    )


def _ceil_div(num, den: int):
    # exact integer ceil(num / den) for non-negative num. Integer `div`,
    # not float `/` + F.floor: _validate_threshold accepts arbitrarily
    # large rationals, and t_num * set_size crossing 2^53 under float
    # division would silently compute a wrong (recall-losing) prefix
    # length / alpha bound. `div` keeps the pipeline in exact BIGINT
    # (overflow past 2^63 fails loudly under ANSI instead of rounding).
    return F.call_function("div", num + F.lit(den - 1), F.lit(den)).cast("long")


def element_frequencies(elements: DataFrame) -> DataFrame:
    """Global document frequency per element hash: ``(h, c)``. This is
    the total-order basis of the prefix index — persist it next to the
    index and pass it (frozen) when indexing increments, so old and
    new prefixes rank under the SAME order (see
    :func:`incremental_setsim_pairs`)."""
    return elements.groupBy("h").agg(F.count(F.lit(1)).alias("c"))


def prefix_index(
    elements: DataFrame,
    *,
    t_num: int = 1,
    t_den: int = 2,
    freq: DataFrame | None = None,
) -> DataFrame:
    """The prefix index over a distinct ``(id, h)`` element relation:
    one row per doc per PREFIX element — ``(id, sz, pos, h)`` where
    ``pos`` is the element's 1-based rank in ascending global document
    frequency (ties by h) and ``pos <= sz - ceil(t*sz) + 1``.

    This is the persistable half of the join (the ``band_table``
    analogue): write it once per corpus snapshot, equi-join increments
    against it.

    ``freq`` pins a FROZEN ``(h, c)`` order basis (an
    :func:`element_frequencies` snapshot); elements unseen in it rank
    rarest (c = 0, ties by h). Prefix-filter soundness holds under ANY
    shared total order — frequency ascending is a pruning heuristic,
    not a correctness requirement — which is exactly what lets an
    increment rank under the baseline's stale frequencies and still
    join exactly (recall stays 100%)."""
    _validate_threshold(t_num, t_den)
    szs = elements.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if freq is None:
        joined = elements.join(element_frequencies(elements), "h")
    else:
        joined = elements.join(freq.select("h", "c"), "h", "left").withColumn(
            "c", F.coalesce("c", F.lit(0).cast("long"))
        )
    w = Window.partitionBy("id").orderBy("c", "h")
    prefix_len = F.col("sz") - _ceil_div(F.lit(t_num) * F.col("sz"), t_den) + F.lit(1)
    return (
        joined.join(szs, "id")
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= prefix_len)
        .select("id", "sz", "pos", "h")
    )


def element_sets(elements: DataFrame) -> DataFrame:
    """Per-doc sorted element-hash arrays ``(id, hs)`` — the verify-
    stage payload (and the third persistable index table)."""
    return elements.groupBy("id").agg(F.sort_array(F.collect_set("h")).alias("hs"))


def _prefix_side(pref: DataFrame, suffix: str) -> DataFrame:
    return pref.select(
        F.col("h"),
        F.col("id").alias(f"id_{suffix}"),
        F.col("sz").alias(f"sz_{suffix}"),
        F.col("pos").alias(f"pos_{suffix}"),
    )


def _filtered_candidates(
    a: DataFrame, b: DataFrame, *, t_num: int, t_den: int, same_side: bool
) -> DataFrame:
    """Prefix-join candidate pairs with the length and batch-PPJoin
    positional filters applied (module docstring). ``same_side``: both
    inputs are the same prefix table (dedupe by id_a < id_b); otherwise
    the sides are disjoint id spaces (id_a != id_b suffices) and the
    pair is normalized to id_a < id_b AFTER filtering — every filter is
    symmetric in the two sides, so the swap is safe."""
    # alpha = ceil(t/(1+t) * (sz_a + sz_b)) — the minimum overlap a
    # qualifying pair must reach; t/(1+t) = t_num / (t_num + t_den)
    alpha = _ceil_div(F.lit(t_num) * (F.col("sz_a") + F.col("sz_b")), t_num + t_den)
    j = a.join(b, "h")
    j = j.filter(F.col("id_a") < F.col("id_b")) if same_side else j.filter(
        F.col("id_a") != F.col("id_b")
    )
    cand = (
        # length filter: t * max(sz) <= min(sz), cross-multiplied
        j.filter(
            F.lit(t_den) * F.least("sz_a", "sz_b")
            >= F.lit(t_num) * F.greatest("sz_a", "sz_b")
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.max("pos_a").alias("__mpa"),
            F.max("pos_b").alias("__mpb"),
        )
        # positional filter (see module docstring): overlap is bounded
        # by witnesses-so-far + what can still follow the last witness
        .filter(
            F.col("__c")
            + F.least(
                F.col("sz_a") - F.col("__mpa"), F.col("sz_b") - F.col("__mpb")
            )
            >= alpha
        )
        .select("id_a", "id_b", "sz_a", "sz_b")
    )
    if not same_side:
        swap = F.col("id_a") > F.col("id_b")
        cand = cand.select(
            F.when(swap, F.col("id_b")).otherwise(F.col("id_a")).alias("id_a"),
            F.when(swap, F.col("id_a")).otherwise(F.col("id_b")).alias("id_b"),
            F.when(swap, F.col("sz_b")).otherwise(F.col("sz_a")).alias("sz_a"),
            F.when(swap, F.col("sz_a")).otherwise(F.col("sz_b")).alias("sz_b"),
        )
    return cand


def _verify(
    cand: DataFrame, sets: DataFrame, *, t_num: int, t_den: int, round_digits: int
) -> DataFrame:
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
    uni = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        cand.join(
            sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a")), "id_a"
        )
        .join(sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
        .withColumn("inter", inter)
        .drop("hs_a", "hs_b")
        # the exact threshold: inter / union >= t, cross-multiplied
        .filter(F.col("inter") * F.lit(t_den) >= F.lit(t_num) * uni)
        .select(
            "id_a",
            "id_b",
            "inter",
            "sz_a",
            "sz_b",
            F.round(F.try_divide(F.col("inter"), uni), round_digits).alias("jaccard"),
        )
    )


def setsim_join(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    round_digits: int = 4,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= t_num/t_den — EXACT
    (100% recall, 100% precision; the filters only prune cost).

    Output: ``(id_a, id_b, inter, sz_a, sz_b, jaccard)`` with
    id_a < id_b, jaccard rounded to ``round_digits``.
    """
    _validate_threshold(t_num, t_den)
    e = element_table(df, text_col=text_col, id_col=id_col, shingle_n=shingle_n)
    # LAZY localCheckpoint, not cache(): feeds the prefix index, both
    # candidate sides, and verify — and leaves no CacheManager entry
    # behind in a long-lived driver (ADVICE r12; blocks are freed when
    # the result is dropped, at the cost of no lineage recovery).
    # eager=False matters: an eager checkpoint ran the element build as
    # its own serial job before the query and measured 1.96x on
    # setsim_exact_join at sf0.1; the lazy form persists on first use
    # inside the query's own parallel job, like cache() did.
    e = persist_block(e)
    # r14 (guide §3.3): the prefix table feeds BOTH candidate sides and
    # the sorted-set table both verify sides — persist each narrow
    # relation so the freq-join + rank window (resp. the per-doc
    # collect_set) is planned and executed once instead of twice.
    pref = persist_block(prefix_index(e, t_num=t_num, t_den=t_den))
    cand = _filtered_candidates(
        _prefix_side(pref, "a"),
        _prefix_side(pref, "b"),
        t_num=t_num,
        t_den=t_den,
        same_side=True,
    )
    return _verify(
        cand,
        persist_block(element_sets(e)),
        t_num=t_num,
        t_den=t_den,
        round_digits=round_digits,
    )


def setsim_index(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three persistable index tables of the production protocol:
    ``(freq, prefix, sets)`` — element frequencies (the frozen order
    basis), the prefix index, and the per-doc element arrays. Write all
    three once per corpus snapshot (bucket prefix by ``h``, sets by
    ``id``) and run increments through
    :func:`incremental_setsim_pairs` — the historical text is never
    re-read."""
    e = persist_block(
        element_table(df, text_col=text_col, id_col=id_col, shingle_n=shingle_n)
    )
    freq = element_frequencies(e)
    return freq, prefix_index(e, t_num=t_num, t_den=t_den), element_sets(e)


def incremental_setsim_pairs(
    new_df: DataFrame,
    freq: DataFrame,
    baseline_prefix: DataFrame,
    baseline_sets: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    round_digits: int = 4,
    include_within_new: bool = True,
    new_elements: DataFrame | None = None,
) -> DataFrame:
    """Exact set-similarity pairs TOUCHING an increment: new-vs-baseline
    plus (optionally) new-vs-new, against a persisted
    :func:`setsim_index`. Equivalent to :func:`setsim_join` over the
    union corpus restricted to pairs with at least one new member —
    with 100% recall even though the increment ranks under the
    baseline's FROZEN frequencies: the prefix filter is sound under any
    total order shared by both sides, and freezing the order is what
    makes old prefixes (computed at index time) and new prefixes
    mutually consistent. Elements unseen at index time rank rarest
    (c = 0), which is also the best pruning guess for them.

    Caller contract (the ``incremental_lsh_pairs`` convention): the
    increment's ids are disjoint from the baseline's.

    ``new_elements`` lets a caller that already built (and manages the
    lifecycle of) the increment's element table pass it in — the
    streaming writer does this so the per-trigger cache is ITS to
    unpersist; otherwise one is built and cached here (a long-lived
    driver issuing many increments should prefer the explicit form).
    """
    _validate_threshold(t_num, t_den)
    e_new = (
        new_elements
        if new_elements is not None
        else persist_block(
            element_table(
                new_df, text_col=text_col, id_col=id_col, shingle_n=shingle_n
            )
        )
    )
    pref_new = prefix_index(e_new, t_num=t_num, t_den=t_den, freq=freq)
    cross = _filtered_candidates(
        _prefix_side(pref_new, "a"),
        _prefix_side(baseline_prefix, "b"),
        t_num=t_num,
        t_den=t_den,
        same_side=False,
    )
    cand = cross
    if include_within_new:
        within = _filtered_candidates(
            _prefix_side(pref_new, "a"),
            _prefix_side(pref_new, "b"),
            t_num=t_num,
            t_den=t_den,
            same_side=True,
        )
        cand = cand.unionByName(within)
    sets = element_sets(e_new).unionByName(baseline_sets)
    return _verify(
        cand, sets, t_num=t_num, t_den=t_den, round_digits=round_digits
    )


def containment_join(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    t_num: int = 4,
    t_den: int = 5,
    round_digits: int = 4,
    repartition_input: bool | str = "auto",
) -> DataFrame:
    """Exact CONTAINMENT join: all ORDERED pairs (a, b), a != b, with
    ``|a ∩ b| >= t * |a|`` — "most of a's shingles appear in b", the
    quote/subset-duplication detector (the set-level complement of the
    exact-substring dedup family; resemblance misses a short doc
    embedded in a long one because the union is large).

    Asymmetric prefix filter: if C(a, b) >= t then the overlap has at
    least ceil(t*|a|) elements while a's non-prefix tail holds only
    ceil(t*|a|) - 1, so some overlap element lies in a's prefix
    (frequency-ascending, length |a| - ceil(t*|a|) + 1). The CONTAINED
    side therefore joins through its (corpus-rarest) prefix; the
    containing side must be indexed in full — the fan-out per element
    is prefix_count(h) x df(h), bounded because prefix elements are
    rare by construction. No length filter applies (b may be any
    size >= ceil(t*|a|)); the positional filter's pigeonhole does not
    transfer to the asymmetric case, so verification does the exact
    work. 100% recall and precision, like :func:`setsim_join`.

    Output: ``(id_a, id_b, inter, sz_a, sz_b, containment)`` with
    containment = inter / sz_a rounded to ``round_digits``; both
    orientations of a mutually-containing pair are reported.
    """
    _validate_threshold(t_num, t_den)
    e = persist_block(
        element_table(
            df,
            text_col=text_col,
            id_col=id_col,
            shingle_n=shingle_n,
            repartition_input=repartition_input,
        )
    )
    pref = prefix_index(e, t_num=t_num, t_den=t_den)
    a = pref.select("h", F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    b = e.select("h", F.col("id").alias("id_b"))
    # b_min size filter: |b| >= |a ∩ b| >= ceil(t*|a|) — cheap prune
    szs = e.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    cand = (
        a.join(b, "h")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "sz_a")
        .distinct()
        .join(szs.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .filter(
            F.col("sz_b") >= _ceil_div(F.lit(t_num) * F.col("sz_a"), t_den)
        )
    )
    sets = element_sets(e)
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
    return (
        cand.join(
            sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a")), "id_a"
        )
        .join(sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
        .withColumn("inter", inter)
        .drop("hs_a", "hs_b")
        # exact containment threshold, cross-multiplied
        .filter(F.col("inter") * F.lit(t_den) >= F.lit(t_num) * F.col("sz_a"))
        .select(
            "id_a",
            "id_b",
            "inter",
            "sz_a",
            "sz_b",
            F.round(F.try_divide(F.col("inter"), F.col("sz_a")), round_digits).alias(
                "containment"
            ),
        )
    )
