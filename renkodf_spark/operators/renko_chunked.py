"""Memory-bounded Renko for arbitrarily long per-symbol histories.

`renko()` loads each symbol's full tick history into one Arrow batch —
the right call when symbols are numerous and individually bounded. At
100 TB a single symbol's history can exceed executor memory, so
`renko_chunked` processes the stream in consecutive event-time windows:
each window runs distributed across symbols, with the per-symbol kernel
state carried to the next window (the reference's own backtest->live
warm-start handoff, renkodf.py:457-508 / SURVEY.md O-13, is this same
stitching; unlike the reference's splice there is no first-bar
wick/volume discrepancy because the *full* scalar state — wick extremes,
volume, tick offset — crosses the boundary, not just the last brick row).

Scale posture (the reason this operator exists):
- ONE source scan total. The slimmed ticks are staged once, written
  partitioned by the window key; each window then reads only its own
  partition (partition pruning), so W windows cost one full scan + W
  pruned reads instead of W full scans. Staging also pins `__seq`
  (monotonically_increasing_id is per-job nondeterministic — re-scanning
  the source per window could renumber equal-timestamp ticks between
  windows).
- NO driver-held state. The per-symbol carry state is a DataFrame
  (one tiny row per symbol) cogrouped with the window's ticks
  (`groupBy(symbol).cogroup(state.groupBy(symbol)).applyInArrow`), so
  millions of symbols never transit the driver or bloat task closures.
- The recurrence is inherently sequential per symbol, so windows run in
  sequence; the cluster still parallelizes across symbols within every
  window, and executor memory is bounded by the window's tick count per
  symbol. Each window's bricks and carry state are localCheckpoint'd
  (one job per window) so plan depth stays O(1) per window, the cogroup
  runs exactly once, and the window's persisted partitions are released
  immediately after.
- Bounded cleanup. Staging writes land in a fresh ``stage_*``
  subdirectory of ``staging_dir`` (never clobbering caller data) and
  the whole staged copy is deleted before returning — the checkpointed
  bricks no longer reference it. Nothing accumulates across calls.

On a real cluster pass ``staging_dir`` on a shared filesystem (S3/HDFS);
the default is a driver-local temp dir, correct for local mode.

Fault-tolerance caveat (ADVICE r3): by default each window's bricks and
carries are ``localCheckpoint``'d — executor-local blocks with lineage
severed, and the staged parquet is deleted before the caller
materializes the union — so on a multi-executor cluster, losing an
executor mid-run or before materialization loses those blocks with NO
recompute path ("checkpoint block not found"). Local mode (one JVM) is
unaffected. Cluster deployments set ``spark.renkodf.persist.reliable``
(or pass ``reliable_checkpoint=True``): each window then goes through
``persist_block`` to ``spark.sparkContext.setCheckpointDir(...)`` (a
fault-tolerant filesystem), surviving executor loss at the cost of one
filesystem write per window.

The window body is the shared Arrow host of ``operators/renko.py``:
`scan_group` resumes each symbol from its carry (see the carry protocol
there) and its output packs the bricks and the next carry into one
table (`PACKED_SCHEMA`, split on ``__row_kind``).

Output is bit-identical to the one-shot `renko()` (asserted in tests).
"""

from __future__ import annotations

import tempfile
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renkodf_spark.kernel import WIDE_VALUE_COLUMNS
from renkodf_spark.operators.renko import (
    CARRY_COLS,
    KIND_BRICK,
    KIND_CARRY,
    PACKED_SCHEMA,
    bricks_table,
    carry_table,
    read_carry,
    scan_group,
    slim_ticks,
    sorted_ticks,
    timed,
)
from renkodf_spark.plans.persist import persist_block, resolve_reliable
from renkodf_spark.schema import WIDE_COLUMN_NAMES, WIDE_SCHEMA


def renko_chunked(
    ticks: DataFrame,
    brick_size: float,
    *,
    window: str = "1 week",
    symbol_col: str = "symbol",
    time_col: str = "event_time",
    price_col: str = "close",
    drop_first: bool = True,
    staging_dir: str | None = None,
    reliable_checkpoint: bool | None = None,
    instrument: dict | None = None,
    subchunk_threshold: int | None = 3_000_000,
    subchunk_target: int = 500_000,
) -> DataFrame:
    """``instrument``: pass an empty dict to receive a per-phase timing
    breakdown (zero overhead when None): ``stage_write_sec`` (the one
    source scan + partitioned staging write), ``discover_sec`` (window
    enumeration), and per-window rows ``{win, wall_sec, py_sec,
    kernel_sec, state_ck_sec}`` where ``py_sec``/``kernel_sec`` are
    worker-side accumulator sums over the window's cogroup tasks (total
    Python-UDF body time and the share of it spent in `scan_group`, or
    in the repair pass's kernel calls) — wall minus
    py/parallelism attributes the remainder to the pruned read, the
    symbol shuffle, Arrow transfer, and the checkpoint write. Added for
    the ×100-skew variance investigation (NOTES r8).

    Skew-aware sub-chunking (VERDICT r8 item 3): a (symbol, window)
    group with more than ``subchunk_threshold`` ticks no longer runs as
    ONE serial task — it is split into ~``subchunk_target``-tick
    time-contiguous sub-chunks that scan in parallel speculatively and
    are stitched by a cheap sequential repair pass (bitwise-verified
    convergence; see ``renko_subchunk``). Output stays bit-identical to
    the one-shot scan in all regimes — when speculative convergence
    can't be verified (non-dyadic brick arithmetic) the repair pass
    degrades to the previous serial scan for that chunk. Pass
    ``subchunk_threshold=None`` to disable.

    ``reliable_checkpoint``: None reads ``spark.renkodf.persist.reliable``
    like every other persist point; True/False overrides it (see the
    module docstring's fault-tolerance caveat)."""
    slim = slim_ticks(
        ticks, brick_size, symbol_col, time_col, price_col,
        F.unix_micros(F.window(F.col(time_col), window).start).alias("__win"),
    )
    spark = ticks.sparkSession
    # resolved once, up front: a missing checkpoint dir fails before any job
    reliable = resolve_reliable(spark, reliable_checkpoint)

    own_tmp = staging_dir is None
    if own_tmp:
        staging_dir = tempfile.mkdtemp(prefix="renko_chunked_stage_")
    # unique subdir: a caller-supplied staging_dir is never clobbered and
    # concurrent runs can share one staging root
    stage_path = f"{staging_dir.rstrip('/')}/stage_{uuid.uuid4().hex}"
    # ONE pass over the source; everything after reads the staged copy.
    t0 = time.perf_counter()
    slim.write.mode("errorifexists").partitionBy("__win").parquet(stage_path)
    if instrument is not None:
        instrument["stage_write_sec"] = round(time.perf_counter() - t0, 3)
    try:
        t0 = time.perf_counter()
        staged = spark.read.schema(slim.schema).parquet(stage_path)
        windows = sorted(r[0] for r in staged.select("__win").distinct().collect())
        if instrument is not None:
            instrument["discover_sec"] = round(time.perf_counter() - t0, 3)
            instrument["n_windows"] = len(windows)
        if not windows:
            return spark.createDataFrame([], WIDE_SCHEMA)
        hot_plan = {}
        if subchunk_threshold is not None:
            t0 = time.perf_counter()
            hot_plan = _hot_plan(spark, staged, subchunk_threshold, subchunk_target)
            if instrument is not None:
                instrument["hot_plan_sec"] = round(time.perf_counter() - t0, 3)
                instrument["hot_pairs"] = len(hot_plan)
        return _run_windows(
            spark, staged, windows, brick_size, drop_first, reliable,
            instrument=instrument, hot_plan=hot_plan,
        )
    finally:
        _delete_path(spark, stage_path)
        if own_tmp:
            _delete_path(spark, staging_dir)


def _delete_path(spark, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API, so cleanup
    works for any scheme (local, HDFS, S3A) the staging dir lives on."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    hpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(hpath, True)


def _hot_plan(spark, staged, threshold: int, target: int) -> dict:
    """Identify (window, symbol) groups whose tick count exceeds the
    serial-task budget and compute their sub-chunk time boundaries plus
    collision-free sub-chunk ids.

    Three small jobs over the staged (already slim, partition-pruned)
    copy: a count aggregation, approximate time quantiles for the hot
    pairs only, and one tiny hash probe. Returns
    ``{(win, symbol): {"bnds": [...micros], "ids": [...]}}`` with
    ``len(ids) == len(bnds) + 1``; n_sub = ceil(count / max(target,
    count // 24)), i.e. chunks of ~``target`` ticks, levelling off at
    ~24 chunks so one group can't swamp the scheduler.

    Why chosen ids: the sub-chunks are few and individually HEAVY, so
    leaving their shuffle placement to murmur3(symbol, 0..n-1) % P
    routinely lands several on one reducer and serializes exactly the
    work this operator exists to parallelize (measured: 3 of 6 chunks
    on one partition -> parallelism 1.1). The ids are arbitrary labels,
    so we probe Spark's own hash for a set of candidate ids and pick an
    ascending subset whose partitions are pairwise distinct per window
    — deterministic task placement, zero collisions by construction."""
    import math

    counts = (
        staged.groupBy("__win", "symbol")
        .count()
        .filter(F.col("count") > threshold)
        .collect()
    )
    want = {}
    for r in counts:
        n_sub = min(32, math.ceil(r["count"] / max(target, r["count"] // 24)))
        if n_sub >= 2:
            want[(r["__win"], r["symbol"])] = n_sub
    if not want:
        return {}
    hot_df = spark.createDataFrame(
        [(w, s) for (w, s) in want], ["__win", "symbol"]
    )
    probs = [i / 64.0 for i in range(1, 64)]
    rows = (
        staged.join(F.broadcast(hot_df), ["__win", "symbol"])
        .groupBy("__win", "symbol")
        .agg(
            F.percentile_approx(F.unix_micros("__time"), probs, 20000).alias("qs")
        )
        .collect()
    )
    # one probe of Spark's murmur3 per distinct hot symbol x candidate id
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    syms = sorted({s for (_, s) in want})
    cand = spark.createDataFrame(
        [(s, i) for s in syms for i in range(256)], ["symbol", "__sub"]
    ).select(
        "symbol",
        "__sub",
        F.pmod(F.hash("symbol", F.col("__sub").cast("long")), F.lit(n_part)).alias("p"),
    )
    pmap: dict = {}
    for r in cand.collect():
        pmap.setdefault(r["symbol"], []).append((r["__sub"], r["p"]))

    plan: dict = {}
    used_by_win: dict = {}
    for r in rows:
        key = (r["__win"], r["symbol"])
        n_sub = want[key]
        qs = r["qs"]
        idx = sorted({round(64 * k / n_sub) - 1 for k in range(1, n_sub)})
        bnds = sorted({int(qs[i]) for i in idx if 0 <= i < len(qs)})
        if not bnds:
            continue
        used = used_by_win.setdefault(r["__win"], set())
        ids = []
        for i, p in pmap[r["symbol"]]:
            if p not in used:
                used.add(p)
                ids.append(i)
                if len(ids) == len(bnds) + 1:
                    break
        # partitions exhausted (many hot symbols x chunks in one
        # window): pad with remaining candidates, accepting collisions
        k = 0
        while len(ids) < len(bnds) + 1:
            i = pmap[r["symbol"]][k][0]
            if i not in ids:
                ids.append(i)
            k += 1
        plan[key] = {"bnds": bnds, "ids": sorted(ids)}
    return plan


def _run_windows(
    spark, staged, windows, brick_size: float, drop_first: bool,
    reliable: bool, instrument: dict | None = None,
    hot_plan: dict | None = None,
) -> DataFrame:
    # worker-side phase accumulators (only wired when instrumenting —
    # the closure must not capture driver-only objects otherwise)
    acc_py = spark.sparkContext.accumulator(0.0) if instrument is not None else None
    acc_kernel = spark.sparkContext.accumulator(0.0) if instrument is not None else None
    scan_k = timed(scan_group, acc_kernel)

    # cogroup body: one symbol's window ticks x its carry row (absent on
    # the symbol's first window; no ticks = idle, the carry passes on)
    def body(tick_tbl, state_tbl):
        ts_type = tick_tbl.schema.field("__time").type
        carry = read_carry(state_tbl) if state_tbl.num_rows else None
        sym = (tick_tbl if tick_tbl.num_rows else state_tbl).column("symbol")[0].as_py()
        times, prices = sorted_ticks(tick_tbl)
        bricks, carry = scan_k(times, prices, brick_size, drop_first, carry)
        return pa.concat_tables([
            bricks_table(PACKED_SCHEMA, sym, bricks, ts_type, {"__row_kind": KIND_BRICK}),
            carry_table(carry, sym, ts_type),
        ])

    run = timed(body, acc_py)

    # skew-aware sub-chunking machinery (only paid when a hot (window,
    # symbol) pair exists — see module renko_subchunk for the design)
    hot_plan = hot_plan or {}
    rep_accs = None
    if hot_plan:
        rep_accs = {
            "converged": spark.sparkContext.accumulator(0),
            "fallback": spark.sparkContext.accumulator(0),
            "repair_ticks": spark.sparkContext.accumulator(0),
        }

    # Checkpoint materializes bricks + carry state (computing the
    # cogroup exactly once, from the persisted `part`) and severs their
    # lineage from both the cogroup and the staged files — so the
    # window's cache is released right here and the staged copy can be
    # deleted before the caller ever materializes the union. local =
    # executor blocks (fast, not executor-loss-safe); reliable = the
    # SparkContext checkpoint dir (see module docstring caveat).
    def ck(df):
        return persist_block(df, reliable=reliable, eager=True)

    state_df = spark.createDataFrame([], PACKED_SCHEMA).select("symbol", *CARRY_COLS)
    chunks: list[DataFrame] = []
    if instrument is not None:
        instrument["windows"] = []
    for win in windows:
        t_w0 = time.perf_counter()
        py0 = acc_py.value if acc_py is not None else 0.0
        k0 = acc_kernel.value if acc_kernel is not None else 0.0
        wticks = staged.filter(F.col("__win") == F.lit(win)).drop("__win")
        hot_syms = sorted(s for (w, s) in hot_plan if w == win)

        if not hot_syms:
            part = (
                wticks.groupBy("symbol")
                .cogroup(state_df.groupBy("symbol"))
                .applyInArrow(run, PACKED_SCHEMA)
                .persist()
            )
            bricks = ck(_bricks_of(part))
            t_bricks = time.perf_counter()
            state_df = ck(_carries_of(part))
            part.unpersist()
            hot_stats = None
        else:
            bricks, state_df, t_bricks, hot_stats = _run_hot_window(
                spark, wticks, state_df, win, hot_syms, hot_plan, brick_size,
                drop_first, run, rep_accs, acc_py, acc_kernel, ck,
            )
        chunks.append(bricks)
        if instrument is not None:
            entry = {
                "win": int(win),
                # cogroup + bricks-checkpoint job (read, shuffle, Arrow,
                # Python, write) vs the cheap state re-filter job
                "wall_sec": round(time.perf_counter() - t_w0, 3),
                "state_ck_sec": round(time.perf_counter() - t_bricks, 3),
                # worker-side sums across the window's tasks: total UDF
                # body time and the kernel-scan share of it — the gap to
                # wall×parallelism is shuffle/Arrow/IO/scheduling
                "py_sec": round(acc_py.value - py0, 3),
                "kernel_sec": round(acc_kernel.value - k0, 3),
            }
            if hot_stats is not None:
                entry["hot"] = hot_stats
            instrument["windows"].append(entry)

    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c)
    return out


def _bricks_of(packed: DataFrame) -> DataFrame:
    return packed.filter(F.col("__row_kind") == KIND_BRICK).select(*WIDE_COLUMN_NAMES)


def _carries_of(packed: DataFrame) -> DataFrame:
    return packed.filter(F.col("__row_kind") == KIND_CARRY).select("symbol", *CARRY_COLS)


def _run_hot_window(
    spark, wticks, state_df, win, hot_syms, hot_plan, brick_size,
    drop_first, run, rep_accs, acc_py, acc_kernel, ck,
):
    """One window with sub-chunked hot symbols: the normal cogroup runs
    unchanged for everyone else; hot symbols take the three-step
    spec-scan / sequential-repair / declarative-splice path (design and
    bit-exactness argument in operators/renko_subchunk.py). Everything
    is assembled lazily and materialized by the same two checkpoints as
    the normal path, so staging cleanup semantics are unchanged.

    The spec inputs are explicitly repartitioned on the chosen
    (symbol, chunk-id) keys: the ids were picked so each chunk owns its
    own reducer (see _hot_plan) — an explicit N also keeps AQE from
    coalescing this deliberately wide, bytes-small/CPU-heavy exchange."""
    from renkodf_spark.operators.renko_subchunk import (
        KIND_DECISION,
        KIND_SUMMARY,
        SUB_SCHEMA,
        make_repair_runner,
        make_spec_runner,
    )

    plans_by_sym = {s: hot_plan[(win, s)] for s in hot_syms}
    first_ids = {s: int(p["ids"][0]) for s, p in plans_by_sym.items()}
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    is_hot = F.col("symbol").isin(hot_syms)
    conv0 = rep_accs["converged"].value
    fb0 = rep_accs["fallback"].value
    rt0 = rep_accs["repair_ticks"].value

    part = (
        wticks.filter(~is_hot)
        .groupBy("symbol")
        .cogroup(state_df.filter(~is_hot).groupBy("symbol"))
        .applyInArrow(run, PACKED_SCHEMA)
        .persist()
    )

    hot_ticks = wticks.filter(is_hot)
    hot_state = state_df.filter(is_hot)

    # __sub = ids[count(boundaries <= t)]: ticks with equal timestamps
    # land in the same chunk, so chunk order == the stable
    # (__time, __seq) scan order. The repair task re-derives the
    # identical cuts with searchsorted on the same boundary values.
    sub_expr = F.lit(0).cast("long")
    state_sub_expr = F.lit(0).cast("long")
    for s, p in plans_by_sym.items():
        bnd_arr = F.array(*[F.lit(int(b)).cast("long") for b in p["bnds"]])
        id_arr = F.array(*[F.lit(int(i)).cast("long") for i in p["ids"]])
        cnt = F.size(F.filter(bnd_arr, lambda b: F.unix_micros(F.col("__time")) >= b))
        sym_match = F.col("symbol") == F.lit(s)
        sub_expr = F.when(sym_match, F.element_at(id_arr, cnt + F.lit(1))).otherwise(sub_expr)
        state_sub_expr = F.when(sym_match, F.lit(first_ids[s]).cast("long")).otherwise(
            state_sub_expr
        )

    spec_run = make_spec_runner(brick_size, drop_first, first_ids, acc_py, acc_kernel)
    spec = (
        hot_ticks.withColumn("__sub", sub_expr)
        .repartition(n_part, "symbol", "__sub")
        .groupBy("symbol", "__sub")
        .cogroup(
            hot_state.withColumn("__sub", state_sub_expr)
            .repartition(n_part, "symbol", "__sub")
            .groupBy("symbol", "__sub")
        )
        .applyInArrow(spec_run, SUB_SCHEMA)
        .persist()
    )

    side2 = spec.filter(F.col("__row_kind") == KIND_SUMMARY).unionByName(
        hot_state.withColumn("__row_kind", F.lit(KIND_CARRY)), allowMissingColumns=True
    )
    repair_run = make_repair_runner(
        brick_size,
        drop_first,
        plans_by_sym,
        acc_py=acc_py,
        acc_kernel=acc_kernel,
        acc_converged=rep_accs["converged"],
        acc_fallback=rep_accs["fallback"],
        acc_repair_ticks=rep_accs["repair_ticks"],
    )
    rep = (
        hot_ticks.groupBy("symbol")
        .cogroup(side2.groupBy("symbol"))
        .applyInArrow(repair_run, SUB_SCHEMA)
        .persist()
    )

    decisions = rep.filter(F.col("__row_kind") == KIND_DECISION).select(
        "symbol", "__sub", "__keep_from", "__seq_base", "__tick_shift"
    )
    shifted = [
        (F.col(c) + F.col("__tick_shift")).alias(c)
        if c in ("tick_index_open", "tick_index_close")
        else F.col(c)
        for c in WIDE_VALUE_COLUMNS
    ]
    spec_kept = (
        spec.filter(F.col("__row_kind") == KIND_BRICK)
        .select("__sub", *WIDE_COLUMN_NAMES)
        .join(F.broadcast(decisions), ["symbol", "__sub"])
        .filter(F.col("brick_seq") >= F.col("__keep_from"))
        .select(
            F.col("symbol"),
            (F.col("brick_seq") - F.col("__keep_from") + F.col("__seq_base")).alias(
                "brick_seq"
            ),
            F.col("event_time"),
            *shifted,
        )
        .select(*WIDE_COLUMN_NAMES)
    )

    bricks = ck(_bricks_of(part).unionByName(_bricks_of(rep)).unionByName(spec_kept))
    t_bricks = time.perf_counter()
    new_state = ck(_carries_of(part).unionByName(_carries_of(rep)))
    part.unpersist()
    spec.unpersist()
    rep.unpersist()
    hot_stats = {
        "symbols": len(hot_syms),
        "chunks": sum(len(p["ids"]) for p in plans_by_sym.values()),
        "converged": rep_accs["converged"].value - conv0,
        "fallback": rep_accs["fallback"].value - fb0,
        "repair_ticks": rep_accs["repair_ticks"].value - rt0,
    }
    return bricks, new_state, t_bricks, hot_stats
