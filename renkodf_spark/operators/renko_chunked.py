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
unaffected. Cluster deployments set ``spark.renkodf.persist.reliable``:
each window then goes through ``persist_block`` to
``spark.sparkContext.setCheckpointDir(...)`` (a fault-tolerant
filesystem), surviving executor loss at the cost of one filesystem
write per window.

The window body is the shared Arrow host of ``operators/renko.py``:
`scan_group` resumes each symbol from its carry (see the carry protocol
there) and its output packs the bricks and the next carry into one
table (`PACKED_SCHEMA`, split on ``__row_kind``). Every window runs one
step: that cogroup for every symbol that is not hot in the window,
plus, only when the window has hot symbols, their sub-chunk pass
(`renko_subchunk`), under the same two checkpoints.

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
from renkodf_spark.sources.lakehouse import hadoop_fs


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
    ``subchunk_threshold=None`` to disable."""
    slim = slim_ticks(
        ticks, brick_size, symbol_col, time_col, price_col,
        F.unix_micros(F.window(F.col(time_col), window).start).alias("__win"),
    )
    spark = ticks.sparkSession
    # the window checkpoints' store, checked up front: with the reliable
    # conf on, a missing checkpoint dir fails before any job
    resolve_reliable(spark)

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
            spark, staged, windows, brick_size, drop_first, hot_plan, instrument=instrument
        )
    finally:
        _delete_path(spark, stage_path)
        if own_tmp:
            _delete_path(spark, staging_dir)


def _delete_path(spark, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API, so cleanup
    works for any scheme (local, HDFS, S3A) the staging dir lives on."""
    fs, Path = hadoop_fs(spark, path)
    fs.delete(Path(path), True)


def _hot_plan(spark, staged, threshold: int, target: int) -> dict:
    """Identify (window, symbol) groups whose tick count exceeds the
    serial-task budget and compute their sub-chunk time boundaries.

    Two small jobs over the staged (already slim, partition-pruned)
    copy: a count aggregation, and approximate time quantiles for the
    hot pairs only. Returns ``{(win, symbol): [boundary micros...]}``;
    n_sub = ceil(count / max(target, count // 24)), i.e. chunks of
    ~``target`` ticks, levelling off at ~24 chunks so one group can't
    swamp the scheduler. A NULL symbol is never hot: it stays in the
    window's cogroup, which groups it like any other symbol."""
    import math

    counts = (
        staged.filter(F.col("symbol").isNotNull())
        .groupBy("__win", "symbol")
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
    plan: dict = {}
    for r in rows:
        key = (r["__win"], r["symbol"])
        n_sub = want[key]
        qs = r["qs"]
        idx = sorted({round(64 * k / n_sub) - 1 for k in range(1, n_sub)})
        bnds = sorted({int(qs[i]) for i in idx if 0 <= i < len(qs)})
        if bnds:
            plan[key] = bnds
    return plan


def _run_windows(
    spark, staged, windows, brick_size: float, drop_first: bool, hot_plan: dict,
    instrument: dict | None = None,
) -> DataFrame:
    # worker-side phase accumulators (only wired when instrumenting —
    # the closure must not capture driver-only objects otherwise)
    sc = spark.sparkContext
    acc_py = sc.accumulator(0.0) if instrument is not None else None
    acc_kernel = sc.accumulator(0.0) if instrument is not None else None
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
    # the sub-chunk repair counters (see module renko_subchunk)
    rep_accs = {}
    if instrument is not None:
        rep_accs = {k: sc.accumulator(0) for k in ("converged", "fallback", "repair_ticks")}
        instrument["windows"] = []

    state_df = spark.createDataFrame([], PACKED_SCHEMA).select("symbol", *CARRY_COLS)
    chunks: list[DataFrame] = []
    for win in windows:
        t_w0 = time.perf_counter()
        py0 = acc_py.value if acc_py is not None else 0.0
        k0 = acc_kernel.value if acc_kernel is not None else 0.0
        rep0 = {k: a.value for k, a in rep_accs.items()}
        wticks = staged.filter(F.col("__win") == F.lit(win)).drop("__win")
        plans = {s: bnds for (w, s), bnds in hot_plan.items() if w == win}
        # null-safe: a NULL symbol is never hot, so it stays on this side
        is_hot = F.coalesce(F.col("symbol").isin(sorted(plans)), F.lit(False))
        part = (
            wticks.filter(~is_hot)
            .groupBy("symbol")
            .cogroup(state_df.filter(~is_hot).groupBy("symbol"))
            .applyInArrow(run, PACKED_SCHEMA)
            .persist()
        )
        bricks, carries, cached = _bricks_of(part), _carries_of(part), [part]
        if plans:
            hot_bricks, hot_carries, hot_cached = _hot_pass(
                spark, wticks.filter(is_hot), state_df.filter(is_hot), plans,
                brick_size, drop_first, acc_py, acc_kernel, rep_accs,
            )
            bricks = bricks.unionByName(hot_bricks)
            carries = carries.unionByName(hot_carries)
            cached += hot_cached
        # The eager checkpoint materializes bricks + carry state
        # (computing the cogroups exactly once, from the persisted
        # frames) and severs their lineage from both the cogroups and
        # the staged files — so the window's caches are released right
        # here and the staged copy can be deleted before the caller
        # ever materializes the union. local = executor blocks (fast,
        # not executor-loss-safe); reliable = the SparkContext
        # checkpoint dir (see module docstring caveat).
        chunks.append(persist_block(bricks, eager=True))
        t_bricks = time.perf_counter()
        state_df = persist_block(carries, eager=True)
        for df in cached:
            df.unpersist()
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
            if plans:
                entry["hot"] = {
                    "symbols": len(plans),
                    "chunks": sum(len(b) + 1 for b in plans.values()),
                    **{k: a.value - rep0[k] for k, a in rep_accs.items()},
                }
            instrument["windows"].append(entry)

    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c)
    return out


def _bricks_of(packed: DataFrame) -> DataFrame:
    return packed.filter(F.col("__row_kind") == KIND_BRICK).select(*WIDE_COLUMN_NAMES)


def _carries_of(packed: DataFrame) -> DataFrame:
    return packed.filter(F.col("__row_kind") == KIND_CARRY).select("symbol", *CARRY_COLS)


def _hot_pass(
    spark, hot_ticks, hot_state, plans, brick_size, drop_first, acc_py, acc_kernel, rep_accs,
):
    """The window's sub-chunked symbols: the spec-scan /
    sequential-repair / declarative-splice path (design and
    bit-exactness argument in operators/renko_subchunk.py). Returns the
    lazy bricks and carries, for the window's checkpoints, and the
    frames it persisted."""
    from renkodf_spark.operators.renko_subchunk import (
        KIND_DECISION,
        KIND_SUMMARY,
        SUB_SCHEMA,
        make_repair_runner,
        make_spec_runner,
    )

    spec = (
        _placed_chunks(spark, hot_ticks, plans)
        .mapInArrow(make_spec_runner(brick_size, acc_py, acc_kernel), SUB_SCHEMA)
        .persist()
    )
    side = spec.filter(F.col("__row_kind") == KIND_SUMMARY).unionByName(
        hot_state.withColumn("__row_kind", F.lit(KIND_CARRY)), allowMissingColumns=True
    )
    repair_run = make_repair_runner(
        brick_size,
        drop_first,
        plans,
        acc_py=acc_py,
        acc_kernel=acc_kernel,
        acc_converged=rep_accs.get("converged"),
        acc_fallback=rep_accs.get("fallback"),
        acc_repair_ticks=rep_accs.get("repair_ticks"),
    )
    rep = (
        hot_ticks.groupBy("symbol")
        .cogroup(side.groupBy("symbol"))
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
    return _bricks_of(rep).unionByName(spec_kept), _carries_of(rep), [spec, rep]


def _placed_chunks(spark, hot_ticks, plans) -> DataFrame:
    """The spec pass's input: hot ticks tagged with their chunk
    ``__sub`` and placed by chunk.

    ``__sub = count(boundaries <= t)``: ticks with equal timestamps land
    in the same chunk, so chunk order == the stable (__time, __seq) scan
    order; the repair task re-derives the identical cuts with
    searchsorted on the same boundary values. Chunk ``k`` of the i-th
    hot symbol (sorted) has the slot ``base_i + k``, its running number
    across the window's hot symbols, and ``repartitionById`` sends it to
    partition ``slot mod P`` with ``P = min(slots, shuffle
    partitions)``: one chunk per reducer while they fit, whole chunks
    round-robin beyond that. The explicit P also keeps AQE from
    coalescing this bytes-small, CPU-heavy exchange."""
    sub_expr = F.lit(0)
    base_expr = F.lit(0)
    n_slots = 0
    for s, bnds in sorted(plans.items()):
        bnd_arr = F.array(*[F.lit(b).cast("long") for b in bnds])
        cnt = F.size(F.filter(bnd_arr, lambda b: F.unix_micros(F.col("__time")) >= b))
        sym_match = F.col("symbol") == F.lit(s)
        sub_expr = F.when(sym_match, cnt).otherwise(sub_expr)
        base_expr = F.when(sym_match, F.lit(n_slots)).otherwise(base_expr)
        n_slots += len(bnds) + 1
    n_part = min(n_slots, int(spark.conf.get("spark.sql.shuffle.partitions", "200")))
    return hot_ticks.withColumn("__sub", sub_expr).repartitionById(
        n_part, (base_expr + F.col("__sub")).cast("int")
    )
