"""Batch Renko operator, and the one Arrow host every Spark batch path
runs the kernel in.

Spark-first layout (SURVEY.md §1.4 / §2 O-5): the brick-ification
recurrence is non-associative (every brick depends on the running
`last_close` over the whole prefix), so it cannot be a join/window
composition. `renko()` runs it in a partition-level Arrow UDF
(`repartition(symbol).mapInArrow`): parallel across symbols,
sequential within a symbol, exactly the reference's parallelism model
(the reference is single-threaded per instrument). Everything around
the kernel (projection, export, slicing) is plain DataFrame API so
Catalyst prunes/pushes as usual.

The host (shared by `renko`, `renko_chunked` and its sub-chunk passes;
the stream operators `renko_stream` and `renko_stream_animate` use its
guard and `scan_group`):

- `guard_ticks`: the input guard — eager validation, the
  ``(symbol, __time, __price)`` projection and the null/NaN filter;
  `slim_ticks` adds the batch hosts' ``__seq``.
- `sorted_ticks`: one group's ticks in the canonical stable
  ``(__time, __seq)`` order; `symbol_runs` sorts a whole partition by
  symbol first and yields each symbol's (or sub-chunk's) run in that
  order: it is the walk of renko()'s body `partition_bricks` and of
  the sub-chunk spec pass.
- `scan_group`: seed or resume, `kernel.scan`, first-brick label drop;
  returns the surviving brick columns and the next carry.
- `bricks_table` / `carry_table` / `read_carry`: Arrow output in any
  schema built on `PACKED_SCHEMA`, null-padding what a row lacks.

Carry protocol. A *carry* (`Carry`) is the per-symbol state handed
between consecutive tick ranges of one symbol (event-time windows,
sub-chunks): the kernel vector ``last_close, last_dir, wick_min,
wick_max, volume, tick_open`` plus ``next_seq`` (the next brick_seq),
``tick_offset`` (ticks consumed before the range) and ``first_ts`` (the
first brick's close time, for the label drop; None until a brick
closes). ``tick_open`` is stored global; the kernel runs on
range-local indexes ``tick_open - tick_offset``. A carry travels as one
Arrow/Spark row of ``__st_<field>`` columns (`CARRY_COLS`), written by
`carry_table` and read by `read_carry`. The full scalar state crosses
every boundary, so resuming is bit-identical to one scan over the
concatenated ranges.

Reference semantics reproduced: `Renko.__init__` validation
(renkodf.py:42-49), `_create_renko` (renkodf.py:71-252), first-brick
label drop (renkodf.py:69), `renko_df` projection (renkodf.py:291-387),
`to_rws` export (renkodf.py:389-420).
"""

from __future__ import annotations

import inspect
import time
from collections import namedtuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from renkodf_spark.kernel import (
    WIDE_VALUE_COLUMNS,
    new_output,
    new_state,
    output_arrays,
    scan,
)
from renkodf_spark.schema import (
    MODE_SOURCES,
    MODES,
    UTILS_COLUMNS,
    WIDE_SCHEMA,
)

CARRY_FIELDS = (
    ("last_close", T.DoubleType()),
    ("last_dir", T.LongType()),
    ("wick_min", T.DoubleType()),
    ("wick_max", T.DoubleType()),
    ("volume", T.LongType()),
    ("tick_open", T.LongType()),
    ("next_seq", T.LongType()),
    ("tick_offset", T.LongType()),
    ("first_ts", T.TimestampType()),
)
CARRY_COLS = tuple(f"__st_{name}" for name, _ in CARRY_FIELDS)
Carry = namedtuple("Carry", [name for name, _ in CARRY_FIELDS])

# __row_kind of a brick row and of a carry row
KIND_BRICK = 0
KIND_CARRY = 1

# a carry-aware group's output: its bricks plus one carry row
PACKED_SCHEMA = T.StructType(
    list(WIDE_SCHEMA.fields)
    + [T.StructField("__row_kind", T.IntegerType())]
    + [T.StructField(c, dtype) for c, (_, dtype) in zip(CARRY_COLS, CARRY_FIELDS)]
)

_ARROW_TYPES = {
    T.StringType: pa.string(),
    T.LongType: pa.int64(),
    T.DoubleType: pa.float64(),
    T.IntegerType: pa.int32(),
    T.BinaryType: pa.binary(),
}


def renko_pandas(
    pdf: pd.DataFrame,
    brick_size: float,
    *,
    time_col: str = "event_time",
    price_col: str = "close",
    drop_first: bool = True,
) -> pd.DataFrame:
    """Run the Renko kernel over one already-sorted pandas tick frame.

    Returns the wide brick table (without `symbol`/`brick_seq`). The
    single-process reference that tests and benchmarks compare `renko()`
    against, so it keeps its own pandas label drop.
    """
    times = pdf[time_col].to_numpy()
    prices_np = pdf[price_col].to_numpy()
    out = new_output()
    if len(prices_np) > 0:
        scan(times, prices_np, 1, brick_size, new_state(float(prices_np[0]), brick_size), out)

    arrs = output_arrays(out)
    # a brick's close time is its closing tick's timestamp: fancy-index
    # the tick array instead of converting boxed datetime scalars
    event_time = (
        times[arrs["tick_index_close"]]
        if len(times)
        else np.empty(0, dtype="datetime64[us]")
    )
    wide = {"event_time": event_time}
    for name in WIDE_VALUE_COLUMNS:
        wide[name] = arrs[name]
    res = pd.DataFrame(wide)

    if drop_first and len(res):
        # reference drops by index label (renkodf.py:69): every brick
        # sharing the first brick's close timestamp goes away
        res = res[res["event_time"] != res["event_time"].iloc[0]].reset_index(drop=True)
    return res


def renko(
    ticks: DataFrame,
    brick_size: float,
    *,
    symbol_col: str = "symbol",
    time_col: str = "event_time",
    price_col: str = "close",
    drop_first: bool = True,
    value_columns: tuple | None = None,
) -> DataFrame:
    """Compress a tick DataFrame into the wide Renko brick table.

    Scale model: one shuffle on `symbol` and no sort; one Python worker
    call then takes a whole shuffle partition (`partition_bricks`),
    orders it and compresses each symbol's ticks sequentially. That
    worker holds the partition's ticks, about 32 B a tick plus the
    symbol, so a partition must fit one worker's memory; for inputs
    bigger than that, `renko_chunked` cuts each symbol into event-time
    windows. At 100 TB the parallel axis is symbols (x days via the
    chunked path); there is no other shuffle in the plan.

    Column pruning happens on both sides of the kernel: only
    (symbol, time, price) travel in, and `value_columns` trims what
    travels out (Catalyst cannot prune through a Python UDF's output
    schema, so callers that want one mode pass just its columns —
    `renko_mode` does this automatically)."""
    slim = slim_ticks(ticks, brick_size, symbol_col, time_col, price_col)
    out_schema = WIDE_SCHEMA
    if value_columns is not None:
        unknown = set(value_columns) - set(WIDE_VALUE_COLUMNS)
        if unknown:
            raise ValueError(f"unknown wide columns: {sorted(unknown)}")
        keep = {"symbol", "brick_seq", "event_time", *value_columns}
        out_schema = T.StructType([f for f in WIDE_SCHEMA.fields if f.name in keep])

    def run(batches):
        return partition_bricks(batches, out_schema, brick_size, drop_first)

    return slim.repartition("symbol").mapInArrow(run, out_schema)


def partition_bricks(batches, schema: T.StructType, brick: float, drop_first: bool):
    """renko()'s host body: the bricks of every symbol in one shuffle
    partition of `slim_ticks` rows, as ``schema`` record batches. The
    shuffle only co-locates a symbol's ticks; `symbol_runs` orders them,
    so the plan has no Sort, and each run is one `scan_group`."""
    for sym, _, times, prices, ts_type in symbol_runs(batches):
        bricks, _ = scan_group(times, prices, brick, drop_first)
        yield from bricks_table(schema, sym, bricks, ts_type).to_batches()


def symbol_runs(batches, split_col: str | None = None):
    """The sorted tick runs of one partition of `slim_ticks` rows:
    ``(symbol, split, times, prices, ts_type)`` for each symbol, or for
    each (symbol, ``split_col`` value) when ``split_col`` names a column
    that is constant over time-contiguous stretches of a symbol (the
    sub-chunk id); ``split`` is that value (None without ``split_col``)
    and ``ts_type`` the session's Arrow timestamp type.

    One lexsort on (symbol code, ``__time``, ``__seq``) orders the whole
    partition, so the order does not depend on the order in which
    batches arrive."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    tbl = pa.Table.from_batches(batches)
    # a NULL symbol is its own group, as under groupBy; the chunks of
    # a chunked encoding share one dictionary
    enc = pc.dictionary_encode(tbl.column("symbol"), null_encoding="encode")
    codes = np.concatenate([chunk.indices.to_numpy() for chunk in enc.chunks])
    times = tbl.column("__time").to_numpy()
    order = np.lexsort((tbl.column("__seq").to_numpy(), times.view("int64"), codes))
    codes, times = codes[order], times[order]
    prices = tbl.column("__price").to_numpy()[order]
    change = np.diff(codes) != 0
    split = None
    if split_col is not None:
        split = tbl.column(split_col).to_numpy()[order]
        change |= np.diff(split) != 0
    symbols = enc.chunks[0].dictionary
    ts_type = tbl.schema.field("__time").type
    cuts = np.flatnonzero(change) + 1
    for lo, hi in zip((0, *cuts), (*cuts, len(codes))):
        sym = symbols[codes[lo]].as_py()
        yield sym, None if split is None else split[lo], times[lo:hi], prices[lo:hi], ts_type


def slim_ticks(
    ticks: DataFrame, brick_size: float, symbol_col: str, time_col: str, price_col: str, *extra
) -> DataFrame:
    """The batch hosts' input: `guard_ticks` plus ``__seq``, which
    captures input order before the shuffle so equal-timestamp ticks
    replay in file order."""
    seq = F.monotonically_increasing_id().alias("__seq")
    return guard_ticks(ticks, brick_size, symbol_col, time_col, price_col, seq, *extra)


def guard_ticks(
    ticks: DataFrame, brick_size: float, symbol_col: str, time_col: str, price_col: str, *extra
) -> DataFrame:
    """The input guard of every Renko host, batch and stream: validate
    eagerly (before any job or query runs), project
    ``(symbol, __time, __price, *extra)`` and drop null/NaN prices and
    null timestamps.

    A table without ``symbol_col`` is one symbol, ``"0"``. The filter
    sits on the scan so it pushes down; without it the recurrence would
    absorb NaN into the wick state (the reference has no guard and
    corrupts)."""
    if brick_size is None or brick_size <= 0:
        raise ValueError("brick_size cannot be 'None' or '<= 0'")
    for col in (price_col, time_col):
        if col not in ticks.columns:
            raise ValueError(f"Column '{col}' doesn't exist!")
    symbol = F.col(symbol_col) if symbol_col in ticks.columns else F.lit("0")
    return ticks.select(
        symbol.cast("string").alias("symbol"),
        F.col(time_col).alias("__time"),
        F.col(price_col).cast("double").alias("__price"),
        *extra,
    ).filter(
        F.col("__time").isNotNull() & F.col("__price").isNotNull() & ~F.isnan("__price")
    )


def sorted_ticks(tbl: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """(times, prices) of one group in the canonical stable
    ``(__time, __seq)`` order (``__seq`` is unique, so the order is
    total and every host replays ticks identically)."""
    tbl = tbl.combine_chunks()
    t = tbl.column("__time").to_numpy(zero_copy_only=False)
    p = tbl.column("__price").to_numpy(zero_copy_only=False)
    s = tbl.column("__seq").to_numpy(zero_copy_only=False)
    order = np.lexsort((s, t.view("int64")))
    return t[order], p[order]


def scan_group(
    times: np.ndarray,
    prices: np.ndarray,
    brick: float,
    drop_first: bool,
    carry: Carry | None = None,
) -> tuple[dict, Carry]:
    """Run the kernel over one symbol's sorted tick range.

    ``carry=None`` seeds a cold start (grid anchor, tick 0 consumed);
    otherwise the range resumes from ``carry``. Returns the surviving
    bricks as columns (`emit`) and the carry after the range."""
    if carry is None:
        state, start, seq, offset, first_ts = new_state(float(prices[0]), brick), 1, 0, 0, None
    else:
        state = [*carry[:5], carry.tick_open - carry.tick_offset]
        start, seq, offset, first_ts = 0, carry.next_seq, carry.tick_offset, carry.first_ts
    out = new_output()
    scan(times, prices, start, brick, state, out)
    arrs = output_arrays(out)
    tic = arrs["tick_index_close"]
    if first_ts is None and len(tic):
        first_ts = times[tic[0]].astype("datetime64[us]")
    cut = 0
    if drop_first and first_ts is not None:
        # reference drops by index label (renkodf.py:69): every brick
        # closing at first_ts goes. No brick closes before it and
        # bricks close in tick order, so that run is a prefix — a slice
        # (zero-copy), not a mask
        cut = int(np.searchsorted(tic, np.searchsorted(times, first_ts, side="right")))
    m = len(tic) - cut
    next_carry = Carry(*state[:5], state[5] + offset, seq + m, offset + len(prices), first_ts)
    return emit(times, arrs, cut, len(tic), seq, offset), next_carry


def emit(times: np.ndarray, arrs: dict, lo: int, hi: int, seq0: int, shift: int) -> dict:
    """Bricks ``[lo:hi)`` of a kernel output (`output_arrays`) as brick
    columns: event_time is the closing tick's time (``arrs`` tick
    indexes index ``times``), brick_seq counts from ``seq0`` and the
    tick indexes move by ``shift`` (range-local -> global)."""
    bricks = {name: arrs[name][lo:hi] for name in WIDE_VALUE_COLUMNS}
    bricks["event_time"] = times[bricks["tick_index_close"]]
    bricks["brick_seq"] = np.arange(seq0, seq0 + hi - lo, dtype=np.int64)
    if shift:
        for name in ("tick_index_open", "tick_index_close"):
            bricks[name] = bricks[name] + shift
    return bricks


def bricks_table(
    schema: T.StructType, sym: str, bricks: dict, ts_type, cols: dict | None = None
) -> pa.Table:
    """One symbol's bricks (`emit` columns) plus constant ``cols`` as a
    ``schema``-shaped table; ``ts_type`` is the session's Arrow
    timestamp type (the input ``__time`` column's)."""
    row = {**(cols or {}), **bricks, "symbol": sym}
    return padded_table(schema, ts_type, len(bricks["brick_seq"]), row)


def carry_table(
    carry: Carry, sym: str, ts_type, schema: T.StructType = PACKED_SCHEMA, cols: dict | None = None
) -> pa.Table:
    """``carry`` as one ``schema`` row of `CARRY_COLS` (a KIND_CARRY row
    unless ``cols`` says otherwise)."""
    row = {"__row_kind": KIND_CARRY, **(cols or {}), **dict(zip(CARRY_COLS, carry)), "symbol": sym}
    return padded_table(schema, ts_type, 1, row)


def read_carry(tbl: pa.Table, i: int = 0) -> Carry:
    """The carry in row ``i`` of any table holding `CARRY_COLS`.
    ``first_ts`` is read as its raw microseconds: ``as_py`` would hand
    back a session-timezone datetime."""
    *vals, first_ts = (tbl.column(c)[i] for c in CARRY_COLS)
    us = first_ts.value
    return Carry(*(v.as_py() for v in vals), None if us is None else np.datetime64(us, "us"))


def timed(fn, acc):
    """``fn``, adding its wall seconds to the Spark accumulator ``acc``
    (``fn`` itself when ``acc`` is None)."""
    if acc is None:
        return fn

    def run(*args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            acc.add(time.perf_counter() - t0)

    # Spark reads a UDF body's arity from its signature
    run.__signature__ = inspect.signature(fn)
    return run


def padded_table(schema: T.StructType, ts_type, m: int, cols: dict) -> pa.Table:
    """An ``m``-row ``schema``-shaped table: ``cols`` maps column names
    to numpy arrays or to constants; every other column (and a None) is
    typed nulls. Arrow UDFs validate types strictly, and timestamps
    must carry the session timezone of ``ts_type``."""
    arrays = []
    for f in schema.fields:
        at = ts_type if isinstance(f.dataType, T.TimestampType) else _ARROW_TYPES[type(f.dataType)]
        v = cols.get(f.name)
        if v is None:
            arrays.append(pa.nulls(m, at))
        elif isinstance(v, np.ndarray):
            arrays.append(pa.array(v).cast(at))
        else:
            arrays.append(_const_array(v, m).cast(at))
    return pa.table(arrays, names=schema.names)


def _const_array(value, m: int) -> pa.Array:
    """Length-``m`` constant column. Strings go through a one-value
    dictionary (no O(m) Python-object pass), numbers through numpy."""
    if isinstance(value, str):
        return pa.DictionaryArray.from_arrays(
            pa.array(np.zeros(m, dtype=np.int32)), pa.array([value], pa.string())
        ).cast(pa.string())
    if isinstance(value, (bytes, np.datetime64)):
        return pa.array([value] * m)
    return pa.array(np.full(m, value))


def renko_df(
    wide: DataFrame,
    mode: str = "wicks",
    utils_columns: bool = True,
    *,
    keys: tuple = ("symbol", "brick_seq", "event_time"),
    utils: tuple = UTILS_COLUMNS,
) -> DataFrame:
    """Project the wide brick table into one of the 7 OHLC modes
    (reference renko_df, renkodf.py:291-387). Pure `select`; Catalyst
    column-prunes the unused variants all the way into the kernel
    boundary."""
    if mode not in MODES:
        raise ValueError(f"Only {list(MODES)} options are valid.")
    open_src, high_src, low_src = MODE_SOURCES[mode]
    cols = [F.col(k) for k in keys if k in wide.columns]
    cols += [
        F.col(open_src).alias("open"),
        F.col(high_src).alias("high"),
        F.col(low_src).alias("low"),
        F.col("close"),
        F.col("volume"),
    ]
    if utils_columns:
        cols += [F.col(u) for u in utils if u in wide.columns]
    return wide.select(*cols)


def renko_mode(
    ticks: DataFrame,
    brick_size: float,
    mode: str = "wicks",
    utils_columns: bool = True,
    **renko_kwargs,
) -> DataFrame:
    """End-to-end single-mode Renko with pushdown: only the mode's
    variant columns cross the kernel's Arrow boundary (a Python UDF's
    output schema is opaque to Catalyst's column pruning, so the
    pruning is explicit here)."""
    if mode not in MODES:
        raise ValueError(f"Only {list(MODES)} options are valid.")
    open_src, high_src, low_src = MODE_SOURCES[mode]
    needed = {open_src, high_src, low_src, "close", "volume"}
    if utils_columns:
        needed |= set(UTILS_COLUMNS)
    wide = renko(ticks, brick_size, value_columns=tuple(needed), **renko_kwargs)
    return renko_df(wide, mode, utils_columns)


def to_rws(wide: DataFrame, brick_size: float, use_iloc: int | None = None) -> DataFrame:
    """State-export table (reference to_rws, renkodf.py:389-420): wide
    table minus tick indexes, plus a `brick_size` literal and an int64
    microsecond `timestamp`. Feed it back via
    `renkodf_spark.live.RenkoLive(external_df=...)` or as the initial
    state of the streaming operator."""
    cols = [c for c in wide.columns if not c.startswith("tick_index_")]
    out = wide.select(
        *[F.col(c) for c in cols],
        F.lit(float(brick_size)).alias("brick_size"),
        F.unix_micros(F.col("event_time")).alias("timestamp"),
    ).drop("event_time")
    if use_iloc is not None:
        # iloc[:n] keeps the first n bricks per symbol, iloc[-n:] the last n
        order = F.desc("brick_seq") if use_iloc < 0 else F.asc("brick_seq")
        rn = F.row_number().over(Window.partitionBy("symbol").orderBy(order))
        out = out.withColumn("__rn", rn).filter(F.col("__rn") <= abs(use_iloc)).drop("__rn")
    return out
