"""Structured Streaming Renko operator: the incremental twin of the
batch `renko()` (reference `RenkoWS.add_prices`, renkodf.py:513-690),
hosted in `applyInPandasWithState` — the one streaming host.

Per-key value state is exactly the reference's scalar state
(renkodf.py:504-511): (last_close, last_direction, wick_min, wick_max,
volume) plus our explicit `brick_seq` counter. Completed bricks are
emitted in append mode; `renko_stream_animate` adds the forming bar
(reference `renko_animate`) in update mode, one forming row per key per
micro-batch. Both operators share the batch hosts' input guard
(`guard_ticks`), one warm-start parse (`_warm_states`), one event sort
and resume step (`_scan_batch`: a `Carry` through the batch host's
`scan_group`, so a resumed micro-batch is the batch scan resumed) and
one brick-row build (`_batch_frame`).

Semantics notes, matching the reference and `renkodf_spark.live`:
- cold start seeds one synthetic brick at the grid anchor with
  direction=1 (so a first move *down* needs a 2-brick traversal —
  renkodf.py:504-508 behavior, documented in live.py).
- warm start: pass `initial_state` (the `to_rws()` export, collected to
  pandas) — each key resumes from its last exported brick.
- arrival order: events are replayed in event-time order *within* a
  micro-batch (sorted here); across micro-batches the source order
  governs, as in the reference (it assumes in-order ticks). A watermark
  on the source upstream of this operator is the drop-late policy.

Scale: state is O(1) per symbol; per-micro-batch work is O(events in
batch); parallelism across symbols — identical posture to the batch
operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from renkodf_spark.kernel import grid_anchor, seed_row
from renkodf_spark.operators.renko import Carry, guard_ticks, scan_group
from renkodf_spark.schema import MODE_SOURCES, MODES, STREAM_SCHEMA

_STATE_SCHEMA = (
    "last_close double, last_dir long, wick_min double, wick_max double, "
    "volume long, seq long"
)

_OUT_COLUMNS = [f.name for f in STREAM_SCHEMA.fields]
_VALUE_COLUMNS = [c for c in _OUT_COLUMNS if c not in ("symbol", "brick_seq", "event_time")]


def renko_stream(
    ticks: DataFrame,
    brick_size: float,
    *,
    symbol_col: str = "symbol",
    time_col: str = "event_time",
    price_col: str = "close",
    initial_state: pd.DataFrame | None = None,
) -> DataFrame:
    """Build the streaming wide-brick DataFrame from a streaming tick
    DataFrame. Output mode: append (completed bricks only).

    ``initial_state``: optional warm-start table in ``to_rws()`` shape
    (columns: symbol, brick_seq, close, direction, volume, brick_size,
    timestamp, ...). Must be small (one tail row per symbol is enough);
    it is captured in the task closure like a broadcast dim.
    """
    slim = guard_ticks(ticks, brick_size, symbol_col, time_col, price_col)
    warm = _warm_states(initial_state)

    def process(key, pdfs, state):
        stored = state.get if state.exists else warm.get(key[0])
        batch = _scan_batch(pdfs, stored, brick_size)
        if batch is None:
            return
        _times, _prices, head, bricks, carry = batch
        state.update((*carry[:4], int(carry.volume), int(carry.next_seq)))
        if len(bricks["brick_seq"]) or head is not None:
            yield _batch_frame(key[0], head, bricks)

    return slim.groupBy("symbol").applyInPandasWithState(
        process,
        outputStructType=STREAM_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def _warm_states(initial_state: pd.DataFrame | None, open_src: str | None = None) -> dict:
    """``to_rws()`` export -> {symbol: stored-state tuple}: each key
    resumes from its last exported brick (plus that brick's ``open_src``
    value when given, for the forming bar)."""
    warm: dict[str, tuple] = {}
    if initial_state is None:
        return warm
    tail = initial_state.sort_values("brick_seq").groupby("symbol", sort=False).tail(1)
    for row in tail.to_dict("records"):
        close = float(row["close"])
        seq = int(row["brick_seq"]) + 1
        st = (close, int(row["direction"]), close, close, int(row["volume"]), seq)
        warm[str(row["symbol"])] = st + (float(row[open_src]),) if open_src else st
    return warm


def _scan_batch(pdfs, stored: tuple | None, brick: float):
    """One key's micro-batch through `scan_group`: events replayed in
    event-time order (stable), resumed from ``stored`` (the key's state
    or its warm start), else from the reference's cold-start seed over
    every tick but the first. Returns ``(times, prices, head, bricks,
    carry)`` — all the batch's sorted ticks, the cold-start seed row (or
    None), the brick columns (`emit`) and the carry after the batch —
    or None for an empty batch. Stored fields after ``seq`` are the
    caller's."""
    pdfs = list(pdfs)
    events = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    events = events.sort_values("__time", kind="mergesort")
    times = events["__time"].to_numpy()
    prices = events["__price"].to_numpy()
    if not len(prices):
        return None
    head, start = None, 0
    if stored is None:
        anchor = grid_anchor(float(prices[0]), brick)
        head, start = seed_row(times[0], anchor), 1
        # the seed row is brick 0 and the state mirrors it (dir=1)
        stored = (anchor, 1, anchor, anchor, 1, 1)
    carry = Carry(*stored[:5], tick_open=0, next_seq=stored[5], tick_offset=0, first_ts=None)
    bricks, carry = scan_group(times[start:], prices[start:], brick, False, carry)
    return times, prices, head, bricks, carry


def _batch_frame(symbol: str, head: dict | None, bricks: dict) -> pd.DataFrame:
    """One micro-batch's rows for ``symbol``: the brick columns
    ``bricks``, led by the cold-start `seed_row` ``head`` (brick 0) when
    there is one. The seed is prepended to the column arrays, in their
    dtypes, rather than concatenated as a frame: a batch that closes no
    brick would make that an empty-frame concat. ``event_time`` leaves
    as nanoseconds whatever the input unit."""
    cols = ["brick_seq", "event_time", *_VALUE_COLUMNS]
    if head is not None:
        head = {**head, "brick_seq": 0}
        bricks = {
            c: np.concatenate((np.array([head[c]], dtype=bricks[c].dtype), bricks[c]))
            for c in cols
        }
    frame = {"symbol": symbol, **{c: bricks[c] for c in cols}}
    frame["event_time"] = frame["event_time"].astype("datetime64[ns]")
    return pd.DataFrame(frame, columns=_OUT_COLUMNS)


_FORMING_SCHEMA = T.StructType(
    list(STREAM_SCHEMA.fields) + [T.StructField("is_forming", T.IntegerType())]
)
_FORMING_COLUMNS = [f.name for f in _FORMING_SCHEMA.fields]

# extended state: + the last brick's mode-projected open (the forming
# bar's retrace branches need the previous brick's open AND close)
_ANIMATE_STATE_SCHEMA = _STATE_SCHEMA + ", last_open double"


def renko_stream_animate(
    ticks: DataFrame,
    brick_size: float,
    mode: str = "wicks",
    *,
    symbol_col: str = "symbol",
    time_col: str = "event_time",
    price_col: str = "close",
    initial_state: pd.DataFrame | None = None,
) -> DataFrame:
    """Streaming twin of the reference's `renko_animate`
    (renkodf.py:767-858): completed bricks plus one in-progress bar per
    key per micro-batch, flagged ``is_forming = 1`` with
    ``brick_seq = next_seq`` as the natural upsert key.

    Requires **update** output mode (the forming row for a key is
    re-emitted every batch). The forming bar's open/high/low follow the
    chosen ``mode``'s rules (reference computes them after mode
    projection); its values are written into every variant column, so
    only the chosen mode's projection of the forming row is meaningful.
    """
    slim = guard_ticks(ticks, brick_size, symbol_col, time_col, price_col)
    if mode not in MODES:
        raise ValueError(f"Only {list(MODES)} options are valid.")
    open_src, _high_src, _low_src = MODE_SOURCES[mode]
    nongap_rule = mode in ("nongap", "reverse-nongap", "fake-r-nongap")
    warm = _warm_states(initial_state, open_src)

    def process(key, pdfs, state):
        symbol = key[0]
        stored = state.get if state.exists else warm.get(symbol)
        batch = _scan_batch(pdfs, stored, brick_size)
        if batch is None:
            return
        times, prices, head, bricks, carry = batch
        last_close, _ld, wick_min, wick_max, volume = carry[:5]
        n = len(bricks["brick_seq"])
        if n:
            last_open = float(bricks[open_src][-1])
        else:
            last_open = stored[-1] if stored is not None else last_close  # cold: the anchor
        state.update((*carry[:4], int(volume), int(carry.next_seq), last_open))

        # forming bar (reference renko_animate branching, renkodf.py:817-849)
        price = float(prices[-1])
        o = price
        h = wick_max if mode != "normal" else price
        lo = wick_min if mode != "normal" else price
        if last_close > last_open:  # previous brick was up
            if price > last_close:
                o = wick_min if nongap_rule else last_close
                if mode == "normal":
                    lo = last_close
            elif price < last_open:
                o = wick_max if nongap_rule else last_open
                if mode == "normal":
                    h = last_open
        else:
            if price < last_close:
                o = wick_max if nongap_rule else last_close
                if mode == "normal":
                    h = last_close
            elif price > last_open:
                o = wick_min if nongap_rule else last_open
                if mode == "normal":
                    lo = last_open
        direction = 1 if price > o else -1 if price < o else 0
        forming = {
            "symbol": symbol,
            "brick_seq": int(carry.next_seq),
            "event_time": times[-1],
            "is_forming": 1,
            "close": price,
            "volume": int(volume),
            "direction": direction,
            "is_reversal": 0,
            "open": o,
            "high": h,
            "low": lo,
            "normal_high": h,
            "normal_low": lo,
            "nongap_open": o,
            "reverse_nongap_open": o,
            "reverse_fake_nongap_open": o,
            "reverse_high": h,
            "reverse_low": lo,
            "fake_high": h,
            "fake_low": lo,
        }
        frames = [pd.DataFrame([forming])]
        if n or head is not None:
            frames.insert(0, _batch_frame(symbol, head, bricks).assign(is_forming=0))
        yield pd.concat(frames, ignore_index=True)[_FORMING_COLUMNS]

    return slim.groupBy("symbol").applyInPandasWithState(
        process,
        outputStructType=_FORMING_SCHEMA,
        stateStructType=_ANIMATE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )

